package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Round-15 batch 4 — journey/lifecycle analytics over the event log:
  *
  *  - `q271_absorbing_steps`   — expected steps to ABSORPTION in the
  *    event-type Markov chain with 'purchase' absorbing: t = Σ_k Q^k·1
  *    truncated at 8 terms, integer milli per round (the companion to
  *    q91's transition matrix and q175's steady state — "how many
  *    touches until conversion, starting from each state?").
  *  - `q272_conversion_lag`    — first-view → first-purchase lag
  *    distribution in whole days, with cumulative share: the
  *    time-to-convert curve next to q115's step conversion rates.
  *  - `q273_rfm_migration`     — monetary-quintile MIGRATION matrix
  *    between the calendar's two halves (which Q1-spenders became Q5?):
  *    q95's scoring re-run per half on the exact GlobalRank, then a
  *    25-cell census. The midpoint is computed from the data's own
  *    calendar, never a hardcoded year.
  *  - `q274_growth_accounting` — the standard growth-accounting
  *    ledger at WEEK grain (the event calendar spans ~30 days, so
  *    months would collapse to one row): actives split into new /
  *    retained / resurrected, plus churned-from-last-week — the
  *    MAU/WAU decomposition every product review starts with. Pure
  *    integer Monday-anchored week keys, one lag/lead window per user
  *    over their distinct active weeks.
  *
  * Scale: q271's iteration runs on the (types)² quantized matrix;
  * q272/q274 are keyed aggregates + per-user windows over user-sized
  * frames; q273 ranks via GlobalRank (no global window) and the
  * migration census is 25 cells.
  */
object RelationalQueries20 extends graft.QueryModule {
  /** Truncation depth for the Q-power series (bp⁸ ≈ 4 hops of typical
    * mass — contributions beyond are below milli resolution for these
    * chains; the truncation is part of the operator contract). */
  private val AbsorbRounds = 8

  val queries: Map[String, Q] = Map(
    "q271_absorbing_steps" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = events(s, d)
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .filter($"event_type" =!= "purchase") // absorbing: no exits
        .groupBy($"event_type".as("from_type"), $"to_type")
        .agg(count(lit(1)).as("n_trans"))
        .localCheckpoint()
      val tot = tr.groupBy($"from_type").agg(sum($"n_trans").as("n_from"))
      // Q = transitions among TRANSIENT states only (rows into the
      // absorbing state leave the matrix; their bp mass is the
      // per-step absorption probability)
      val q = tr.filter($"to_type" =!= "purchase")
        .join(tot, Seq("from_type"))
        .select($"from_type", $"to_type",
          expr("n_trans * 10000 DIV n_from").as("bp"))
        .localCheckpoint() // (types)² rows
      var t = tot.select($"from_type".as("state"), lit(1000L).as("t"))
        .localCheckpoint()
      for (_ <- 1 to AbsorbRounds) {
        // t' = 1 + Q·t (left join: a state whose every exit absorbs
        // has no Q row and stays at the 1-step floor)
        t = tot.select($"from_type".as("state"))
          .join(q.join(t, $"to_type" === $"state")
              .groupBy($"from_type")
              .agg(expr("SUM(bp * t) DIV 10000").as("qt"))
              .select($"from_type".as("state"), $"qt"),
            Seq("state"), "left")
          .select($"state", (lit(1000L) + coalesce($"qt", lit(0L))).as("t"))
          .localCheckpoint()
      }
      t.join(tot.select($"from_type".as("state"), $"n_from"), Seq("state"))
        .select($"state", $"t".as("exp_steps_milli"), $"n_from")
        .orderBy($"state")
    }),

    "q272_conversion_lag" -> ((s, d) => {
      import s.implicits._
      val firsts = events(s, d)
        .filter($"event_type".isin("view", "purchase"))
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ts")).as("first_view"),
          min(when($"event_type" === "purchase", $"ts")).as("first_purchase"))
        .filter($"first_view".isNotNull && $"first_purchase".isNotNull &&
          $"first_purchase" >= $"first_view")
      val lags = firsts
        .select(datediff(to_date($"first_purchase"), to_date($"first_view"))
          .cast("long").as("lag_days"))
        .groupBy($"lag_days").agg(count(lit(1)).as("n_users"))
      val tot = lags.agg(sum($"n_users").as("t"))
      // cumulative over the calendar-bounded lag grain
      lags.crossJoin(broadcast(tot))
        .withColumn("cum_users", sum($"n_users").over(
          Window.orderBy($"lag_days")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .selectExpr("lag_days", "n_users", "cum_users",
          "(10000 * cum_users) DIV t AS cum_share_bp")
        .orderBy($"lag_days")
    }),

    "q273_rfm_migration" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d).select($"o_custkey",
        to_date($"o_orderdate").as("o_orderdate"),
        (dec($"o_totalprice") * 100).cast("long").as("cents"))
      val mid = o.agg(date_add(min($"o_orderdate"),
          (datediff(max($"o_orderdate"), min($"o_orderdate")) / 2).cast("int"))
          .as("mid"))
        .localCheckpoint() // 1-row calendar midpoint, from the data
      val halves = o.crossJoin(broadcast(mid))
        .withColumn("half", when($"o_orderdate" <= $"mid", 1).otherwise(2))
      def quintiles(h: Int): DataFrame = {
        val per = halves.filter($"half" === h)
          .groupBy($"o_custkey").agg(sum($"cents").as("m"))
        val (ranked, n) = GlobalRank.withRank(per, "_r", Seq($"m".desc, $"o_custkey"))
        ranked.select($"o_custkey",
          GlobalRank.ntileFromRank($"_r", n, 5).as(s"q_h$h"))
      }
      quintiles(1).join(quintiles(2), Seq("o_custkey"))
        .groupBy($"q_h1", $"q_h2")
        .agg(count(lit(1)).as("n_customers"))
        .withColumn("row_total",
          sum($"n_customers").over(Window.partitionBy($"q_h1")))
        .selectExpr("q_h1", "q_h2", "n_customers",
          "(10000 * n_customers) DIV row_total AS row_share_bp")
        .orderBy($"q_h1", $"q_h2")
    }),

    "q274_growth_accounting" -> ((s, d) => {
      import s.implicits._
      val am = events(s, d)
        .select($"user_id",
          (datediff(to_date($"ts"), to_date(lit("1970-01-05"))) / 7)
            .cast("long").as("mk")) // ISO-ish Monday-anchored week index
        .distinct()
        .localCheckpoint() // (user, active-week) frame — feeds both censuses
      val w = Window.partitionBy($"user_id").orderBy($"mk")
      val flagged = am
        .withColumn("prev_mk", lag($"mk", 1).over(w))
        .withColumn("next_mk", lead($"mk", 1).over(w))
      val active = flagged.groupBy($"mk").agg(
        count(lit(1)).as("n_active"),
        sum(when($"prev_mk".isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when($"prev_mk" === $"mk" - 1, 1L).otherwise(0L)).as("n_retained"),
        sum(when($"prev_mk".isNotNull && $"prev_mk" < $"mk" - 1, 1L).otherwise(0L))
          .as("n_resurrected"))
      val maxMk = am.agg(max($"mk").as("max_mk"))
      // churn lands on the month AFTER a user's last-or-gapped month
      val churn = flagged
        .filter($"next_mk".isNull || $"next_mk" > $"mk" + 1)
        .crossJoin(broadcast(maxMk))
        .filter($"mk" + 1 <= $"max_mk")
        .groupBy(($"mk" + 1).as("mk"))
        .agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("mk"), "full_outer")
        .selectExpr(
          "CAST(date_add(to_date('1970-01-05'), CAST(mk * 7 AS INT)) AS STRING) AS week_start",
          "coalesce(n_active, 0) AS n_active",
          "coalesce(n_new, 0) AS n_new",
          "coalesce(n_retained, 0) AS n_retained",
          "coalesce(n_resurrected, 0) AS n_resurrected",
          "coalesce(n_churned, 0) AS n_churned")
        .orderBy($"week_start")
    })
  )

  val oracles: Map[String, String] = Map(
    "q271_absorbing_steps" -> {
      def round(i: Int): String =
        s"""t$i AS MATERIALIZED (
           |  SELECT s.from_type AS state,
           |    1000 + COALESCE((
           |      SELECT CAST(SUM(q.bp * p.t) AS BIGINT) // 10000
           |      FROM q JOIN t${i - 1} p ON q.to_type = p.state
           |      WHERE q.from_type = s.from_type), 0) AS t
           |  FROM tot s)""".stripMargin
      s"""WITH tr AS MATERIALIZED (
         |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
         |  FROM (
         |    SELECT event_type AS from_type,
         |      LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |    FROM events) q
         |  WHERE to_type IS NOT NULL AND from_type <> 'purchase'
         |  GROUP BY 1, 2),
         |tot AS MATERIALIZED (
         |  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
         |  FROM tr GROUP BY 1),
         |q AS MATERIALIZED (
         |  SELECT tr.from_type, tr.to_type,
         |    (tr.n_trans * 10000) // tot.n_from AS bp
         |  FROM tr JOIN tot ON tr.from_type = tot.from_type
         |  WHERE tr.to_type <> 'purchase'),
         |t0 AS (SELECT from_type AS state, CAST(1000 AS BIGINT) AS t FROM tot),
         |${(1 to AbsorbRounds).map(round).mkString(",\n")}
         |SELECT t.state, t.t AS exp_steps_milli, tot.n_from
         |FROM t$AbsorbRounds t JOIN tot ON t.state = tot.from_type
         |ORDER BY t.state""".stripMargin
    },

    "q272_conversion_lag" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY user_id),
        |lags AS (
        |  SELECT CAST(datediff('day', CAST(fv AS DATE), CAST(fp AS DATE)) AS BIGINT) AS lag_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM firsts
        |  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t FROM lags)
        |SELECT lag_days, n_users,
        |  CAST(SUM(n_users) OVER (ORDER BY lag_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users,
        |  (10000 * CAST(SUM(n_users) OVER (ORDER BY lag_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) // t
        |    AS cum_share_bp
        |FROM lags CROSS JOIN tot
        |ORDER BY lag_days""".stripMargin,

    "q273_rfm_migration" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |mid AS (
        |  SELECT CAST(MIN(d) AS DATE)
        |    + CAST(datediff('day', MIN(d), MAX(d)) // 2 AS INT) AS mid
        |  FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM o)),
        |h1 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS m
        |  FROM o CROSS JOIN mid WHERE CAST(o_orderdate AS DATE) <= mid GROUP BY o_custkey),
        |h2 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS m
        |  FROM o CROSS JOIN mid WHERE CAST(o_orderdate AS DATE) > mid GROUP BY o_custkey),
        |r1 AS (
        |  SELECT o_custkey,
        |    NTILE(5) OVER (ORDER BY m DESC, o_custkey) AS q_h1
        |  FROM h1),
        |r2 AS (
        |  SELECT o_custkey,
        |    NTILE(5) OVER (ORDER BY m DESC, o_custkey) AS q_h2
        |  FROM h2),
        |cells AS (
        |  SELECT q_h1, q_h2, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM r1 JOIN r2 USING (o_custkey)
        |  GROUP BY 1, 2)
        |SELECT q_h1, q_h2, n_customers,
        |  (10000 * n_customers)
        |    // CAST(SUM(n_customers) OVER (PARTITION BY q_h1) AS BIGINT) AS row_share_bp
        |FROM cells
        |ORDER BY q_h1, q_h2""".stripMargin,

    "q274_growth_accounting" ->
      """WITH am AS (
        |  SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS BIGINT) AS mk
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, mk,
        |    LAG(mk) OVER w AS prev_mk, LEAD(mk) OVER w AS next_mk
        |  FROM am WINDOW w AS (PARTITION BY user_id ORDER BY mk)),
        |active AS (
        |  SELECT mk, CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN prev_mk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN prev_mk = mk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev_mk IS NOT NULL AND prev_mk < mk - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM flagged GROUP BY mk),
        |mx AS (SELECT MAX(mk) AS max_mk FROM am),
        |churn AS (
        |  SELECT mk + 1 AS mk, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM flagged CROSS JOIN mx
        |  WHERE (next_mk IS NULL OR next_mk > mk + 1) AND mk + 1 <= max_mk
        |  GROUP BY mk + 1)
        |SELECT CAST(DATE '1970-01-05' + CAST(mk * 7 AS INT) AS VARCHAR) AS week_start,
        |  COALESCE(n_active, 0) AS n_active,
        |  COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM active FULL OUTER JOIN churn USING (mk)
        |ORDER BY week_start""".stripMargin
  )
}
