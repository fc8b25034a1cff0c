package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Round-8 additions (q103–q105): time-series exponential smoothing,
  * gaps-and-islands sequence detection, and a nonparametric two-sample
  * test — the remaining time-series / sequence / statistics shapes a
  * warehouse user reaches for that the suite didn't yet cover.
  */
object RelationalQueries6 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Exponentially weighted moving average over each event-type
    // series: a 20-row suffix window collected in frame order and
    // folded left-to-right (num ← 0.9·num + x, den ← 0.9·den + 1), so
    // the smoothing recursion itself runs inside the engine with NO
    // order-dependent floating sum — both engines execute the
    // identical sequential double fold (the cosine-parity pattern).
    // One keyed window shuffle; the collected frame is bounded (≤20
    // doubles/row), so state per row is constant at any scale.
    "q103_ewma_smooth" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
        .rowsBetween(-19, 0)
      // r20: the weight-mass denominator fold depends only on the
      // window SIZE (n ≤ 20) — precompute the 20 possible values with
      // the identical Double recurrence (same IEEE ops, bit-identical)
      // and look them up, halving the interpreted per-row HOF work
      // (guide §4: keep non-codegen lambdas out of the hot path). The
      // numerator fold must see the actual values in order and stays.
      val denoms: Seq[Double] =
        Iterator.iterate(0.0)(a => a * 0.9 + 1.0).drop(1).take(20).toSeq
      events(s, d)
        .select($"event_type", $"event_id", $"ts", $"value")
        .withColumn("vals", collect_list($"value").over(w))
        .select($"event_type", $"event_id", micros($"ts").as("ts_us"), $"value",
          size($"vals").cast("long").as("n_window"),
          // r21 ADVICE guard: collect_list skips NULLs, so an all-NULL
          // frame would yield size 0 and element_at(denoms, 0) throws.
          // events.value is non-null in every generation (verified at
          // all 3 SFs), so the branch never fires and the output is
          // unchanged; the guard returns the old fold's 0.0/0.0 = NaN
          // should a nullable corpus ever reach it.
          when(size($"vals") >= 1, format_string("%.9f",
            aggregate($"vals", lit(0.0), (a, x) => a * lit(0.9) + x) /
              element_at(typedlit(denoms), size($"vals"))))
            .otherwise(format_string("%.9f", lit(0.0) / lit(0.0)))
            .as("ewma"))
        .orderBy($"event_type", $"event_id")
    }),

    // Gaps-and-islands: per customer, maximal runs of CONSECUTIVE
    // order days (the classic sequence-detection shape behind streak
    // analytics and SLA gap audits). day − row_number() is constant
    // within a run, so islands fall out of one keyed window plus one
    // keyed aggregate — no self-join, no iteration. Pure integer date
    // arithmetic → exact parity.
    "q104_gaps_islands" -> ((s, d) => {
      import s.implicits._
      val days = orders(s, d)
        .select($"o_custkey",
          datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date")).as("day"))
        .distinct()
      val w = Window.partitionBy($"o_custkey").orderBy($"day")
      days.withColumn("rn", row_number().over(w))
        .withColumn("grp", $"day" - $"rn")
        .groupBy($"o_custkey", $"grp")
        .agg(min($"day").cast("long").as("start_day"),
          max($"day").cast("long").as("end_day"),
          count(lit(1)).as("n_days"))
        .select($"o_custkey", $"start_day", $"end_day", $"n_days")
        .orderBy($"o_custkey", $"start_day")
    }),

    // Mann–Whitney U (Wilcoxon rank-sum) test: do click and purchase
    // event values come from the same distribution? Rank statistics
    // are computed on the DISTINCT-VALUE table (per-value counts +
    // cumulative sum), not the raw rows — the shuffle carries one row
    // per distinct value, and tie handling is exact because average
    // ranks ride as DOUBLED integers (2·rank_min + t − 1), never as
    // fractional decimals. Only the final z-score touches doubles, on
    // operands both engines derive from identical integers. At 100 TB
    // the distinct-value window becomes a range-partitioned two-pass
    // rank (the q85 equi-depth pattern) — same plan shape.
    "q105_mann_whitney" -> ((s, d) => {
      import s.implicits._
      val perv = events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .groupBy($"value")
        .agg(count(lit(1)).as("nv"),
          sum(when($"event_type" === "click", 1L).otherwise(0L)).as("nv1"))
      val w = Window.orderBy($"value").rowsBetween(Window.unboundedPreceding, 0)
      val stats = perv
        .withColumn("cum", sum($"nv").over(w))
        .withColumn("rmin", $"cum" - $"nv" + 1)
        .agg(
          sum($"nv1").as("n1"),
          sum($"nv" - $"nv1").as("n2"),
          // Σ over click rows of (2·rank_min + t − 1) = 2·R1 exactly
          sum($"nv1" * (lit(2) * $"rmin" + $"nv" - 1)).as("r1_doubled"),
          sum($"nv" * $"nv" * $"nv" - $"nv").as("ties_t"))
      val u1d = $"r1_doubled" - $"n1" * ($"n1" + 1)
      val nn = $"n1" + $"n2"
      // operand-for-operand the oracle's formula: every input is an
      // exact integer, so the double math sees identical bits
      val z = (u1d.cast("double") / lit(2.0) - $"n1" * $"n2" / lit(2.0)) /
        sqrt($"n1" * $"n2" / lit(12.0) *
          ((nn + 1) - $"ties_t".cast("double") / (nn * (nn - 1))))
      stats.select($"n1", $"n2", u1d.as("u1_doubled"),
        format_string("%.6f", z).as("z"))
    }),

    // Incident burst detection: maximal runs of CONSECUTIVE hours
    // whose error count exceeds the scale-free 1.2× mean threshold
    // (the q65 incident definition) — the alerting shape behind
    // "errors elevated for N straight hours". Hourly aggregation is
    // one keyed agg over events; the island key (hour_index − rn) then
    // groups a table of AT MOST corpus-hours rows, so the window cost
    // is aggregate-sized at any event volume. Exact integer hours.
    "q112_error_bursts" -> ((s, d) => {
      import s.implicits._
      val hourly = events(s, d).filter($"event_type" === "error")
        .groupBy((micros(date_trunc("hour", $"ts")) / 3600000000L).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_errors"))
      val hot = hourly
        .withColumn("mean_n", avg($"n_errors").over(Window.partitionBy()))
        .filter($"n_errors" > lit(1.2) * $"mean_n")
      val w = Window.orderBy($"hr") // ≤ corpus-hours rows
      hot.withColumn("rn", row_number().over(w))
        .withColumn("grp", $"hr" - $"rn")
        .groupBy($"grp")
        .agg(min($"hr").as("start_hr"), max($"hr").as("end_hr"),
          count(lit(1)).as("n_hours"), sum($"n_errors").as("total_errors"))
        .select(($"start_hr" * 3600000000L).as("start_us"),
          ($"end_hr" * 3600000000L).as("end_us"), $"n_hours", $"total_errors")
        .orderBy($"start_us")
    }),

    // Sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's
    // event history collapses to an initials string in strict
    // (ts, event_id) order — built by an ORDERED fold, the same
    // determinism pattern as the EWMA — and regex counting finds
    // behavioral motifs (here: direct click→purchase adjacencies and
    // browse runs click[view*]purchase). One keyed aggregate carries
    // the whole detection; the per-user string is session-bounded in
    // practice and explicitly bounded here by the gate corpus.
    "q111_event_patterns" -> ((s, d) => {
      import s.implicits._
      val journey = events(s, d)
        .select($"user_id", $"ts", $"event_id", substring($"event_type", 1, 1).as("c"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          concat_ws("",
            transform(array_sort(collect_list(struct($"ts", $"event_id", $"c"))),
              x => x("c"))).as("journey"))
      journey.select($"user_id", $"n_events",
        length($"journey").cast("long").as("journey_len"),
        regexp_count($"journey", lit("cp")).cast("long").as("n_direct_conv"),
        regexp_count($"journey", lit("cv*p")).cast("long").as("n_browse_conv"))
        .orderBy($"user_id")
    }),

    // Decile lift report — the concentration chart behind "top 10% of
    // customers drive X% of revenue": customers ranked by exact-decimal
    // total spend into NTILE(10) deciles, per-decile totals, cumulative
    // revenue share in floored basis points. The global NTILE runs over
    // the CUSTOMER AGGREGATE (one row per customer), not raw orders —
    // the q85 equi-depth pattern; at 100 TB the rank becomes a
    // range-partitioned two-pass, same plan shape. All ratios divide
    // exact-decimal-derived doubles, so both engines floor identical
    // bits.
    "q110_decile_lift" -> ((s, d) => {
      import s.implicits._
      val spend = orders(s, d).groupBy($"o_custkey")
        .agg(sum(dec($"o_totalprice")).as("spend"))
      val (ranked, n) = GlobalRank.withRank(spend, "_r", Seq($"spend".desc, $"o_custkey"))
      val deciles = ranked
        .withColumn("decile", GlobalRank.ntileFromRank($"_r", n, 10))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"), sum($"spend").as("dec_spend"))
      // cumulative + total over the 10-row decile aggregate WITHOUT a
      // global window: a broadcast triangular self-join (d2 ≤ decile)
      // for the running sum and a broadcast 1-row total — both sides
      // are bucket-count-sized, so nothing single-partitions even when
      // the decile table grows to percentiles/permilles.
      val tot = deciles.agg(sum($"dec_spend").as("total"))
      deciles
        .join(broadcast(deciles.select($"decile".as("_d2"), $"dec_spend".as("_s2"))),
          $"_d2" <= $"decile")
        .groupBy($"decile", $"n_customers", $"dec_spend")
        .agg(sum($"_s2").as("cum"))
        .crossJoin(broadcast(tot))
        .select($"decile", $"n_customers",
          $"dec_spend".cast("double").as("decile_revenue"),
          floor($"cum".cast("double") * 10000 / $"total".cast("double"))
            .cast("long").as("cum_share_bp"))
        .orderBy($"decile")
    }),

    // Period-over-period reporting: monthly revenue with MoM and YoY
    // deltas in floored basis points. Prior periods come from SELF-
    // JOINS on an integer month key (year·12 + month − 1), never a
    // LAG over assumed-contiguous rows — a missing month yields NULL
    // deltas instead of silently comparing against the wrong period.
    // Revenue sums are exact decimals cast to double, so both engines
    // floor identical bits; the month table is tiny, so the two
    // self-joins broadcast at any corpus scale.
    "q108_period_over_period" -> ((s, d) => {
      import s.implicits._
      val monthly = orders(s, d)
        .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate") - 1).as("mk"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      val prev = monthly.select(($"mk" + 1).as("mk"), $"revenue".as("rev_prev"))
      val yago = monthly.select(($"mk" + 12).as("mk"), $"revenue".as("rev_yago"))
      monthly.join(prev, Seq("mk"), "left").join(yago, Seq("mk"), "left")
        .select(($"mk" / 12).cast("long").as("yr"), (pmod($"mk", lit(12)) + 1).as("mo"),
          $"n_orders", $"revenue",
          floor(($"revenue" - $"rev_prev") * 10000 / $"rev_prev").cast("long").as("mom_bp"),
          floor(($"revenue" - $"rev_yago") * 10000 / $"rev_yago").cast("long").as("yoy_bp"))
        .orderBy($"yr", $"mo")
    }),

    // Robust outlier detection via median absolute deviation — the
    // heavy-tail-safe twin of the q83 z-score (one extreme reading
    // shifts a mean/stddev but not a median/MAD). Two grouped exact
    // interpolated medians (the q90 parity pattern: percentile_cont ↔
    // quantile_cont share the lower + (upper−lower)·frac formula, so
    // identical inputs give identical bits) + two broadcast-able joins
    // of the 5-row per-type statistics; nothing corpus-sized sorts.
    // mad > 0 guards the degenerate all-ties window on both engines.
    "q107_mad_outliers" -> ((s, d) => {
      import s.implicits._
      val med = events(s, d).groupBy($"event_type")
        .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
      val dev = events(s, d)
        .join(broadcast(med), Seq("event_type"))
        .select($"event_type", $"event_id", micros($"ts").as("ts_us"), $"value",
          abs($"value" - $"med").as("dev"))
      val mad = dev.groupBy($"event_type")
        .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter($"mad" > 0 && $"dev" / (lit(1.4826) * $"mad") > 3.5)
        .select($"event_type", $"event_id", $"ts_us", $"value",
          format_string("%.6f", $"dev" / (lit(1.4826) * $"mad")).as("robust_z"))
        .orderBy($"event_type", $"event_id")
    }),

    // Key-skew diagnostic — the report you run BEFORE picking a salting
    // factor or an AQE skew threshold: the 10 heaviest join/agg keys
    // with their share of all rows and their heat relative to the mean
    // key (n·n_keys/total), in floored basis points for exact parity.
    // One keyed aggregate + a two-long-column summary broadcast back;
    // the top-10 is a TakeOrdered, so nothing corpus-sized sorts.
    "q106_skew_report" -> ((s, d) => {
      import s.implicits._
      val cnt = events(s, d).groupBy($"user_id").agg(count(lit(1)).as("n"))
      val tot = cnt.agg(count(lit(1)).as("n_keys"), sum($"n").as("total"))
      cnt.crossJoin(broadcast(tot)) // single-row side
        .select($"user_id", $"n", $"n_keys", $"total",
          expr("n * 10000 DIV total").as("share_bp"),
          expr("n * n_keys * 10000 DIV total").as("vs_avg_bp"))
        .orderBy($"n".desc, $"user_id")
        .limit(10)
    })
  )

  val oracles: Map[String, String] = Map(
    "q103_ewma_smooth" ->
      """SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
        |  CAST(len(vals) AS BIGINT) AS n_window,
        |  printf('%.9f',
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), vals),
        |      (a, x) -> a * CAST(0.9 AS DOUBLE) + x) /
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(vals, x -> CAST(1 AS DOUBLE))),
        |      (a, x) -> a * CAST(0.9 AS DOUBLE) + x)) AS ewma
        |FROM (
        |  SELECT event_type, event_id, ts, value,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events)
        |ORDER BY event_type, event_id""".stripMargin,

    "q104_gaps_islands" ->
      """WITH d AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM orders),
        |r AS (
        |  SELECT o_custkey, day,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY day) AS rn
        |  FROM d)
        |SELECT o_custkey, CAST(MIN(day) AS BIGINT) AS start_day,
        |  CAST(MAX(day) AS BIGINT) AS end_day, COUNT(*) AS n_days
        |FROM (SELECT o_custkey, day, day - rn AS grp FROM r)
        |GROUP BY o_custkey, grp
        |ORDER BY o_custkey, start_day""".stripMargin,

    "q105_mann_whitney" ->
      """WITH perv AS (
        |  SELECT value, COUNT(*) AS nv,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nv1
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value),
        |r AS (
        |  SELECT nv, nv1,
        |    SUM(nv) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv + 1 AS rmin
        |  FROM perv),
        |st AS (
        |  SELECT CAST(SUM(nv1) AS BIGINT) AS n1,
        |    CAST(SUM(nv - nv1) AS BIGINT) AS n2,
        |    CAST(SUM(nv1 * (2 * rmin + nv - 1)) AS BIGINT) AS r1_doubled,
        |    CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS ties_t
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(r1_doubled - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
        |  printf('%.6f',
        |    (CAST(r1_doubled - n1 * (n1 + 1) AS DOUBLE) / 2.0
        |      - n1 * n2 / 2.0)
        |    / sqrt(n1 * n2 / 12.0 *
        |        ((n1 + n2 + 1) - CAST(ties_t AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1))))) AS z
        |FROM st""".stripMargin,

    "q112_error_bursts" ->
      """WITH hourly AS (
        |  SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) // 3600000000 AS hr,
        |    COUNT(*) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |hot AS (
        |  SELECT hr, n_errors FROM hourly
        |  WHERE n_errors > 1.2 * (SELECT AVG(n_errors) FROM hourly)),
        |r AS (
        |  SELECT hr, n_errors, ROW_NUMBER() OVER (ORDER BY hr) AS rn FROM hot)
        |SELECT CAST(MIN(hr) * 3600000000 AS BIGINT) AS start_us,
        |  CAST(MAX(hr) * 3600000000 AS BIGINT) AS end_us,
        |  COUNT(*) AS n_hours,
        |  CAST(SUM(n_errors) AS BIGINT) AS total_errors
        |FROM (SELECT hr, n_errors, hr - rn AS grp FROM r)
        |GROUP BY grp ORDER BY start_us""".stripMargin,

    "q111_event_patterns" ->
      """WITH j AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(length(journey) AS BIGINT) AS journey_len,
        |  CAST(len(regexp_extract_all(journey, 'cp')) AS BIGINT) AS n_direct_conv,
        |  CAST(len(regexp_extract_all(journey, 'cv*p')) AS BIGINT) AS n_browse_conv
        |FROM j ORDER BY user_id""".stripMargin,

    "q110_decile_lift" ->
      """WITH spend AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT o_custkey, spend,
        |    NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
        |  FROM spend),
        |d AS (
        |  SELECT decile, COUNT(*) AS n_customers, SUM(spend) AS dec_spend
        |  FROM ranked GROUP BY decile)
        |SELECT decile, n_customers,
        |  CAST(dec_spend AS DOUBLE) AS decile_revenue,
        |  CAST(floor(
        |    CAST(SUM(dec_spend) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) * 10000
        |    / CAST(SUM(dec_spend) OVER () AS DOUBLE)) AS BIGINT) AS cum_share_bp
        |FROM d ORDER BY decile""".stripMargin,

    "q108_period_over_period" ->
      """WITH m AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mk,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT CAST(m.mk // 12 AS BIGINT) AS yr, CAST(m.mk % 12 + 1 AS BIGINT) AS mo,
        |  m.n_orders, m.revenue,
        |  CAST(floor((m.revenue - p.revenue) * 10000 / p.revenue) AS BIGINT) AS mom_bp,
        |  CAST(floor((m.revenue - y.revenue) * 10000 / y.revenue) AS BIGINT) AS yoy_bp
        |FROM m
        |LEFT JOIN m p ON m.mk = p.mk + 1
        |LEFT JOIN m y ON m.mk = y.mk + 12
        |ORDER BY yr, mo""".stripMargin,

    "q107_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, event_id, epoch_us(ts) AS ts_us, value,
        |    abs(value - med) AS dev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, event_id, ts_us, value,
        |  printf('%.6f', dev / (1.4826 * mad)) AS robust_z
        |FROM dev d JOIN mad USING (event_type)
        |WHERE mad > 0 AND dev / (1.4826 * mad) > 3.5
        |ORDER BY event_type, event_id""".stripMargin,

    "q106_skew_report" ->
      """WITH cnt AS (
        |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(n) AS BIGINT) AS total
        |  FROM cnt)
        |SELECT user_id, n, n_keys, total,
        |  CAST(n * 10000 // total AS BIGINT) AS share_bp,
        |  CAST(n * n_keys * 10000 // total AS BIGINT) AS vs_avg_bp
        |FROM cnt CROSS JOIN tot
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin
  )
}
