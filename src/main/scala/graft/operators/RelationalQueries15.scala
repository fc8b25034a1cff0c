package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-12 time-series diagnostics — the monitoring battery a data
  * pipeline runs over its own daily intake before trusting it:
  *
  *  - `q231_ljung_box`       — portmanteau whiteness test on the daily
  *    order-count series (is the intake serially correlated at lags
  *    1..7, or ignorable noise?);
  *  - `q232_breusch_pagan`   — heteroscedasticity of daily revenue
  *    around its time trend (does variance grow with time — the
  *    signature of a corpus whose day-to-day stability is degrading?);
  *  - `q233_hodges_lehmann`  — the robust pseudo-median of daily
  *    revenue via Walsh-average selection (the location estimate
  *    outliers can't drag);
  *  - `q234_page_hinkley`    — sequential drift detection on the daily
  *    mean order value (the change-detector a streaming intake monitor
  *    runs; first-alarm day and gap profile).
  *
  * Exactness contract (the q218/q170 discipline): sufficient statistics
  * are exact integer/decimal sums (centered via a = n·y − Σy where
  * cancellation threatens), every libm term is floor-quantized to an
  * integer unit BEFORE any cross-row Σ, and single-row double trees are
  * shared verbatim with the DuckDB oracles.
  *
  * Scale: everything below the one keyed day-aggregate is DAY-sized.
  * Ljung–Box/Breusch–Pagan are linear in days; Hodges–Lehmann is the
  * one inherently quadratic statistic (Walsh pairs = n(n+1)/2), so its
  * series is CAPPED to the most recent 2048 days — ≤2.1M pairs at any
  * corpus size, and the cap already binds at sf0.1's 2400-day calendar
  * (a longer history changes the estimand, not the cost). Page–Hinkley
  * is a prefix scan over the day series.
  */
object RelationalQueries15 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  /** χ²(df=7) 95% critical value ×1e6 — a fixed distribution constant
    * (not data-dependent), shared with the oracle text. */
  private val Chi2Df7Micro = 14067140L

  val queries: Map[String, Q] = Map(
    // LJUNG–BOX at lags 1..7 on daily order counts. Autocovariances
    // ride CENTERED EXACT integers a_t = n·y_t − Σy (scaled deviations
    // — no double subtraction of near-equal sums), c_k = Σ a_t·a_{t−k}
    // as exact decimals; ρ_k = c_k/c_0 is nano-floored per lag, each
    // lag's Q contribution n(n+2)ρ_k²/(n−k) is micro-floored per lag,
    // and only then summed — an exact integer Σ at any engine order.
    // Lag pairs join on the CALENDAR index (gap days drop the pair on
    // both engines identically). One corpus aggregate; all else
    // day-sized.
    "q231_ljung_box" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"y")
      val tot = td.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
      val a = td.crossJoin(broadcast(tot))
        .select($"t", ($"nd" * $"y" - $"sy").cast("long").as("av"))
        .localCheckpoint()
      val c0 = a.agg(sum($"av".cast(D19) * $"av".cast(D19)).as("c0"))
      val ks = s.range(1, 8).select($"id".as("k"))
      val pairs = a.crossJoin(broadcast(ks))
        .select($"k", ($"t" - $"k").as("tz"), $"av".as("x1"))
        .join(a.select($"t".as("tz"), $"av".as("x2")), Seq("tz"))
      val ck = pairs.groupBy($"k")
        .agg(sum($"x1".cast(D19) * $"x2".cast(D19)).as("ckv"))
      val terms = ck.crossJoin(broadcast(c0)).crossJoin(broadcast(tot))
        .selectExpr("k",
          "CAST(FLOOR(CAST(ckv AS DOUBLE) / CAST(c0 AS DOUBLE) * 1e9) AS BIGINT) AS r_nano",
          "nd")
        .selectExpr("k", "r_nano",
          """CAST(FLOOR((CAST(r_nano AS DOUBLE) / 1e9) * (CAST(r_nano AS DOUBLE) / 1e9)
            | / CAST(nd - k AS DOUBLE) * CAST(nd AS DOUBLE)
            | * CAST(nd + 2 AS DOUBLE) * 1e6) AS BIGINT) AS t_micro""".stripMargin)
      terms.groupBy().agg(
          max(when($"k" === 1, $"r_nano")).as("r1_nano"),
          max(when($"k" === 2, $"r_nano")).as("r2_nano"),
          max(when($"k" === 3, $"r_nano")).as("r3_nano"),
          max(when($"k" === 7, $"r_nano")).as("r7_nano"),
          sum($"t_micro").as("q_micro"))
        .crossJoin(broadcast(tot.select($"nd".as("n_days"))))
        .selectExpr("n_days", "r1_nano", "r2_nano", "r3_nano", "r7_nano",
          "q_micro", s"q_micro > $Chi2Df7Micro AS reject_white")
    }),

    // BREUSCH–PAGAN: OLS daily revenue ~ day index from exact integer
    // sufficient sums; per-day squared residual floor-quantized to a
    // 1e8-cents² unit (coarse enough that every floored term fits
    // BIGINT at any corpus size — the r11 FLOOR-clamp lesson) BEFORE
    // the auxiliary u²~t regression's sums; LM = n·R² milli-floored.
    // df = 1 regressor → χ²₁ 95% = 3.841459.
    "q232_breusch_pagan" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"v".as("y"))
        .localCheckpoint()
      val s1 = td.agg(count(lit(1)).as("nd"), sum($"t").as("st"), sum($"y").as("sy"),
        sum($"t".cast(D19) * $"t".cast(D19)).as("stt"),
        sum($"t".cast(D19) * $"y".cast(D19)).as("sty"))
      val ab = s1.selectExpr("nd", "st", "stt",
        """(CAST(nd AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
          | / (CAST(nd AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
          | AS b""".stripMargin,
        "CAST(sy AS DOUBLE) / CAST(nd AS DOUBLE) AS ybar",
        "CAST(st AS DOUBLE) / CAST(nd AS DOUBLE) AS tbar")
      val u = td.crossJoin(broadcast(ab))
        .selectExpr("t",
          """CAST(FLOOR((CAST(y AS DOUBLE) - (ybar - b * tbar) - b * CAST(t AS DOUBLE))
            | * (CAST(y AS DOUBLE) - (ybar - b * tbar) - b * CAST(t AS DOUBLE))
            | / 1e8) AS BIGINT) AS uq""".stripMargin,
          "CAST(FLOOR(b * 1e6) AS BIGINT) AS slope_micro")
      val s2 = u.groupBy($"slope_micro")
        .agg(count(lit(1)).as("nd"), sum($"t").as("st"), sum($"uq").as("su"),
          sum($"t".cast(D19) * $"t".cast(D19)).as("stt"),
          sum($"uq".cast(D19) * $"uq".cast(D19)).as("suu"),
          sum($"t".cast(D19) * $"uq".cast(D19)).as("stu"))
      s2.selectExpr("nd AS n_days", "slope_micro",
          """CAST(FLOOR(CAST(nd AS DOUBLE)
            | * ((CAST(nd AS DOUBLE) * CAST(stu AS DOUBLE) - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
            |    * (CAST(nd AS DOUBLE) * CAST(stu AS DOUBLE) - CAST(st AS DOUBLE) * CAST(su AS DOUBLE)))
            | / ((CAST(nd AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
            |    * (CAST(nd AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
            | * 1000.0) AS BIGINT) AS lm_milli""".stripMargin)
        .selectExpr("n_days", "slope_micro", "lm_milli",
          "lm_milli > 3841 AS heteroscedastic")
    }),

    // HODGES–LEHMANN pseudo-median of daily revenue: lower median of
    // the n(n+1)/2 Walsh averages (v_i+v_j) DIV 2, i ≤ j — exact
    // integer cents (operands non-negative, so Spark DIV == DuckDB //).
    // The day×day theta join follows the q169 idiom (day-sized sides
    // auto-broadcast; never corpus×corpus), selection rides GlobalRank
    // with EXPLICIT defaultParallelism ranges (theta-join outputs have
    // useless Catalyst size estimates). The 2048-most-recent-days cap
    // bounds pairs at ≤2.1M forever.
    "q233_hodges_lehmann" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val wRecent = Window.orderBy($"day".desc) // day-sized
      val capped = day.withColumn("rn", row_number().over(wRecent))
        .filter($"rn" <= 2048)
      val wIdx = Window.orderBy($"day".asc) // day-sized
      val idx = capped.select($"day", $"v")
        .withColumn("i", row_number().over(wIdx).cast("long"))
        .select($"i", $"v")
        .localCheckpoint() // r20: <=2048 rows; both Walsh sides + the nDays count read it
      val walsh = idx.select($"i".as("i1"), $"v".as("v1"))
        .join(idx.select($"i".as("i2"), $"v".as("v2")), $"i1" <= $"i2")
        .selectExpr("i1", "i2", "(v1 + v2) DIV 2 AS w") // non-negative: DIV == //
      val (ranked, nPairs) = GlobalRank.withRank(
        walsh, "r", Seq($"w".asc, $"i1".asc, $"i2".asc),
        s.sparkContext.defaultParallelism)
      val nDays = idx.count()
      ranked.filter($"r" === (nPairs + 1) / 2)
        .select(lit(nDays).as("n_days"), lit(nPairs).as("n_pairs"),
          $"w".as("hl_cents"))
    }),

    // PAGE–HINKLEY drift detector over the daily mean order value
    // (floor-mean v DIV n — exact on both engines): per-day deviation
    // from the RUNNING mean, milli-floored per day, δ = 1000 milli
    // allowance; m_t = exact prefix Σ, gap_t = m_t − min_{τ≤t} m_τ;
    // alarm where gap > λ = 10⁹ milli ($10k cumulative drift). All
    // windows ride the day-sized series.
    "q234_page_hinkley" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("n"),
          sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val wT = Window.orderBy($"day".asc) // day-sized
      val td = day
        .select($"day", expr("v DIV n").as("y")) // non-negative: DIV == //
        .withColumn("t", row_number().over(wT).cast("long"))
      val wPre = Window.orderBy($"t".asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val dev = td
        .withColumn("sp", sum($"y").over(wPre))
        .selectExpr("t",
          """CAST(FLOOR((CAST(y AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(t AS DOUBLE))
            | * 1000.0) AS BIGINT) - 1000 AS dq""".stripMargin)
      val g = dev
        .withColumn("mt", sum($"dq").over(wPre))
        .withColumn("gap", $"mt" - min($"mt").over(wPre))
      g.agg(count(lit(1)).as("n_days"),
          sum(when($"gap" > 1000000000L, 1L).otherwise(0L)).as("n_alarm_days"),
          min(when($"gap" > 1000000000L, $"t")).as("first_alarm_t"),
          max($"gap").as("max_gap_milli"))
    }),

    // NEGATIVE-BINOMIAL method-of-moments fit to the daily order-count
    // distribution: r = m²/(v−m), p = m/v — the parametric model a
    // count-forecasting pipeline fits once q203's dispersion index says
    // "overdispersed". Variance rides the exact centered integers
    // a = n·y − Σy (the q170 discipline), so m and v are identical
    // double trees from exact sums; r is NULL when v ≤ m (the Poisson
    // boundary, where NB degenerates). One keyed day aggregate; the
    // fit is a single-row tree.
    "q235_negbin_moments" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val tot = day.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
      val saa = day.crossJoin(broadcast(tot))
        .select((($"nd" * $"y" - $"sy").cast(D19)
          * ($"nd" * $"y" - $"sy").cast(D19)).as("aa"), $"nd", $"sy")
        .groupBy($"nd", $"sy").agg(sum($"aa").as("saa"))
      saa.selectExpr("nd AS n_days",
          "CAST(sy AS DOUBLE) / CAST(nd AS DOUBLE) AS m",
          """CAST(saa AS DOUBLE) / CAST(nd AS DOUBLE) / CAST(nd AS DOUBLE)
            | / CAST(nd - 1 AS DOUBLE) AS v""".stripMargin)
        .selectExpr("n_days",
          "CAST(FLOOR(m * 1000.0) AS BIGINT) AS mean_milli",
          "CAST(FLOOR(v * 1000.0) AS BIGINT) AS var_milli",
          "CASE WHEN v > m THEN CAST(FLOOR(m * m / (v - m) * 1000.0) AS BIGINT) END AS r_milli",
          "CASE WHEN v > m THEN CAST(FLOOR(m / v * 1000000.0) AS BIGINT) END AS p_micro",
          "v > m AS overdispersed")
    }),

    // LINDLEY BACKLOG RECURRENCE: the queueing-theory capacity audit —
    // feed daily order arrivals into a fixed-capacity server
    // (C = ⌈mean daily arrivals⌉, data-derived, no constant) and
    // report the backlog process W_t = max(0, W_{t−1} + A_t − C).
    // The recurrence NEVER folds sequentially: by the reflection
    // identity W_t = S_t − min(0, min_{j≤t} S_j) with S_t = Σ(A−C),
    // it is two prefix scans over the day series — the same
    // prefix-sum machinery as q234, exact integers end-to-end.
    "q237_lindley_backlog" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("a"))
      val cap = day.agg(sum($"a").as("sa"), count(lit(1)).as("nd"))
        .selectExpr("(sa + nd - 1) DIV nd AS c") // integer ceil, non-negative
      val wT = Window.orderBy($"day".asc) // day-sized
      val wPre = Window.orderBy($"t".asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val td = day.crossJoin(broadcast(cap))
        .withColumn("t", row_number().over(wT).cast("long"))
      val w = td
        .withColumn("st", sum($"a" - $"c").over(wPre))
        .withColumn("wt", $"st" - least(lit(0L), min($"st").over(wPre)))
      w.agg(count(lit(1)).as("n_days"), max($"c").as("capacity"),
        max($"wt").as("peak_backlog"), sum($"wt").as("sum_backlog"),
        sum(when($"wt" > 0, 1L).otherwise(0L)).as("busy_days"))
    }),

    // SEASONAL MANN–KENDALL: q162's monotone-trend test restricted to
    // WITHIN-SEASON pairs (month-of-year strata), so an annual cycle
    // can't masquerade as (or mask) a trend — the variant environmental
    // and capacity monitoring actually runs on seasonal series. S and
    // the tie-corrected variance are summed over the 12 strata as pure
    // integers (Kendall's S_m and Var_m are per-stratum integer
    // closed forms; the cross-stratum Σ is exact). Pairs are
    // calendar²/12-bounded — the same day-table theta-join contract as
    // q162/q169, never corpus-sized.
    "q236_seasonal_mann_kendall" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("rev"))
        .select($"day", month($"day").as("moy"), $"rev")
        .localCheckpoint() // day-table-sized
      val a = daily.select($"moy", $"day".as("da"), $"rev".as("xa"))
      val b = daily.select($"moy", $"day".as("db"), $"rev".as("xb"))
      val sStat = a.join(b, Seq("moy")).filter($"da" < $"db")
        .agg(sum(when($"xb" > $"xa", 1L).when($"xb" < $"xa", -1L).otherwise(0L))
          .as("s_stat"))
      val varSum = daily.groupBy($"moy", $"rev").agg(count(lit(1)).as("t"))
        .groupBy($"moy").agg(sum($"t").as("nm"),
          sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tie_m"))
        .agg(count(lit(1)).as("n_seasons"), sum($"nm").as("n_days"),
          sum($"nm" * ($"nm" - 1) * (lit(2) * $"nm" + 5) - $"tie_m").as("var18"))
      sStat.crossJoin(varSum) // both single-row
        .withColumn("z", format_string("%.6f",
          when($"s_stat" > 0, ($"s_stat" - 1).cast("double"))
            .when($"s_stat" < 0, ($"s_stat" + 1).cast("double"))
            .otherwise(lit(0.0))
            / sqrt($"var18".cast("double") / 18.0)))
        .select($"n_seasons", $"n_days", $"s_stat", $"var18", $"z")
    })
  )

  private val dayCount =
    """SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |FROM orders GROUP BY 1""".stripMargin

  private val dayRev =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |FROM orders GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q235_negbin_moments" ->
      s"""WITH day AS ($dayCount),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS sy FROM day),
         |saa AS (
         |  SELECT nd, sy,
         |    SUM(CAST(nd * y - sy AS DECIMAL(19,0)) * CAST(nd * y - sy AS DECIMAL(19,0))) AS saa
         |  FROM day CROSS JOIN tot GROUP BY nd, sy),
         |mv AS (
         |  SELECT nd AS n_days,
         |    CAST(sy AS DOUBLE) / CAST(nd AS DOUBLE) AS m,
         |    CAST(saa AS DOUBLE) / CAST(nd AS DOUBLE) / CAST(nd AS DOUBLE)
         |      / CAST(nd - 1 AS DOUBLE) AS v
         |  FROM saa)
         |SELECT n_days,
         |  CAST(FLOOR(m * 1000.0) AS BIGINT) AS mean_milli,
         |  CAST(FLOOR(v * 1000.0) AS BIGINT) AS var_milli,
         |  CASE WHEN v > m THEN CAST(FLOOR(m * m / (v - m) * 1000.0) AS BIGINT) END AS r_milli,
         |  CASE WHEN v > m THEN CAST(FLOOR(m / v * 1000000.0) AS BIGINT) END AS p_micro,
         |  v > m AS overdispersed
         |FROM mv""".stripMargin,

    "q237_lindley_backlog" ->
      s"""WITH day AS ($dayCount),
         |cap AS (
         |  SELECT (CAST(SUM(y) AS BIGINT) + CAST(count(*) AS BIGINT) - 1)
         |    // CAST(count(*) AS BIGINT) AS c
         |  FROM day),
         |td AS (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, y AS a, c
         |  FROM day CROSS JOIN cap),
         |s AS (SELECT t, c, CAST(SUM(a - c) OVER (ORDER BY t) AS BIGINT) AS st FROM td),
         |w AS (
         |  SELECT t, c, st - LEAST(0, MIN(st) OVER (ORDER BY t)) AS wt FROM s)
         |SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(MAX(c) AS BIGINT) AS capacity,
         |  CAST(MAX(wt) AS BIGINT) AS peak_backlog,
         |  CAST(SUM(wt) AS BIGINT) AS sum_backlog,
         |  CAST(SUM(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS busy_days
         |FROM w""".stripMargin,

    "q236_seasonal_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS moy,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
        |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.moy = b.moy AND a.day < b.day),
        |ties AS (
        |  SELECT moy, rev, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY moy, rev),
        |perm AS (
        |  SELECT moy, CAST(SUM(t) AS BIGINT) AS nm,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_m
        |  FROM ties GROUP BY moy),
        |v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(SUM(nm) AS BIGINT) AS n_days,
        |    CAST(SUM(nm * (nm - 1) * (2 * nm + 5) - tie_m) AS BIGINT) AS var18
        |  FROM perm)
        |SELECT n_seasons, n_days, s_stat, var18,
        |  printf('%.6f',
        |    (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |          ELSE 0.0 END)
        |    / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS z
        |FROM s CROSS JOIN v""".stripMargin,

    "q231_ljung_box" ->
      s"""WITH day AS ($dayCount),
         |td AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t, y
         |  FROM day),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS sy FROM td),
         |a AS (SELECT t, CAST(nd * y - sy AS BIGINT) AS av FROM td CROSS JOIN tot),
         |c0 AS (SELECT SUM(CAST(av AS DECIMAL(19,0)) * CAST(av AS DECIMAL(19,0))) AS c0 FROM a),
         |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 8)),
         |pairs AS (
         |  SELECT x.k, x.av AS x1, a2.av AS x2
         |  FROM (SELECT k, t, av FROM a CROSS JOIN ks) x
         |  JOIN a a2 ON a2.t = x.t - x.k),
         |ck AS (
         |  SELECT k, SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS ckv
         |  FROM pairs GROUP BY k),
         |terms AS (
         |  SELECT k,
         |    CAST(FLOOR(CAST(ckv AS DOUBLE) / CAST(c0 AS DOUBLE) * 1e9) AS BIGINT) AS r_nano,
         |    nd
         |  FROM ck CROSS JOIN c0 CROSS JOIN tot),
         |tq AS (
         |  SELECT k, r_nano,
         |    CAST(FLOOR((CAST(r_nano AS DOUBLE) / 1e9) * (CAST(r_nano AS DOUBLE) / 1e9)
         |      / CAST(nd - k AS DOUBLE) * CAST(nd AS DOUBLE)
         |      * CAST(nd + 2 AS DOUBLE) * 1e6) AS BIGINT) AS t_micro
         |  FROM terms)
         |SELECT (SELECT nd FROM tot) AS n_days,
         |  CAST(MAX(CASE WHEN k = 1 THEN r_nano END) AS BIGINT) AS r1_nano,
         |  CAST(MAX(CASE WHEN k = 2 THEN r_nano END) AS BIGINT) AS r2_nano,
         |  CAST(MAX(CASE WHEN k = 3 THEN r_nano END) AS BIGINT) AS r3_nano,
         |  CAST(MAX(CASE WHEN k = 7 THEN r_nano END) AS BIGINT) AS r7_nano,
         |  CAST(SUM(t_micro) AS BIGINT) AS q_micro,
         |  CAST(SUM(t_micro) AS BIGINT) > $Chi2Df7Micro AS reject_white
         |FROM tq""".stripMargin,

    "q232_breusch_pagan" ->
      s"""WITH day AS ($dayRev),
         |td AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t,
         |    v AS y
         |  FROM day),
         |s1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(t) AS BIGINT) AS st,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS stt,
         |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sty
         |  FROM td),
         |ab AS (
         |  SELECT nd, st, stt,
         |    (CAST(nd AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(nd AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
         |    CAST(sy AS DOUBLE) / CAST(nd AS DOUBLE) AS ybar,
         |    CAST(st AS DOUBLE) / CAST(nd AS DOUBLE) AS tbar
         |  FROM s1),
         |u AS (
         |  SELECT t,
         |    CAST(FLOOR((CAST(y AS DOUBLE) - (ybar - b * tbar) - b * CAST(t AS DOUBLE))
         |      * (CAST(y AS DOUBLE) - (ybar - b * tbar) - b * CAST(t AS DOUBLE))
         |      / 1e8) AS BIGINT) AS uq,
         |    CAST(FLOOR(b * 1e6) AS BIGINT) AS slope_micro
         |  FROM td CROSS JOIN ab),
         |s2 AS (
         |  SELECT slope_micro, CAST(count(*) AS BIGINT) AS nd, CAST(SUM(t) AS BIGINT) AS st,
         |    CAST(SUM(uq) AS BIGINT) AS su,
         |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS stt,
         |    SUM(CAST(uq AS DECIMAL(19,0)) * CAST(uq AS DECIMAL(19,0))) AS suu,
         |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(uq AS DECIMAL(19,0))) AS stu
         |  FROM u GROUP BY slope_micro),
         |lm AS (
         |  SELECT nd AS n_days, slope_micro,
         |    CAST(FLOOR(CAST(nd AS DOUBLE)
         |      * ((CAST(nd AS DOUBLE) * CAST(stu AS DOUBLE) - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
         |         * (CAST(nd AS DOUBLE) * CAST(stu AS DOUBLE) - CAST(st AS DOUBLE) * CAST(su AS DOUBLE)))
         |      / ((CAST(nd AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
         |         * (CAST(nd AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
         |      * 1000.0) AS BIGINT) AS lm_milli
         |  FROM s2)
         |SELECT n_days, slope_micro, lm_milli, lm_milli > 3841 AS heteroscedastic
         |FROM lm""".stripMargin,

    "q233_hodges_lehmann" ->
      s"""WITH day AS ($dayRev),
         |capped AS (
         |  SELECT day, v FROM (
         |    SELECT day, v, row_number() OVER (ORDER BY day DESC) AS rn FROM day)
         |  WHERE rn <= 2048),
         |idx AS (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, v FROM capped),
         |walsh AS (
         |  SELECT a.i AS i1, b.i AS i2, (a.v + b.v) // 2 AS w
         |  FROM idx a JOIN idx b ON a.i <= b.i),
         |ranked AS (
         |  SELECT w, CAST(row_number() OVER (ORDER BY w, i1, i2) AS BIGINT) AS r FROM walsh),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS np FROM walsh)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM capped) AS n_days,
         |  np AS n_pairs,
         |  (SELECT CAST(w AS BIGINT) FROM ranked CROSS JOIN m WHERE r = (np + 1) // 2) AS hl_cents
         |FROM m""".stripMargin,

    "q234_page_hinkley" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |td AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, v // n AS y
        |  FROM day),
        |pre AS (SELECT t, y, SUM(y) OVER (ORDER BY t) AS sp FROM td),
        |dev AS (
        |  SELECT t,
        |    CAST(FLOOR((CAST(y AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(t AS DOUBLE))
        |      * 1000.0) AS BIGINT) - 1000 AS dq
        |  FROM pre),
        |m AS (SELECT t, CAST(SUM(dq) OVER (ORDER BY t) AS BIGINT) AS mt FROM dev),
        |g AS (SELECT t, mt, mt - MIN(mt) OVER (ORDER BY t) AS gap FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN gap > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
        |  CAST(MIN(CASE WHEN gap > 1000000000 THEN t END) AS BIGINT) AS first_alarm_t,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_milli
        |FROM g""".stripMargin
  )
}
