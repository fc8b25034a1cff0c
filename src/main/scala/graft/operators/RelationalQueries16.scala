package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-13 day-series diagnostics — four estimators the intake-
  * monitoring battery (q231–q237) doesn't cover:
  *
  *  - `q238_grubbs_test`     — single-outlier test on daily revenue
  *    (which day is most extreme, and is it extreme enough to flag?);
  *  - `q239_df_unit_root`    — Dickey–Fuller unit-root regression on
  *    daily order counts (is the intake mean-reverting, or a random
  *    walk whose drift monitoring must difference first?);
  *  - `q240_jackknife_ratio` — leave-one-day-out jackknife SE + bias
  *    correction for the ratio estimator mean-order-value = Σrev/Σn
  *    (the variance a plug-in ratio under-reports);
  *  - `q241_periodogram`     — discrete-Fourier power of the daily
  *    order-count series at the 7/14/30-day periods (weekly/biweekly/
  *    monthly seasonality strength, the spectral twin of q122/q236).
  *
  * Exactness contract (the q231/q232 discipline): day aggregates carry
  * exact BIGINT cents/counts; deviations are CENTERED exact integers
  * a_t = n·y_t − Σy; cross-row Σ of any libm-derived term is
  * floor-quantized per row/group BEFORE the sum; single-row double
  * trees are shared verbatim with the DuckDB oracles. The periodogram
  * goes one step further: its cos/sin factors are a Scala-precomputed
  * nano-quantized LITERAL TABLE inlined into both engines' SQL (t mod p
  * has ≤30 distinct values per period), so no per-row libm runs
  * anywhere — cross-engine cos/sin ulp drift is impossible by
  * construction.
  *
  * Scale: every query is ONE keyed day-aggregate (partial+final, the
  * corpus scan) and day-sized everything after. The centered integers
  * bound widths at nd·v — calendar days × daily cents, exact to ~9e18
  * (≈ $40M/day on a 2400-day calendar × 1e6 safety; the width note of
  * the q231 family).
  */
object RelationalQueries16 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  /** DFT periods probed by q241 (days). */
  private val Periods = Seq(7, 14, 30)

  /** Nano-quantized trig literal table as a CASE expression over
    * (p, t % p) — generated ONCE in Scala and inlined verbatim into
    * both the Spark selectExpr and the DuckDB oracle, so both engines
    * multiply by the exact same integers (no libm at query time). */
  private def trigCase(f: Double => Double): String =
    Periods.flatMap(p => (0 until p).map(k =>
      s"WHEN p = $p AND t % $p = $k THEN ${math.floor(f(2.0 * math.Pi * k / p) * 1e9).toLong}"))
      .mkString("CAST(CASE ", " ", " ELSE 0 END AS BIGINT)")
  private val CosNano = trigCase(math.cos)
  private val SinNano = trigCase(math.sin)

  /** Dickey–Fuller 5% critical value ×1000 (constant-only regression,
    * asymptotic) — a fixed distribution constant shared with the
    * oracle text, like RelationalQueries15.Chi2Df7Micro. */
  private val Df5PctMilli = -2862L

  val queries: Map[String, Q] = Map(
    // GRUBBS single-outlier test on daily revenue: G = max|v−v̄|/s.
    // With a_t = nd·v_t − Σv exact integers, v−v̄ = a/nd and
    // nd·s = sqrt(Σa²/(nd−1)), so G = max|a| / sqrt(Σa²/(nd−1)) — a
    // single-row double tree over three exact sums. The outlier day is
    // the argmax under the total order (|a| desc, day asc).
    "q238_grubbs_test" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val tot = day.agg(count(lit(1)).as("nd"), sum($"v").as("sv"))
      val a = day.crossJoin(broadcast(tot))
        .select($"day", ($"nd" * $"v" - $"sv").cast("long").as("av"), $"nd")
        .localCheckpoint() // day-sized; feeds the stats and the argmax
      val st = a.agg(max($"nd").as("nd"), max(abs($"av")).as("maxa"),
        sum($"av".cast(D19) * $"av".cast(D19)).as("m2"))
      val top = a.orderBy(abs($"av").desc, $"day".asc).limit(1)
        .select(date_format($"day", "yyyy-MM-dd").as("outlier_day"))
      st.crossJoin(broadcast(top)) // both single-row
        .selectExpr("nd AS n_days", "outlier_day",
          "maxa DIV nd AS dev_cents", // non-negative: DIV == //
          """CAST(FLOOR(CAST(maxa AS DOUBLE)
            | / sqrt(CAST(m2 AS DOUBLE) / CAST(nd - 1 AS DOUBLE))
            | * 1000.0) AS BIGINT) AS g_milli""".stripMargin)
    }),

    // DICKEY–FULLER unit-root regression Δy_t = α + γ·y_{t−1} + ε on
    // daily order counts: lag pairs join on the CALENDAR index (a gap
    // day drops the pair identically on both engines), sufficient
    // sums are exact BIGINT/DECIMAL, and γ̂ / SE(γ̂) / t are one
    // shared single-row double tree. t > −2.862 (the asymptotic 5%
    // critical value — a fixed constant) = cannot reject a unit root.
    "q239_df_unit_root" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"y")
        .localCheckpoint() // day-sized; self-joined on the lag index
      val p = td.join(
          td.select(($"t" + 1).as("t"), $"y".as("ylag")), Seq("t"))
        .select($"ylag".as("x"), ($"y" - $"ylag").as("dy"))
      val s1 = p.agg(count(lit(1)).as("np"),
        sum($"x").as("sx"), sum($"dy").as("sd"),
        sum($"x".cast(D19) * $"x".cast(D19)).as("sxx"),
        sum($"x".cast(D19) * $"dy".cast(D19)).as("sxd"),
        sum($"dy".cast(D19) * $"dy".cast(D19)).as("sdd"))
      s1.selectExpr("np AS n_pairs",
          """(CAST(np AS DOUBLE) * CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE))
            | / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            | AS g""".stripMargin,
          "CAST(sx AS DOUBLE) AS sxf", "CAST(sd AS DOUBLE) AS sdf",
          "CAST(sxx AS DOUBLE) AS sxxf", "CAST(sxd AS DOUBLE) AS sxdf",
          "CAST(sdd AS DOUBLE) AS sddf")
        .selectExpr("n_pairs", "g",
          "(sdf - g * sxf) / CAST(n_pairs AS DOUBLE) AS al",
          "sxf", "sdf", "sxxf", "sxdf", "sddf")
        .selectExpr("n_pairs",
          "CAST(FLOOR(g * 1e6) AS BIGINT) AS gamma_micro",
          // SSE via the normal equations: Σδ² − αΣδ − γΣxδ
          """CAST(FLOOR(g / sqrt(
            |  (sddf - al * sdf - g * sxdf) / CAST(n_pairs - 2 AS DOUBLE)
            |  * CAST(n_pairs AS DOUBLE)
            |  / (CAST(n_pairs AS DOUBLE) * sxxf - sxf * sxf))
            | * 1000.0) AS BIGINT) AS df_t_milli""".stripMargin)
        .selectExpr("n_pairs", "gamma_micro", "df_t_milli",
          s"df_t_milli > $Df5PctMilli AS unit_root_5pct")
    }),

    // JACKKNIFE for the ratio estimator R = Σ(day revenue)/Σ(day
    // orders): leave-one-day-out pseudo-ratios R_i = (Sv−v_i)/(Sn−n_i)
    // milli-floored per day (double division of exact integers —
    // deterministic), then the jackknife SE and bias-corrected point
    // estimate from exact integer sums over the quantized R_i. The
    // non-linearity is the point: a plug-in variance of R has no
    // closed linear form, the jackknife is the estimator survey
    // pipelines actually run.
    "q240_jackknife_ratio" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("n"),
          sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val tot = day.agg(count(lit(1)).as("nd"),
        sum($"n").as("sn"), sum($"v").as("sv"))
      val r = day.crossJoin(broadcast(tot))
        .selectExpr("nd", "sn", "sv",
          """CAST(FLOOR(CAST(sv - v AS DOUBLE) / CAST(sn - n AS DOUBLE)
            | * 1000.0) AS BIGINT) AS ri""".stripMargin)
      val s1 = r.groupBy($"nd", $"sn", $"sv")
        .agg(sum($"ri").as("sr"),
          sum($"ri".cast(D19) * $"ri".cast(D19)).as("srr"))
      s1.selectExpr("nd AS n_days",
          """CAST(FLOOR(CAST(sv AS DOUBLE) / CAST(sn AS DOUBLE) * 1000.0)
            | AS BIGINT) AS ratio_milli""".stripMargin,
          // Σ(R_i − R̄)² = Σr² − (Σr)²/nd, then ×(nd−1)/nd
          """CAST(FLOOR(sqrt((CAST(nd AS DOUBLE) - 1.0) / CAST(nd AS DOUBLE)
            | * (CAST(srr AS DOUBLE)
            |    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))))
            | AS BIGINT) AS jack_se_milli""".stripMargin,
          // θ_jack = nd·θ − (nd−1)·R̄ (both in milli-cents)
          """CAST(FLOOR(CAST(nd AS DOUBLE)
            |  * (CAST(sv AS DOUBLE) / CAST(sn AS DOUBLE)) * 1000.0
            | - (CAST(nd AS DOUBLE) - 1.0) * CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))
            | AS BIGINT) AS jack_theta_milli""".stripMargin)
    }),

    // PERIODOGRAM of daily order counts at the 7/14/30-day periods:
    // normalized spectral power = ρ_cos² + ρ_sin², where ρ is the
    // correlation of the centered exact series a_t with the
    // nano-quantized literal cos/sin factor of (t mod p). All three
    // per-period sums are exact decimal Σ of BIGINT products; power is
    // a per-period single-row double tree, micro-floored.
    "q241_periodogram" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val tot = day.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
      val a = day.crossJoin(broadcast(t0)).crossJoin(broadcast(tot))
        .select(datediff($"day", $"day0").cast("long").as("t"),
          ($"nd" * $"y" - $"sy").cast("long").as("av"), $"nd")
      val ps = Periods.map(_.toLong).toDF("p")
      val terms = a.crossJoin(broadcast(ps))
        .selectExpr("p", "nd", "av", s"$CosNano AS cn", s"$SinNano AS sn")
      terms.groupBy($"p")
        .agg(max($"nd").as("n_days"),
          sum($"av".cast(D19) * $"cn".cast(D19)).as("sc"),
          sum($"av".cast(D19) * $"sn".cast(D19)).as("ss"),
          sum($"av".cast(D19) * $"av".cast(D19)).as("m2a"),
          sum($"cn".cast(D19) * $"cn".cast(D19)).as("m2c"),
          sum($"sn".cast(D19) * $"sn".cast(D19)).as("m2s"))
        .selectExpr("p", "n_days",
          """CAST(FLOOR(
            | (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
            |   / (CAST(m2a AS DOUBLE) * CAST(m2c AS DOUBLE))
            |  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
            |   / (CAST(m2a AS DOUBLE) * CAST(m2s AS DOUBLE))) * 1e6)
            | AS BIGINT) AS power_micro""".stripMargin)
        .orderBy($"p")
    })
  )

  private val dayCount =
    """SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |FROM orders GROUP BY 1""".stripMargin

  private val dayRev =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |FROM orders GROUP BY 1""".stripMargin

  private val dayCountRev =
    """SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |FROM orders GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q238_grubbs_test" ->
      s"""WITH day AS ($dayRev),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(v) AS BIGINT) AS sv FROM day),
         |a AS (SELECT day, nd * v - sv AS av, nd FROM day CROSS JOIN tot),
         |st AS (
         |  SELECT MAX(nd) AS nd, CAST(MAX(ABS(av)) AS BIGINT) AS maxa,
         |    SUM(CAST(av AS DECIMAL(19,0)) * CAST(av AS DECIMAL(19,0))) AS m2
         |  FROM a),
         |top AS (
         |  SELECT strftime(day, '%Y-%m-%d') AS outlier_day
         |  FROM a ORDER BY ABS(av) DESC, day ASC LIMIT 1)
         |SELECT nd AS n_days, outlier_day,
         |  maxa // nd AS dev_cents,
         |  CAST(FLOOR(CAST(maxa AS DOUBLE)
         |    / sqrt(CAST(m2 AS DOUBLE) / CAST(nd - 1 AS DOUBLE))
         |    * 1000.0) AS BIGINT) AS g_milli
         |FROM st CROSS JOIN top""".stripMargin,

    "q239_df_unit_root" ->
      s"""WITH day AS ($dayCount),
         |td AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t, y
         |  FROM day),
         |p AS (
         |  SELECT b.y AS x, a.y - b.y AS dy
         |  FROM td a JOIN td b ON a.t = b.t + 1),
         |s1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS np,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sd,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS sxd,
         |    SUM(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS sdd
         |  FROM p),
         |g1 AS (
         |  SELECT np AS n_pairs,
         |    (CAST(np AS DOUBLE) * CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE))
         |    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS g,
         |    CAST(sx AS DOUBLE) AS sxf, CAST(sd AS DOUBLE) AS sdf,
         |    CAST(sxx AS DOUBLE) AS sxxf, CAST(sxd AS DOUBLE) AS sxdf,
         |    CAST(sdd AS DOUBLE) AS sddf
         |  FROM s1),
         |g2 AS (
         |  SELECT n_pairs, g,
         |    (sdf - g * sxf) / CAST(n_pairs AS DOUBLE) AS al,
         |    sxf, sdf, sxxf, sxdf, sddf
         |  FROM g1),
         |f AS (
         |  SELECT n_pairs,
         |    CAST(FLOOR(g * 1e6) AS BIGINT) AS gamma_micro,
         |    CAST(FLOOR(g / sqrt(
         |      (sddf - al * sdf - g * sxdf)
         |       / CAST(n_pairs - 2 AS DOUBLE)
         |       * CAST(n_pairs AS DOUBLE)
         |       / (CAST(n_pairs AS DOUBLE) * sxxf - sxf * sxf))
         |      * 1000.0) AS BIGINT) AS df_t_milli
         |  FROM g2)
         |SELECT n_pairs, gamma_micro, df_t_milli,
         |  df_t_milli > $Df5PctMilli AS unit_root_5pct
         |FROM f""".stripMargin,

    "q240_jackknife_ratio" ->
      s"""WITH day AS ($dayCountRev),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS sn,
         |    CAST(SUM(v) AS BIGINT) AS sv
         |  FROM day),
         |r AS (
         |  SELECT nd, sn, sv,
         |    CAST(FLOOR(CAST(sv - v AS DOUBLE) / CAST(sn - n AS DOUBLE)
         |      * 1000.0) AS BIGINT) AS ri
         |  FROM day CROSS JOIN tot),
         |s1 AS (
         |  SELECT nd, sn, sv, CAST(SUM(ri) AS BIGINT) AS sr,
         |    SUM(CAST(ri AS DECIMAL(19,0)) * CAST(ri AS DECIMAL(19,0))) AS srr
         |  FROM r GROUP BY nd, sn, sv)
         |SELECT nd AS n_days,
         |  CAST(FLOOR(CAST(sv AS DOUBLE) / CAST(sn AS DOUBLE) * 1000.0) AS BIGINT) AS ratio_milli,
         |  CAST(FLOOR(sqrt((CAST(nd AS DOUBLE) - 1.0) / CAST(nd AS DOUBLE)
         |    * (CAST(srr AS DOUBLE)
         |       - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))))
         |    AS BIGINT) AS jack_se_milli,
         |  CAST(FLOOR(CAST(nd AS DOUBLE)
         |     * (CAST(sv AS DOUBLE) / CAST(sn AS DOUBLE)) * 1000.0
         |    - (CAST(nd AS DOUBLE) - 1.0) * CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))
         |    AS BIGINT) AS jack_theta_milli
         |FROM s1""".stripMargin,

    "q241_periodogram" ->
      s"""WITH day AS ($dayCount),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS sy FROM day),
         |a AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t,
         |    nd * y - sy AS av, nd
         |  FROM day CROSS JOIN tot),
         |terms AS (
         |  SELECT p, nd, av, $CosNano AS cn, $SinNano AS sn
         |  FROM a CROSS JOIN (VALUES (CAST(7 AS BIGINT)), (CAST(14 AS BIGINT)),
         |    (CAST(30 AS BIGINT))) periods(p)),
         |s1 AS (
         |  SELECT p, MAX(nd) AS n_days,
         |    SUM(CAST(av AS DECIMAL(19,0)) * CAST(cn AS DECIMAL(19,0))) AS sc,
         |    SUM(CAST(av AS DECIMAL(19,0)) * CAST(sn AS DECIMAL(19,0))) AS ss,
         |    SUM(CAST(av AS DECIMAL(19,0)) * CAST(av AS DECIMAL(19,0))) AS m2a,
         |    SUM(CAST(cn AS DECIMAL(19,0)) * CAST(cn AS DECIMAL(19,0))) AS m2c,
         |    SUM(CAST(sn AS DECIMAL(19,0)) * CAST(sn AS DECIMAL(19,0))) AS m2s
         |  FROM terms GROUP BY p)
         |SELECT p, n_days,
         |  CAST(FLOOR(
         |    (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
         |      / (CAST(m2a AS DOUBLE) * CAST(m2c AS DOUBLE))
         |     + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
         |      / (CAST(m2a AS DOUBLE) * CAST(m2s AS DOUBLE))) * 1e6)
         |    AS BIGINT) AS power_micro
         |FROM s1 ORDER BY p""".stripMargin
  )
}
