package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 continuation: nonparametric + diagnostic statistics.
  *
  *  - `q197_wilcoxon_signed_rank` — the paired-sample nonparametric
  *    complement to q193's paired t-test (same per-part 1995↔1996
  *    price pairs, rank-based so outlier-robust).
  *  - `q198_odds_ratio` — 2×2 association (deep discount ↔ return)
  *    with a Wald log-OR confidence interval, the epidemiology/risk
  *    table every fraud and quality dashboard carries.
  *  - `q199_durbin_watson` — first-order autocorrelation diagnostic
  *    on the residuals of the daily-revenue trend regression.
  *
  * Exactness: rank statistics ride the distinct-value midrank idiom
  * (doubled integer ranks, q105); 2×2 cells are exact longs; DW
  * residuals are floor-quantized to integer cents before the decimal
  * sum-of-squares, so both engines divide identical exact operands.
  */
object RelationalQueries13 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  val queries: Map[String, Q] = Map(
    // WILCOXON SIGNED-RANK on per-part mean-price pairs (1995 vs
    // 1996). The only corpus-sized work is the (part,year) keyed
    // aggregate; pairs are catalog-sized, and ranks are computed on
    // the DISTINCT-|d| table (per-value counts + cumulative sum, the
    // q105 idiom) so tie handling is exact via doubled-integer
    // midranks. z touches doubles once, on exact integer operands.
    "q197_wilcoxon_signed_rank" -> ((s, d) => {
      import s.implicits._
      val py = lineitem(s, d)
        .filter(year($"l_shipdate").isin(1995, 1996))
        .select($"l_partkey", year($"l_shipdate").as("yr"),
          (dec($"l_extendedprice") * 100).cast("long").as("c"))
        .groupBy($"l_partkey", $"yr")
        .agg(expr("sum(c) DIV count(1)").as("m"))
      val pairs = py.filter($"yr" === 1995).select($"l_partkey", $"m".as("m95"))
        .join(py.filter($"yr" === 1996).select($"l_partkey", $"m".as("m96")),
          Seq("l_partkey"))
        .select(($"m95" - $"m96").as("dv"))
        .filter($"dv" =!= 0)
      val perv = pairs.groupBy(abs($"dv").as("ad"))
        .agg(count(lit(1)).as("t"),
          sum(when($"dv" > 0, 1L).otherwise(0L)).as("np"))
      val w = Window.orderBy($"ad").rowsBetween(Window.unboundedPreceding, 0)
      val g = perv
        .withColumn("cum", sum($"t").over(w)) // distinct-|d|-sized window
        .withColumn("rmin", $"cum" - $"t" + 1)
        .agg(sum($"t").as("n"),
          // Σ over positive-d rows of (2·rank_min + t − 1) = 2·W+ exactly
          sum($"np" * (lit(2) * $"rmin" + $"t" - 1)).as("wp_doubled"),
          sum($"t" * $"t" * $"t" - $"t").as("ties_t"))
      g.selectExpr("n", "wp_doubled",
        """CASE WHEN n < 1 THEN NULL ELSE format_string('%.6f',
          |  (CAST(wp_doubled AS DOUBLE) / 2.0
          |   - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
          |  / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
          |         * CAST(2 * n + 1 AS DOUBLE) / 24.0
          |         - CAST(ties_t AS DOUBLE) / 48.0)) END AS z""".stripMargin,
        """CASE WHEN n < 1 THEN NULL ELSE abs(
          |  (CAST(wp_doubled AS DOUBLE) / 2.0
          |   - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
          |  / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
          |         * CAST(2 * n + 1 AS DOUBLE) / 24.0
          |         - CAST(ties_t AS DOUBLE) / 48.0)) >= 1.96 END
          | AS significant""".stripMargin)
    }),

    // ODDS RATIO with Wald CI: does a deep discount (≥5%) raise the
    // odds of a return? One corpus scan → four exact 2×2 cells; the
    // OR, ln-OR standard error and CI bounds are a single
    // operand-identical double tree over those longs. NULL-guarded on
    // any empty cell (Wald is undefined there).
    "q198_odds_ratio" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d)
        .select(((dec($"l_discount") * 100).cast("long") >= 5).as("exp"),
          ($"l_returnflag" === "R").as("out"))
        .agg(
          sum(when($"exp" && $"out", 1L).otherwise(0L)).as("a"),
          sum(when($"exp" && !$"out", 1L).otherwise(0L)).as("b"),
          sum(when(!$"exp" && $"out", 1L).otherwise(0L)).as("c"),
          sum(when(!$"exp" && !$"out", 1L).otherwise(0L)).as("dd"))
      cells.selectExpr("a", "b", "c", "dd AS d",
        """CASE WHEN b = 0 OR c = 0 THEN NULL ELSE
          |  CAST(FLOOR(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
          |   / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * 1000.0) AS BIGINT)
          | END AS or_milli""".stripMargin,
        """CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE format_string('%.6f',
          |  exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
          |         / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
          |      - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
          |                    + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))))
          | END AS ci_lo""".stripMargin,
        """CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE format_string('%.6f',
          |  exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
          |         / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
          |      + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
          |                    + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))))
          | END AS ci_hi""".stripMargin,
        """CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE
          |  ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
          |     / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
          |  - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
          |                + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE)) > 0.0
          | END AS significant""".stripMargin)
    }),

    // DURBIN–WATSON autocorrelation diagnostic on daily-revenue trend
    // residuals. Day aggregate (calendar-sized at ANY corpus size) →
    // exact OLS sufficient statistics → residuals floor-quantized to
    // integer cents BEFORE the decimal sum-of-squares, so the DW
    // ratio divides exact operands (double Σ over the calendar would
    // be engine-order-dependent; integer Σ is not). The lag window is
    // calendar-sized by construction.
    "q199_durbin_watson" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d)
        .groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"y", $"day")
      val g = td.agg(count(lit(1)).as("n"),
          sum($"t").as("st"), sum($"t" * $"t").as("stt"),
          sum($"y").as("sy"), sum($"t".cast(D19) * $"y".cast(D19)).as("sty"))
        .selectExpr("n", "st", "stt", "sy",
          """(CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
            | - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
            |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope_d""".stripMargin)
        .selectExpr("n", "slope_d",
          "(CAST(sy AS DOUBLE) - slope_d * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS icept_d")
      val resid = td.crossJoin(broadcast(g))
        .selectExpr("day", "n",
          "CAST(FLOOR(CAST(y AS DOUBLE) - (icept_d + slope_d * CAST(t AS DOUBLE))) AS BIGINT) AS e")
      val w = Window.orderBy($"day") // calendar-sized
      val dif = resid.withColumn("ep", lag($"e", 1).over(w))
      dif.agg(max($"n").as("n_days"),
          sum($"e".cast(D19) * $"e".cast(D19)).as("den"),
          sum(when($"ep".isNotNull,
            ($"e" - $"ep").cast(D19) * ($"e" - $"ep").cast(D19))
            .otherwise(lit(0).cast(D19))).as("num"))
        .selectExpr("n_days",
          "CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0) AS BIGINT) AS dw_milli",
          """CAST(FLOOR((1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0)
            | * 1000.0) AS BIGINT) AS rho_milli""".stripMargin,
          "CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0) AS BIGINT) < 1500 AS positive_autocorr")
    }),

    // AUC-ROC via the rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀):
    // how well does line-item price rank returns above keeps? Ranks
    // ride the distinct-value midrank idiom (q105) — the shuffle
    // carries one row per distinct price, ties are exact via
    // doubled-integer midranks, and AUC/Gini touch doubles once over
    // exact longs. r21 (verdict ask #2): the cumulative count now
    // rides GlobalRank's range-partitioned two-pass prefix sum — the
    // distinct-PRICE table is corpus-shaped (≈ one row per list-price
    // point, ~46k at sf0.1 and growing with the catalog), so the old
    // partition-less window was the exact single-task seam §2.3 bans;
    // the prefix sums are the same exact longs, hash-identical.
    "q200_auc_roc" -> ((s, d) => {
      import s.implicits._
      val perv = lineitem(s, d)
        .select((dec($"l_extendedprice") * 100).cast("long").as("score"),
          ($"l_returnflag" === "R").as("pos"))
        .groupBy($"score")
        .agg(count(lit(1)).as("nv"),
          sum(when($"pos", 1L).otherwise(0L)).as("nv1"))
      // pin the distinct-score aggregate BEFORE the range partitioning:
      // repartitionByRange SAMPLES its input for the range boundaries,
      // which would re-run the corpus aggregate a second time (the
      // borda/q95 pin discipline).
      val (cum, _) = GlobalRank.withPrefixSum(
        perv.localCheckpoint(), "cum", $"nv", Seq($"score"))
      val g = cum
        .withColumn("rmin", $"cum" - $"nv" + 1)
        .agg(sum($"nv1").as("n1"), sum($"nv" - $"nv1").as("n0"),
          sum($"nv1".cast(D19) * (lit(2) * $"rmin" + $"nv" - 1).cast(D19))
            .as("r1_doubled"))
      g.selectExpr("n1", "n0",
        """CASE WHEN n1 * n0 = 0 THEN NULL ELSE format_string('%.6f',
          |  (CAST(r1_doubled AS DOUBLE) / 2.0
          |   - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
          |  / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) END AS auc""".stripMargin,
        """CASE WHEN n1 * n0 = 0 THEN NULL ELSE CAST(FLOOR(
          |  (2.0 * ((CAST(r1_doubled AS DOUBLE) / 2.0
          |   - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
          |  / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) - 1.0) * 10000.0)
          | AS BIGINT) END AS gini_bp""".stripMargin)
    }),

    // BRIER-SCORE MURPHY DECOMPOSITION of a discount→return forecast:
    // per-discount return rates learned on 1995 (basis-point integers
    // from one keyed aggregate) are graded on 1996 outcomes —
    // reliability / resolution / uncertainty from the 11-bucket join
    // of exact counts. Two corpus scans (train, test aggregates);
    // everything downstream is bucket-sized. The decomposition's
    // doubles divide exact integer operands only.
    "q201_brier_decomposition" -> ((s, d) => {
      import s.implicits._
      def cells(yr: Int) = lineitem(s, d)
        .filter(year($"l_shipdate") === yr)
        .groupBy((dec($"l_discount") * 100).cast("long").as("disc"))
        .agg(count(lit(1)).as("n"),
          sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("pos"))
      val train = cells(1995)
        .selectExpr("disc", "pos * 10000 DIV n AS phat_bp")
      val test = cells(1996)
      val j = test.join(broadcast(train), Seq("disc")).localCheckpoint()
      val tot = j.agg(sum($"n").as("nn"), sum($"pos").as("npos"))
      j.crossJoin(broadcast(tot))
        .selectExpr("n", "phat_bp", "nn", "npos",
          "pos * 10000 DIV n AS obar_bp",
          "npos * 10000 DIV nn AS obarall_bp")
        .agg(max($"nn").as("n_test"), max($"npos").as("n_pos"),
          sum($"n".cast(D19) *
            ($"phat_bp" - $"obar_bp").cast(D19) *
            ($"phat_bp" - $"obar_bp").cast(D19)).as("rel_num"),
          sum($"n".cast(D19) *
            ($"obar_bp" - $"obarall_bp").cast(D19) *
            ($"obar_bp" - $"obarall_bp").cast(D19)).as("res_num"))
        .selectExpr("n_test", "n_pos",
          """CAST(FLOOR(CAST(rel_num AS DOUBLE) / CAST(n_test AS DOUBLE)
            | / 100.0) AS BIGINT) AS reliability_micro""".stripMargin,
          """CAST(FLOOR(CAST(res_num AS DOUBLE) / CAST(n_test AS DOUBLE)
            | / 100.0) AS BIGINT) AS resolution_micro""".stripMargin,
          """CAST(FLOOR(CAST(n_pos AS DOUBLE) / CAST(n_test AS DOUBLE)
            | * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n_test AS DOUBLE))
            | * 1000000.0) AS BIGINT) AS uncertainty_micro""".stripMargin)
    }),

    // POISSON DISPERSION test + negative-binomial moments fit on the
    // daily order-arrival counts: is order intake Poisson, and if
    // overdispersed, what (r, p) does method-of-moments give? One
    // calendar-day aggregate carries everything; the index of
    // dispersion and the √(2χ²)−√(2df−1) normal approximation are one
    // double tree over exact integer sums.
    "q203_poisson_dispersion" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("c"))
      day.agg(count(lit(1)).as("n"), sum($"c").as("sc"),
          sum($"c".cast(D19) * $"c".cast(D19)).as("scc"))
        .selectExpr("n", "sc",
          // D = s²/x̄ in milli; s² uses the n−1 divisor
          """CAST(FLOOR(
            | (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            | / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
            | * 1000.0) AS BIGINT) AS dispersion_milli""".stripMargin,
          """format_string('%.6f',
            |  sqrt(2.0 * CAST(n - 1 AS DOUBLE)
            |    * ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            |       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            |       / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))))
            |  - sqrt(2.0 * CAST(n - 1 AS DOUBLE) - 1.0)) AS z""".stripMargin,
          // NB moments: r̂ = x̄²/(s²−x̄), p̂ = x̄/s² (NULL unless overdispersed)
          """CASE WHEN (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            |   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            |   <= CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) THEN NULL ELSE
            | CAST(FLOOR((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
            |   * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
            |   / ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            |      - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
            |   * 1000.0) AS BIGINT) END AS nb_r_milli""".stripMargin,
          """CASE WHEN (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            |   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            |   <= CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) THEN NULL ELSE
            | CAST(FLOOR((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
            |   / ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
            |   * 10000.0) AS BIGINT) END AS nb_p_bp""".stripMargin)
    }),

    // WEIBULL FIT (median-rank regression) of the order→ship delay
    // distribution: ln(−ln(1−F)) vs ln(t) OLS gives shape k and scale
    // λ. The orderkey join is the only corpus-sized work (both sides
    // shuffle on the same key); delays collapse to a distinct-day
    // table (≤ a few hundred rows at ANY corpus size), F rides exact
    // cumulative counts with Bernard's approximation, and both
    // regression coordinates are floor-quantized to nano-integers
    // before the decimal OLS sums — so the fitted parameters divide
    // exact operands on both engines.
    "q204_weibull_fit" -> ((s, d) => {
      import s.implicits._
      val delays = lineitem(s, d)
        .select($"l_orderkey".as("o_orderkey"), $"l_shipdate")
        .join(orders(s, d).select($"o_orderkey", $"o_orderdate"), Seq("o_orderkey"))
        .select(datediff($"l_shipdate", $"o_orderdate").cast("long").as("t"))
        .filter($"t" >= 1)
      val perv = delays.groupBy($"t").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, 0)
      val pts = perv
        .withColumn("cum", sum($"nv").over(w)) // distinct-delay-sized
        .crossJoin(broadcast(delays.agg(count(lit(1)).as("n"))))
        .filter($"cum" < $"n") // F=1 has no ln(−ln(1−F))
        .selectExpr(
          "CAST(FLOOR(ln(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano",
          """CAST(FLOOR(ln(-ln(1.0 - (CAST(cum AS DOUBLE) - 0.3)
            | / (CAST(n AS DOUBLE) + 0.4))) * 1e9) AS BIGINT) AS y_nano""".stripMargin)
      val g = pts.agg(count(lit(1)).as("m"),
        sum($"x_nano").as("sx"), sum($"y_nano").as("sy"),
        sum($"x_nano".cast(D19) * $"x_nano".cast(D19)).as("sxx"),
        sum($"x_nano".cast(D19) * $"y_nano".cast(D19)).as("sxy"),
        sum($"y_nano".cast(D19) * $"y_nano".cast(D19)).as("syy"))
      g.selectExpr("m",
        s"CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS shape_milli",
        s"""CAST(FLOOR(exp(
           | -((CAST(sy AS DOUBLE) - ($slopeD) * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE))
           | / ($slopeD) / 1e9) * 1000.0) AS BIGINT) AS scale_days_milli""".stripMargin,
        """CAST(FLOOR(
          | (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          | * 1000.0) AS BIGINT) AS r2_milli""".stripMargin)
    }),

    // 1-D EARTH MOVER'S DISTANCE (Wasserstein-1) between the discount
    // distributions of returned vs kept line items: W₁ = Σᵥ|CDF₁−CDF₂|·Δv
    // over the discount grid. The CDF difference rides exact integer
    // cross-products (cum1·n2 − cum2·n1), so the Σ over the ≤11-value
    // grid is exact — doubles appear only in the final scaling. One
    // corpus scan; everything downstream is grid-sized.
    "q205_emd_1d" -> ((s, d) => {
      import s.implicits._
      val perv = lineitem(s, d)
        .groupBy((dec($"l_discount") * 100).cast("long").as("disc"))
        .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("c1"),
          sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("c2"))
      val wc = Window.orderBy($"disc").rowsBetween(Window.unboundedPreceding, 0)
      val wl = Window.orderBy($"disc") // grid-sized (≤11 rows)
      val cum = perv
        .withColumn("cum1", sum($"c1").over(wc))
        .withColumn("cum2", sum($"c2").over(wc))
        .withColumn("gap", lead($"disc", 1).over(wl) - $"disc")
      val tot = cum.agg(max($"cum1").as("n1"), max($"cum2").as("n2"),
        count(lit(1)).as("k"))
      cum.filter($"gap".isNotNull).crossJoin(broadcast(tot))
        .agg(max($"n1").as("n1"), max($"n2").as("n2"), max($"k").as("k_grid"),
          sum(abs($"cum1".cast(D19) * $"n2".cast(D19)
            - $"cum2".cast(D19) * $"n1".cast(D19)) * $"gap").as("num"))
        .selectExpr("n1", "n2", "k_grid",
          """CAST(FLOOR(CAST(num AS DOUBLE) / CAST(n1 AS DOUBLE)
            | / CAST(n2 AS DOUBLE) * 1000000.0) AS BIGINT)
            | AS emd_microcents""".stripMargin)
    }),

    // BENJAMINI–HOCHBERG FDR over per-nation order-value z-tests: one
    // "is this nation's mean order off the global mean?" test per
    // nation WITH orders (m = realized test count, derived as a window
    // count — not a constant, so an empty nation shrinks the step-up
    // denominator correctly), p-values from the Abramowitz–Stegun Φ
    // tail (identical exp/Horner tree on both engines, nano-quantized),
    // then the BH step-up at α=0.05 in exact integer arithmetic
    // (p_nano·20·m ≤ rk·10⁹). One corpus-sized keyed aggregate; BH
    // runs on the nation-sized ranked table.
    "q210_benjamini_hochberg" -> ((s, d) => {
      import s.implicits._
      val base = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_nationkey"),
          Seq("o_custkey"))
        .select($"c_nationkey", (dec($"o_totalprice") * 100).cast("long").as("v"))
      val per = base.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("ni"), sum($"v").as("si"))
      val tot = base.agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum($"v".cast(D19) * $"v".cast(D19)).as("svv"))
      val z = per.crossJoin(broadcast(tot))
        .join(broadcast(nation(s, d).select($"n_nationkey".as("c_nationkey"), $"n_name")),
          Seq("c_nationkey"))
        .selectExpr("n_name", "ni",
          """(CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)
            | - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
            | / sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
            |         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
            |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            |        / CAST(ni AS DOUBLE)) AS z_d""".stripMargin)
        .selectExpr("n_name", "ni", "z_d", s"${pNano("z_d")} AS p_nano")
      val wr = Window.orderBy($"p_nano".asc, $"n_name".asc) // 25 rows
      // m = the REALIZED number of simultaneous tests (nations with
      // orders), derived as a window count over the same ranked table
      // — not a compile-time constant, so a nation with zero orders
      // shrinks the BH step-up denominator correctly on both engines.
      val wm = Window.partitionBy(lit(1))
      val ranked = z.withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("m_tests", count(lit(1)).over(wm).cast("long"))
        .withColumn("pass_bh", $"p_nano" * 20 * $"m_tests" <= $"rk" * 1000000000L)
      val kmax = ranked.agg(max(when($"pass_bh", $"rk").otherwise(0L)).as("k_bh"))
      ranked.crossJoin(broadcast(kmax))
        .select($"n_name", $"ni", format_string("%.6f", $"z_d").as("z"),
          $"p_nano", $"rk", ($"rk" <= $"k_bh").as("rejected"))
        .orderBy($"rk")
    }),

    // COCHRAN–MANTEL–HAENSZEL pooled odds ratio: the discount→return
    // association of q198, now stratified by quantity band so volume
    // confounding can't fake it. One corpus scan → 3 strata × 2×2
    // exact cells; each stratum's ad/n, bc/n, E and V terms are
    // micro-quantized to integers BEFORE the Σ over strata (a 3-row
    // double sum would be engine-order-dependent; integer Σ is not).
    "q215_cmh_pooled_or" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d)
        .select(
          when($"l_quantity" <= 10, "small")
            .when($"l_quantity" <= 30, "mid").otherwise("large").as("stratum"),
          ((dec($"l_discount") * 100).cast("long") >= 5).as("exp"),
          ($"l_returnflag" === "R").as("out"))
        .groupBy($"stratum")
        .agg(
          sum(when($"exp" && $"out", 1L).otherwise(0L)).as("a"),
          sum(when($"exp" && !$"out", 1L).otherwise(0L)).as("b"),
          sum(when(!$"exp" && $"out", 1L).otherwise(0L)).as("c"),
          sum(when(!$"exp" && !$"out", 1L).otherwise(0L)).as("dd"))
        .selectExpr("stratum", "a", "b", "c", "dd",
          "a + b + c + dd AS n")
        .selectExpr(Seq("a") ++ cmhTerms: _*)
        .agg(count(lit(1)).as("k_strata"), sum($"a").as("sum_a"),
          sum($"ad_micro").as("s_ad"), sum($"bc_micro").as("s_bc"),
          sum($"e_micro").as("s_e"), sum($"v_micro").as("s_v"))
      cells.selectExpr("k_strata", "sum_a",
        "s_ad * 1000 DIV s_bc AS or_cmh_milli",
        """CAST(FLOOR((CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
          | * (CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
          | / (CAST(s_v AS DOUBLE) / 1000000.0) * 1000.0) AS BIGINT)
          | AS chi2_milli""".stripMargin,
        """CAST(FLOOR((CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
          | * (CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
          | / (CAST(s_v AS DOUBLE) / 1000000.0) * 1000.0) AS BIGINT) >= 3841
          | AS significant""".stripMargin)
    }),

    // GRANGER-LITE: does yesterday's ORDER INTAKE improve today's
    // SHIPPED-REVENUE forecast beyond revenue's own lag? Restricted
    // (y~y₋₁) vs full (y~y₋₁+x₋₁) OLS on the calendar-day table; the
    // centered normal equations ride decimal-exact sums, the 2×2
    // solve and the F statistic are pure-arithmetic double trees (no
    // libm). Corpus-sized work = the two day aggregates; everything
    // else is calendar-sized.
    "q212_granger_lite" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val ord = orders(s, d).groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"))
      val wl = Window.orderBy($"day") // calendar-sized
      val td = rev.join(ord, Seq("day"), "inner")
        .withColumn("y1", lag($"y", 1).over(wl))
        .withColumn("x1", lag($"x", 1).over(wl))
        .filter($"y1".isNotNull && $"x1".isNotNull)
        .select($"y", $"y1".as("u"), $"x1".as("v"))
      val g = td.agg(count(lit(1)).as("n"),
        sum($"u").as("s1"), sum($"v").as("s2"), sum($"y").as("sy"),
        sum($"u".cast(D19) * $"u".cast(D19)).as("s11"),
        sum($"v".cast(D19) * $"v".cast(D19)).as("s22"),
        sum($"u".cast(D19) * $"v".cast(D19)).as("s12"),
        sum($"u".cast(D19) * $"y".cast(D19)).as("s1y"),
        sum($"v".cast(D19) * $"y".cast(D19)).as("s2y"),
        sum($"y".cast(D19) * $"y".cast(D19)).as("syy"))
      g.selectExpr(Seq("n") ++ grangerCols: _*)
    }),

    // HURST EXPONENT via rescaled-range analysis of daily revenue:
    // R/S per block at window sizes 8/16/32/64 days, H = slope of
    // log(mean R/S) on log(w). Block-internal cumulative deviations
    // ride the EXACT integer identity D_j = w·cum_j − j·Σy (no mean
    // division), S² = w·Σy² − (Σy)² likewise, so each block's
    // R/S = (maxD−minD)/√S² takes one correctly-rounded sqrt over
    // exact operands and is micro-quantized BEFORE the per-w mean.
    // All windows are (w, block)-keyed — bounded frames, never global.
    "q208_hurst_rs" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"y")
      val ws = s.range(3, 7).select(pow(lit(2), $"id").cast("long").as("w")) // 8,16,32,64
      val blk = td.crossJoin(broadcast(ws))
        .withColumn("block", expr("t DIV w"))
      val wOrd = Window.partitionBy($"w", $"block").orderBy($"t")
      val wAll = Window.partitionBy($"w", $"block")
      val scored = blk
        .withColumn("j", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum($"y").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .withColumn("sy", sum($"y").over(wAll))
        .withColumn("syy", sum($"y".cast(D19) * $"y".cast(D19)).over(wAll))
        .filter($"cnt" === $"w") // full blocks only
        .withColumn("dj", $"w".cast(D19) * $"cum".cast(D19)
          - $"j".cast(D19) * $"sy".cast(D19))
      val rs = scored.groupBy($"w", $"block")
        .agg(max($"dj").as("maxd"), min($"dj").as("mind"),
          max($"sy").as("sy_b"), max($"syy").as("syy_b"))
        .selectExpr("w", "maxd", "mind",
          """(CAST(w AS DOUBLE) * CAST(syy_b AS DOUBLE)
            | - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE)) AS s2_d""".stripMargin)
        .filter($"s2_d" > 0)
        .selectExpr("w",
          """CAST(FLOOR((CAST(maxd AS DOUBLE) - CAST(mind AS DOUBLE))
            | / sqrt(s2_d) * 1000000.0) AS BIGINT)
            | AS rs_micro""".stripMargin)
      val perw = rs.groupBy($"w")
        .agg(count(lit(1)).as("n_blocks"), sum($"rs_micro").as("s_rs"))
        .selectExpr("w", "n_blocks", "s_rs DIV n_blocks AS mean_rs_micro")
      val pts = perw.selectExpr(
        "CAST(FLOOR(ln(CAST(w AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano",
        "CAST(FLOOR(ln(CAST(mean_rs_micro AS DOUBLE) / 1000000.0) * 1e9) AS BIGINT) AS y_nano")
      val g = pts.agg(count(lit(1)).as("m"),
        sum($"x_nano").as("sx"), sum($"y_nano").as("sy"),
        sum($"x_nano".cast(D19) * $"x_nano".cast(D19)).as("sxx"),
        sum($"x_nano".cast(D19) * $"y_nano".cast(D19)).as("sxy"))
      g.selectExpr("m",
        s"CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS hurst_milli",
        s"CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) > 500 AS persistent")
    }),

    // VARIANCE INFLATION FACTORS for the quantity/discount/tax
    // predictor set: VIF_j = (R⁻¹)_jj of the 3×3 correlation matrix,
    // inverted in closed form — the multicollinearity audit behind
    // every regression report (q113/ml_ridge). ONE corpus aggregate
    // carries the nine decimal sufficient statistics; correlations
    // and the adjugate-over-determinant diagonal are one shared
    // double tree (sqrt only — correctly rounded on both engines).
    "q216_vif" -> ((s, d) => {
      import s.implicits._
      val t = lineitem(s, d).select(
        $"l_quantity".cast("long").as("x1"),
        (dec($"l_discount") * 100).cast("long").as("x2"),
        (dec($"l_tax") * 100).cast("long").as("x3"))
      val g = t.agg(count(lit(1)).as("n"),
        sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"x3").as("s3"),
        sum($"x1".cast(D19) * $"x1".cast(D19)).as("s11"),
        sum($"x2".cast(D19) * $"x2".cast(D19)).as("s22"),
        sum($"x3".cast(D19) * $"x3".cast(D19)).as("s33"),
        sum($"x1".cast(D19) * $"x2".cast(D19)).as("s12"),
        sum($"x1".cast(D19) * $"x3".cast(D19)).as("s13"),
        sum($"x2".cast(D19) * $"x3".cast(D19)).as("s23"))
      g.selectExpr(Seq("n") ++ vifCols: _*)
    }),

    // PROCESS CAPABILITY Cp/Cpk of order quantities against the
    // catalog's [1, 50] spec band, per return-status lane — the SPC
    // index pair that complements the p-chart (q195) and XmR (q151)
    // monitors. One keyed aggregate; σ and the capability ratios are
    // a shared double tree over exact sums.
    "q217_process_capability" -> ((s, d) => {
      import s.implicits._
      val g = lineitem(s, d)
        .select($"l_returnflag", $"l_quantity".cast("long").as("q"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"q").as("sq"),
          sum($"q".cast(D19) * $"q".cast(D19)).as("sqq"))
      g.selectExpr(Seq("l_returnflag", "n") ++ cpkCols: _*)
        .orderBy($"l_returnflag")
    }),

    // ACF + PACF (Durbin–Levinson to lag 3) of the daily order-intake
    // series — the Box–Jenkins identification table behind every
    // ARIMA order choice. Lagged pairs come from a keyed self-join of
    // the calendar-day aggregate (shifted-index equi-join, ×3
    // fan-out — calendar-sized, never corpus-sized); each r_k is an
    // exact-sum Pearson nano-quantized BEFORE the Durbin–Levinson
    // recursion, whose unrolled φ₂₂/φ₃₃ trees are pure arithmetic.
    "q218_acf_pacf" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d).groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val t0 = day.agg(min($"day").as("day0"))
      val td = day.crossJoin(broadcast(t0))
        .select(datediff($"day", $"day0").cast("long").as("t"), $"y")
      val ks = s.range(1, 4).select($"id".as("k"))
      val pairs = td.crossJoin(broadcast(ks))
        .select($"k", ($"t" - $"k").as("tz"), $"y".as("x"))
        .join(td.select($"t".as("tz"), $"y".as("z")), Seq("tz"))
      val g = pairs.groupBy($"k").agg(count(lit(1)).as("m"),
        sum($"x").as("sx"), sum($"z").as("sz"),
        sum($"x".cast(D19) * $"x".cast(D19)).as("sxx"),
        sum($"z".cast(D19) * $"z".cast(D19)).as("szz"),
        sum($"x".cast(D19) * $"z".cast(D19)).as("sxz"))
      val r = g.selectExpr("k",
        s"CAST(FLOOR($pearsonXZ * 1e9) AS BIGINT) AS r_nano")
      r.groupBy().agg(
          max(when($"k" === 1, $"r_nano")).as("r1_nano"),
          max(when($"k" === 2, $"r_nano")).as("r2_nano"),
          max(when($"k" === 3, $"r_nano")).as("r3_nano"))
        .selectExpr(Seq("r1_nano", "r2_nano", "r3_nano") ++ pacfCols: _*)
    })
  )

  /** Pearson r over the lag-pair sufficient statistics (shared text). */
  private val pearsonXZ =
    """((CAST(m AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      | / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * sqrt(CAST(m AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))""".stripMargin

  /** Durbin–Levinson unrolled to order 3 over the nano-quantized
    * autocorrelations (pure arithmetic, shared text). */
  private val pacfCols: Seq[String] = {
    val r1 = "(CAST(r1_nano AS DOUBLE) / 1e9)"
    val r2 = "(CAST(r2_nano AS DOUBLE) / 1e9)"
    val r3 = "(CAST(r3_nano AS DOUBLE) / 1e9)"
    val p22 = s"(($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))"
    val p21 = s"($r1 * (1.0 - $p22))"
    val p33 = s"(($r3 - $p21 * $r2 - $p22 * $r1) / (1.0 - $p21 * $r1 - $p22 * $r2))"
    Seq(
      s"CAST(FLOOR($r1 * 1000000.0) AS BIGINT) AS pacf1_micro",
      s"CAST(FLOOR($p22 * 1000000.0) AS BIGINT) AS pacf2_micro",
      s"CAST(FLOOR($p33 * 1000000.0) AS BIGINT) AS pacf3_micro")
  }

  /** OLS slope over the nano-quantized (x,y) sums — shared text so the
    * Spark and DuckDB trees are operand-identical. */
  private val slopeD =
    """(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      | / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""".stripMargin

  /** Two-sided normal tail p = 2(1−Φ(|z|)) via Abramowitz–Stegun
    * 26.2.17 (|ε| < 7.5e-8), floor-quantized to nano — the SAME
    * expression string feeds Spark's selectExpr and the DuckDB oracle,
    * so both engines evaluate one identical double tree. */
  private def pNano(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * abs($z)))"
    s"""CAST(FLOOR(2.0 * exp(-abs($z) * abs($z) / 2.0) / 2.5066282746310002
       | * ($t * (0.319381530 + $t * (-0.356563782 + $t * (1.781477937
       |   + $t * (-1.821255978 + $t * 1.330274429))))) * 1e9) AS BIGINT)""".stripMargin
  }


  /** Per-stratum CMH terms, micro-quantized through identical double
    * trees (the q192 FLOOR idiom — width-safe at any corpus size,
    * engine-identical because only IEEE arithmetic touches them). */
  private val cmhTerms: Seq[String] = Seq(
    """CAST(FLOOR(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
      | / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS ad_micro""".stripMargin,
    """CAST(FLOOR(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
      | / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS bc_micro""".stripMargin,
    """CAST(FLOOR(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
      | / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS e_micro""".stripMargin,
    """CAST(FLOOR(CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)
      | * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE)
      | / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      | * 1000000.0) AS BIGINT) AS v_micro""".stripMargin)

  /** VIF output columns: correlations from centered moments, then the
    * closed-form 3×3 correlation-matrix inverse diagonal. */
  private val vifCols: Seq[String] = {
    def c(i: String, j: String, sij: String) =
      s"(CAST(n AS DOUBLE) * CAST($sij AS DOUBLE) - CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE))"
    val r12 = s"(${c("1", "2", "s12")} / sqrt(${c("1", "1", "s11")} * ${c("2", "2", "s22")}))"
    val r13 = s"(${c("1", "3", "s13")} / sqrt(${c("1", "1", "s11")} * ${c("3", "3", "s33")}))"
    val r23 = s"(${c("2", "3", "s23")} / sqrt(${c("2", "2", "s22")} * ${c("3", "3", "s33")}))"
    val det = s"(1.0 + 2.0 * $r12 * $r13 * $r23 - $r12 * $r12 - $r13 * $r13 - $r23 * $r23)"
    Seq(
      s"CAST(FLOOR((1.0 - $r23 * $r23) / $det * 1000.0) AS BIGINT) AS vif_quantity_milli",
      s"CAST(FLOOR((1.0 - $r13 * $r13) / $det * 1000.0) AS BIGINT) AS vif_discount_milli",
      s"CAST(FLOOR((1.0 - $r12 * $r12) / $det * 1000.0) AS BIGINT) AS vif_tax_milli",
      s"CAST(FLOOR($det * 1000000.0) AS BIGINT) AS det_micro")
  }

  /** Cp/Cpk columns over (n, sq, sqq) with spec band [1, 50]. */
  private val cpkCols: Seq[String] = {
    val mu = "(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))"
    val sd = """sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
               | - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
               | / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))""".stripMargin
    Seq(
      s"CAST(FLOOR((50.0 - 1.0) / (6.0 * $sd) * 1000.0) AS BIGINT) AS cp_milli",
      s"""CAST(FLOOR(LEAST(50.0 - $mu, $mu - 1.0) / (3.0 * $sd) * 1000.0)
         | AS BIGINT) AS cpk_milli""".stripMargin,
      s"CAST(FLOOR($mu * 1000.0) AS BIGINT) AS mu_milli",
      s"CAST(FLOOR($sd * 1000.0) AS BIGINT) AS sigma_milli")
  }

  /** Centered-moment double tree (pure IEEE arithmetic, shared text). */
  private def cmD(a: String, b: String, sab: String) =
    s"(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"

  /** Granger-lite output columns over the 10 exact sufficient
    * statistics (n, s1, s2, sy, s11, s22, s12, s1y, s2y, syy) —
    * restricted (y~u) vs full (y~u+v) centered OLS, F(1, n−3). */
  private val grangerCols: Seq[String] = {
    val c11 = cmD("s1", "s1", "s11"); val c22 = cmD("s2", "s2", "s22")
    val c12 = cmD("s1", "s2", "s12"); val cyy = cmD("sy", "sy", "syy")
    val c1y = cmD("s1", "sy", "s1y"); val c2y = cmD("s2", "sy", "s2y")
    val b1 = s"(($c1y * $c22 - $c2y * $c12) / ($c11 * $c22 - $c12 * $c12))"
    val b2 = s"(($c2y * $c11 - $c1y * $c12) / ($c11 * $c22 - $c12 * $c12))"
    val crr = s"($cyy - $c1y * $c1y / $c11)"
    val crf = s"($cyy - $b1 * $c1y - $b2 * $c2y)"
    Seq(
      s"CAST(FLOOR(($crr - $crf) * CAST(n - 3 AS DOUBLE) / $crf * 1000.0) AS BIGINT) AS f_milli",
      s"CAST(FLOOR((1.0 - $crf / $cyy) * 10000.0) AS BIGINT) AS r2_full_bp",
      s"CAST(FLOOR((1.0 - $crr / $cyy) * 10000.0) AS BIGINT) AS r2_restricted_bp",
      s"CAST(FLOOR(($crr - $crf) * CAST(n - 3 AS DOUBLE) / $crf * 1000.0) AS BIGINT) >= 3841 AS x_causes_y")
  }

  val oracles: Map[String, String] = Map(
    "q197_wilcoxon_signed_rank" ->
      """WITH py AS (
        |  SELECT l_partkey, year(l_shipdate) AS yr,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      // CAST(count(*) AS BIGINT) AS m
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY l_partkey, year(l_shipdate)),
        |pairs AS (
        |  SELECT a.m - b.m AS dv
        |  FROM py a JOIN py b ON a.l_partkey = b.l_partkey
        |  WHERE a.yr = 1995 AND b.yr = 1996 AND a.m <> b.m),
        |perv AS (
        |  SELECT abs(dv) AS ad, CAST(count(*) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM pairs GROUP BY abs(dv)),
        |ranked AS (
        |  SELECT t, np,
        |    CAST(SUM(t) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - t + 1 AS rmin
        |  FROM perv),
        |g AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(np * (2 * rmin + t - 1)) AS BIGINT) AS wp_doubled,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties_t
        |  FROM ranked)
        |SELECT n, wp_doubled,
        |  CASE WHEN n < 1 THEN NULL ELSE printf('%.6f',
        |    (CAST(wp_doubled AS DOUBLE) / 2.0
        |     - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
        |    / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
        |           * CAST(2 * n + 1 AS DOUBLE) / 24.0
        |           - CAST(ties_t AS DOUBLE) / 48.0)) END AS z,
        |  CASE WHEN n < 1 THEN NULL ELSE abs(
        |    (CAST(wp_doubled AS DOUBLE) / 2.0
        |     - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
        |    / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
        |           * CAST(2 * n + 1 AS DOUBLE) / 24.0
        |           - CAST(ties_t AS DOUBLE) / 48.0)) >= 1.96 END AS significant
        |FROM g""".stripMargin,

    "q198_odds_ratio" ->
      """WITH cells AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5
        |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5
        |      AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) < 5
        |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) < 5
        |      AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM lineitem)
        |SELECT a, b, c, dd AS d,
        |  CASE WHEN b = 0 OR c = 0 THEN NULL ELSE
        |  CAST(FLOOR(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
        |   / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * 1000.0) AS BIGINT)
        |  END AS or_milli,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE printf('%.6f',
        |    exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
        |           / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |        - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |                      + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))))
        |   END AS ci_lo,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE printf('%.6f',
        |    exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
        |           / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |        + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |                      + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))))
        |   END AS ci_hi,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0 THEN NULL ELSE
        |    ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
        |       / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |    - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |                  + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE)) > 0.0
        |   END AS significant
        |FROM cells""".stripMargin,

    "q199_durbin_watson" ->
      """WITH day AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1),
        |td AS (
        |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t,
        |    y, day
        |  FROM day),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t * t) AS BIGINT) AS stt,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sty
        |  FROM td),
        |fit AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
        |     - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
        |       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope_d,
        |    st, sy
        |  FROM g),
        |fit2 AS (
        |  SELECT n, slope_d,
        |    (CAST(sy AS DOUBLE) - slope_d * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS icept_d
        |  FROM fit),
        |resid AS (
        |  SELECT day, n,
        |    CAST(FLOOR(CAST(y AS DOUBLE) - (icept_d + slope_d * CAST(t AS DOUBLE))) AS BIGINT) AS e
        |  FROM td CROSS JOIN fit2),
        |dif AS (
        |  SELECT n, e, lag(e, 1) OVER (ORDER BY day) AS ep FROM resid),
        |agg AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n_days,
        |    SUM(CAST(e AS DECIMAL(19,0)) * CAST(e AS DECIMAL(19,0))) AS den,
        |    SUM(CASE WHEN ep IS NOT NULL
        |      THEN CAST(e - ep AS DECIMAL(19,0)) * CAST(e - ep AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS num
        |  FROM dif)
        |SELECT n_days,
        |  CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0) AS BIGINT) AS dw_milli,
        |  CAST(FLOOR((1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0)
        |   * 1000.0) AS BIGINT) AS rho_milli,
        |  CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0) AS BIGINT) < 1500 AS positive_autocorr
        |FROM agg""".stripMargin,

    "q200_auc_roc" ->
      """WITH perv AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS nv,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nv1
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT nv, nv1,
        |    CAST(SUM(nv) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - nv + 1 AS rmin
        |  FROM perv),
        |g AS (
        |  SELECT CAST(SUM(nv1) AS BIGINT) AS n1,
        |    CAST(SUM(nv - nv1) AS BIGINT) AS n0,
        |    SUM(CAST(nv1 AS DECIMAL(19,0)) * CAST(2 * rmin + nv - 1 AS DECIMAL(19,0))) AS r1_doubled
        |  FROM ranked)
        |SELECT n1, n0,
        |  CASE WHEN n1 * n0 = 0 THEN NULL ELSE printf('%.6f',
        |    (CAST(r1_doubled AS DOUBLE) / 2.0
        |     - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
        |    / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) END AS auc,
        |  CASE WHEN n1 * n0 = 0 THEN NULL ELSE CAST(FLOOR(
        |    (2.0 * ((CAST(r1_doubled AS DOUBLE) / 2.0
        |     - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
        |    / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) - 1.0) * 10000.0)
        |   AS BIGINT) END AS gini_bp
        |FROM g""".stripMargin,

    "q201_brier_decomposition" ->
      """WITH train AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |      // CAST(count(*) AS BIGINT) AS phat_bp
        |  FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1),
        |test AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
        |j AS (
        |  SELECT t.n, t.pos, r.phat_bp FROM test t JOIN train r ON t.disc = r.disc),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS npos FROM j),
        |terms AS (
        |  SELECT n, phat_bp, nn, npos,
        |    pos * 10000 // n AS obar_bp,
        |    npos * 10000 // nn AS obarall_bp
        |  FROM j CROSS JOIN tot),
        |g AS (
        |  SELECT CAST(MAX(nn) AS BIGINT) AS n_test, CAST(MAX(npos) AS BIGINT) AS n_pos,
        |    SUM(CAST(n AS DECIMAL(19,0)) * CAST(phat_bp - obar_bp AS DECIMAL(19,0))
        |        * CAST(phat_bp - obar_bp AS DECIMAL(19,0))) AS rel_num,
        |    SUM(CAST(n AS DECIMAL(19,0)) * CAST(obar_bp - obarall_bp AS DECIMAL(19,0))
        |        * CAST(obar_bp - obarall_bp AS DECIMAL(19,0))) AS res_num
        |  FROM terms)
        |SELECT n_test, n_pos,
        |  CAST(FLOOR(CAST(rel_num AS DOUBLE) / CAST(n_test AS DOUBLE)
        |   / 100.0) AS BIGINT) AS reliability_micro,
        |  CAST(FLOOR(CAST(res_num AS DOUBLE) / CAST(n_test AS DOUBLE)
        |   / 100.0) AS BIGINT) AS resolution_micro,
        |  CAST(FLOOR(CAST(n_pos AS DOUBLE) / CAST(n_test AS DOUBLE)
        |   * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n_test AS DOUBLE))
        |   * 1000000.0) AS BIGINT) AS uncertainty_micro
        |FROM g""".stripMargin,

    "q203_poisson_dispersion" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
        |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS scc
        |  FROM day)
        |SELECT n, sc,
        |  CAST(FLOOR(
        |   (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |   / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |   * 1000.0) AS BIGINT) AS dispersion_milli,
        |  printf('%.6f',
        |    sqrt(2.0 * CAST(n - 1 AS DOUBLE)
        |      * ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |         / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))))
        |    - sqrt(2.0 * CAST(n - 1 AS DOUBLE) - 1.0)) AS z,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |     <= CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) THEN NULL ELSE
        |   CAST(FLOOR((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |     * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |     / ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |        - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |     * 1000.0) AS BIGINT) END AS nb_r_milli,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |     <= CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) THEN NULL ELSE
        |   CAST(FLOOR((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |     / ((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |     * 10000.0) AS BIGINT) END AS nb_p_bp
        |FROM g""".stripMargin,

    "q204_weibull_fit" ->
      s"""WITH delays AS (
         |  SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS t
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE datediff('day', o.o_orderdate, l.l_shipdate) >= 1),
         |perv AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS nv FROM delays GROUP BY t),
         |pts AS (
         |  SELECT
         |    CAST(FLOOR(ln(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano,
         |    CAST(FLOOR(ln(-ln(1.0 - (CAST(cum AS DOUBLE) - 0.3)
         |     / (CAST(n AS DOUBLE) + 0.4))) * 1e9) AS BIGINT) AS y_nano
         |  FROM (
         |    SELECT t,
         |      CAST(SUM(nv) OVER (ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |      (SELECT CAST(count(*) AS BIGINT) FROM delays) AS n
         |    FROM perv)
         |  WHERE cum < n),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(SUM(x_nano) AS BIGINT) AS sx, CAST(SUM(y_nano) AS BIGINT) AS sy,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(x_nano AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(y_nano AS DECIMAL(19,0))) AS sxy,
         |    SUM(CAST(y_nano AS DECIMAL(19,0)) * CAST(y_nano AS DECIMAL(19,0))) AS syy
         |  FROM pts)
         |SELECT m,
         |  CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS shape_milli,
         |  CAST(FLOOR(exp(
         |   -((CAST(sy AS DOUBLE) - ($slopeD) * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE))
         |   / ($slopeD) / 1e9) * 1000.0) AS BIGINT) AS scale_days_milli,
         |  CAST(FLOOR(
         |   (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |   * 1000.0) AS BIGINT) AS r2_milli
         |FROM g""".stripMargin,

    "q205_emd_1d" ->
      """WITH perv AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT disc,
        |    CAST(SUM(c1) OVER (ORDER BY disc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER (ORDER BY disc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
        |    lead(disc, 1) OVER (ORDER BY disc) - disc AS gap
        |  FROM perv),
        |tot AS (
        |  SELECT CAST(MAX(cum1) AS BIGINT) AS n1, CAST(MAX(cum2) AS BIGINT) AS n2,
        |    CAST(count(*) AS BIGINT) AS k FROM cum),
        |g AS (
        |  SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |    CAST(MAX(k) AS BIGINT) AS k_grid,
        |    SUM(abs(CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
        |        - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0))) * gap) AS num
        |  FROM cum CROSS JOIN tot WHERE gap IS NOT NULL)
        |SELECT n1, n2, k_grid,
        |  CAST(FLOOR(CAST(num AS DOUBLE) / CAST(n1 AS DOUBLE)
        |   / CAST(n2 AS DOUBLE) * 1000000.0) AS BIGINT) AS emd_microcents
        |FROM g""".stripMargin,

    "q210_benjamini_hochberg" ->
      s"""WITH base AS (
         |  SELECT c.c_nationkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |per AS (
         |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS ni,
         |    CAST(SUM(v) AS BIGINT) AS si
         |  FROM base GROUP BY c_nationkey),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS svv
         |  FROM base),
         |z AS (
         |  SELECT na.n_name, p.ni,
         |    (CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)
         |     - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
         |     / sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
         |             - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
         |            / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
         |            / CAST(ni AS DOUBLE)) AS z_d
         |  FROM per p CROSS JOIN tot
         |  JOIN nation na ON na.n_nationkey = p.c_nationkey),
         |pv AS (
         |  SELECT n_name, ni, z_d, ${pNano("z_d")} AS p_nano FROM z),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY p_nano ASC, n_name ASC) AS BIGINT) AS rk
         |  FROM pv),
         |flagged AS (
         |  SELECT *, p_nano * 20 * (count(*) OVER ()) <= rk * 1000000000 AS pass_bh
         |  FROM ranked),
         |kmax AS (
         |  SELECT CAST(MAX(CASE WHEN pass_bh THEN rk ELSE 0 END) AS BIGINT) AS k_bh
         |  FROM flagged)
         |SELECT n_name, ni, printf('%.6f', z_d) AS z, p_nano, rk,
         |  rk <= k_bh AS rejected
         |FROM flagged CROSS JOIN kmax ORDER BY rk""".stripMargin,

    "q215_cmh_pooled_or" ->
      s"""WITH cells AS (
         |  SELECT CASE WHEN l_quantity <= 10 THEN 'small'
         |              WHEN l_quantity <= 30 THEN 'mid' ELSE 'large' END AS stratum,
         |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5
         |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5
         |      AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) < 5
         |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |    CAST(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) < 5
         |      AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS dd
         |  FROM lineitem GROUP BY 1),
         |terms AS (
         |  SELECT a, ${cmhTerms.mkString(",\n  ")}
         |  FROM (SELECT a, b, c, dd, a + b + c + dd AS n FROM cells)),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_strata, CAST(SUM(a) AS BIGINT) AS sum_a,
         |    CAST(SUM(ad_micro) AS BIGINT) AS s_ad, CAST(SUM(bc_micro) AS BIGINT) AS s_bc,
         |    CAST(SUM(e_micro) AS BIGINT) AS s_e, CAST(SUM(v_micro) AS BIGINT) AS s_v
         |  FROM terms)
         |SELECT k_strata, sum_a,
         |  s_ad * 1000 // s_bc AS or_cmh_milli,
         |  CAST(FLOOR((CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
         |   * (CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
         |   / (CAST(s_v AS DOUBLE) / 1000000.0) * 1000.0) AS BIGINT) AS chi2_milli,
         |  CAST(FLOOR((CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
         |   * (CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE) / 1000000.0)
         |   / (CAST(s_v AS DOUBLE) / 1000000.0) * 1000.0) AS BIGINT) >= 3841
         |   AS significant
         |FROM g""".stripMargin,

    "q212_granger_lite" ->
      s"""WITH rev AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
         |  FROM lineitem GROUP BY 1),
         |ordd AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |td AS (
         |  SELECT y, u, v FROM (
         |    SELECT r.y,
         |      lag(r.y, 1) OVER (ORDER BY r.day) AS u,
         |      lag(o.x, 1) OVER (ORDER BY r.day) AS v
         |    FROM rev r JOIN ordd o ON o.day = r.day)
         |  WHERE u IS NOT NULL AND v IS NOT NULL),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(u) AS BIGINT) AS s1, CAST(SUM(v) AS BIGINT) AS s2,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))) AS s11,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS s22,
         |    SUM(CAST(u AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS s12,
         |    SUM(CAST(u AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s1y,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s2y,
         |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
         |  FROM td)
         |SELECT n, ${grangerCols.mkString(",\n  ")}
         |FROM g""".stripMargin,

    "q208_hurst_rs" ->
      s"""WITH day AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
         |  FROM lineitem GROUP BY 1),
         |td AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t, y
         |  FROM day),
         |ws AS (SELECT CAST(power(2, range) AS BIGINT) AS w FROM range(3, 7)),
         |blk AS (
         |  SELECT w, t // w AS block, t, y FROM td CROSS JOIN ws),
         |scored AS (
         |  SELECT w, block,
         |    CAST(row_number() OVER (PARTITION BY w, block ORDER BY t) AS BIGINT) AS j,
         |    CAST(SUM(y) OVER (PARTITION BY w, block ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(count(*) OVER (PARTITION BY w, block) AS BIGINT) AS cnt,
         |    CAST(SUM(y) OVER (PARTITION BY w, block) AS BIGINT) AS sy,
         |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
         |      OVER (PARTITION BY w, block) AS syy
         |  FROM blk),
         |devs AS (
         |  SELECT w, block, sy, syy,
         |    CAST(w AS DECIMAL(19,0)) * CAST(cum AS DECIMAL(19,0))
         |      - CAST(j AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS dj
         |  FROM scored WHERE cnt = w),
         |blkagg AS (
         |  SELECT w, block, MAX(dj) AS maxd, MIN(dj) AS mind,
         |    (CAST(w AS DOUBLE) * CAST(MAX(syy) AS DOUBLE)
         |     - CAST(MAX(sy) AS DOUBLE) * CAST(MAX(sy) AS DOUBLE)) AS s2_d
         |  FROM devs GROUP BY w, block),
         |rs AS (
         |  SELECT w,
         |    CAST(FLOOR((CAST(maxd AS DOUBLE) - CAST(mind AS DOUBLE))
         |     / sqrt(s2_d) * 1000000.0) AS BIGINT) AS rs_micro
         |  FROM blkagg WHERE s2_d > 0),
         |perw AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(SUM(rs_micro) AS BIGINT) AS s_rs
         |  FROM rs GROUP BY w),
         |pts AS (
         |  SELECT
         |    CAST(FLOOR(ln(CAST(w AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano,
         |    CAST(FLOOR(ln(CAST(s_rs // n_blocks AS DOUBLE) / 1000000.0) * 1e9) AS BIGINT) AS y_nano
         |  FROM perw),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(SUM(x_nano) AS BIGINT) AS sx, CAST(SUM(y_nano) AS BIGINT) AS sy,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(x_nano AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(y_nano AS DECIMAL(19,0))) AS sxy
         |  FROM pts)
         |SELECT m,
         |  CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS hurst_milli,
         |  CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) > 500 AS persistent
         |FROM g""".stripMargin,

    "q216_vif" ->
      s"""WITH t AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x1,
         |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
         |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS x3
         |  FROM lineitem),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |    CAST(SUM(x3) AS BIGINT) AS s3,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS s11,
         |    SUM(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s22,
         |    SUM(CAST(x3 AS DECIMAL(19,0)) * CAST(x3 AS DECIMAL(19,0))) AS s33,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s12,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x3 AS DECIMAL(19,0))) AS s13,
         |    SUM(CAST(x2 AS DECIMAL(19,0)) * CAST(x3 AS DECIMAL(19,0))) AS s23
         |  FROM t)
         |SELECT n, ${vifCols.mkString(",\n  ")}
         |FROM g""".stripMargin,

    "q217_process_capability" ->
      s"""WITH g AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         |    SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(19,0))
         |        * CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(19,0))) AS sqq
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n, ${cpkCols.mkString(",\n  ")}
         |FROM g ORDER BY l_returnflag""".stripMargin,

    "q218_acf_pacf" ->
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |td AS (
         |  SELECT CAST(datediff('day', (SELECT MIN(day) FROM day), day) AS BIGINT) AS t, y
         |  FROM day),
         |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 4)),
         |pairs AS (
         |  SELECT a.k, a.x, b.y AS z FROM (
         |    SELECT k, t - k AS tz, y AS x FROM td CROSS JOIN ks) a
         |  JOIN td b ON b.t = a.tz),
         |g AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS m,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(z) AS BIGINT) AS sz,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS szz,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS sxz
         |  FROM pairs GROUP BY k),
         |r AS (
         |  SELECT k, CAST(FLOOR($pearsonXZ * 1e9) AS BIGINT) AS r_nano FROM g),
         |one AS (
         |  SELECT
         |    CAST(MAX(CASE WHEN k = 1 THEN r_nano END) AS BIGINT) AS r1_nano,
         |    CAST(MAX(CASE WHEN k = 2 THEN r_nano END) AS BIGINT) AS r2_nano,
         |    CAST(MAX(CASE WHEN k = 3 THEN r_nano END) AS BIGINT) AS r3_nano
         |  FROM r)
         |SELECT r1_nano, r2_nano, r3_nano, ${pacfCols.mkString(",\n  ")}
         |FROM one""".stripMargin
  )
}
