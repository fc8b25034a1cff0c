package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-10 closing batch (q168–q172): higher-moment normality testing
  * (Jarque–Bera), robust trend estimation (Theil–Sen median slope on
  * the distributed GlobalRank machinery), structural-break inference
  * (Chow F-test), revenue variance decomposition (price/volume/mix),
  * and categorical effect size (Cramér's V on top of the chi-square
  * idiom).
  *
  * Exactness contract (same as q152+): every shuffled aggregate is an
  * integer/decimal sum; doubles appear only in final operand-identical
  * expression trees rendered with format_string, or in IEEE-identical
  * per-row divisions of exact integers (q169's slopes — the same
  * dividend/divisor pair yields the same double on both engines).
  */
object RelationalQueries11 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)
  // factor width for decimal×decimal products: DuckDB's multiply rule
  // is width₁+width₂ ≤ 38 (it ERRORS above, where Spark caps at 38) —
  // so exact products must cast FACTORS to (19,0) on both engines
  private val D19 = DecimalType(19, 0)

  val queries: Map[String, Q] = Map(
    // K-ANONYMITY AUDIT — the dataset-release gate: for three nested
    // quasi-identifier sets over customer (nation; +segment; +account-
    // balance sign), how small do the equivalence classes get, and how
    // many rows sit in classes below k=5? ONE scan via GROUPING SETS
    // (the grouping_id distinguishes the QI sets in the same
    // aggregate), then a tiny per-set rollup — the shape that audits a
    // 100 TB release without one pass per QI set.
    "pipe_k_anonymity" -> ((s, d) => {
      import s.implicits._
      val qi = customer(s, d).select($"c_nationkey".as("nat"),
        $"c_mktsegment".as("seg"),
        when($"c_acctbal" < 0, "neg").otherwise("pos").as("band"))
      qi.groupingSets(Seq(Seq($"nat"), Seq($"nat", $"seg"),
          Seq($"nat", $"seg", $"band")), $"nat", $"seg", $"band")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .groupBy($"gid")
        .agg(count(lit(1)).as("n_groups"), min($"n").as("min_group_size"),
          sum(when($"n" < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when($"n" < 5, $"n").otherwise(0L)).as("rows_at_risk"))
        .selectExpr("gid", "n_groups", "min_group_size", "n_small_groups",
          "rows_at_risk", "min_group_size >= 5 AS k5_ok")
        .orderBy($"gid")
    }),

    // PROFILE DRIFT — the split-half drift monitor a training-data
    // pipeline runs before accepting a new batch: per event type,
    // compare the deterministic halves (event_id parity stands in for
    // old/new batch) on volume, value mass (milli-quantized per row
    // BEFORE summing — float order never matters), null rate and
    // distinct-user coverage; drift reported in exact basis points.
    "pipe_profile_drift" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"event_type", ($"event_id" % 2).as("half"),
        // FLOOR (not cast) — Spark's double→long cast truncates where
        // DuckDB's rounds; floor is floor on both
        expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("v_milli"),
        $"props".isNull.cast("long").as("null_props"), $"user_id")
      val h = ev.groupBy($"event_type", $"half")
        .agg(count(lit(1)).as("n"), sum($"v_milli").as("v"),
          sum($"null_props").as("nn"),
          countDistinct($"user_id").as("nu"))
      val a = h.filter($"half" === 0).select($"event_type",
        $"n".as("n_a"), $"v".as("v_a"), $"nn".as("nn_a"), $"nu".as("nu_a"))
      val b = h.filter($"half" === 1).select($"event_type",
        $"n".as("n_b"), $"v".as("v_b"), $"nn".as("nn_b"), $"nu".as("nu_b"))
      a.join(b, Seq("event_type"))
        .selectExpr("event_type", "n_a", "n_b",
          "abs(n_a - n_b) * 10000 DIV greatest(n_a, 1) AS volume_drift_bp",
          "abs(v_a DIV greatest(n_a, 1) - v_b DIV greatest(n_b, 1)) AS mean_value_drift_milli",
          "abs(nn_a * 10000 DIV greatest(n_a, 1) - nn_b * 10000 DIV greatest(n_b, 1)) AS null_rate_drift_bp",
          "abs(nu_a - nu_b) * 10000 DIV greatest(nu_a, 1) AS user_coverage_drift_bp")
        .orderBy($"event_type")
    }),

    // LEVENE / BROWN–FORSYTHE — the variance-homogeneity check that
    // gates q188's ANOVA: are the five segments' price SPREADS equal?
    // Robust (median-centered) variant: per-segment exact lower
    // medians ((n+1) DIV 2-th order statistic) from ONE composite
    // (segment, value) GlobalRank prefix sum minus broadcast segment
    // offsets — the q182/q183 trick, no per-segment window — then the
    // one-way F machinery (q188's kilo-quantized idiom) applied to
    // the absolute deviations |x − med_j|. Output: one row per
    // segment (n, median, exact deviation sum) with the shared
    // statistic alongside (samp_kfold's repeated-scalar pattern).
    "q189_levene_test" -> ((s, d) => {
      import s.implicits._
      // r20: the fact pass (orders ⋈ customer) feeds BOTH the rank
      // table and the deviation pass, and the value-count table feeds
      // BOTH GlobalRank and the segment offsets — checkpoint each once
      // (guide §2.4): 4 fact scans → 1 (plan audit: 20 parquet scans
      // → 2 across the whole query).
      val cents = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select($"c_mktsegment", (dec($"o_totalprice") * 100).cast("long").as("v"))
        .localCheckpoint()
      val tbl = cents.groupBy($"c_mktsegment", $"v").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      // explicit nParts: tbl descends from the orders×customer join, so
      // Catalyst's size estimate is join-inflated (see GlobalRank doc)
      val (cum, _) = GlobalRank.withPrefixSum(tbl, "cum", $"c",
        Seq($"c_mktsegment".asc, $"v".asc), s.sparkContext.defaultParallelism)
      val wOff = Window.orderBy($"c_mktsegment")
        .rowsBetween(Window.unboundedPreceding, -1)
      val segTot = tbl.groupBy($"c_mktsegment").agg(sum($"c").as("n_j"))
        .withColumn("off", coalesce(sum($"n_j").over(wOff), lit(0L)))
      val medians = cum.join(broadcast(segTot), Seq("c_mktsegment"))
        .filter(expr("cum - off >= (n_j + 1) DIV 2"))
        .groupBy($"c_mktsegment").agg(min($"v").as("median_cents"))
        .localCheckpoint() // 5 rows, read by the deviation pass AND the output join
      val dev = cents.join(broadcast(medians), Seq("c_mktsegment"))
        .select($"c_mktsegment", abs($"v" - $"median_cents").as("dv"))
      val seg = dev.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_j"), sum($"dv").as("s_j"),
          sum($"dv".cast(D19) * $"dv".cast(D19)).as("q_j"))
        .selectExpr("c_mktsegment", "n_j", "s_j", "q_j",
          "CAST(FLOOR(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE) / CAST(n_j AS DOUBLE) / 1000.0) AS BIGINT) AS term_k")
        .localCheckpoint() // 5 rows, read by the F fold AND the output
      val f = seg.agg(count(lit(1)).as("k"), sum($"n_j").as("n_total"),
          sum($"s_j").as("s_all"), sum($"q_j").cast(D38).as("q_all"),
          sum($"term_k").as("sum_term_k"))
        .selectExpr("k", "n_total",
          """CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0 = 0.0
            |  OR n_total <= k THEN NULL ELSE
            |CAST(FLOOR((CAST(sum_term_k AS DOUBLE) * 1000.0
            |    - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
            |  / CAST(k - 1 AS DOUBLE)
            |  / ((CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0)
            |     / CAST(n_total - k AS DOUBLE))
            |  * 1000.0) AS BIGINT) END AS f_milli""".stripMargin)
      seg.select($"c_mktsegment", $"n_j", $"s_j".as("sum_absdev"))
        .join(medians, Seq("c_mktsegment"))
        .crossJoin(f) // 1-row side
        .select($"c_mktsegment", $"n_j", $"median_cents", $"sum_absdev",
          $"f_milli", ($"f_milli" >= 2372L).as("significant"))
        .orderBy($"c_mktsegment")
    }),

    // ONE-WAY ANOVA F — the parametric counterpart of q187's
    // Kruskal–Wallis on the same five segments: between/within variance
    // ratio from the three exact sufficient statistics per segment
    // (n_j, Σx, Σx² in integer cents). S_j²/n_j terms are
    // floor-quantized to integers before the 5-row sum (the KW idiom —
    // float summation order can never matter), Σx² rides DECIMAL(38,0)
    // so cents² survives any corpus size, and F is one
    // operand-identical double tree floored to milli units
    // (F₄,∞ 0.05 cut ≈ 2.372).
    "q188_anova_oneway" -> ((s, d) => {
      import s.implicits._
      val cents = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select((dec($"o_totalprice") * 100).cast("long").as("v"), $"c_mktsegment")
      val seg = cents.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_j"), sum($"v").as("s_j"),
          sum($"v".cast(D19) * $"v".cast(D19)).as("q_j"))
        // terms are ~s²/n ≈ 2e18 cents² PER SEGMENT at sf0.01 — and
        // Spark's FLOOR(double) returns LONG (clamping at Long.Max),
        // so the quantization unit is KILO-cents² to keep every term
        // and their sum comfortably inside BIGINT on both engines; the
        // F tree multiplies the sum back by 1000.0. ±0.5 kilo-cents²
        // per segment is noise against ~1e17 sums, and determinism is
        // untouched (identical double trees floor identically).
        .selectExpr("n_j", "s_j", "q_j",
          "CAST(FLOOR(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE) / CAST(n_j AS DOUBLE) / 1000.0) AS BIGINT) AS term_k")
      seg.agg(count(lit(1)).as("k"), sum($"n_j").as("n_total"),
          sum($"s_j").as("s_all"), sum($"q_j").cast(D38).as("q_all"),
          sum($"term_k").as("sum_term_k"))
        .selectExpr("k", "n_total", "sum_term_k",
          // SSB = Σterm − S²/N, SSW = Q − Σterm;
          // F = (SSB/(k−1)) / (SSW/(N−k))
          """CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0 = 0.0
            |  OR n_total <= k THEN NULL ELSE
            |CAST(FLOOR((CAST(sum_term_k AS DOUBLE) * 1000.0
            |    - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
            |  / CAST(k - 1 AS DOUBLE)
            |  / ((CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0)
            |     / CAST(n_total - k AS DOUBLE))
            |  * 1000.0) AS BIGINT) END AS f_milli""".stripMargin)
        .withColumn("significant", $"f_milli" >= 2372L)
    }),

    // KRUSKAL–WALLIS H — q185's k-sample generalization: do the FIVE
    // market segments draw order prices from the same distribution?
    // Same exact ×2-scaled midrank machinery over the distinct-value
    // GlobalRank prefix; per-segment rank sums are exact integers, the
    // per-segment R²/n terms are floor-quantized to integers BEFORE
    // the 5-row sum (float summation order never matters), and the
    // tie-corrected H is one operand-identical double tree over scalar
    // exact integers, floored to milli units (χ²₄ 0.05 cut = 9.488).
    "q187_kruskal_wallis" -> ((s, d) => {
      import s.implicits._
      val cents = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select((dec($"o_totalprice") * 100).cast("long").as("v"), $"c_mktsegment")
      val perSeg = cents.groupBy($"v", $"c_mktsegment").agg(count(lit(1)).as("c"))
      val perVal = perSeg.groupBy($"v").agg(sum($"c").as("cnt"))
      // explicit nParts: perVal descends from the orders×customer join
      // (join-inflated Catalyst size estimate — see GlobalRank doc)
      val (cum, _) = GlobalRank.withPrefixSum(perVal, "cum", $"cnt", Seq($"v".asc),
        s.sparkContext.defaultParallelism)
      val segStats = perSeg.join(cum, Seq("v"))
        .groupBy($"c_mktsegment")
        .agg(sum($"c").as("n_j"),
          sum($"c" * (lit(2) * ($"cum" - $"cnt") + $"cnt" + 1)).as("r2x"))
        .selectExpr("n_j",
          "CAST(FLOOR(CAST(r2x AS DOUBLE) * CAST(r2x AS DOUBLE) / CAST(n_j AS DOUBLE)) AS BIGINT) AS term")
      val ties = cum.agg(sum($"cnt").as("n_total"),
        sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tie_sum"))
      segStats.agg(count(lit(1)).as("k"), sum($"n_j").as("n_check"),
          sum($"term").as("sum_term"))
        .crossJoin(ties) // 1-row side
        .selectExpr("k", "n_total", "tie_sum", "sum_term",
          // H = [3·Σterm/(N(N+1)) − 3(N+1)] / (1 − T/(N³−N))
          """CASE WHEN CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            |       * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)
            |       - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
            |CAST(FLOOR((3.0 * CAST(sum_term AS DOUBLE)
            |    / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
            |  - 3.0 * CAST(n_total + 1 AS DOUBLE))
            |  / (1.0 - CAST(tie_sum AS DOUBLE)
            |     / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            |        * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
            |  * 1000.0) AS BIGINT) END AS h_milli""".stripMargin)
        .withColumn("significant", $"h_milli" >= 9488L)
    }),

    // COHORT LTV CURVE — cumulative revenue per acquired customer by
    // months-since-first-order, one row per (acquisition-year, age
    // 0..11): the "how fast does a cohort pay back" curve that q82's
    // retention matrix and q139's growth accounting feed into. Exact
    // integer cents end-to-end; the only window is the running sum
    // over the ≤ years×12-row (cohort, age) aggregate — corpus-sized
    // stages are two keyed aggregates and one broadcast join of the
    // per-customer first-month table... which is customer-sized, so it
    // stays a keyed equi-join (no broadcast hint; AQE decides).
    "q186_cohort_ltv" -> ((s, d) => {
      import s.implicits._
      val om = orders(s, d).select($"o_custkey", $"o_totalprice",
        (year(to_date($"o_orderdate")) * 12 + month(to_date($"o_orderdate")) - 1).as("m"))
      val first = om.groupBy($"o_custkey").agg(min($"m").as("m0"))
      val sizes = first.groupBy(expr("m0 DIV 12").as("cohort_year"))
        .agg(count(lit(1)).as("n_customers"))
      val rev = om.join(first, Seq("o_custkey"))
        .filter($"m" - $"m0" <= 11)
        .groupBy(expr("m0 DIV 12").as("cohort_year"), ($"m" - $"m0").as("age_months"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("rev_cents"))
      val w = Window.partitionBy($"cohort_year").orderBy($"age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_rev_cents", sum($"rev_cents").over(w))
        .join(sizes, Seq("cohort_year"))
        .selectExpr("cohort_year", "age_months", "n_customers", "rev_cents",
          "cum_rev_cents", "cum_rev_cents DIV n_customers AS ltv_cents")
        .orderBy($"cohort_year", $"age_months")
    }),

    // MANN–WHITNEY U — the nonparametric two-sample test (no normality
    // assumption, unlike q140's Welch t): do urgent orders
    // ('1-URGENT'/'2-HIGH') have a different price DISTRIBUTION than
    // the rest? Exact tie handling: ranks live at ×2 scale so tied
    // midranks (.5s) stay integers — per distinct price, 2·avgrank =
    // 2·cum_before + cnt + 1, accumulated from ONE value-keyed
    // aggregate plus a GlobalRank prefix sum over the distinct-value
    // table (never a row-level rank — ties collapse first, so the
    // ranked table is |distinct prices|-sized). The normal
    // approximation z² carries the tie correction Σ(t³−t) and is one
    // operand-identical double tree, floored to milli units.
    "q185_mann_whitney" -> ((s, d) => {
      import s.implicits._
      val cents = orders(s, d).select(
        (dec($"o_totalprice") * 100).cast("long").as("v"),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH").cast("long").as("g1"))
      val tbl = cents.groupBy($"v")
        .agg(count(lit(1)).as("cnt"), sum($"g1").as("cnt1"))
      val (cum, _) = GlobalRank.withPrefixSum(tbl, "cum", $"cnt", Seq($"v".asc))
      cum
        .agg(sum($"cnt1").as("n1"), sum($"cnt" - $"cnt1").as("n2"),
          sum($"cnt1" * (lit(2) * ($"cum" - $"cnt") + $"cnt" + 1)).as("r1_2x"),
          sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tie_sum"))
        .selectExpr("n1", "n2", "r1_2x",
          "r1_2x - n1 * (n1 + 1) AS u1_x2",
          "tie_sum",
          // z² = 3·d²·N(N−1) / (n1·n2·((N³−N)−T)), d = 2U1−n1·n2 =
          // u1_x2 − n1·n2; every factor individually cast to double,
          // left-associated identically in the oracle
          """CASE WHEN n1 = 0 OR n2 = 0
            |  OR CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
            |     * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
            |     - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
            |CAST(FLOOR(3.0
            |  * CAST(u1_x2 - n1 * n2 AS DOUBLE)
            |  * CAST(u1_x2 - n1 * n2 AS DOUBLE)
            |  * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)
            |  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
            |     * (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
            |        * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
            |        - CAST(tie_sum AS DOUBLE)))
            |  * 1000.0) AS BIGINT) END AS z2_milli""".stripMargin)
        .withColumn("significant", $"z2_milli" >= 3841L)
    }),

    // TWO-PROPORTION Z-TEST — the A/B-readout primitive: is segment A's
    // repeat-order conversion (≥2 orders in 1996, given ≥1) different
    // from segment B's? All C(5,2) segment pairs from ONE 5-row stats
    // aggregate self-joined (the theta join is dimension-sized — 25
    // pairs at any corpus size). Counts are exact integers off one
    // keyed aggregate; z² is a single operand-identical double tree
    // over those integers (every factor cast to double individually,
    // left-associated the same way in the oracle), floored to milli
    // units — IEEE determinism makes it hash-exact.
    "q184_two_proportion_ztest" -> ((s, d) => {
      import s.implicits._
      val st = orders(s, d)
        .filter(year(to_date($"o_orderdate")) === 1996)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(when($"n_orders" >= 2, 1L).otherwise(0L)).as("x"))
      val a = st.select($"c_mktsegment".as("seg1"), $"n".as("n1"), $"x".as("x1"))
      val b = st.select($"c_mktsegment".as("seg2"), $"n".as("n2"), $"x".as("x2"))
      a.join(b, $"seg1" < $"seg2")
        .selectExpr("seg1", "seg2", "n1", "x1", "n2", "x2",
          "x1 * 10000 DIV n1 - x2 * 10000 DIV n2 AS diff_bp",
          """CASE WHEN x1 + x2 = 0 OR n1 + n2 - x1 - x2 = 0 THEN NULL ELSE
            |CAST(FLOOR(CAST(x1 * n2 - x2 * n1 AS DOUBLE)
            |  * CAST(x1 * n2 - x2 * n1 AS DOUBLE)
            |  * CAST(n1 + n2 AS DOUBLE)
            |  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
            |     * CAST(x1 + x2 AS DOUBLE)
            |     * CAST(n1 + n2 - x1 - x2 AS DOUBLE))
            |  * 1000.0) AS BIGINT) END AS z2_milli""".stripMargin)
        .withColumn("significant", $"z2_milli" >= 3841L)
        .orderBy($"seg1", $"seg2")
    }),
    // JARQUE–BERA normality test per return flag — the higher-moment
    // member of the q43 family: skewness and excess kurtosis from raw
    // power sums, JB = n/6·(S² + K²/4). l_quantity in integer cents
    // (≤5000) keeps every per-row power inside int64 (c⁴ ≤ 6.25e14);
    // the SUMS are decimal(38,0) (600k × 6.25e14 ≈ 4e20 would overflow
    // int64). One map-side-combinable groupBy; output is 3 rows.
    "q168_jarque_bera" -> ((s, d) => {
      import s.implicits._
      val c = (dec($"l_quantity") * 100).cast("long")
      val li = lineitem(s, d)
        .select($"l_returnflag", c.as("c"))
        .withColumn("c2", $"c" * $"c")
        .withColumn("c3", $"c2" * $"c")
        .withColumn("c4", $"c3" * $"c")
      val g = li.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"),
        sum($"c".cast(D38)).cast("double").as("s1"),
        sum($"c2".cast(D38)).cast("double").as("s2"),
        sum($"c3".cast(D38)).cast("double").as("s3"),
        sum($"c4".cast(D38)).cast("double").as("s4"))
      val nD = $"n".cast("double")
      val m = $"s1" / nD
      val m2 = $"s2" / nD - m * m
      val m3 = $"s3" / nD - lit(3.0) * m * $"s2" / nD + lit(2.0) * m * m * m
      val m4 = $"s4" / nD - lit(4.0) * m * $"s3" / nD +
        lit(6.0) * m * m * $"s2" / nD - lit(3.0) * m * m * m * m
      // m2·sqrt(m2) ≡ m2^1.5 but sqrt is IEEE-correctly-rounded on
      // both engines where libm pow is not (the pack_length_buckets
      // log2 lesson) — so the tree stays bit-identical cross-engine
      val skew = m3 / (m2 * sqrt(m2))
      val kurt = m4 / (m2 * m2) - lit(3.0)
      g.select($"l_returnflag", $"n",
          format_string("%.6f", skew).as("skewness"),
          format_string("%.6f", kurt).as("excess_kurtosis"),
          format_string("%.6f", nD / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0)))
            .as("jb_stat"))
        .orderBy($"l_returnflag")
    }),

    // THEIL–SEN robust slope of daily revenue: the median of all
    // pairwise slopes (rev_b−rev_a)/(day_b−day_a) — outlier-immune
    // where q170's OLS is not. Pair count is CALENDAR-bounded (~2400
    // order dates → ~2.9M pairs regardless of SF; the q162
    // mann_kendall argument). The median pick is the distributed
    // two-pass GlobalRank, never a single-partition global window;
    // the lower median (rank ⌈n/2⌉) avoids averaging two doubles.
    // Slopes are per-row divisions of identical exact integers, so
    // both engines produce bit-identical IEEE doubles; (da, db) is
    // the total-order tiebreak for equal slopes.
    "q169_theil_sen" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(datediff(to_date($"o_orderdate"), lit("1992-01-01")).as("dx"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("rev"))
      val a = daily.select($"dx".as("da"), $"rev".as("ra"))
      val b = daily.select($"dx".as("db"), $"rev".as("rb"))
      val pairs = a.join(b, $"da" < $"db")
        .select($"da", $"db",
          (($"rb" - $"ra").cast("double") / ($"db" - $"da").cast("double")).as("slope"))
      // explicit nParts: the pairs frame is a theta-join output whose
      // Catalyst size estimate multiplies child sizes (useless), and
      // its true cardinality is calendar²-bounded (~3M rows, ~70 MB)
      // at ANY corpus scale — defaultParallelism ranges is right-sized
      val (ranked, n) = GlobalRank.withRank(
        pairs, "rk", Seq($"slope".asc, $"da".asc, $"db".asc),
        s.sparkContext.defaultParallelism)
      val medianRank = (n + 1) / 2
      ranked.filter($"rk" === medianRank)
        .select(lit(n).as("n_pairs"),
          format_string("%.9f", $"slope").as("ts_slope"))
    }),

    // CHOW structural-break F-test: does the daily-revenue-on-time OLS
    // line break at 1998-01-01 (mid-range of the 1995–2001 order
    // calendar)? SSR of the pooled fit vs the two segment fits,
    // F = ((SSRp−SSR1−SSR2)/2)/((SSR1+SSR2)/(n−4)). The raw-power-sum
    // SSR formula (q43's) is catastrophically cancelling here — syy
    // and sy²/n agree to ~5 leading digits, so the DECIMAL→DOUBLE
    // last-ulp divergence between engines surfaces in the rendered
    // output. Instead: EXACT CENTERED sums — X = n·x−Σx, Y = n·y−Σy
    // are exact integers (the scaled deviations), their power sums are
    // exact decimals, and SSR·n² = ΣY² − (ΣXY)²/ΣX² involves no
    // near-equal subtraction until the final modest-magnitude terms.
    // Shape: one (day) exchange → two broadcast-sized mean joins →
    // aggregate-sized math. Int64 bounds: |Y| ≤ n_days·maxdailycents
    // ≈ 2e12 at sf0.1; the D19-factor products keep the SUMS exact at
    // any scale (upgrade X,Y themselves to D19 if a corpus ever has
    // n_days·cents > 9e18).
    "q170_chow_break" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("rev"))
        .select(
          when($"day" < lit("1998-01-01"), 0).otherwise(1).as("seg"),
          datediff($"day", lit("1995-01-01")).cast("long").as("x"),
          $"rev".as("y"))
      val segSums = daily.groupBy($"seg").agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"))
      val totSums = daily.groupBy().agg(
        count(lit(1)).as("nn"), sum($"x").as("tsx"), sum($"y").as("tsy"))
      val rowsC = daily
        .join(broadcast(segSums), Seq("seg"))
        .crossJoin(broadcast(totSums))
        .select($"seg", $"n", $"nn",
          ($"n" * $"x" - $"sx").as("xs"), ($"n" * $"y" - $"sy").as("ys"),
          ($"nn" * $"x" - $"tsx").as("xp"), ($"nn" * $"y" - $"tsy").as("yp"))
      val perSeg = rowsC.groupBy($"seg").agg(
        max($"n").as("n"),
        sum(($"xs".cast(D19) * $"xs".cast(D19))).as("sxx"),
        sum(($"ys".cast(D19) * $"ys".cast(D19))).as("syy"),
        sum(($"xs".cast(D19) * $"ys".cast(D19))).as("sxy"))
      val pooled = rowsC.groupBy().agg(
        max($"nn").as("nn"),
        sum(($"xp".cast(D19) * $"xp".cast(D19))).as("pxx"),
        sum(($"yp".cast(D19) * $"yp".cast(D19))).as("pyy"),
        sum(($"xp".cast(D19) * $"yp".cast(D19))).as("pxy"))
      def ssr(n: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
              syy: org.apache.spark.sql.Column, sxy: org.apache.spark.sql.Column) =
        (syy.cast("double") - sxy.cast("double") * sxy.cast("double") / sxx.cast("double")) /
          (n.cast("double") * n.cast("double"))
      def seg(i: Int, c: org.apache.spark.sql.Column) = max(when($"seg" === i, c))
      val one = perSeg.groupBy().agg(
        seg(0, $"n").as("n1"), seg(1, $"n").as("n2"),
        seg(0, $"sxx").as("sxx1"), seg(1, $"sxx").as("sxx2"),
        seg(0, $"syy").as("syy1"), seg(1, $"syy").as("syy2"),
        seg(0, $"sxy").as("sxy1"), seg(1, $"sxy").as("sxy2"))
        .crossJoin(broadcast(pooled))
      val ssr1 = ssr($"n1", $"sxx1", $"syy1", $"sxy1")
      val ssr2 = ssr($"n2", $"sxx2", $"syy2", $"sxy2")
      val ssrP = ssr($"nn", $"pxx", $"pyy", $"pxy")
      one.select(
        $"n1".as("n_pre"), $"n2".as("n_post"),
        format_string("%.6e", ssr1).as("ssr_pre"),
        format_string("%.6e", ssr2).as("ssr_post"),
        format_string("%.6e", ssrP).as("ssr_pooled"),
        format_string("%.6f",
          ((ssrP - ssr1 - ssr2) / lit(2.0)) /
            ((ssr1 + ssr2) / ($"n1" + $"n2" - 4).cast("double"))).as("f_stat"))
    }),

    // PRICE/VOLUME/MIX decomposition of the 1996→1997 revenue change
    // per part type: Δrev = p94·Δq (volume) + q94·Δp (price) + Δp·Δq
    // (cross). Quantities and cents revenues are exact bigint sums;
    // the unit prices p = rev/qty are the only doubles and appear in
    // identical trees. part is a dimension → broadcast; one keyed
    // exchange on (type, yr) then a 150-row pivot.
    "q171_price_volume_mix" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d)
        .filter(year($"l_shipdate").isin(1996, 1997))
        .join(broadcast(part(s, d).select($"p_partkey", $"p_type")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_type", year($"l_shipdate").as("yr"))
        .agg(
          sum(dec($"l_quantity").cast("long")).as("q"),
          sum((dec($"l_extendedprice") * 100).cast("long")).as("r"))
      val piv = li.groupBy($"p_type").agg(
        sum(when($"yr" === 1996, $"q")).as("q0"),
        sum(when($"yr" === 1997, $"q")).as("q1"),
        sum(when($"yr" === 1996, $"r")).as("r0"),
        sum(when($"yr" === 1997, $"r")).as("r1"))
        .filter($"q0".isNotNull && $"q1".isNotNull)
      val p0 = $"r0".cast("double") / $"q0".cast("double")
      val p1 = $"r1".cast("double") / $"q1".cast("double")
      piv.select($"p_type", $"q0", $"q1", $"r0", $"r1",
          ($"r1" - $"r0").as("delta_rev"),
          format_string("%.4f", ($"q1" - $"q0").cast("double") * p0).as("volume_effect"),
          format_string("%.4f", (p1 - p0) * $"q0".cast("double")).as("price_effect"),
          format_string("%.4f", (p1 - p0) * ($"q1" - $"q0").cast("double")).as("cross_effect"))
        .orderBy($"p_type")
    }),

    // RAPID-REORDER audit — the duplicate/split-payment forensics
    // sweep: two orders by the same customer within 7 days, reported
    // with the amount delta in basis points of the larger amount
    // (near-0 bp = likely duplicate payment, large = split or
    // unrelated). The pair join is EQUI on custkey — per-customer
    // bounded, never all-pairs — with the date window and orderkey
    // orientation as residual filters; all arithmetic is exact
    // integer cents (DIV on non-negative operands only).
    "q173_duplicate_payments" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d).select($"o_custkey".as("cust"), $"o_orderkey".as("ok"),
        (dec($"o_totalprice") * 100).cast("long").as("cents"),
        to_date($"o_orderdate").as("day"))
      o.as("a").join(o.as("b"),
          $"a.cust" === $"b.cust" && $"a.ok" < $"b.ok" &&
            abs(datediff($"b.day", $"a.day")) <= 7)
        .select($"a.cust".as("o_custkey"), $"a.ok".as("ok1"), $"b.ok".as("ok2"),
          datediff($"b.day", $"a.day").cast("long").as("day_gap"),
          expr("abs(b.cents - a.cents) * 10000 DIV greatest(a.cents, b.cents)")
            .as("amount_delta_bp"))
        .orderBy($"o_custkey", $"ok1", $"ok2")
    }),

    // DISCOUNT ELASTICITY — the demand-curve read: does quantity
    // respond to discount depth? Mean quantity per exact discount band
    // (decimal-cast bands, never float rounding), quantized to integer
    // MILLI-units (qty·1000 DIV n — non-negative, so Spark DIV ==
    // DuckDB //), then the OLS slope over the 11 aggregate band points
    // from exact integer sums through one identical double tree. One
    // keyed exchange; everything after is 11 rows.
    "q174_discount_elasticity" -> ((s, d) => {
      import s.implicits._
      val bands = lineitem(s, d)
        .groupBy((dec($"l_discount") * 100).cast("long").as("band"))
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_quantity").cast("long")).as("sq"))
        .select($"band", $"n",
          expr("sq * 1000 DIV n").as("mean_qty_milli"))
      val g = bands.groupBy().agg(
        count(lit(1)).as("k"),
        sum($"band").as("sx"),
        sum($"mean_qty_milli").as("sy"),
        sum($"band" * $"band").as("sxx"),
        sum($"band" * $"mean_qty_milli").as("sxy"))
      g.select($"k".as("n_bands"),
        format_string("%.9f",
          ($"k" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"k" * $"sxx" - $"sx" * $"sx").cast("double"))
          .as("qty_milli_per_point"))
    }),

    // CUSTOMER SPEND-DECILE MIGRATION — the year-over-year movement
    // matrix ("do top-decile customers stay top-decile?"): each
    // customer's 1996 and 1997 spend deciles, cross-tabulated. The
    // per-year EXACT decile comes from q182's trick — one composite
    // (yr, spend desc, custkey) GlobalRank minus broadcast year
    // offsets, decile = (rank−1)·10 DIV n_year — never a per-year
    // rank window, so a year's customer population can grow without a
    // single-partition stage. Matrix cells are exact counts; the
    // retention diagonal is read straight off the output.
    "q183_customer_migration" -> ((s, d) => {
      import s.implicits._
      val spend = orders(s, d)
        .filter(year(to_date($"o_orderdate")).isin(1996, 1997))
        .groupBy(year(to_date($"o_orderdate")).as("yr"), $"o_custkey")
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("sp"))
      val (ranked, _) = GlobalRank.withRank(spend, "grk",
        Seq($"yr".asc, $"sp".desc, $"o_custkey".asc))
      val wOff = Window.orderBy($"yr").rowsBetween(Window.unboundedPreceding, -1)
      val ytot = spend.groupBy($"yr").agg(count(lit(1)).as("ny"))
        .withColumn("off", coalesce(sum($"ny").over(wOff), lit(0L)))
      val dec10 = ranked.join(broadcast(ytot), Seq("yr"))
        .select($"yr", $"o_custkey",
          expr("(grk - off - 1) * 10 DIV ny").as("decile"))
      dec10.filter($"yr" === 1996).select($"o_custkey", $"decile".as("d96"))
        .join(dec10.filter($"yr" === 1997).select($"o_custkey", $"decile".as("d97")),
          Seq("o_custkey"))
        .groupBy($"d96", $"d97")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"d96", $"d97")
    }),

    // EFFECTIVE CATALOG SIZE — how many parts cover 80% of each year's
    // revenue (the assortment-planning "effective SKU count", q128
    // ABC's trended cousin). Per-year revenue ranking WITHOUT a
    // per-year window: ONE GlobalRank.withPrefixSum over the composite
    // (yr asc, rev desc, partkey) order gives a global exact cumsum;
    // each year's local cumsum is that minus the year's broadcast
    // offset (exclusive prefix of year totals over the ≤7-row year
    // table). The 80% cut is the exact integer compare
    // (cum−r)·5 < tot·4 — count of parts strictly before the cut plus
    // the crossing part itself.
    "q182_effective_catalog" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .groupBy(year($"l_shipdate").as("yr"), $"l_partkey")
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("r"))
        .localCheckpoint() // r20: feeds the prefix-sum rank AND the year totals — one fact pass
      val (cum, _) = GlobalRank.withPrefixSum(rev, "gcum", $"r",
        Seq($"yr".asc, $"r".desc, $"l_partkey".asc))
      val wOff = Window.orderBy($"yr").rowsBetween(Window.unboundedPreceding, -1)
      val ytot = rev.groupBy($"yr").agg(sum($"r").as("tot"), count(lit(1)).as("n_parts"))
        .withColumn("off", coalesce(sum($"tot").over(wOff), lit(0L)))
      cum.join(broadcast(ytot), Seq("yr"))
        .select($"yr", $"n_parts", $"tot",
          // D38 factors: cents·5 overflows int64 at ~100 TB year totals
          ((($"gcum" - $"off" - $"r").cast(D38) * 5) < ($"tot".cast(D38) * 4))
            .cast("long").as("in_cut"))
        .groupBy($"yr".cast("long").as("yr"))
        .agg(max($"n_parts").as("n_parts"),
          sum($"in_cut").as("effective_parts"),
          expr("SUM(in_cut) * 10000 DIV MAX(n_parts)").as("effective_share_bp"))
        .orderBy($"yr")
    }),

    // HHI CONCENTRATION TREND — "is the supplier market concentrating
    // over time?": the per-year Herfindahl index over supplier revenue
    // shares (q133's metric, trended). Shares are integer basis points
    // (DIV against the broadcast year total), HHI is the exact integer
    // Σshare², and every step is a keyed aggregate or broadcast join —
    // NO per-year rank window, so a year's supplier population can
    // grow without a single-partition stage.
    "q181_hhi_trend" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .groupBy(year($"l_shipdate").as("yr"), $"l_suppkey")
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("r"))
      val ytot = rev.groupBy($"yr").agg(sum($"r").as("tot"),
        count(lit(1)).as("n_suppliers"))
      rev.join(broadcast(ytot), Seq("yr"))
        .select($"yr", $"n_suppliers",
          expr("CAST(CAST(r AS DECIMAL(38,0)) * 10000 DIV tot AS BIGINT)").as("share_bp"))
        .groupBy($"yr", $"n_suppliers")
        .agg(sum($"share_bp" * $"share_bp").as("hhi_e8"))
        .select($"yr".cast("long").as("yr"), $"n_suppliers", $"hhi_e8")
        .orderBy($"yr")
    }),

    // COVARIANCE MATRIX + PARTIAL CORRELATION — the multivariate
    // completion of the q43/q76 bivariate family: pairwise covariances
    // and correlations of (quantity, price, discount) from ONE exact
    // decimal aggregate pass, plus the partial correlation of
    // quantity~price CONTROLLING for discount (r_qp·d = (r_qp −
    // r_qd·r_pd)/√((1−r_qd²)(1−r_pd²)) — "is the qty-price link real
    // or discount-driven?"). All nine sums are exact decimals; every
    // double appears once in identical trees.
    "q180_covariance_matrix" -> ((s, d) => {
      import s.implicits._
      val q = (dec($"l_quantity") * 100).cast("long")
      val p = (dec($"l_extendedprice") * 100).cast("long")
      val dc = (dec($"l_discount") * 100).cast("long")
      // r20: fanOutScan before the nine fused decimal products (the
      // q113 single-task seam); exact sums are order-independent.
      val g = graft.Tables.fanOutScan(s, lineitem(s, d)
          .select(q.as("q"), p.as("p"), dc.as("dsc")), $"p", $"q")
        .groupBy().agg(
          count(lit(1)).as("n"),
          sum($"q".cast(D38)).as("sq"), sum($"p".cast(D38)).as("sp"),
          sum($"dsc".cast(D38)).as("sd"),
          sum(($"q".cast(D19) * $"q".cast(D19))).as("sqq"),
          sum(($"p".cast(D19) * $"p".cast(D19))).as("spp"),
          sum(($"dsc".cast(D19) * $"dsc".cast(D19))).as("sdd"),
          sum(($"q".cast(D19) * $"p".cast(D19))).as("sqp"),
          sum(($"q".cast(D19) * $"dsc".cast(D19))).as("sqd"),
          sum(($"p".cast(D19) * $"dsc".cast(D19))).as("spd"))
      val nD = $"n".cast("double")
      def cv(sxy: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
             sy: org.apache.spark.sql.Column) =
        (sxy.cast("double") - sx.cast("double") * sy.cast("double") / nD) / (nD - 1)
      val vq = cv($"sqq", $"sq", $"sq"); val vp = cv($"spp", $"sp", $"sp")
      val vd = cv($"sdd", $"sd", $"sd")
      val cqp = cv($"sqp", $"sq", $"sp"); val cqd = cv($"sqd", $"sq", $"sd")
      val cpd = cv($"spd", $"sp", $"sd")
      val rqp = cqp / sqrt(vq * vp); val rqd = cqd / sqrt(vq * vd)
      val rpd = cpd / sqrt(vp * vd)
      g.select($"n",
        format_string("%.9f", rqp).as("corr_qty_price"),
        format_string("%.9f", rqd).as("corr_qty_disc"),
        format_string("%.9f", rpd).as("corr_price_disc"),
        format_string("%.9f",
          (rqp - rqd * rpd) /
            sqrt((lit(1.0) - rqd * rqd) * (lit(1.0) - rpd * rpd)))
          .as("partial_corr_qp_given_d"))
    }),

    // MONTHLY SEASONAL INDEX — the calendar-month twin of q122's
    // dow×hour heatmap: each month's revenue share as an exact
    // basis-point index against the uniform 1/12 expectation
    // (10000 = no seasonality). One (month) exchange; the index math
    // runs over ≤12 rows via a window total.
    "q179_monthly_index" -> ((s, d) => {
      import s.implicits._
      val m = orders(s, d)
        .groupBy(month(to_date($"o_orderdate")).as("mon"))
        .agg(count(lit(1)).as("n_orders"),
          sum((dec($"o_totalprice") * 100).cast("long")).as("rev"))
      m.withColumn("total", sum($"rev").over(Window.partitionBy()))
        .select($"mon".cast("long").as("mon"), $"n_orders", $"rev",
          // D38 factor: rev·120000 overflows int64 beyond ~sf1
          expr("CAST(CAST(rev AS DECIMAL(38,0)) * 120000 DIV total AS BIGINT)")
            .as("index_bp"))
        .orderBy($"mon")
    }),

    // REVENUE GROWTH STREAKS — gaps-and-islands over the daily revenue
    // series: maximal runs of strictly increasing consecutive observed
    // days ("how long do rallies last?"). The windows run over the
    // CALENDAR-bounded day table (the q121/q150 class — aggregate-
    // sized by construction at any corpus scale); revenue compares are
    // exact cents. Output: day count, number of up-streaks, and the
    // longest streak with its start day (earliest on ties).
    "q178_revenue_streaks" -> ((s, d) => {
      import s.implicits._
      val wDay = Window.orderBy($"day")
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("rev"))
      val flagged = daily
        .withColumn("rn", row_number().over(wDay))
        .withColumn("up", when($"rev" > lag($"rev", 1).over(wDay), 1).otherwise(0))
        .filter($"up" === 1)
      val wUp = Window.orderBy($"rn")
      val islands = flagged
        .withColumn("grp", $"rn" - row_number().over(wUp))
        .groupBy($"grp")
        .agg(count(lit(1)).as("len"), min($"day").as("start_day"))
      val withMax = islands
        .withColumn("mx", max($"len").over(Window.partitionBy())) // island-count-sized
      withMax.groupBy()
        .agg(
          count(lit(1)).as("n_up_streaks"),
          max($"len").as("longest_streak"),
          min(when($"len" === $"mx", date_format($"start_day", "yyyy-MM-dd")))
            .as("longest_start"))
        .crossJoin(broadcast(daily.groupBy().agg(count(lit(1)).as("n_days"))))
        .select($"n_days", $"n_up_streaks", $"longest_streak", $"longest_start")
    }),

    // LEVENE'S TEST (mean-based) for variance homogeneity of account
    // balances across market segments — the assumption gate in front
    // of q131's ANOVA (its F is only trustworthy when group variances
    // are comparable; W answers exactly that). Deviations are EXACT
    // scaled integers: z = |n_g·x − Σx_g| (= n_g·|x − x̄_g|, no
    // rational mean ever materializes; balances may be negative, abs
    // handles it), so A_g = Σz and B_g = Σz² are exact decimals. The
    // only order-sensitive double sums fold over group-key-sorted
    // 5-element arrays (q131's idiom); W = ((N−k)/(k−1))·between/
    // within evaluates once through an identical tree. Two keyed
    // exchanges + a broadcast mean join; everything after is 5 rows.
    "q176_levene_test" -> ((s, d) => {
      import s.implicits._
      val c = customer(s, d).select($"c_mktsegment".as("g"),
        (dec($"c_acctbal") * 100).cast("long").as("x"))
      val means = c.groupBy($"g").agg(
        count(lit(1)).as("n_g"), sum($"x").as("s_g"))
      val z = c.join(broadcast(means), Seq("g"))
        .select($"g", $"n_g", abs($"n_g" * $"x" - $"s_g").as("z"))
      val gstats = z.groupBy($"g").agg(
        max($"n_g").as("n_g"),
        sum($"z".cast(D38)).as("a_g"),
        sum(($"z".cast(D19) * $"z".cast(D19))).as("b_g"))
      val folded = gstats.agg(
        count(lit(1)).as("k"),
        sum($"n_g").as("n"),
        aggregate(
          array_sort(collect_list(struct($"g".as("f"),
            ($"a_g".cast("double") / $"n_g".cast("double")).as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("zsum"),
        aggregate(
          array_sort(collect_list(struct($"g".as("f"),
            ($"b_g".cast("double") / ($"n_g" * $"n_g").cast("double") -
              ($"a_g".cast("double") / $"n_g".cast("double")) *
                ($"a_g".cast("double") / $"n_g".cast("double")) / $"n_g".cast("double"))
              .as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("within"))
      // between needs the grand mean first: fold it in a second pass
      val withMean = folded.select($"k", $"n", $"within",
        ($"zsum" / $"n".cast("double")).as("zbar"))
      val between = gstats.crossJoin(broadcast(withMean))
        .select($"k", $"n", $"within", $"zbar", $"g",
          ($"n_g".cast("double") *
            ($"a_g".cast("double") / ($"n_g" * $"n_g").cast("double") - $"zbar") *
            ($"a_g".cast("double") / ($"n_g" * $"n_g").cast("double") - $"zbar")).as("bt"))
        .groupBy($"k", $"n", $"within", $"zbar")
        .agg(aggregate(
          array_sort(collect_list(struct($"g".as("f"), $"bt".as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("between"))
      between.select($"n", $"k",
        format_string("%.9f",
          (($"n" - $"k").cast("double") / ($"k" - 1).cast("double")) *
            $"between" / $"within").as("levene_w"))
    }),

    // COHEN'S D effect size between the alphabetically first and last
    // market segments' order values — the "is the difference LARGE,
    // not just significant?" companion to q140's Welch t. Exact
    // conditional decimal sums, pooled SD and d through one identical
    // double tree; segment endpoints derived from the data (min/max
    // name), never hardcoded.
    "q177_cohens_d" -> ((s, d) => {
      import s.implicits._
      val seg = orders(s, d)
        .join(broadcast(customer(s, d).select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment".as("g"), (dec($"o_totalprice") * 100).cast("long").as("x"))
      val lohi = seg.agg(min($"g").as("glo"), max($"g").as("ghi"))
      val g = seg.crossJoin(broadcast(lohi))
        .filter($"g" === $"glo" || $"g" === $"ghi")
        .groupBy()
        .agg(
          max($"glo").as("seg_lo"), max($"ghi").as("seg_hi"),
          sum(when($"g" === $"glo", 1L).otherwise(0L)).as("n1"),
          sum(when($"g" === $"ghi", 1L).otherwise(0L)).as("n2"),
          sum(when($"g" === $"glo", $"x".cast(D38)).otherwise(lit(0).cast(D38))).as("s1"),
          sum(when($"g" === $"ghi", $"x".cast(D38)).otherwise(lit(0).cast(D38))).as("s2"),
          sum(when($"g" === $"glo", $"x".cast(D19) * $"x".cast(D19))
            .otherwise(lit(0).cast(D38))).as("ss1"),
          sum(when($"g" === $"ghi", $"x".cast(D19) * $"x".cast(D19))
            .otherwise(lit(0).cast(D38))).as("ss2"))
      def v(ss: org.apache.spark.sql.Column, sm: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
        (ss.cast("double") - sm.cast("double") * sm.cast("double") / n.cast("double")) /
          (n - 1).cast("double")
      val sp = sqrt(
        ((($"n1" - 1).cast("double") * v($"ss1", $"s1", $"n1")) +
         (($"n2" - 1).cast("double") * v($"ss2", $"s2", $"n2"))) /
          ($"n1" + $"n2" - 2).cast("double"))
      g.select($"seg_lo", $"seg_hi", $"n1", $"n2",
        format_string("%.9f",
          ($"s1".cast("double") / $"n1".cast("double") -
           $"s2".cast("double") / $"n2".cast("double")) / sp).as("cohens_d"))
    }),

    // MARKOV STEADY STATE — the stationary distribution of q91's
    // behavior transition matrix ("where does a user journey settle?"),
    // by four power-iteration rounds in EXACT integer arithmetic:
    // transition probs are floor-bp (q91's), the state vector carries
    // micro-units, and each update is (Σ v_i·p_ij) DIV 10000 — one
    // truncation AFTER the exact integer sum, so the result is
    // order-independent and replays as four unrolled CTEs in DuckDB.
    // The matrix is (event types)² ≈ tiny at any corpus size; only the
    // transition count build touches the corpus (one keyed window +
    // aggregate).
    "q175_markov_steady_state" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = events(s, d)
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"to_type")
        .agg(count(lit(1)).as("n_trans"))
      val tot = tr.groupBy($"from_type").agg(sum($"n_trans").as("n_from"))
      val p = tr.join(tot, Seq("from_type"))
        .select($"from_type", $"to_type",
          expr("n_trans * 10000 DIV n_from").as("bp"))
        .localCheckpoint() // (types)² rows
      val k = p.select($"from_type").distinct().count()
      var v = p.select($"from_type".as("state")).distinct()
        .select($"state", lit(1000000L / k).as("m"))
        .localCheckpoint()
      for (_ <- 1 to 4) {
        v = p.join(v, $"from_type" === $"state")
          .groupBy($"to_type")
          .agg(expr("SUM(m * bp) DIV 10000").as("m"))
          .select($"to_type".as("state"), $"m")
          .localCheckpoint()
      }
      v.orderBy($"state").select($"state", $"m".as("mass_micro"))
    }),

    // CRAMÉR'S V — the effect-size companion to q92's chi-square, on a
    // different contingency (l_returnflag × l_linestatus): V =
    // sqrt(χ²/(n·(min(r,c)−1))). Counts are exact; expected counts and
    // χ² are identical double trees over a ≤6-cell table.
    "q172_cramers_v" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d)
        .groupBy($"l_returnflag".as("rf"), $"l_linestatus".as("ls"))
        .agg(count(lit(1)).as("o"))
      val wr = Window.partitionBy($"rf")
      val wc = Window.partitionBy($"ls")
      val wg = Window.partitionBy()
      val chi = cells
        .withColumn("rt", sum($"o").over(wr))
        .withColumn("ct", sum($"o").over(wc))
        .withColumn("n", sum($"o").over(wg))
        .withColumn("r", size(collect_set($"rf").over(wg)))
        .withColumn("c", size(collect_set($"ls").over(wg)))
        .select($"o", $"rt", $"ct", $"n", $"r", $"c",
          (($"o".cast("double") - $"rt".cast("double") * $"ct".cast("double") / $"n".cast("double")) *
            ($"o".cast("double") - $"rt".cast("double") * $"ct".cast("double") / $"n".cast("double")) /
            ($"rt".cast("double") * $"ct".cast("double") / $"n".cast("double"))).as("term"))
      chi.groupBy($"n", $"r", $"c")
        .agg(sum($"term").as("chi2"))
        .select($"n", $"r", $"c",
          format_string("%.6f", $"chi2").as("chi2"),
          format_string("%.6f",
            sqrt($"chi2" / ($"n".cast("double") * (least($"r", $"c") - 1).cast("double"))))
            .as("cramers_v"))
    }))

  val oracles: Map[String, String] = Map(
    "pipe_k_anonymity" ->
      """WITH qi AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS band
        |  FROM customer),
        |g AS (
        |  SELECT GROUPING(nat, seg, band) AS gid, CAST(count(*) AS BIGINT) AS n
        |  FROM qi GROUP BY GROUPING SETS ((nat), (nat, seg), (nat, seg, band)))
        |SELECT CAST(gid AS BIGINT) AS gid, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(n) AS BIGINT) AS min_group_size,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  MIN(n) >= 5 AS k5_ok
        |FROM g GROUP BY gid ORDER BY gid""".stripMargin,

    "pipe_profile_drift" ->
      """WITH ev AS (
        |  SELECT event_type, event_id % 2 AS half,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli,
        |    CASE WHEN props IS NULL THEN 1 ELSE 0 END AS null_props, user_id
        |  FROM events),
        |h AS (
        |  SELECT event_type, half, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(v_milli) AS BIGINT) AS v, CAST(SUM(null_props) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS nu
        |  FROM ev GROUP BY 1, 2)
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |  CAST(abs(a.n - b.n) * 10000 // greatest(a.n, 1) AS BIGINT) AS volume_drift_bp,
        |  CAST(abs(a.v // greatest(a.n, 1) - b.v // greatest(b.n, 1)) AS BIGINT)
        |    AS mean_value_drift_milli,
        |  CAST(abs(a.nn * 10000 // greatest(a.n, 1) - b.nn * 10000 // greatest(b.n, 1))
        |    AS BIGINT) AS null_rate_drift_bp,
        |  CAST(abs(a.nu - b.nu) * 10000 // greatest(a.nu, 1) AS BIGINT)
        |    AS user_coverage_drift_bp
        |FROM (SELECT * FROM h WHERE half = 0) a
        |JOIN (SELECT * FROM h WHERE half = 1) b USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    "q189_levene_test" ->
      """WITH cents AS (
        |  SELECT c_mktsegment,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |tbl AS (
        |  SELECT c_mktsegment, v, CAST(count(*) AS BIGINT) AS c
        |  FROM cents GROUP BY 1, 2),
        |cu AS (
        |  SELECT c_mktsegment, v, c,
        |    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS lcum
        |  FROM tbl),
        |segtot AS (SELECT c_mktsegment, CAST(SUM(c) AS BIGINT) AS n_j FROM tbl GROUP BY 1),
        |med AS (
        |  SELECT cu.c_mktsegment, MIN(v) AS median_cents
        |  FROM cu JOIN segtot st ON cu.c_mktsegment = st.c_mktsegment
        |  WHERE lcum >= (n_j + 1) // 2
        |  GROUP BY cu.c_mktsegment),
        |dev AS (
        |  SELECT c.c_mktsegment, abs(c.v - m.median_cents) AS dv
        |  FROM cents c JOIN med m ON c.c_mktsegment = m.c_mktsegment),
        |seg AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(SUM(dv) AS BIGINT) AS s_j,
        |    SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS q_j
        |  FROM dev GROUP BY 1),
        |t AS (
        |  SELECT c_mktsegment, n_j, s_j, q_j,
        |    CAST(FLOOR(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
        |      / CAST(n_j AS DOUBLE) / 1000.0) AS BIGINT) AS term_k
        |  FROM seg),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_j) AS BIGINT) AS n_total,
        |    CAST(SUM(s_j) AS BIGINT) AS s_all, SUM(q_j) AS q_all,
        |    CAST(SUM(term_k) AS BIGINT) AS sum_term_k
        |  FROM t),
        |f AS (
        |  SELECT
        |    CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0 = 0.0
        |      OR n_total <= k THEN NULL ELSE
        |    CAST(FLOOR((CAST(sum_term_k AS DOUBLE) * 1000.0
        |        - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      / CAST(k - 1 AS DOUBLE)
        |      / ((CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0)
        |         / CAST(n_total - k AS DOUBLE))
        |      * 1000.0) AS BIGINT) END AS f_milli
        |  FROM agg)
        |SELECT t.c_mktsegment, t.n_j, m.median_cents, t.s_j AS sum_absdev,
        |  f.f_milli, f.f_milli >= 2372 AS significant
        |FROM t JOIN med m ON t.c_mktsegment = m.c_mktsegment
        |CROSS JOIN f
        |ORDER BY t.c_mktsegment""".stripMargin,

    "q188_anova_oneway" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |seg AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(SUM(v) AS BIGINT) AS s_j,
        |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS q_j
        |  FROM cents GROUP BY 1),
        |t AS (
        |  SELECT n_j, s_j, q_j,
        |    CAST(FLOOR(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
        |      / CAST(n_j AS DOUBLE) / 1000.0) AS BIGINT) AS term_k
        |  FROM seg),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_j) AS BIGINT) AS n_total,
        |    CAST(SUM(s_j) AS BIGINT) AS s_all, SUM(q_j) AS q_all,
        |    CAST(SUM(term_k) AS BIGINT) AS sum_term_k
        |  FROM t)
        |SELECT k, n_total, sum_term_k,
        |  CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0 = 0.0
        |    OR n_total <= k THEN NULL ELSE
        |  CAST(FLOOR((CAST(sum_term_k AS DOUBLE) * 1000.0
        |      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    / CAST(k - 1 AS DOUBLE)
        |    / ((CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0)
        |       / CAST(n_total - k AS DOUBLE))
        |    * 1000.0) AS BIGINT) END AS f_milli,
        |  CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0 = 0.0
        |    OR n_total <= k THEN NULL ELSE
        |  CAST(FLOOR((CAST(sum_term_k AS DOUBLE) * 1000.0
        |      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    / CAST(k - 1 AS DOUBLE)
        |    / ((CAST(q_all AS DOUBLE) - CAST(sum_term_k AS DOUBLE) * 1000.0)
        |       / CAST(n_total - k AS DOUBLE))
        |    * 1000.0) AS BIGINT) >= 2372 END AS significant
        |FROM agg""".stripMargin,

    "q187_kruskal_wallis" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |per_seg AS (
        |  SELECT v, c_mktsegment, CAST(count(*) AS BIGINT) AS c
        |  FROM cents GROUP BY 1, 2),
        |per_val AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cnt FROM per_seg GROUP BY v),
        |cu AS (
        |  SELECT v, cnt, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per_val),
        |seg AS (
        |  SELECT p.c_mktsegment, CAST(SUM(p.c) AS BIGINT) AS n_j,
        |    CAST(SUM(p.c * (2 * (cu.cum - cu.cnt) + cu.cnt + 1)) AS BIGINT) AS r2x
        |  FROM per_seg p JOIN cu ON p.v = cu.v
        |  GROUP BY p.c_mktsegment),
        |terms AS (
        |  SELECT n_j,
        |    CAST(FLOOR(CAST(r2x AS DOUBLE) * CAST(r2x AS DOUBLE)
        |      / CAST(n_j AS DOUBLE)) AS BIGINT) AS term
        |  FROM seg),
        |ties AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        |  FROM per_val),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_j) AS BIGINT) AS n_check,
        |    CAST(SUM(term) AS BIGINT) AS sum_term
        |  FROM terms)
        |SELECT k, n_total, tie_sum, sum_term,
        |  CASE WHEN CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |         * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)
        |         - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
        |  CAST(FLOOR((3.0 * CAST(sum_term AS DOUBLE)
        |      / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
        |    - 3.0 * CAST(n_total + 1 AS DOUBLE))
        |    / (1.0 - CAST(tie_sum AS DOUBLE)
        |       / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |          * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
        |    * 1000.0) AS BIGINT) END AS h_milli,
        |  CASE WHEN CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |         * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)
        |         - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
        |  CAST(FLOOR((3.0 * CAST(sum_term AS DOUBLE)
        |      / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
        |    - 3.0 * CAST(n_total + 1 AS DOUBLE))
        |    / (1.0 - CAST(tie_sum AS DOUBLE)
        |       / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |          * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
        |    * 1000.0) AS BIGINT) >= 9488 END AS significant
        |FROM agg CROSS JOIN ties""".stripMargin,

    "q186_cohort_ltv" ->
      """WITH om AS (
        |  SELECT o_custkey, o_totalprice,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
        |  FROM orders),
        |fo AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1),
        |sizes AS (
        |  SELECT m0 // 12 AS cohort_year, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM fo GROUP BY 1),
        |rev AS (
        |  SELECT f.m0 // 12 AS cohort_year, o.m - f.m0 AS age_months,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM om o JOIN fo f USING (o_custkey)
        |  WHERE o.m - f.m0 <= 11
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort_year, age_months, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_year ORDER BY age_months
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |  FROM rev)
        |SELECT cohort_year, age_months, n_customers, rev_cents, cum_rev_cents,
        |  CAST(cum_rev_cents // n_customers AS BIGINT) AS ltv_cents
        |FROM c JOIN sizes USING (cohort_year)
        |ORDER BY cohort_year, age_months""".stripMargin,

    "q185_mann_whitney" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS g1
        |  FROM orders),
        |tbl AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(g1) AS BIGINT) AS cnt1
        |  FROM cents GROUP BY v),
        |c AS (
        |  SELECT v, cnt, cnt1,
        |    SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tbl),
        |a AS (
        |  SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
        |    CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
        |    CAST(SUM(cnt1 * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r1_2x,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        |  FROM c)
        |SELECT n1, n2, r1_2x,
        |  r1_2x - n1 * (n1 + 1) AS u1_x2,
        |  tie_sum,
        |  CASE WHEN n1 = 0 OR n2 = 0
        |    OR CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |       * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
        |       - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
        |  CAST(FLOOR(3.0
        |    * CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
        |    * CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
        |    * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |       * (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |          * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
        |          - CAST(tie_sum AS DOUBLE)))
        |    * 1000.0) AS BIGINT) END AS z2_milli,
        |  CASE WHEN n1 = 0 OR n2 = 0
        |    OR CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |       * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
        |       - CAST(tie_sum AS DOUBLE) = 0.0 THEN NULL ELSE
        |  CAST(FLOOR(3.0
        |    * CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
        |    * CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
        |    * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |       * (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |          * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
        |          - CAST(tie_sum AS DOUBLE)))
        |    * 1000.0) AS BIGINT) >= 3841 END AS significant
        |FROM a""".stripMargin,

    "q184_two_proportion_ztest" ->
      """WITH o AS (
        |  SELECT o_custkey, count(*) AS n_orders
        |  FROM orders WHERE year(o_orderdate) = 1996
        |  GROUP BY o_custkey),
        |st AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM o JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |SELECT a.c_mktsegment AS seg1, b.c_mktsegment AS seg2,
        |  a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2,
        |  CAST(a.x * 10000 // a.n - b.x * 10000 // b.n AS BIGINT) AS diff_bp,
        |  CASE WHEN a.x + b.x = 0 OR a.n + b.n - a.x - b.x = 0 THEN NULL ELSE
        |    CAST(FLOOR(CAST(a.x * b.n - b.x * a.n AS DOUBLE)
        |      * CAST(a.x * b.n - b.x * a.n AS DOUBLE)
        |      * CAST(a.n + b.n AS DOUBLE)
        |      / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
        |         * CAST(a.x + b.x AS DOUBLE)
        |         * CAST(a.n + b.n - a.x - b.x AS DOUBLE))
        |      * 1000.0) AS BIGINT) END AS z2_milli,
        |  CASE WHEN a.x + b.x = 0 OR a.n + b.n - a.x - b.x = 0 THEN NULL ELSE
        |    CAST(FLOOR(CAST(a.x * b.n - b.x * a.n AS DOUBLE)
        |      * CAST(a.x * b.n - b.x * a.n AS DOUBLE)
        |      * CAST(a.n + b.n AS DOUBLE)
        |      / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
        |         * CAST(a.x + b.x AS DOUBLE)
        |         * CAST(a.n + b.n - a.x - b.x AS DOUBLE))
        |      * 1000.0) AS BIGINT) >= 3841 END AS significant
        |FROM st a JOIN st b ON a.c_mktsegment < b.c_mktsegment
        |ORDER BY seg1, seg2""".stripMargin,
    "q168_jarque_bera" ->
      """WITH rows_c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(c*c AS DECIMAL(38,0))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(c*c*c AS DECIMAL(38,0))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(c*c*c*c AS DECIMAL(38,0))) AS DOUBLE) AS s4
        |  FROM rows_c GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n,
        |    s1/CAST(n AS DOUBLE) AS m1,
        |    s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m2,
        |    s3/CAST(n AS DOUBLE) - 3.0*(s1/CAST(n AS DOUBLE))*s2/CAST(n AS DOUBLE)
        |      + 2.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m3,
        |    s4/CAST(n AS DOUBLE) - 4.0*(s1/CAST(n AS DOUBLE))*s3/CAST(n AS DOUBLE)
        |      + 6.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*s2/CAST(n AS DOUBLE)
        |      - 3.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m4
        |  FROM g),
        |sk AS (
        |  SELECT l_returnflag, n,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2*m2) - 3.0 AS kurt
        |  FROM m)
        |SELECT l_returnflag, n,
        |  printf('%.6f', skew) AS skewness,
        |  printf('%.6f', kurt) AS excess_kurtosis,
        |  printf('%.6f', CAST(n AS DOUBLE)/6.0 * (skew*skew + kurt*kurt/4.0)) AS jb_stat
        |FROM sk ORDER BY l_returnflag""".stripMargin,

    "q169_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS dx,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT a.dx AS da, b.dx AS db,
        |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.dx - a.dx AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON a.dx < b.dx),
        |ranked AS (
        |  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, da, db) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM pairs)
        |SELECT CAST(n AS BIGINT) AS n_pairs, printf('%.9f', slope) AS ts_slope
        |FROM ranked WHERE rk = (n + 1) // 2""".stripMargin,

    "q170_chow_break" ->
      """WITH daily AS (
        |  SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01' THEN 0 ELSE 1 END AS seg,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |seg_sums AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
        |  FROM daily GROUP BY seg),
        |tot_sums AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(x) AS BIGINT) AS tsx, CAST(SUM(y) AS BIGINT) AS tsy
        |  FROM daily),
        |rows_c AS (
        |  SELECT d.seg, s.n, t.nn,
        |    s.n * d.x - s.sx AS xs, s.n * d.y - s.sy AS ys,
        |    t.nn * d.x - t.tsx AS xp, t.nn * d.y - t.tsy AS yp
        |  FROM daily d JOIN seg_sums s USING (seg) CROSS JOIN tot_sums t),
        |per_seg AS (
        |  SELECT seg, MAX(n) AS n,
        |    SUM(CAST(xs AS DECIMAL(19,0)) * CAST(xs AS DECIMAL(19,0))) AS sxx,
        |    SUM(CAST(ys AS DECIMAL(19,0)) * CAST(ys AS DECIMAL(19,0))) AS syy,
        |    SUM(CAST(xs AS DECIMAL(19,0)) * CAST(ys AS DECIMAL(19,0))) AS sxy
        |  FROM rows_c GROUP BY seg),
        |pooled AS (
        |  SELECT MAX(nn) AS nn,
        |    SUM(CAST(xp AS DECIMAL(19,0)) * CAST(xp AS DECIMAL(19,0))) AS pxx,
        |    SUM(CAST(yp AS DECIMAL(19,0)) * CAST(yp AS DECIMAL(19,0))) AS pyy,
        |    SUM(CAST(xp AS DECIMAL(19,0)) * CAST(yp AS DECIMAL(19,0))) AS pxy
        |  FROM rows_c),
        |one AS (
        |  SELECT
        |    MAX(n) FILTER (WHERE seg = 0) AS n1, MAX(n) FILTER (WHERE seg = 1) AS n2,
        |    MAX(sxx) FILTER (WHERE seg = 0) AS sxx1, MAX(sxx) FILTER (WHERE seg = 1) AS sxx2,
        |    MAX(syy) FILTER (WHERE seg = 0) AS syy1, MAX(syy) FILTER (WHERE seg = 1) AS syy2,
        |    MAX(sxy) FILTER (WHERE seg = 0) AS sxy1, MAX(sxy) FILTER (WHERE seg = 1) AS sxy2
        |  FROM per_seg),
        |f AS (
        |  SELECT n1 AS n_pre, n2 AS n_post,
        |    (CAST(syy1 AS DOUBLE) - CAST(sxy1 AS DOUBLE)*CAST(sxy1 AS DOUBLE)/CAST(sxx1 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS ssr1,
        |    (CAST(syy2 AS DOUBLE) - CAST(sxy2 AS DOUBLE)*CAST(sxy2 AS DOUBLE)/CAST(sxx2 AS DOUBLE))
        |      / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ssr2,
        |    (CAST(pyy AS DOUBLE) - CAST(pxy AS DOUBLE)*CAST(pxy AS DOUBLE)/CAST(pxx AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS ssrp
        |  FROM one CROSS JOIN pooled)
        |SELECT n_pre, n_post,
        |  printf('%.6e', ssr1) AS ssr_pre,
        |  printf('%.6e', ssr2) AS ssr_post,
        |  printf('%.6e', ssrp) AS ssr_pooled,
        |  printf('%.6f', ((ssrp - ssr1 - ssr2) / 2.0)
        |    / ((ssr1 + ssr2) / CAST(n_pre + n_post - 4 AS DOUBLE))) AS f_stat
        |FROM f""".stripMargin,

    "q171_price_volume_mix" ->
      """WITH li AS (
        |  SELECT p.p_type, year(CAST(l.l_shipdate AS DATE)) AS yr,
        |    CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) AS BIGINT)) AS BIGINT) AS q,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(CAST(l.l_shipdate AS DATE)) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |piv AS (
        |  SELECT p_type,
        |    SUM(q) FILTER (WHERE yr = 1996) AS q0, SUM(q) FILTER (WHERE yr = 1997) AS q1,
        |    SUM(r) FILTER (WHERE yr = 1996) AS r0, SUM(r) FILTER (WHERE yr = 1997) AS r1
        |  FROM li GROUP BY p_type)
        |SELECT p_type,
        |  CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
        |  CAST(r0 AS BIGINT) AS r0, CAST(r1 AS BIGINT) AS r1,
        |  CAST(r1 - r0 AS BIGINT) AS delta_rev,
        |  printf('%.4f', CAST(q1 - q0 AS DOUBLE) * (CAST(r0 AS DOUBLE)/CAST(q0 AS DOUBLE))) AS volume_effect,
        |  printf('%.4f', (CAST(r1 AS DOUBLE)/CAST(q1 AS DOUBLE) - CAST(r0 AS DOUBLE)/CAST(q0 AS DOUBLE))
        |    * CAST(q0 AS DOUBLE)) AS price_effect,
        |  printf('%.4f', (CAST(r1 AS DOUBLE)/CAST(q1 AS DOUBLE) - CAST(r0 AS DOUBLE)/CAST(q0 AS DOUBLE))
        |    * CAST(q1 - q0 AS DOUBLE)) AS cross_effect
        |FROM piv WHERE q0 IS NOT NULL AND q1 IS NOT NULL
        |ORDER BY p_type""".stripMargin,

    "q173_duplicate_payments" ->
      """WITH o AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) AS day
        |  FROM orders)
        |SELECT a.cust AS o_custkey, a.ok AS ok1, b.ok AS ok2,
        |  CAST(b.day - a.day AS BIGINT) AS day_gap,
        |  abs(b.cents - a.cents) * 10000 // greatest(a.cents, b.cents) AS amount_delta_bp
        |FROM o a JOIN o b
        |  ON a.cust = b.cust AND a.ok < b.ok
        |  AND abs(b.day - a.day) <= 7
        |ORDER BY o_custkey, ok1, ok2""".stripMargin,

    "q174_discount_elasticity" ->
      """WITH bands AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem GROUP BY 1),
        |pts AS (SELECT band, n, sq * 1000 // n AS mean_qty_milli FROM bands),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(band) AS BIGINT) AS sx,
        |    CAST(SUM(mean_qty_milli) AS BIGINT) AS sy,
        |    CAST(SUM(band * band) AS BIGINT) AS sxx,
        |    CAST(SUM(band * mean_qty_milli) AS BIGINT) AS sxy
        |  FROM pts)
        |SELECT k AS n_bands,
        |  printf('%.9f', CAST(k * sxy - sx * sy AS DOUBLE)
        |    / CAST(k * sxx - sx * sx AS DOUBLE)) AS qty_milli_per_point
        |FROM g""".stripMargin,

    "q183_customer_migration" ->
      """WITH spend AS (
        |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sp
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT yr, o_custkey,
        |    row_number() OVER (PARTITION BY yr ORDER BY sp DESC, o_custkey) AS r,
        |    count(*) OVER (PARTITION BY yr) AS ny
        |  FROM spend),
        |dec10 AS (SELECT yr, o_custkey, (r - 1) * 10 // ny AS decile FROM rk)
        |SELECT a.decile AS d96, b.decile AS d97,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM dec10 a JOIN dec10 b
        |  ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
        |GROUP BY 1, 2 ORDER BY d96, d97""".stripMargin,

    "q182_effective_catalog" ->
      """WITH rev AS (
        |  SELECT year(CAST(l_shipdate AS DATE)) AS yr, l_partkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT yr, l_partkey, r,
        |    SUM(r) OVER (PARTITION BY yr ORDER BY r DESC, l_partkey) AS ycum
        |  FROM rev),
        |ytot AS (
        |  SELECT yr, CAST(SUM(r) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n_parts
        |  FROM rev GROUP BY yr),
        |cut AS (
        |  SELECT c.yr, t.n_parts,
        |    CASE WHEN CAST(c.ycum - c.r AS HUGEINT) * 5 < CAST(t.tot AS HUGEINT) * 4
        |         THEN 1 ELSE 0 END AS in_cut
        |  FROM cum c JOIN ytot t USING (yr))
        |SELECT CAST(yr AS BIGINT) AS yr, MAX(n_parts) AS n_parts,
        |  CAST(SUM(in_cut) AS BIGINT) AS effective_parts,
        |  CAST(SUM(in_cut) * 10000 // MAX(n_parts) AS BIGINT) AS effective_share_bp
        |FROM cut GROUP BY yr ORDER BY yr""".stripMargin,

    "q181_hhi_trend" ->
      """WITH rev AS (
        |  SELECT year(CAST(l_shipdate AS DATE)) AS yr, l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |ytot AS (
        |  SELECT yr, CAST(SUM(r) AS BIGINT) AS tot,
        |    CAST(COUNT(*) AS BIGINT) AS n_suppliers
        |  FROM rev GROUP BY yr),
        |sh AS (
        |  SELECT rev.yr, ytot.n_suppliers,
        |    CAST(CAST(rev.r AS HUGEINT) * 10000 // ytot.tot AS BIGINT) AS share_bp
        |  FROM rev JOIN ytot USING (yr))
        |SELECT CAST(yr AS BIGINT) AS yr, n_suppliers,
        |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi_e8
        |FROM sh GROUP BY yr, n_suppliers ORDER BY yr""".stripMargin,

    "q180_covariance_matrix" ->
      """WITH b AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS dsc
        |  FROM lineitem),
        |g AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(q AS DECIMAL(38,0))) AS sq, SUM(CAST(p AS DECIMAL(38,0))) AS sp,
        |    SUM(CAST(dsc AS DECIMAL(38,0))) AS sd,
        |    SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sqq,
        |    SUM(CAST(p AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0))) AS spp,
        |    SUM(CAST(dsc AS DECIMAL(19,0)) * CAST(dsc AS DECIMAL(19,0))) AS sdd,
        |    SUM(CAST(q AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0))) AS sqp,
        |    SUM(CAST(q AS DECIMAL(19,0)) * CAST(dsc AS DECIMAL(19,0))) AS sqd,
        |    SUM(CAST(p AS DECIMAL(19,0)) * CAST(dsc AS DECIMAL(19,0))) AS spd
        |  FROM b),
        |c AS (
        |  SELECT n,
        |    (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vq,
        |    (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vp,
        |    (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vd,
        |    (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS cqp,
        |    (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS cqd,
        |    (CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sd AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS cpd
        |  FROM g),
        |r AS (
        |  SELECT CAST(n AS BIGINT) AS n,
        |    cqp / sqrt(vq * vp) AS rqp,
        |    cqd / sqrt(vq * vd) AS rqd,
        |    cpd / sqrt(vp * vd) AS rpd
        |  FROM c)
        |SELECT n,
        |  printf('%.9f', rqp) AS corr_qty_price,
        |  printf('%.9f', rqd) AS corr_qty_disc,
        |  printf('%.9f', rpd) AS corr_price_disc,
        |  printf('%.9f', (rqp - rqd * rpd)
        |    / sqrt((1.0 - rqd * rqd) * (1.0 - rpd * rpd))) AS partial_corr_qp_given_d
        |FROM r""".stripMargin,

    "q179_monthly_index" ->
      """WITH m AS (
        |  SELECT month(CAST(o_orderdate AS DATE)) AS mon,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT *, SUM(rev) OVER () AS total FROM m)
        |SELECT CAST(mon AS BIGINT) AS mon, n_orders, rev,
        |  CAST(CAST(rev AS HUGEINT) * 120000 // total AS BIGINT) AS index_bp
        |FROM t ORDER BY mon""".stripMargin,

    "q178_revenue_streaks" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |flagged AS (
        |  SELECT day, rev,
        |    row_number() OVER (ORDER BY day) AS rn,
        |    CASE WHEN rev > lag(rev) OVER (ORDER BY day) THEN 1 ELSE 0 END AS up
        |  FROM daily),
        |ups AS (SELECT * FROM flagged WHERE up = 1),
        |isl AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS len, MIN(day) AS start_day
        |  FROM (SELECT rn - row_number() OVER (ORDER BY rn) AS grp, day FROM ups)
        |  GROUP BY grp),
        |wm AS (SELECT *, MAX(len) OVER () AS mx FROM isl)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_up_streaks,
        |  MAX(len) AS longest_streak,
        |  MIN(CASE WHEN len = mx THEN strftime(start_day, '%Y-%m-%d') END) AS longest_start
        |FROM wm""".stripMargin,

    "q176_levene_test" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS g,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM customer),
        |means AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, CAST(SUM(x) AS BIGINT) AS s_g
        |  FROM c GROUP BY g),
        |z AS (
        |  SELECT c.g, m.n_g, abs(m.n_g * c.x - m.s_g) AS z
        |  FROM c JOIN means m USING (g)),
        |gstats AS (
        |  SELECT g, MAX(n_g) AS n_g,
        |    SUM(CAST(z AS DECIMAL(38,0))) AS a_g,
        |    SUM(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS b_g
        |  FROM z GROUP BY g),
        |folded AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(a_g AS DOUBLE) / CAST(n_g AS DOUBLE) ORDER BY g)),
        |      (a, x) -> a + x) AS zsum,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(b_g AS DOUBLE) / CAST(n_g * n_g AS DOUBLE)
        |        - (CAST(a_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |          * (CAST(a_g AS DOUBLE) / CAST(n_g AS DOUBLE)) / CAST(n_g AS DOUBLE)
        |        ORDER BY g)),
        |      (a, x) -> a + x) AS within
        |  FROM gstats),
        |wm AS (SELECT k, n, within, zsum / CAST(n AS DOUBLE) AS zbar FROM folded),
        |bt AS (
        |  SELECT w.k, w.n, w.within,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(s.n_g AS DOUBLE)
        |        * (CAST(s.a_g AS DOUBLE) / CAST(s.n_g * s.n_g AS DOUBLE) - w.zbar)
        |        * (CAST(s.a_g AS DOUBLE) / CAST(s.n_g * s.n_g AS DOUBLE) - w.zbar)
        |        ORDER BY s.g)),
        |      (a, x) -> a + x) AS between_ss
        |  FROM gstats s CROSS JOIN wm w
        |  GROUP BY w.k, w.n, w.within)
        |SELECT n, k,
        |  printf('%.9f', (CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |    * between_ss / within) AS levene_w
        |FROM bt""".stripMargin,

    "q177_cohens_d" ->
      """WITH seg AS (
        |  SELECT c.c_mktsegment AS g,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |lohi AS (SELECT MIN(g) AS glo, MAX(g) AS ghi FROM seg),
        |agg AS (
        |  SELECT MAX(l.glo) AS seg_lo, MAX(l.ghi) AS seg_hi,
        |    CAST(SUM(CASE WHEN s.g = l.glo THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN s.g = l.ghi THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    SUM(CASE WHEN s.g = l.glo THEN CAST(s.x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1,
        |    SUM(CASE WHEN s.g = l.ghi THEN CAST(s.x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2,
        |    SUM(CASE WHEN s.g = l.glo THEN CAST(s.x AS DECIMAL(19,0)) * CAST(s.x AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1,
        |    SUM(CASE WHEN s.g = l.ghi THEN CAST(s.x AS DECIMAL(19,0)) * CAST(s.x AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss2
        |  FROM seg s CROSS JOIN lohi l
        |  WHERE s.g = l.glo OR s.g = l.ghi)
        |SELECT seg_lo, seg_hi, n1, n2,
        |  printf('%.9f',
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt((CAST(n1 - 1 AS DOUBLE)
        |        * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE))
        |      + CAST(n2 - 1 AS DOUBLE)
        |        * ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)))
        |      / CAST(n1 + n2 - 2 AS DOUBLE))) AS cohens_d
        |FROM agg""".stripMargin,

    "q175_markov_steady_state" -> {
      def iter(n: Int): String =
        s"""v$n AS (
           |  SELECT p.to_type AS state,
           |    CAST(SUM(v.m * p.bp) // 10000 AS BIGINT) AS m
           |  FROM v${n - 1} v JOIN p ON p.from_type = v.state
           |  GROUP BY p.to_type)"""
      s"""WITH seq AS (
         |  SELECT user_id, event_type, ts, event_id,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |tr AS (
         |  SELECT event_type AS from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
         |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
         |        FROM tr GROUP BY from_type),
         |p AS (
         |  SELECT t.from_type, t.to_type, t.n_trans * 10000 // g.n_from AS bp
         |  FROM tr t JOIN tot g USING (from_type)),
         |v0 AS (
         |  SELECT DISTINCT from_type AS state,
         |    CAST(1000000 // (SELECT COUNT(DISTINCT from_type) FROM p) AS BIGINT) AS m
         |  FROM p),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT state, m AS mass_micro FROM v4 ORDER BY state""".stripMargin
    },

    "q172_cramers_v" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (
        |  SELECT o,
        |    SUM(o) OVER (PARTITION BY rf) AS rt,
        |    SUM(o) OVER (PARTITION BY ls) AS ct,
        |    SUM(o) OVER () AS n,
        |    (SELECT COUNT(DISTINCT rf) FROM cells) AS r,
        |    (SELECT COUNT(DISTINCT ls) FROM cells) AS c
        |  FROM cells),
        |chi AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(r AS INTEGER) AS r, CAST(c AS INTEGER) AS c,
        |    SUM((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
        |      / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))) AS chi2
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT n, r, c,
        |  printf('%.6f', chi2) AS chi2,
        |  printf('%.6f', sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE)))) AS cramers_v
        |FROM chi""".stripMargin)
}
