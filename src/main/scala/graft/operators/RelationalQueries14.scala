package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 continuation: experimentation + extreme-value statistics.
  *
  *  - `q219_power_mde` — minimum detectable effect and required
  *    sample size for the order-value A/B test at 80% power;
  *  - `q220_bartlett` — Bartlett's homogeneity-of-variances test
  *    across market segments (the parametric twin of q176 Levene);
  *  - `q221_gumbel_extremes` — Gumbel fit to monthly revenue maxima
  *    with the 100-block return level (the capacity-planning tail).
  *
  * Exactness: every per-group libm term (ln of a variance) is
  * floor-quantized to an integer unit BEFORE any cross-group Σ, so
  * group-order never leaks into results; single-row trees are shared
  * verbatim with the DuckDB oracles.
  */
object RelationalQueries14 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  // z_{0.975} + z_{0.80} for the classic two-sided 5% / 80%-power pair
  private val ZSUM = "(1.959963984540054 + 0.8416212335729143)"

  val queries: Map[String, Q] = Map(
    // POWER / MDE: with the traffic we have, what lift on mean order
    // value could the A/B framework (q100) even detect? One corpus
    // aggregate → per-arm n, σ² from exact sums → MDE at 80% power
    // and the per-arm n required for a 1% lift, as one shared tree.
    "q219_power_mde" -> ((s, d) => {
      import s.implicits._
      val g = orders(s, d)
        .select((dec($"o_totalprice") * 100).cast("long").as("v"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
          sum($"v".cast(D19) * $"v".cast(D19)).as("svv"))
      g.selectExpr("n",
        s"CAST(FLOOR($meanD) AS BIGINT) AS mean_cents",
        s"CAST(FLOOR($sdD) AS BIGINT) AS sigma_cents",
        // MDE = (z_{α/2}+z_β)·√(2σ²/n_arm), n_arm = n/2
        s"""CAST(FLOOR($ZSUM * sqrt(2.0 * $sdD * $sdD
           | / (CAST(n AS DOUBLE) / 2.0))) AS BIGINT) AS mde_cents""".stripMargin,
        s"""CAST(FLOOR($ZSUM * sqrt(2.0 * $sdD * $sdD
           | / (CAST(n AS DOUBLE) / 2.0)) / ($meanD) * 10000.0) AS BIGINT)
           | AS mde_bp""".stripMargin,
        // per-arm n needed to detect a 1% lift of the mean
        s"""CAST(FLOOR(2.0 * $ZSUM * $ZSUM * $sdD * $sdD
           | / (0.01 * $meanD * 0.01 * $meanD)) AS BIGINT)
           | AS n_arm_for_1pct""".stripMargin)
    }),

    // BARTLETT'S TEST for variance homogeneity across the five market
    // segments: B = ((N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²) / C. Each
    // group's ln-variance term is micro-quantized BEFORE the 5-row
    // Σ (cross-group double sums are engine-order-dependent; integer
    // Σ is not), as is each 1/(nᵢ−1) term of the C correction. One
    // corpus-sized keyed aggregate; everything after is 5 rows.
    "q220_bartlett" -> ((s, d) => {
      import s.implicits._
      val per = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select($"c_mktsegment", (dec($"o_totalprice") * 100).cast("long").as("v"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("ni"), sum($"v").as("si"),
          sum($"v".cast(D19) * $"v".cast(D19)).as("sii"))
        .selectExpr("ni",
          // (nᵢ−1)·ln sᵢ² in micro units, exact per group
          s"CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ln($varI) * 1000000.0) AS BIGINT) AS lnterm_micro",
          "CAST(FLOOR(1000000000.0 / CAST(ni - 1 AS DOUBLE)) AS BIGINT) AS invdf_nano",
          // pooled-variance numerator (nᵢ−1)·sᵢ², kilo-cents²-floored
          s"CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ($varI) / 1000.0) AS BIGINT) AS ssq_kilo")
      val g = per.agg(count(lit(1)).as("k"), sum($"ni").as("nn"),
        sum($"lnterm_micro").as("s_ln"), sum($"invdf_nano").as("s_inv"),
        sum($"ssq_kilo").as("s_ssq"))
      g.selectExpr("k", "nn",
        s"CAST(FLOOR($bartlettB * 1000.0) AS BIGINT) AS b_milli",
        s"CAST(FLOOR($bartlettB * 1000.0) AS BIGINT) >= 9488 AS significant")
    }),

    // GUMBEL EXTREME-VALUE FIT on monthly revenue maxima: method-of-
    // moments (β = σ√6/π, μ = x̄ − γβ) over the 80-ish block maxima,
    // plus the 100-block return level μ − β·ln(−ln(1−1/100)) — the
    // "what daily peak do we see once per ~8 years?" capacity number.
    // Two keyed aggregates (day, then month-max); maxima are exact
    // integers so the MoM sums are exact; the fit is one shared tree.
    "q221_gumbel_extremes" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val blocks = day.groupBy(date_trunc("month", $"day").as("mon"))
        .agg(max($"y").as("mx"))
      val g = blocks.agg(count(lit(1)).as("n"), sum($"mx").as("sm"),
        sum($"mx".cast(D19) * $"mx".cast(D19)).as("smm"))
      g.selectExpr("n",
        s"CAST(FLOOR($gumbelMu) AS BIGINT) AS mu_cents",
        s"CAST(FLOOR($gumbelBeta) AS BIGINT) AS beta_cents",
        s"""CAST(FLOOR($gumbelMu - $gumbelBeta
           | * ln(-ln(1.0 - 1.0 / 100.0))) AS BIGINT) AS rl100_cents""".stripMargin)
    }),

    // DAY-N RETENTION by signup cohort — the D1/D3 product-analytics
    // table (events span ~a week, so D1/D3 are the meaningful
    // offsets). Two keyed aggregates over the distinct (user, day)
    // stream: first-day per user, then one user-keyed join computing
    // both return flags in a single MAX-CASE pass. Exact integer
    // basis-points; cohort days render as strings for engine parity.
    "q222_dn_retention" -> ((s, d) => {
      import s.implicits._
      val ud = events(s, d)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val firsts = ud.groupBy($"user_id").agg(min($"day").as("d0"))
      val flags = firsts.join(ud, Seq("user_id"))
        .groupBy($"user_id", $"d0")
        .agg(max(when($"day" === date_add($"d0", 1), 1L).otherwise(0L)).as("r1"),
          max(when($"day" === date_add($"d0", 3), 1L).otherwise(0L)).as("r3"))
      flags.groupBy($"d0")
        .agg(count(lit(1)).as("n_users"),
          sum($"r1").as("retained_d1"), sum($"r3").as("retained_d3"))
        .select(date_format($"d0", "yyyy-MM-dd").as("cohort_day"),
          $"n_users", $"retained_d1",
          expr("retained_d1 * 10000 DIV n_users").as("d1_bp"),
          $"retained_d3",
          expr("retained_d3 * 10000 DIV n_users").as("d3_bp"))
        .orderBy($"cohort_day")
    }),

    // PRICE-ENDING AUDIT: the cents-ending census with a χ² against
    // the uniform 100-ending null — the forensic screen for
    // artificial/generated pricing (the Benford companion, q102, on
    // the other end of the number). One keyed ending census; missing
    // endings enter the χ² as pure-expectation terms via the closed
    // form; χ² numerators are exact decimal integers.
    "q223_price_endings" -> ((s, d) => {
      import s.implicits._
      val census = lineitem(s, d)
        .selectExpr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100 AS ending")
        .groupBy($"ending").agg(count(lit(1)).as("o"))
      val tot = census.agg(count(lit(1)).as("k"), sum($"o").as("n"))
      val chi2 = census.crossJoin(broadcast(tot))
        .agg(max($"k").as("k"), max($"n").as("n"),
          sum(($"o" * 100 - $"n").cast(D19) * ($"o" * 100 - $"n").cast(D19))
            .as("ssq"))
        .selectExpr("k", "n",
          """CAST(FLOOR((CAST(ssq AS DOUBLE) / (100.0 * CAST(n AS DOUBLE))
            | + CAST(100 - k AS DOUBLE) * CAST(n AS DOUBLE) / 100.0)
            | * 1000.0) AS BIGINT) AS chi2_milli""".stripMargin)
      census.crossJoin(broadcast(tot.select($"n".as("n_all"))))
        .crossJoin(broadcast(chi2.select($"chi2_milli")))
        .selectExpr("ending", "o AS n_items",
          "o * 10000 DIV n_all AS share_bp", "chi2_milli")
        .orderBy($"n_items".desc, $"ending".asc).limit(10)
        .orderBy($"n_items".desc, $"ending".asc)
    }),

    // NEWSVENDOR ORDER-UP-TO LEVEL: the smallest stock level covering
    // ≥80% of daily demand days (critical ratio 0.8 = Cu 2 : Co 0.5)
    // — the inventory-planning quantile read straight off the daily
    // demand distribution. Calendar-day aggregate → distinct-demand
    // census → cumulative pick; everything after the first aggregate
    // is calendar-sized. Exact integer compares (cum·10 ≥ n·8).
    "q224_newsvendor" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum($"l_quantity".cast("long")).as("demand"))
      val census = day.groupBy($"demand").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy($"demand").rowsBetween(Window.unboundedPreceding, 0)
      val tot = day.agg(count(lit(1)).as("n"))
      census.withColumn("cum", sum($"nv").over(w))
        .crossJoin(broadcast(tot))
        .filter($"cum" * 10 >= $"n" * 8)
        .orderBy($"demand").limit(1)
        .selectExpr("n AS n_days", "demand AS q_star",
          "cum * 10000 DIV n AS coverage_bp",
          "n - cum AS stockout_days",
          "CAST(8000 AS BIGINT) AS critical_ratio_bp")
    }),

    // TUKEY-KRAMER HSD post-hoc pairs — the step AFTER q131's ANOVA
    // says "some segment differs": which of the 10 segment pairs
    // actually do, at the studentized-range q(5,∞)=3.86 threshold?
    // One corpus-sized keyed aggregate; MSE pools the kilo-floored
    // per-group SSQs (the q188/bartlett idiom — integer Σ, never a
    // cross-group double sum); the 10-pair table is a 5×5 self-join.
    "q225_tukey_hsd" -> ((s, d) => {
      import s.implicits._
      val per = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select($"c_mktsegment".as("seg"), (dec($"o_totalprice") * 100).cast("long").as("v"))
        .groupBy($"seg")
        .agg(count(lit(1)).as("ni"), sum($"v").as("si"),
          sum($"v".cast(D19) * $"v".cast(D19)).as("sii"))
        .selectExpr("seg", "ni", "si",
          s"CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ($varI) / 1000.0) AS BIGINT) AS ssq_kilo")
        .localCheckpoint() // 5 rows
      val mse = per.agg(sum($"ni").as("nn"), count(lit(1)).as("k"),
          sum($"ssq_kilo").as("s_ssq"))
        .selectExpr(
          """(CAST(s_ssq AS DOUBLE) * 1000.0
            | / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))) AS mse_d""".stripMargin)
      per.as("a").join(broadcast(per.as("b")), $"a.seg" < $"b.seg")
        .crossJoin(broadcast(mse))
        .selectExpr("a.seg AS seg_a", "b.seg AS seg_b",
          "a.si DIV a.ni AS mean_a_cents", "b.si DIV b.ni AS mean_b_cents",
          "abs(a.si DIV a.ni - b.si DIV b.ni) AS diff_cents",
          """CAST(FLOOR(3.86 * sqrt(mse_d / 2.0
            | * (1.0 / CAST(a.ni AS DOUBLE) + 1.0 / CAST(b.ni AS DOUBLE))))
            | AS BIGINT) AS hsd_cents""".stripMargin)
        .selectExpr("seg_a", "seg_b", "mean_a_cents", "mean_b_cents",
          "diff_cents", "hsd_cents", "diff_cents > hsd_cents AS significant")
        .orderBy($"seg_a", $"seg_b")
    }),

    // WEEKDAY-UNIFORMITY χ²: is order intake flat across the week?
    // Seven exact cells; the χ² numerator Σ(7o−n)² rides one decimal
    // aggregate (never a 7-row double sum), the closed form divides
    // by 7n once. Day shares in exact basis points.
    "q226_weekday_chi2" -> ((s, d) => {
      import s.implicits._
      val census = orders(s, d)
        .groupBy(dayofweek(to_date($"o_orderdate")).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
      val tot = census.agg(sum($"o").as("n"))
      val chi = census.crossJoin(broadcast(tot))
        .agg(max($"n").as("n"),
          sum(($"o" * 7 - $"n").cast(D19) * ($"o" * 7 - $"n").cast(D19)).as("ssq"))
        .selectExpr(
          """CAST(FLOOR(CAST(ssq AS DOUBLE) / (7.0 * CAST(n AS DOUBLE))
            | * 1000.0) AS BIGINT) AS chi2_milli""".stripMargin)
      census.crossJoin(broadcast(tot)).crossJoin(broadcast(chi))
        .selectExpr("dow", "o AS n_orders", "o * 10000 DIV n AS share_bp",
          "chi2_milli", "chi2_milli >= 12592 AS significant")
        .orderBy($"dow")
    }),

    // TURNING-POINTS RANDOMNESS TEST on the daily revenue series: a
    // random sequence has 2(n−2)/3 local extrema; trends and cycles
    // have fewer. Calendar-sized lag/lead window over the day
    // aggregate; T is an exact integer, z one shared tree.
    "q227_turning_points" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val w = Window.orderBy($"day") // calendar-sized
      val t = day
        .withColumn("yp", lag($"y", 1).over(w))
        .withColumn("yn", lead($"y", 1).over(w))
        .filter($"yp".isNotNull && $"yn".isNotNull)
        .agg(count(lit(1)).as("m"),
          sum(when(($"y" > $"yp" && $"y" > $"yn") ||
            ($"y" < $"yp" && $"y" < $"yn"), 1L).otherwise(0L)).as("t"))
      // n interior points = m; expected T = 2m/3 for the de-trended null
      t.selectExpr("m AS n_interior", "t AS turning_points",
        """format_string('%.6f',
          |  (CAST(t AS DOUBLE) - 2.0 * CAST(m AS DOUBLE) / 3.0)
          |  / sqrt((16.0 * CAST(m AS DOUBLE) + 3.0) / 90.0)) AS z""".stripMargin,
        """abs((CAST(t AS DOUBLE) - 2.0 * CAST(m AS DOUBLE) / 3.0)
          |  / sqrt((16.0 * CAST(m AS DOUBLE) + 3.0) / 90.0)) >= 1.96
          | AS nonrandom""".stripMargin)
    }),

    // CRAMÉR–VON MISES two-sample statistic between the returned and
    // kept discount distributions — the integral-squared companion to
    // KS (q114, max) and EMD (q205, L1). Σ cᵥ·(cum₁n₂ − cum₂n₁)²
    // rides exact decimal integers over the ≤11-value grid; the
    // T = n₁n₂/(n₁+n₂)²-normalized statistic divides once in a
    // shared tree. One corpus scan.
    "q228_cramer_von_mises" -> ((s, d) => {
      import s.implicits._
      val perv = lineitem(s, d)
        .groupBy((dec($"l_discount") * 100).cast("long").as("disc"))
        .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("c1"),
          sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("c2"))
      val wc = Window.orderBy($"disc").rowsBetween(Window.unboundedPreceding, 0)
      val cum = perv
        .withColumn("cum1", sum($"c1").over(wc))
        .withColumn("cum2", sum($"c2").over(wc))
      val tot = cum.agg(max($"cum1").as("n1"), max($"cum2").as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max($"n1").as("n1"), max($"n2").as("n2"),
          sum(($"c1" + $"c2").cast(D19)
            * ($"cum1".cast(D19) * $"n2".cast(D19)
               - $"cum2".cast(D19) * $"n1".cast(D19))
            * ($"cum1".cast(D19) * $"n2".cast(D19)
               - $"cum2".cast(D19) * $"n1".cast(D19))).as("ssq"))
        .selectExpr("n1", "n2",
          s"CAST(FLOOR($cvmT * 1000000.0) AS BIGINT) AS t_micro",
          s"CAST(FLOOR($cvmT * 1000000.0) AS BIGINT) >= 461000 AS significant")
    }),

    // MARKOV TRANSITION ENTROPY RATE of the per-user event stream:
    // H(next | current) over the q91 transition counts — how
    // predictable is the next action? Transitions come from one
    // user-keyed lag window; every −p·log₂ term is nano-quantized
    // from exact counts BEFORE the Σ over the 25-cell matrix, and
    // efficiency compares against log₂(k) in one tree.
    "q229_transition_entropy" -> ((s, d) => {
      import s.implicits._
      val wl = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val trans = events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev", lag($"event_type", 1).over(wl))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type").agg(count(lit(1)).as("cij"))
      val rows = trans
        .withColumn("ci", sum($"cij").over(
          Window.partitionBy($"prev")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val tot = rows.agg(sum($"cij").as("nn"),
        countDistinct($"event_type").as("k"))
      rows.crossJoin(broadcast(tot))
        .selectExpr("nn", "k",
          """CAST(FLOOR(CAST(cij AS DOUBLE) / CAST(nn AS DOUBLE)
            | * ln(CAST(ci AS DOUBLE) / CAST(cij AS DOUBLE))
            | / ln(2.0) * 1e9) AS BIGINT) AS term_nano""".stripMargin)
        .groupBy($"nn", $"k")
        .agg(sum($"term_nano").as("h_nano"), count(lit(1)).as("n_cells"))
        .selectExpr("nn AS n_transitions", "k AS n_states", "n_cells",
          "h_nano",
          """CAST(FLOOR(CAST(h_nano AS DOUBLE) / 1e9
            | / (ln(CAST(k AS DOUBLE)) / ln(2.0)) * 10000.0) AS BIGINT)
            | AS efficiency_bp""".stripMargin)
    }),

    // HOURLY LOAD PROFILE per event type: Fano factor (variance/mean
    // of hourly counts — Poisson ⇒ 1) and peak-to-mean ratio, the two
    // numbers capacity planning reads off every stream. One hourly
    // census (keyed aggregate), one per-type rollup of exact integer
    // sums; both ratios are shared double trees.
    "q230_hourly_load_profile" -> ((s, d) => {
      import s.implicits._
      val hourly = events(s, d)
        .groupBy($"event_type",
          date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).as("c"))
      hourly.groupBy($"event_type")
        .agg(count(lit(1)).as("n_hours"), sum($"c").as("sc"),
          sum($"c".cast(D19) * $"c".cast(D19)).as("scc"),
          max($"c").as("peak"))
        .selectExpr("event_type", "n_hours", "peak",
          "sc * 1000 DIV n_hours AS mean_milli",
          """CAST(FLOOR(
            | (CAST(n_hours AS DOUBLE) * CAST(scc AS DOUBLE)
            |  - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            | / (CAST(n_hours AS DOUBLE) * CAST(n_hours - 1 AS DOUBLE))
            | / (CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE))
            | * 1000.0) AS BIGINT) AS fano_milli""".stripMargin,
          """CAST(FLOOR(CAST(peak AS DOUBLE)
            | / (CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE))
            | * 1000.0) AS BIGINT) AS par_milli""".stripMargin)
        .orderBy($"event_type")
    })
  )

  /** Two-sample CvM T over (n1, n2, ssq) — shared text. */
  private val cvmT =
    """(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      | / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |    * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
      | * (CAST(ssq AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |       * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))))""".stripMargin

  private val meanD = "(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))"
  private val sdD =
    """sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
      | - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
      | / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))""".stripMargin

  /** Per-group sample variance from (ni, si, sii) — shared text. */
  private val varI =
    """((CAST(ni AS DOUBLE) * CAST(sii AS DOUBLE)
      | - CAST(si AS DOUBLE) * CAST(si AS DOUBLE))
      | / (CAST(ni AS DOUBLE) * CAST(ni - 1 AS DOUBLE)))""".stripMargin

  /** Bartlett B over the quantized group sums (k, nn, s_ln, s_inv,
    * s_ssq) — pooled ln-variance recovered from the kilo-floored SSQ. */
  private val bartlettB =
    """(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
      |   * ln(CAST(s_ssq AS DOUBLE) * 1000.0
      |        / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
      |   - CAST(s_ln AS DOUBLE) / 1000000.0)
      | / (1.0 + (CAST(s_inv AS DOUBLE) / 1000000000.0
      |           - 1.0 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
      |          / (3.0 * (CAST(k AS DOUBLE) - 1.0))))""".stripMargin

  private val gumbelMean = "(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))"
  private val gumbelSd =
    """sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
      | - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
      | / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))""".stripMargin
  private val gumbelBeta =
    s"($gumbelSd * 0.7796968012336093)" // √6/π
  private val gumbelMu =
    s"($gumbelMean - 0.5772156649015329 * $gumbelBeta)"

  val oracles: Map[String, String] = Map(
    "q219_power_mde" ->
      s"""WITH g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sv,
         |    SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(19,0))
         |        * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(19,0))) AS svv
         |  FROM orders)
         |SELECT n,
         |  CAST(FLOOR($meanD) AS BIGINT) AS mean_cents,
         |  CAST(FLOOR($sdD) AS BIGINT) AS sigma_cents,
         |  CAST(FLOOR($ZSUM * sqrt(2.0 * $sdD * $sdD
         |   / (CAST(n AS DOUBLE) / 2.0))) AS BIGINT) AS mde_cents,
         |  CAST(FLOOR($ZSUM * sqrt(2.0 * $sdD * $sdD
         |   / (CAST(n AS DOUBLE) / 2.0)) / ($meanD) * 10000.0) AS BIGINT)
         |   AS mde_bp,
         |  CAST(FLOOR(2.0 * $ZSUM * $ZSUM * $sdD * $sdD
         |   / (0.01 * $meanD * 0.01 * $meanD)) AS BIGINT)
         |   AS n_arm_for_1pct
         |FROM g""".stripMargin,

    "q220_bartlett" ->
      s"""WITH base AS (
         |  SELECT c.c_mktsegment,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |perg AS (
         |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS ni,
         |    CAST(SUM(v) AS BIGINT) AS si,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS sii
         |  FROM base GROUP BY c_mktsegment),
         |per AS (
         |  SELECT ni,
         |    CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ln($varI) * 1000000.0) AS BIGINT) AS lnterm_micro,
         |    CAST(FLOOR(1000000000.0 / CAST(ni - 1 AS DOUBLE)) AS BIGINT) AS invdf_nano,
         |    CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ($varI) / 1000.0) AS BIGINT) AS ssq_kilo
         |  FROM perg),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(ni) AS BIGINT) AS nn,
         |    CAST(SUM(lnterm_micro) AS BIGINT) AS s_ln,
         |    CAST(SUM(invdf_nano) AS BIGINT) AS s_inv,
         |    CAST(SUM(ssq_kilo) AS BIGINT) AS s_ssq
         |  FROM per)
         |SELECT k, nn,
         |  CAST(FLOOR($bartlettB * 1000.0) AS BIGINT) AS b_milli,
         |  CAST(FLOOR($bartlettB * 1000.0) AS BIGINT) >= 9488 AS significant
         |FROM g""".stripMargin,

    "q221_gumbel_extremes" ->
      s"""WITH day AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
         |  FROM lineitem GROUP BY 1),
         |blocks AS (
         |  SELECT date_trunc('month', day) AS mon, CAST(MAX(y) AS BIGINT) AS mx
         |  FROM day GROUP BY 1),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(mx) AS BIGINT) AS sm,
         |    SUM(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS smm
         |  FROM blocks)
         |SELECT n,
         |  CAST(FLOOR($gumbelMu) AS BIGINT) AS mu_cents,
         |  CAST(FLOOR($gumbelBeta) AS BIGINT) AS beta_cents,
         |  CAST(FLOOR($gumbelMu - $gumbelBeta
         |   * ln(-ln(1.0 - 1.0 / 100.0))) AS BIGINT) AS rl100_cents
         |FROM g""".stripMargin,

    "q222_dn_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |firsts AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id),
        |flags AS (
        |  SELECT f.user_id, f.d0,
        |    MAX(CASE WHEN u.day = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
        |    MAX(CASE WHEN u.day = f.d0 + 3 THEN 1 ELSE 0 END) AS r3
        |  FROM firsts f JOIN ud u USING (user_id)
        |  GROUP BY f.user_id, f.d0)
        |SELECT strftime(d0, '%Y-%m-%d') AS cohort_day,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(SUM(r1) AS BIGINT) AS retained_d1,
        |  CAST(SUM(r1) AS BIGINT) * 10000 // CAST(count(*) AS BIGINT) AS d1_bp,
        |  CAST(SUM(r3) AS BIGINT) AS retained_d3,
        |  CAST(SUM(r3) AS BIGINT) * 10000 // CAST(count(*) AS BIGINT) AS d3_bp
        |FROM flags GROUP BY d0 ORDER BY cohort_day""".stripMargin,

    "q223_price_endings" ->
      """WITH census AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100 AS ending,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(o) AS BIGINT) AS n
        |  FROM census),
        |chi AS (
        |  SELECT CAST(FLOOR((CAST(SUM(CAST(o * 100 - n AS DECIMAL(19,0))
        |      * CAST(o * 100 - n AS DECIMAL(19,0))) AS DOUBLE)
        |    / (100.0 * CAST(MAX(n) AS DOUBLE))
        |    + CAST(100 - MAX(k) AS DOUBLE) * CAST(MAX(n) AS DOUBLE) / 100.0)
        |    * 1000.0) AS BIGINT) AS chi2_milli
        |  FROM census CROSS JOIN tot)
        |SELECT ending, o AS n_items, o * 10000 // n AS share_bp, chi2_milli
        |FROM census CROSS JOIN tot CROSS JOIN chi
        |ORDER BY n_items DESC, ending ASC LIMIT 10""".stripMargin,

    "q224_newsvendor" ->
      """WITH day AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
        |  FROM lineitem GROUP BY 1),
        |census AS (
        |  SELECT demand, CAST(count(*) AS BIGINT) AS nv FROM day GROUP BY demand),
        |cum AS (
        |  SELECT demand,
        |    CAST(SUM(nv) OVER (ORDER BY demand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM census),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day)
        |SELECT n AS n_days, demand AS q_star,
        |  cum * 10000 // n AS coverage_bp,
        |  n - cum AS stockout_days,
        |  CAST(8000 AS BIGINT) AS critical_ratio_bp
        |FROM cum CROSS JOIN tot
        |WHERE cum * 10 >= n * 8
        |ORDER BY demand LIMIT 1""".stripMargin,

    "q225_tukey_hsd" ->
      s"""WITH base AS (
         |  SELECT c.c_mktsegment AS seg,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |perg AS (
         |  SELECT seg, CAST(count(*) AS BIGINT) AS ni,
         |    CAST(SUM(v) AS BIGINT) AS si,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS sii
         |  FROM base GROUP BY seg),
         |per AS (
         |  SELECT seg, ni, si,
         |    CAST(FLOOR(CAST(ni - 1 AS DOUBLE) * ($varI) / 1000.0) AS BIGINT) AS ssq_kilo
         |  FROM perg),
         |mse AS (
         |  SELECT (CAST(SUM(ssq_kilo) AS DOUBLE) * 1000.0
         |    / (CAST(SUM(ni) AS DOUBLE) - CAST(count(*) AS DOUBLE))) AS mse_d
         |  FROM per)
         |SELECT a.seg AS seg_a, b.seg AS seg_b,
         |  a.si // a.ni AS mean_a_cents, b.si // b.ni AS mean_b_cents,
         |  abs(a.si // a.ni - b.si // b.ni) AS diff_cents,
         |  CAST(FLOOR(3.86 * sqrt(mse_d / 2.0
         |   * (1.0 / CAST(a.ni AS DOUBLE) + 1.0 / CAST(b.ni AS DOUBLE))))
         |   AS BIGINT) AS hsd_cents,
         |  abs(a.si // a.ni - b.si // b.ni) >
         |  CAST(FLOOR(3.86 * sqrt(mse_d / 2.0
         |   * (1.0 / CAST(a.ni AS DOUBLE) + 1.0 / CAST(b.ni AS DOUBLE))))
         |   AS BIGINT) AS significant
         |FROM per a JOIN per b ON a.seg < b.seg CROSS JOIN mse
         |ORDER BY seg_a, seg_b""".stripMargin,

    "q226_weekday_chi2" ->
      """WITH census AS (
        |  SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM census),
        |chi AS (
        |  SELECT CAST(FLOOR(CAST(SUM(CAST(o * 7 - n AS DECIMAL(19,0))
        |      * CAST(o * 7 - n AS DECIMAL(19,0))) AS DOUBLE)
        |    / (7.0 * CAST(MAX(n) AS DOUBLE)) * 1000.0) AS BIGINT) AS chi2_milli
        |  FROM census CROSS JOIN tot)
        |SELECT dow, o AS n_orders, o * 10000 // n AS share_bp,
        |  chi2_milli, chi2_milli >= 12592 AS significant
        |FROM census CROSS JOIN tot CROSS JOIN chi
        |ORDER BY dow""".stripMargin,

    "q227_turning_points" ->
      """WITH day AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1),
        |lagged AS (
        |  SELECT y, lag(y, 1) OVER (ORDER BY day) AS yp,
        |    lead(y, 1) OVER (ORDER BY day) AS yn
        |  FROM day),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(SUM(CASE WHEN (y > yp AND y > yn) OR (y < yp AND y < yn)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t
        |  FROM lagged WHERE yp IS NOT NULL AND yn IS NOT NULL)
        |SELECT m AS n_interior, t AS turning_points,
        |  printf('%.6f',
        |    (CAST(t AS DOUBLE) - 2.0 * CAST(m AS DOUBLE) / 3.0)
        |    / sqrt((16.0 * CAST(m AS DOUBLE) + 3.0) / 90.0)) AS z,
        |  abs((CAST(t AS DOUBLE) - 2.0 * CAST(m AS DOUBLE) / 3.0)
        |    / sqrt((16.0 * CAST(m AS DOUBLE) + 3.0) / 90.0)) >= 1.96
        |   AS nonrandom
        |FROM g""".stripMargin,

    "q228_cramer_von_mises" ->
      s"""WITH perv AS (
         |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
         |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM lineitem GROUP BY 1),
         |cum AS (
         |  SELECT disc, c1, c2,
         |    CAST(SUM(c1) OVER (ORDER BY disc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
         |    CAST(SUM(c2) OVER (ORDER BY disc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
         |  FROM perv),
         |tot AS (SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
         |               CAST(MAX(cum2) AS BIGINT) AS n2 FROM cum),
         |g AS (
         |  SELECT MAX(n1) AS n1, MAX(n2) AS n2,
         |    SUM(CAST(c1 + c2 AS DECIMAL(19,0))
         |      * (CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
         |         - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0)))
         |      * (CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
         |         - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0)))) AS ssq
         |  FROM cum CROSS JOIN tot)
         |SELECT n1, n2,
         |  CAST(FLOOR($cvmT * 1000000.0) AS BIGINT) AS t_micro,
         |  CAST(FLOOR($cvmT * 1000000.0) AS BIGINT) >= 461000 AS significant
         |FROM g""".stripMargin,

    "q229_transition_entropy" ->
      """WITH trans AS (
        |  SELECT prev, event_type, CAST(count(*) AS BIGINT) AS cij
        |  FROM (
        |    SELECT user_id, event_type,
        |      lag(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS prev
        |    FROM events)
        |  WHERE prev IS NOT NULL
        |  GROUP BY prev, event_type),
        |rows_t AS (
        |  SELECT cij,
        |    CAST(SUM(cij) OVER (PARTITION BY prev) AS BIGINT) AS ci,
        |    event_type
        |  FROM trans),
        |tot AS (
        |  SELECT CAST(SUM(cij) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |  FROM rows_t),
        |terms AS (
        |  SELECT nn, k,
        |    CAST(FLOOR(CAST(cij AS DOUBLE) / CAST(nn AS DOUBLE)
        |     * ln(CAST(ci AS DOUBLE) / CAST(cij AS DOUBLE))
        |     / ln(2.0) * 1e9) AS BIGINT) AS term_nano
        |  FROM rows_t CROSS JOIN tot)
        |SELECT nn AS n_transitions, k AS n_states,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(term_nano) AS BIGINT) AS h_nano,
        |  CAST(FLOOR(CAST(SUM(term_nano) AS DOUBLE) / 1e9
        |   / (ln(CAST(k AS DOUBLE)) / ln(2.0)) * 10000.0) AS BIGINT)
        |   AS efficiency_bp
        |FROM terms GROUP BY nn, k""".stripMargin,

    "q230_hourly_load_profile" ->
      """WITH hourly AS (
        |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS scc,
        |    CAST(MAX(c) AS BIGINT) AS peak
        |  FROM hourly GROUP BY event_type)
        |SELECT event_type, n_hours, peak,
        |  sc * 1000 // n_hours AS mean_milli,
        |  CAST(FLOOR(
        |   (CAST(n_hours AS DOUBLE) * CAST(scc AS DOUBLE)
        |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |   / (CAST(n_hours AS DOUBLE) * CAST(n_hours - 1 AS DOUBLE))
        |   / (CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE))
        |   * 1000.0) AS BIGINT) AS fano_milli,
        |  CAST(FLOOR(CAST(peak AS DOUBLE)
        |   / (CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE))
        |   * 1000.0) AS BIGINT) AS par_milli
        |FROM g ORDER BY event_type""".stripMargin
  )
}
