package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 batch-8 survival / nonlinear-dynamics additions:
  *
  *  - `q254_cox_binary` — Cox proportional-hazards regression with one
  *    binary covariate (urgent/high order priority) on the order→ship
  *    fulfillment lag, fitted by two exact Newton steps on the partial
  *    likelihood (Breslow ties). The REGRESSION closure of
  *    q252_logrank_test: the score statistic at β = 0 is exactly the
  *    log-rank O₁ − E₁ numerator (same per-time hypergeometric means,
  *    same census), so the first Newton step is "the log-rank test,
  *    pointed at estimation" — and the output hazard ratio e^β is the
  *    effect SIZE the log-rank z deliberately doesn't report.
  *  - `q255_sample_entropy` — SampEn(m = 2, r = ⌊0.2σ⌋) of the daily
  *    order-count series: the regularity statistic of the nonlinear-
  *    dynamics family (q208 Hurst measures long-range dependence, q241
  *    the periodic part, q231 linear whiteness; SampEn measures
  *    TEMPLATE repeatability — low for regular/seasonal series, high
  *    for noise, and unlike approximate entropy it has no self-match
  *    bias). −ln(A/B) over template matches of length 2 vs 3.
  *
  * Exactness, q254: the census is integer (t, d1, d2, risk sets as
  * reverse cumsums); with the hazard multiplier held in KILO units
  * (w = ⌊1000·e^β⌋, one libm exp on a single-row frame per step) the
  * per-time risk fraction p = 1e6·n1·w ÷ (n1·w + 1000·n2) is a pure
  * integer floor, so score and information sums consume only identical
  * BIGINTs (widths: n1·w·1e6 ≤ ~4e17 at 10× corpus — inside int64; the
  * Newton ratio U/I is the lone double division, micro-floored).
  * Exactness, q255: day counts, the tolerance and both match counts
  * are integers; the single −ln(A/B) evaluates on one identical
  * rational and milli-floors, with the A = 0 ∨ B = 0 absorbing case
  * guarded to NULL on BOTH engines (DuckDB raises on ln(0)).
  *
  * Scale, q254: one orderkey equi-join collapses the corpus to its
  * lag-sized death census (calendar-bounded, ~5k rows at any corpus
  * size); both Newton passes run on the checkpointed census — corpus
  * touched once. Scale, q255: the day frame is calendar-sized forever;
  * the template pair join is calendar²-bounded (the q242/q233 broadcast
  * pair-frame idiom) and volume-invariant.
  */
object RelationalQueries18 extends graft.QueryModule {
  /** Fixed period grid for the period-gram (q256): sub-weekly through
    * seasonal. The trig factors are SCALA-PRECOMPUTED micro literals
    * (the q241 no-query-time-libm discipline), shipped as a 457-row
    * broadcast lookup keyed by (period, t mod period) — a literal
    * TABLE instead of q241's literal CASE, so 16 periods don't blow
    * janino's 64 KB method limit. */
  private val Periods = Seq(2, 3, 4, 5, 6, 7, 10, 12, 14, 21, 28, 30, 45, 60, 90, 120)

  private lazy val trigRows: Seq[(Long, Long, Long, Long)] = for {
    p <- Periods
    r <- 0 until p
  } yield (p.toLong, r.toLong,
    math.floor(math.cos(2 * math.Pi * r / p) * 1e6).toLong,
    math.floor(math.sin(2 * math.Pi * r / p) * 1e6).toLong)

  private lazy val trigValuesSql: String = trigRows
    .map { case (p, r, c, sn) => s"($p, $r, $c, $sn)" }
    .mkString("(VALUES ", ", ", ") tg(p, r, c, sn)")

  /** ⌊1e9·ln 16⌋ — the max-entropy normalizer literal. */
  private val Ln16Nano = math.floor(math.log(Periods.size.toDouble) * 1e9).toLong

  /** Per-period correlation of the centered day series with a trig
    * factor column (`ac`/`qc` = Σa·f, Σf²; shared text). Σa = 0 by
    * construction, so S_af = Σa·f exactly; the n-scaled denominator
    * keeps every operand an exact BIGINT cast. */
  private def rhoMicroE(ac: String, sc: String, qc: String): String =
    s"""CASE WHEN n * $qc - $sc * $sc = 0 THEN 0
       | ELSE CAST(FLOOR(1000000.0 * CAST(n * $ac AS DOUBLE)
       |   / sqrt(CAST(n * saa AS DOUBLE)
       |     * CAST(n * $qc - $sc * $sc AS DOUBLE))) AS BIGINT) END""".stripMargin

  /** Per-time integer risk fraction p = 1e6·n1·w ÷ (n1·w + 1000·n2)
    * for a kilo-quantized hazard multiplier column/literal `w`
    * (shared text, both engines; all operands non-negative so Spark
    * DIV == DuckDB //). */
  private def coxPE(w: String, div: String): String =
    s"(1000000 * n1 * $w) $div (n1 * $w + 1000 * n2)"

  /** Score/information sums at multiplier `w`: o1 = Σd1 (micro-scaled
    * later), se = Σ dt·p (micro), si = Σ dt·⌊p(1e6−p)/1e6⌋ (micro).
    * The information term floors PER TIME before the cross-time sum
    * (the bartlett discipline). */
  private def coxSumsE(div: String): Seq[String] = Seq(
    "CAST(SUM(d1) AS BIGINT) AS o1",
    s"CAST(SUM(dt * p) AS BIGINT) AS se",
    s"CAST(SUM(dt * ((p * (1000000 - p)) $div 1000000)) AS BIGINT) AS si")

  /** Newton increment Δβ = U/I in micro units from the micro-scaled
    * score u = 1e6·o1 − se and information si (one double division,
    * floored — floor(double) agrees across engines at any sign). */
  private val coxStepE =
    """CAST(FLOOR(1000000.0 * CAST(1000000 * o1 - se AS DOUBLE)
      | / CAST(si AS DOUBLE)) AS BIGINT)""".stripMargin

  val queries: Map[String, Q] = Map(
    // COX PH, one binary covariate, two Newton steps on the census.
    "q254_cox_binary" -> ((s, d) => {
      import s.implicits._
      val ev = lineitem(s, d).select($"l_orderkey", $"l_shipdate")
        .join(orders(s, d).select($"o_orderkey".as("l_orderkey"),
          $"o_orderdate", $"o_orderpriority"), Seq("l_orderkey"))
        .selectExpr(
          "CAST(datediff(l_shipdate, o_orderdate) AS BIGINT) AS t",
          """CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            | THEN 1 ELSE 0 END AS g""".stripMargin)
        .groupBy($"t")
        .agg(sum($"g").cast("long").as("d1"),
          sum(lit(1L) - $"g").cast("long").as("d2"))
      val w = Window.orderBy($"t".desc) // calendar-sized: global window idiom
      val census = ev
        .withColumn("n1", sum($"d1").over(w))
        .withColumn("n2", sum($"d2").over(w))
        .selectExpr("t", "d1", "d2", "n1", "n2", "d1 + d2 AS dt")
        .localCheckpoint() // lag-sized; BOTH Newton passes read this
      // step 1 at β = 0 (w = 1000): p is the log-rank E₁ ratio
      val s1 = census.selectExpr("d1", "dt", s"${coxPE("1000", "DIV")} AS p")
        .selectExpr(coxSumsE("DIV"): _*)
        .selectExpr("o1", "se AS se0", "si AS si0", s"$coxStepE AS b1_micro")
        .localCheckpoint() // 1-row model state
      // step 2 at β₁: w₂ = ⌊1000·e^β₁⌋ — the single libm call, kilo-
      // floored on a 1-row frame before any per-cell arithmetic
      val w2 = s1.selectExpr("o1", "se0", "si0", "b1_micro",
        "CAST(FLOOR(1000.0 * exp(CAST(b1_micro AS DOUBLE) / 1000000.0)) AS BIGINT) AS w2k")
      val s2 = census.crossJoin(broadcast(w2))
        .selectExpr("d1", "dt", "o1", "se0", "si0", "b1_micro", "w2k",
          s"${coxPE("w2k", "DIV")} AS p")
        .groupBy($"o1", $"se0", $"si0", $"b1_micro", $"w2k")
        .agg(expr("CAST(SUM(dt * p) AS BIGINT)").as("se"),
          expr("CAST(SUM(dt * ((p * (1000000 - p)) DIV 1000000)) AS BIGINT)").as("si"))
      s2.selectExpr("o1 AS d1_events", "1000000 * o1 - se0 AS u0_micro",
          "si0 AS i0_micro", "b1_micro",
          "1000000 * o1 - se AS u1_micro", "si AS i1_micro",
          s"b1_micro + $coxStepE AS b2_micro")
        .selectExpr("d1_events", "u0_micro", "i0_micro", "b1_micro",
          "u1_micro", "i1_micro", "b2_micro",
          // hazard ratio e^β₂ in milli — the effect size
          "CAST(FLOOR(1000.0 * exp(CAST(b2_micro AS DOUBLE) / 1000000.0)) AS BIGINT) AS hr_milli")
    }),

    // SAMPLE ENTROPY of the daily order-count series.
    "q255_sample_entropy" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"))
      val wd = Window.orderBy($"day") // calendar-sized: global window idiom
      val idx = day
        .withColumn("i", row_number().over(wd).cast("long"))
        .withColumn("x1", lead($"x", 1).over(wd))
        .withColumn("x2", lead($"x", 2).over(wd))
        .filter($"x2".isNotNull) // templates of length 3 must exist
        .select($"i", $"x", $"x1", $"x2")
        .localCheckpoint() // day-sized; feeds both sides of the pair join
      // tolerance r = ⌊0.2·σ⌋ from exact integer day moments (sqrt is
      // correctly rounded on both engines; n²σ² stays far below 2^53)
      val tol = day.agg(count(lit(1)).as("nd"),
          sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
        .selectExpr("nd",
          """CAST(FLOOR(0.2 * sqrt(CAST(nd * sxx - sx * sx AS DOUBLE))
            | / CAST(nd AS DOUBLE)) AS BIGINT) AS r""".stripMargin)
      val b = idx.select($"i".as("j"), $"x".as("y"), $"x1".as("y1"), $"x2".as("y2"))
      val cnt = idx.join(broadcast(b), $"i" < $"j")
        .crossJoin(broadcast(tol))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(abs($"x" - $"y") <= $"r" && abs($"x1" - $"y1") <= $"r", 1L)
            .otherwise(0L)).as("b_pairs"),
          sum(when(abs($"x" - $"y") <= $"r" && abs($"x1" - $"y1") <= $"r"
            && abs($"x2" - $"y2") <= $"r", 1L).otherwise(0L)).as("a_pairs"))
      cnt.crossJoin(broadcast(tol.select($"nd", $"r")))
        .selectExpr("nd AS n_days", "r AS r_tol", "n_pairs", "b_pairs", "a_pairs",
          // −ln(A/B) = ln(B/A) ≥ 0; absorbing A=0/B=0 guarded to NULL
          // (DuckDB raises on ln(0) — the q98 zflag discipline)
          """CASE WHEN a_pairs = 0 OR b_pairs = 0 THEN CAST(NULL AS BIGINT)
            | ELSE CAST(FLOOR(1000.0 * ln(CAST(b_pairs AS DOUBLE)
            |   / CAST(a_pairs AS DOUBLE))) AS BIGINT) END AS sampen_milli""".stripMargin)
    }),

    // KAPLAN–MEIER WITH GREENWOOD CONFIDENCE BANDS: q98's click→
    // purchase survival curve upgraded with the variance it ships
    // without — Greenwood's Var(S) = S²·Σ d/(n(n−d)) and the clamped
    // 95% band. Same substrate and the same ordered-cumulative-fold
    // exactness contract (every ln/divide operand derives from
    // integer counts under a total window order; the d = n absorbing
    // state is zflag-guarded so ln(0)/div-0 reaches neither engine).
    // Scale: per-user firsts are keyed aggregates; all windows run
    // over DISTINCT DURATIONS — a calendar-bounded set.
    "q259_greenwood_bands" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val fc = ev.filter($"event_type" === "click")
        .groupBy($"user_id").agg(min($"ts").as("fc"))
      val fp = ev.filter($"event_type" === "purchase")
        .join(fc, Seq("user_id"))
        .filter($"ts" >= $"fc")
        .groupBy($"user_id").agg(min($"ts").as("fp"))
      val studyEnd = ev.agg(max($"ts").as("study_end"))
      val users = fc.join(fp, Seq("user_id"), "left")
        .crossJoin(broadcast(studyEnd))
        .select(
          when($"fp".isNotNull, datediff(to_date($"fp"), to_date($"fc")))
            .otherwise(datediff(to_date($"study_end"), to_date($"fc"))).as("dur"),
          $"fp".isNotNull.cast("long").as("event"))
      val byDur = users.groupBy($"dur")
        .agg(sum($"event").as("d_events"), count(lit(1)).as("n_at_dur"))
      val wRisk = Window.orderBy($"dur".desc).rowsBetween(Window.unboundedPreceding, 0)
      val wSurv = Window.orderBy($"dur").rowsBetween(Window.unboundedPreceding, 0)
      byDur
        .withColumn("n_at_risk", sum($"n_at_dur").over(wRisk))
        .withColumn("zflag",
          max(when($"d_events" === $"n_at_risk", 1).otherwise(0)).over(wSurv))
        .withColumn("lnterm",
          when($"d_events" < $"n_at_risk",
            log(lit(1.0) - $"d_events" * lit(1.0) / $"n_at_risk")).otherwise(lit(0.0)))
        .withColumn("gterm",
          when($"d_events" < $"n_at_risk",
            $"d_events" * lit(1.0) / ($"n_at_risk" * ($"n_at_risk" - $"d_events")))
            .otherwise(lit(0.0)))
        .withColumn("surv",
          when($"zflag" === 1, lit(0.0)).otherwise(exp(sum($"lnterm").over(wSurv))))
        .withColumn("se",
          when($"zflag" === 1, lit(0.0))
            .otherwise($"surv" * sqrt(sum($"gterm").over(wSurv))))
        .select($"dur".as("t_days"), $"n_at_risk", $"d_events",
          format_string("%.9f", $"surv").as("survival"),
          format_string("%.9f", $"se").as("greenwood_se"),
          format_string("%.9f",
            greatest($"surv" - lit(1.959963985) * $"se", lit(0.0))).as("ci_lo"),
          format_string("%.9f",
            least($"surv" + lit(1.959963985) * $"se", lit(1.0))).as("ci_hi"))
        .orderBy($"t_days")
    }),

    // PERIOD-GRAM + SPECTRAL ENTROPY of the daily order-count series:
    // correlation power ρ_cos² + ρ_sin² at 16 fixed periods (q241's
    // three seasonal lines widened to a spectrum), then the normalized
    // Shannon entropy of the power SHARES — the one-number "is this
    // series dominated by a few rhythms or spectrally flat?"
    // diagnostic (low entropy = strong seasonality; 1000 = white).
    // Centered series a_t = n·x_t − Σx has Σa = 0 exactly, so every
    // correlation is n-scaled exact-BIGINT moments; ρ micro-floors per
    // (period, phase) cell, powers are pure integer algebra, and the
    // per-period entropy terms −s·ln s quantize per cell before the
    // 16-cell sum (bartlett). Scale: the day frame is calendar-sized;
    // the trig lookup is a 457-row broadcast literal — volume never
    // touches anything past the first aggregate.
    "q256_spectral_entropy" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"))
      val wd = Window.orderBy($"day")
      val tot = day.agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      val a = day.withColumn("t", row_number().over(wd).cast("long"))
        .crossJoin(broadcast(tot))
        .selectExpr("t", "n", "n * x - sx AS a") // centered: Σa = 0
        .localCheckpoint() // day-sized
      val saa = a.groupBy($"n").agg(sum($"a" * $"a").as("saa"))
      val trig = trigRows.toDF("p", "r", "c", "sn")
      val per = a.crossJoin(broadcast(Periods.map(_.toLong).toDF("p")))
        .withColumn("r", pmod($"t", $"p"))
        .join(broadcast(trig), Seq("p", "r"))
        .groupBy($"p")
        .agg(sum($"a" * $"c").as("ac"), sum($"a" * $"sn").as("asn"),
          sum($"c").as("sc"), sum($"sn").as("ssn"),
          sum($"c" * $"c").as("qc"), sum($"sn" * $"sn").as("qsn"))
        .crossJoin(broadcast(saa))
        .selectExpr("p",
          s"${rhoMicroE("ac", "sc", "qc")} AS rc_micro",
          s"${rhoMicroE("asn", "ssn", "qsn")} AS rs_micro")
        .selectExpr("p", "rc_micro", "rs_micro",
          "(rc_micro * rc_micro + rs_micro * rs_micro) DIV 1000000 AS power_micro")
      val totp = per.agg(sum($"power_micro").as("tp"))
      val shares = per.crossJoin(broadcast(totp))
        .selectExpr("p", "rc_micro", "rs_micro", "power_micro",
          """CASE WHEN tp = 0 THEN 0
            | ELSE (1000000 * power_micro) DIV tp END AS share_micro""".stripMargin)
        .selectExpr("p", "rc_micro", "rs_micro", "power_micro", "share_micro",
          // per-cell −s·ln s, nano-floored BEFORE the 16-cell sum
          """CASE WHEN share_micro = 0 THEN 0
            | ELSE CAST(FLOOR(-1.0e9 * (CAST(share_micro AS DOUBLE) / 1.0e6)
            |   * ln(CAST(share_micro AS DOUBLE) / 1.0e6)) AS BIGINT)
            | END AS h_nano_term""".stripMargin)
      val h = shares.agg(sum($"h_nano_term").as("h_nano"))
        .selectExpr("h_nano", s"(1000 * h_nano) DIV $Ln16Nano AS h_norm_milli")
      shares.crossJoin(broadcast(h))
        .select($"p".as("period"), $"rc_micro", $"rs_micro", $"power_micro",
          $"share_micro", $"h_nano", $"h_norm_milli")
        .orderBy($"period")
    }),

    // POISSON GOODNESS-OF-FIT of the lines-per-order distribution:
    // does order size behave Poisson, conditioned on the observed
    // support (orders always have ≥ 1 line)? The distribution-SHAPE
    // complement of q203's dispersion ratio — dispersion ≈ 1 can still
    // hide a non-Poisson shape that the per-cell χ² localizes. The
    // corpus collapses to its ≤ ~10 (k, obs) cells in two keyed
    // aggregates; Poisson terms λ^k/k! evaluate as ORDERED FOLDS of
    // the factors λ/j (j = 1..k) — no libm pow on either engine —
    // nano-quantized per cell before normalization; expected counts
    // and χ² contributions are integer floors.
    "q257_poisson_gof" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("k"))
        .groupBy($"k").agg(count(lit(1)).as("obs"))
      val tot = cells.agg(sum($"obs").as("n"), sum($"k" * $"obs").as("tl"))
      val terms = cells.crossJoin(broadcast(tot))
        .withColumn("lam", $"tl".cast("double") / $"n".cast("double"))
        // λ^k/k! = Π_{j=1..k} λ/j — an ordered fold over ≤ ~10 factors
        .withColumn("term", aggregate(
          transform(sequence(lit(1L), $"k"), j => $"lam" / j.cast("double")),
          lit(1.0), (acc, v) => acc * v))
        .selectExpr("k", "obs", "n", "tl",
          "CAST(FLOOR(1.0e9 * term) AS BIGINT) AS t_nano")
      val norm = terms.agg(sum($"t_nano").as("st"))
      terms.crossJoin(broadcast(norm))
        .selectExpr("k", "obs", "n", "tl",
          "(1000 * n * t_nano) DIV st AS e_milli")
        .selectExpr("k", "obs", "e_milli",
          """CASE WHEN e_milli = 0 THEN 0
            | ELSE ((1000 * obs - e_milli) * (1000 * obs - e_milli)) DIV e_milli
            | END AS contrib_milli""".stripMargin,
          "(1000000 * tl) DIV n AS lam_micro")
        .withColumn("chi2_milli", sum($"contrib_milli").over(Window.partitionBy()))
        .withColumn("df", (count(lit(1)).over(Window.partitionBy())) - 2L)
        .select($"k", $"obs", $"e_milli", $"contrib_milli",
          $"chi2_milli", $"df", $"lam_micro")
        .orderBy($"k")
    }),

    // ENGLE–GRANGER COINTEGRATION (lite) between daily revenue and
    // daily order count: OLS in LEVELS, then a Dickey–Fuller test on
    // the residual series — "do these two series share a common
    // stochastic trend, or does their spread itself wander?" The
    // two-series closure of q239's single-series unit root and q190's
    // lead-lag correlation (which both presuppose stationarity this
    // test CHECKS). Exactness: OLS slope/intercept from exact integer
    // moments (b micro-floored, then a micro-floored FROM the floored
    // b), per-day residuals are pure integer milli-units, and the DF
    // regression consumes only those integers — one shared double
    // tree for the t statistic, compared against the fixed 5%
    // Engle–Granger critical literal. Scale: two keyed day aggregates
    // + calendar-sized windows; corpus touched once.
    "q260_cointegration_eg" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("cents"))
        .selectExpr("day", "x", "cents DIV 1000 AS y") // kilo-cents, exact floor
      val m = day.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
        .selectExpr("n", "sx", "sy",
          """CAST(FLOOR(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
            | / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS b_micro""".stripMargin)
        .selectExpr("n", "b_micro",
          "(1000000 * sy - b_micro * sx) DIV n AS a_micro")
        .localCheckpoint() // 1-row model
      val wd = Window.orderBy($"day")
      val resid = day.crossJoin(broadcast(m))
        .selectExpr("day", "n", "b_micro", "a_micro",
          // e in whole kilo-cents: y − (a + b·x)/1e6, all integer —
          // milli residuals square past int64 at TPC-H's ~$150k
          // order prices (measured at sf0.1)
          "y - (a_micro + b_micro * x) DIV 1000000 AS e")
        .withColumn("e1", lag($"e", 1).over(wd))
        .filter($"e1".isNotNull)
        .selectExpr("n", "b_micro", "a_micro", "e1", "e - e1 AS de")
      resid.groupBy($"n", $"b_micro", $"a_micro")
        .agg(count(lit(1)).as("m"),
          sum($"e1" * $"de").as("num"), sum($"e1" * $"e1").as("den"),
          sum($"de" * $"de").as("sdd"))
        .selectExpr("n AS n_days", "b_micro", "a_micro", "m",
          "CAST(FLOOR(1000000.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT) AS rho_micro",
          s"CAST(FLOOR(1000.0 * $EgTStatE) AS BIGINT) AS t_milli")
        .selectExpr("n_days", "b_micro", "a_micro", "m", "rho_micro", "t_milli",
          // Engle–Granger 5% critical value for 2 variables, large n
          "CASE WHEN t_milli < -3340 THEN 1 ELSE 0 END AS cointegrated_5pct")
    }),

    // UPPER/LOWER TAIL DEPENDENCE between daily revenue and daily
    // order volume: among the top-decile days of one series, what
    // fraction are top-decile in the other (and same for the lower
    // tail)? The copula-flavored dependence diagnostic Pearson/rank
    // correlations average away — two series can correlate 0.6 yet be
    // independent exactly in the tail where capacity planning lives.
    // Decile membership comes from exact row_number ranks under a
    // (value, day) total order; everything downstream is integer
    // counting on the calendar-sized day frame.
    "q261_tail_dependence" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("y"))
      val rx = Window.orderBy($"x", $"day")
      val ry = Window.orderBy($"y", $"day")
      val ranked = day
        .withColumn("rkx", row_number().over(rx).cast("long"))
        .withColumn("rky", row_number().over(ry).cast("long"))
        .localCheckpoint() // day-sized
      val tot = ranked.agg(count(lit(1)).as("n"))
        .selectExpr("n", "n DIV 10 AS k")
      ranked.crossJoin(broadcast(tot))
        .selectExpr("n", "k",
          "CASE WHEN rkx > n - k THEN 1 ELSE 0 END AS ux",
          "CASE WHEN rky > n - k THEN 1 ELSE 0 END AS uy",
          "CASE WHEN rkx <= k THEN 1 ELSE 0 END AS lx",
          "CASE WHEN rky <= k THEN 1 ELSE 0 END AS ly")
        .groupBy($"n", $"k")
        .agg(sum(expr("ux * uy")).cast("long").as("n_upper"),
          sum(expr("lx * ly")).cast("long").as("n_lower"))
        .selectExpr("n AS n_days", "k AS decile_days", "n_upper", "n_lower",
          "(10000 * n_upper) DIV k AS lambda_upper_bp",
          "(10000 * n_lower) DIV k AS lambda_lower_bp",
          // lift vs independence: P(both)/[P(tail)²] = n·n_both/k²
          "(1000 * n * n_upper) DIV (k * k) AS lift_upper_milli",
          "(1000 * n * n_lower) DIV (k * k) AS lift_lower_milli")
    }),

    // TOP-K RANK TURNOVER between consecutive years: how much did the
    // top-20 revenue-part LIST change from 1995 to 1996, graded three
    // ways — set overlap/Jaccard, turnover share, and RANK-BIASED
    // OVERLAP (RBO, p = 0.9), the top-weighted list-similarity measure
    // retrieval evaluation uses where plain Jaccard treats rank 1 and
    // rank 20 alike. The assortment-churn diagnostic for "did the
    // catalog's head rotate?" RBO's (1−p)p^{d−1} weights are Scala-
    // precomputed nano literals; per-depth terms w_d·|A_d ∩ B_d| ÷ d
    // floor per depth cell (20 cells) before the sum. Ranks come from
    // exact integer cents revenue under a (revenue desc, partkey)
    // total order. Scale: one lineitem⋈orders scan → part×year
    // keyed aggregate; everything downstream is top-20-sized.
    "q262_rank_turnover" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey".as("l_orderkey"), $"o_orderdate"),
          Seq("l_orderkey"))
        .filter(year($"o_orderdate").isin(1995, 1996))
        .groupBy(year($"o_orderdate").as("yr"), $"l_partkey".as("p"))
        .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")).as("cents"))
      val wy = Window.partitionBy($"yr").orderBy($"cents".desc, $"p".asc)
      val top = rev.withColumn("r", row_number().over(wy).cast("long"))
        .filter($"r" <= RboDepth).localCheckpoint() // 40 rows
      val pairs = top.filter($"yr" === 1995).select($"p", $"r".as("ra"))
        .join(top.filter($"yr" === 1996).select($"p", $"r".as("rb")), Seq("p"))
      val depths = rboWeights.toDF("d", "w")
      val ov = pairs.crossJoin(broadcast(depths))
        .filter(greatest($"ra", $"rb") <= $"d")
        .groupBy($"d", $"w").agg(count(lit(1)).as("ov"))
      // absent depths (no overlap yet) contribute 0 — left join the grid
      val terms = depths
        .join(ov.select($"d", $"ov"), Seq("d"), "left")
        .selectExpr("d", "w", "COALESCE(ov, CAST(0 AS BIGINT)) AS ov")
        .selectExpr("d", "ov", "(w * ov) DIV d AS term_nano")
      val ov20 = terms.filter($"d" === RboDepth).select($"ov".as("ov_k"))
      terms.agg(sum($"term_nano").as("rbo_nano"))
        .crossJoin(broadcast(ov20))
        .selectExpr(s"CAST($RboDepth AS BIGINT) AS k", "ov_k", "rbo_nano",
          s"(10000 * ov_k) DIV (2 * $RboDepth - ov_k) AS jaccard_bp",
          s"(10000 * ($RboDepth - ov_k)) DIV $RboDepth AS turnover_bp")
    }),

    // ATKINSON INEQUALITY INDEX (ε = 1) of customer revenue:
    // A = 1 − geomean/mean — the welfare-theoretic member of the
    // inequality family (q99 Gini counts rank gaps, q155 Theil is the
    // entropy member; Atkinson states "what fraction of total revenue
    // could be discarded if it were spread evenly, for equal
    // welfare"). Per-customer ln(x) nano-floors PER ROW before the
    // corpus sum (the pNano idiom, exact at any corpus size); the
    // geomean exponential and final ratio are one shared double tree.
    "q263_atkinson_index" -> ((s, d) => {
      import s.implicits._
      val cust = orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("x"))
        .filter($"x" > 0)
      cust
        .selectExpr("x", "CAST(FLOOR(1.0e9 * ln(CAST(x AS DOUBLE))) AS BIGINT) AS lnx")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"lnx").as("slnx"))
        .selectExpr("n", "sx DIV n AS mean_cents",
          "CAST(FLOOR(exp(CAST(slnx DIV n AS DOUBLE) / 1.0e9)) AS BIGINT) AS geomean_cents")
        .selectExpr("n", "mean_cents", "geomean_cents",
          """CAST(FLOOR(1000.0 * (1.0
            | - CAST(geomean_cents AS DOUBLE) / CAST(mean_cents AS DOUBLE)))
            | AS BIGINT) AS atkinson_milli""".stripMargin)
    }),

    // BASS-STYLE ADOPTION-CURVE FIT of cumulative order intake:
    // N_t = a + b·F_{t−1} + c·F²_{t−1} with F the cumulative adoption
    // in PERMILLE of the final total (the scale-free Bass discrete
    // regression — imitation shows as b > 0, saturation as c < 0, and
    // the implied adoption peak at F* = −b/2c). Three-regressor OLS
    // by exact integer moments (F ≤ 1000 keeps ΣF⁴ an exact double at
    // any corpus size) and a Cramer 3×3 solve as one shared double
    // tree — the q113/q216 closed-form discipline; R² via the
    // normal-equation SSE identity on the same moments.
    "q258_bass_diffusion" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("nt"))
      val wd = Window.orderBy($"day")
      val tot = day.agg(sum($"nt").as("ctot"))
      val f = day
        .withColumn("cum", sum($"nt").over(wd
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .selectExpr("nt", "(1000 * (cum - nt)) DIV ctot AS fp") // F_{t−1} permille
        .selectExpr("nt", "fp", "fp * fp AS fp2")
      val m = f.agg(count(lit(1)).as("m0"),
        sum($"fp").as("m1"), sum($"fp2").as("m2"),
        sum($"fp" * $"fp2").as("m3"), sum($"fp2" * $"fp2").as("m4"),
        sum($"nt").as("sy"), sum($"nt" * $"fp").as("syf"),
        sum($"nt" * $"fp2").as("syf2"), sum($"nt" * $"nt").as("syy"))
      m.selectExpr("m0", "sy", "syf", "syf2", "syy", "m1", "m2", "m3", "m4",
          s"$BassDetE AS det")
        .selectExpr("m0", "sy", "syf", "syf2", "syy", "m1", "m2", "m3", "m4", "det",
          s"$BassAE AS ahat", s"$BassBE AS bhat", s"$BassCE AS chat")
        .selectExpr("m0 AS n_days",
          "CAST(FLOOR(1000.0 * ahat) AS BIGINT) AS a_milli",
          "CAST(FLOOR(1000.0 * bhat) AS BIGINT) AS b_milli",
          "CAST(FLOOR(1000.0 * chat) AS BIGINT) AS c_milli",
          // implied adoption peak −b/2c (permille), only if concave
          """CASE WHEN chat >= 0.0 THEN CAST(NULL AS BIGINT)
            | ELSE CAST(FLOOR(-bhat / (2.0 * chat)) AS BIGINT)
            | END AS fstar_permille""".stripMargin,
          // R² = 1 − SSE/SST via the normal-equation identity
          """CAST(FLOOR(1000.0 * (1.0
            | - (CAST(syy AS DOUBLE) - ahat * CAST(sy AS DOUBLE)
            |    - bhat * CAST(syf AS DOUBLE) - chat * CAST(syf2 AS DOUBLE))
            |   / (CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m0 AS DOUBLE))))
            | AS BIGINT) AS r2_milli""".stripMargin)
    })
  )

  /** RBO depth weights (1−p)·p^{d−1} for p = 0.9, d = 1..20, nano-
    * floored in Scala (the literal-table discipline — no query-time
    * pow). */
  private val RboP = 0.9
  private val RboDepth = 20
  private lazy val rboWeights: Seq[(Int, Long)] = (1 to RboDepth).map { dd =>
    (dd, math.floor((1 - RboP) * math.pow(RboP, dd - 1) * 1e9).toLong)
  }
  private lazy val rboWeightsSql: String = rboWeights
    .map { case (dd, w) => s"($dd, $w)" }
    .mkString("(VALUES ", ", ", ") wt(d, w)")

  /** Dickey–Fuller t statistic for the Engle–Granger residual
    * regression: t = ρ̂·√den / s with ρ̂ = num/den (UNfloored inside
    * the shared tree) and s² = (Σde² − num²/den)/(m − 2) — one double
    * tree over the exact integer sums num/den/sdd/m (shared text). */
  private val EgTStatE =
    """((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * sqrt(CAST(den AS DOUBLE))
      | / sqrt((CAST(sdd AS DOUBLE)
      |   - CAST(num AS DOUBLE) * CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
      |   / CAST(m - 2 AS DOUBLE)))""".stripMargin

  /** 3×3 Cramer pieces for the Bass normal equations over the exact
    * moment columns m0..m4, sy, syf, syf2 (shared text, both engines).
    * Design matrix rows: (m0 m1 m2; m1 m2 m3; m2 m3 m4). */
  private val BassDetE =
    """(CAST(m0 AS DOUBLE) * (CAST(m2 AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE))
      | - CAST(m1 AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(m2 AS DOUBLE))
      | + CAST(m2 AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(m3 AS DOUBLE) - CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)))""".stripMargin
  private val BassAE =
    """((CAST(sy AS DOUBLE) * (CAST(m2 AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE))
      | - CAST(m1 AS DOUBLE) * (CAST(syf AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(syf2 AS DOUBLE))
      | + CAST(m2 AS DOUBLE) * (CAST(syf AS DOUBLE) * CAST(m3 AS DOUBLE) - CAST(m2 AS DOUBLE) * CAST(syf2 AS DOUBLE))) / det)""".stripMargin
  private val BassBE =
    """((CAST(m0 AS DOUBLE) * (CAST(syf AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(syf2 AS DOUBLE))
      | - CAST(sy AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(m4 AS DOUBLE) - CAST(m3 AS DOUBLE) * CAST(m2 AS DOUBLE))
      | + CAST(m2 AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(syf2 AS DOUBLE) - CAST(syf AS DOUBLE) * CAST(m2 AS DOUBLE))) / det)""".stripMargin
  private val BassCE =
    """((CAST(m0 AS DOUBLE) * (CAST(m2 AS DOUBLE) * CAST(syf2 AS DOUBLE) - CAST(syf AS DOUBLE) * CAST(m3 AS DOUBLE))
      | - CAST(m1 AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(syf2 AS DOUBLE) - CAST(syf AS DOUBLE) * CAST(m2 AS DOUBLE))
      | + CAST(sy AS DOUBLE) * (CAST(m1 AS DOUBLE) * CAST(m3 AS DOUBLE) - CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))) / det)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q254_cox_binary" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT t, d1, d2,
         |    CAST(SUM(d1) OVER (ORDER BY t DESC) AS BIGINT) AS n1,
         |    CAST(SUM(d2) OVER (ORDER BY t DESC) AS BIGINT) AS n2,
         |    d1 + d2 AS dt
         |  FROM (
         |    SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS t,
         |      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS d2
         |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |    GROUP BY 1)),
         |s1 AS MATERIALIZED (
         |  SELECT ${coxSumsE("//").mkString(", ")}
         |  FROM (SELECT d1, dt, ${coxPE("1000", "//")} AS p FROM ev)),
         |b1 AS MATERIALIZED (
         |  SELECT o1, se AS se0, si AS si0, $coxStepE AS b1_micro,
         |    CAST(FLOOR(1000.0 * exp(CAST($coxStepE AS DOUBLE) / 1000000.0)) AS BIGINT) AS w2k
         |  FROM s1),
         |s2 AS (
         |  SELECT o1, se0, si0, b1_micro,
         |    ${coxSumsE("//").drop(1).mkString(", ")}
         |  FROM (SELECT d1, dt, o1, se0, si0, b1_micro,
         |          ${coxPE("w2k", "//")} AS p
         |        FROM ev CROSS JOIN b1)
         |  GROUP BY o1, se0, si0, b1_micro),
         |fin AS (
         |  SELECT o1 AS d1_events, 1000000 * o1 - se0 AS u0_micro,
         |    si0 AS i0_micro, b1_micro,
         |    1000000 * o1 - se AS u1_micro, si AS i1_micro,
         |    b1_micro + $coxStepE AS b2_micro
         |  FROM s2)
         |SELECT d1_events, u0_micro, i0_micro, b1_micro, u1_micro, i1_micro,
         |  b2_micro,
         |  CAST(FLOOR(1000.0 * exp(CAST(b2_micro AS DOUBLE) / 1000000.0)) AS BIGINT) AS hr_milli
         |FROM fin""".stripMargin,

    "q255_sample_entropy" ->
      """WITH day AS MATERIALIZED (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS MATERIALIZED (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x,
        |    LEAD(x, 1) OVER (ORDER BY day) AS x1,
        |    LEAD(x, 2) OVER (ORDER BY day) AS x2
        |  FROM day QUALIFY x2 IS NOT NULL),
        |tol AS MATERIALIZED (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(FLOOR(0.2 * sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE))
        |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS r
        |  FROM day),
        |cnt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN abs(a.x - b.x) <= r AND abs(a.x1 - b.x1) <= r
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b_pairs,
        |    CAST(SUM(CASE WHEN abs(a.x - b.x) <= r AND abs(a.x1 - b.x1) <= r
        |      AND abs(a.x2 - b.x2) <= r THEN 1 ELSE 0 END) AS BIGINT) AS a_pairs
        |  FROM idx a JOIN idx b ON a.i < b.i CROSS JOIN tol)
        |SELECT nd AS n_days, r AS r_tol, n_pairs, b_pairs, a_pairs,
        |  CASE WHEN a_pairs = 0 OR b_pairs = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(FLOOR(1000.0 * ln(CAST(b_pairs AS DOUBLE)
        |      / CAST(a_pairs AS DOUBLE))) AS BIGINT) END AS sampen_milli
        |FROM cnt CROSS JOIN tol""".stripMargin,

    "q259_greenwood_bands" ->
      """WITH fc AS (
        |  SELECT user_id, MIN(ts) AS fc FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts) AS fp
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fc.fc
        |  GROUP BY e.user_id),
        |se AS (SELECT MAX(ts) AS study_end FROM events),
        |u AS (
        |  SELECT CASE WHEN fp.fp IS NOT NULL
        |           THEN date_diff('day', CAST(fc.fc AS DATE), CAST(fp.fp AS DATE))
        |           ELSE date_diff('day', CAST(fc.fc AS DATE), CAST(se.study_end AS DATE)) END AS dur,
        |    CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |  FROM fc LEFT JOIN fp USING (user_id) CROSS JOIN se),
        |bd AS (
        |  SELECT dur, CAST(SUM(event) AS BIGINT) AS d_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_at_dur
        |  FROM u GROUP BY dur),
        |r AS (
        |  SELECT *, CAST(SUM(n_at_dur) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_at_risk
        |  FROM bd),
        |k AS (
        |  SELECT *,
        |    MAX(CASE WHEN d_events = n_at_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS zflag,
        |    exp(SUM(CASE WHEN d_events < n_at_risk
        |              THEN ln(1.0 - d_events * 1.0 / n_at_risk) ELSE 0.0 END)
        |      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)) AS surv0,
        |    SUM(CASE WHEN d_events < n_at_risk
        |          THEN d_events * 1.0 / (n_at_risk * (n_at_risk - d_events))
        |          ELSE 0.0 END)
        |      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS gsum
        |  FROM r),
        |fin AS (
        |  SELECT dur, n_at_risk, d_events,
        |    CASE WHEN zflag = 1 THEN 0.0 ELSE surv0 END AS surv,
        |    CASE WHEN zflag = 1 THEN 0.0 ELSE surv0 * sqrt(gsum) END AS sev
        |  FROM k)
        |SELECT dur AS t_days, n_at_risk, d_events,
        |  printf('%.9f', surv) AS survival,
        |  printf('%.9f', sev) AS greenwood_se,
        |  printf('%.9f', GREATEST(surv - 1.959963985 * sev, 0.0)) AS ci_lo,
        |  printf('%.9f', LEAST(surv + 1.959963985 * sev, 1.0)) AS ci_hi
        |FROM fin ORDER BY t_days""".stripMargin,

    "q256_spectral_entropy" ->
      s"""WITH day AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx FROM day),
         |a AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
         |    n, n * x - sx AS a
         |  FROM day CROSS JOIN tot),
         |saa AS (SELECT n, CAST(SUM(a * a) AS BIGINT) AS saa FROM a GROUP BY n),
         |mom AS (
         |  SELECT tg.p,
         |    CAST(SUM(a.a * tg.c) AS BIGINT) AS ac, CAST(SUM(a.a * tg.sn) AS BIGINT) AS asn,
         |    CAST(SUM(tg.c) AS BIGINT) AS sc, CAST(SUM(tg.sn) AS BIGINT) AS ssn,
         |    CAST(SUM(CAST(tg.c AS BIGINT) * tg.c) AS BIGINT) AS qc,
         |    CAST(SUM(CAST(tg.sn AS BIGINT) * tg.sn) AS BIGINT) AS qsn
         |  FROM a JOIN $trigValuesSql ON (a.t % tg.p) = tg.r
         |  GROUP BY tg.p),
         |per AS MATERIALIZED (
         |  SELECT p, rc_micro, rs_micro,
         |    (rc_micro * rc_micro + rs_micro * rs_micro) // 1000000 AS power_micro
         |  FROM (
         |    SELECT p,
         |      ${rhoMicroE("ac", "sc", "qc")} AS rc_micro,
         |      ${rhoMicroE("asn", "ssn", "qsn")} AS rs_micro
         |    FROM mom CROSS JOIN saa)),
         |totp AS (SELECT CAST(SUM(power_micro) AS BIGINT) AS tp FROM per),
         |shares AS MATERIALIZED (
         |  SELECT p, rc_micro, rs_micro, power_micro, share_micro,
         |    CASE WHEN share_micro = 0 THEN 0
         |      ELSE CAST(FLOOR(-1.0e9 * (CAST(share_micro AS DOUBLE) / 1.0e6)
         |        * ln(CAST(share_micro AS DOUBLE) / 1.0e6)) AS BIGINT)
         |      END AS h_nano_term
         |  FROM (
         |    SELECT p, rc_micro, rs_micro, power_micro,
         |      CASE WHEN tp = 0 THEN 0
         |        ELSE (1000000 * power_micro) // tp END AS share_micro
         |    FROM per CROSS JOIN totp)),
         |h AS (
         |  SELECT CAST(SUM(h_nano_term) AS BIGINT) AS h_nano,
         |    (1000 * CAST(SUM(h_nano_term) AS BIGINT)) // $Ln16Nano AS h_norm_milli
         |  FROM shares)
         |SELECT p AS period, rc_micro, rs_micro, power_micro, share_micro,
         |  h_nano, h_norm_milli
         |FROM shares CROSS JOIN h
         |ORDER BY period""".stripMargin,

    "q257_poisson_gof" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS obs FROM (
        |    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
        |    FROM lineitem GROUP BY l_orderkey)
        |  GROUP BY k),
        |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n, CAST(SUM(k * obs) AS BIGINT) AS tl FROM cells),
        |terms AS MATERIALIZED (
        |  SELECT k, obs, n, tl,
        |    CAST(FLOOR(1.0e9 * list_reduce(
        |      list_prepend(CAST(1.0 AS DOUBLE),
        |        list_transform(range(1, k + 1),
        |          j -> (CAST(tl AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(j AS DOUBLE))),
        |      (acc, v) -> acc * v)) AS BIGINT) AS t_nano
        |  FROM cells CROSS JOIN tot),
        |norm AS (SELECT CAST(SUM(t_nano) AS BIGINT) AS st FROM terms),
        |e AS (
        |  SELECT k, obs, n, tl, (1000 * n * t_nano) // st AS e_milli
        |  FROM terms CROSS JOIN norm),
        |c AS (
        |  SELECT k, obs, e_milli,
        |    CASE WHEN e_milli = 0 THEN 0
        |      ELSE ((1000 * obs - e_milli) * (1000 * obs - e_milli)) // e_milli
        |      END AS contrib_milli,
        |    (1000000 * tl) // n AS lam_micro
        |  FROM e)
        |SELECT k, obs, e_milli, contrib_milli,
        |  CAST(SUM(contrib_milli) OVER () AS BIGINT) AS chi2_milli,
        |  CAST(COUNT(*) OVER () AS BIGINT) - 2 AS df,
        |  lam_micro
        |FROM c ORDER BY k""".stripMargin,

    "q260_cointegration_eg" ->
      s"""WITH day AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         |      // 1000 AS y
         |  FROM orders GROUP BY 1),
         |mo AS MATERIALIZED (
         |  SELECT n, b_micro, (1000000 * sy - b_micro * sx) // n AS a_micro FROM (
         |    SELECT n, sx, sy,
         |      CAST(FLOOR(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS b_micro
         |    FROM (
         |      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         |        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx
         |      FROM day))),
         |resid AS (
         |  SELECT n, b_micro, a_micro, e,
         |    LAG(e) OVER (ORDER BY day) AS e1
         |  FROM (
         |    SELECT day, n, b_micro, a_micro,
         |      y - (a_micro + b_micro * x) // 1000000 AS e
         |    FROM day CROSS JOIN mo)),
         |s AS (
         |  SELECT n, b_micro, a_micro, CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(e1 * (e - e1)) AS BIGINT) AS num,
         |    CAST(SUM(e1 * e1) AS BIGINT) AS den,
         |    CAST(SUM((e - e1) * (e - e1)) AS BIGINT) AS sdd
         |  FROM resid WHERE e1 IS NOT NULL
         |  GROUP BY n, b_micro, a_micro),
         |f AS (
         |  SELECT n AS n_days, b_micro, a_micro, m,
         |    CAST(FLOOR(1000000.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT) AS rho_micro,
         |    CAST(FLOOR(1000.0 * $EgTStatE) AS BIGINT) AS t_milli
         |  FROM s)
         |SELECT n_days, b_micro, a_micro, m, rho_micro, t_milli,
         |  CASE WHEN t_milli < -3340 THEN 1 ELSE 0 END AS cointegrated_5pct
         |FROM f""".stripMargin,

    "q261_tail_dependence" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |ranked AS MATERIALIZED (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY x, day) AS BIGINT) AS rkx,
        |    CAST(ROW_NUMBER() OVER (ORDER BY y, day) AS BIGINT) AS rky
        |  FROM day),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) // 10 AS k
        |        FROM ranked),
        |c AS (
        |  SELECT n, k,
        |    CAST(SUM(CASE WHEN rkx > n - k AND rky > n - k THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
        |    CAST(SUM(CASE WHEN rkx <= k AND rky <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_lower
        |  FROM ranked CROSS JOIN tot
        |  GROUP BY n, k)
        |SELECT n AS n_days, k AS decile_days, n_upper, n_lower,
        |  (10000 * n_upper) // k AS lambda_upper_bp,
        |  (10000 * n_lower) // k AS lambda_lower_bp,
        |  (1000 * n * n_upper) // (k * k) AS lift_upper_milli,
        |  (1000 * n * n_lower) // (k * k) AS lift_lower_milli
        |FROM c""".stripMargin,

    "q262_rank_turnover" ->
      s"""WITH rev AS (
         |  SELECT EXTRACT(year FROM o.o_orderdate) AS yr, l.l_partkey AS p,
         |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE EXTRACT(year FROM o.o_orderdate) IN (1995, 1996)
         |  GROUP BY 1, 2),
         |top AS MATERIALIZED (
         |  SELECT yr, p, r FROM (
         |    SELECT yr, p,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY cents DESC, p ASC) AS BIGINT) AS r
         |    FROM rev)
         |  WHERE r <= $RboDepth),
         |pairs AS (
         |  SELECT a.p, a.r AS ra, b.r AS rb
         |  FROM (SELECT p, r FROM top WHERE yr = 1995) a
         |  JOIN (SELECT p, r FROM top WHERE yr = 1996) b USING (p)),
         |ov AS (
         |  SELECT wt.d, wt.w,
         |    CAST(COALESCE(SUM(CASE WHEN GREATEST(pairs.ra, pairs.rb) <= wt.d
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS ov
         |  FROM $rboWeightsSql LEFT JOIN pairs ON TRUE
         |  GROUP BY wt.d, wt.w),
         |terms AS (
         |  SELECT d, ov, (CAST(w AS BIGINT) * ov) // d AS term_nano FROM ov),
         |ovk AS (SELECT ov AS ov_k FROM terms WHERE d = $RboDepth)
         |SELECT CAST($RboDepth AS BIGINT) AS k, ov_k,
         |  CAST(SUM(term_nano) AS BIGINT) AS rbo_nano,
         |  (10000 * ov_k) // (2 * $RboDepth - ov_k) AS jaccard_bp,
         |  (10000 * ($RboDepth - ov_k)) // $RboDepth AS turnover_bp
         |FROM terms CROSS JOIN ovk
         |GROUP BY ov_k""".stripMargin,

    "q263_atkinson_index" ->
      """WITH cust AS (
        |  SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |  HAVING SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) > 0),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(FLOOR(1.0e9 * ln(CAST(x AS DOUBLE))) AS BIGINT)) AS BIGINT) AS slnx
        |  FROM cust),
        |g AS (
        |  SELECT n, sx // n AS mean_cents,
        |    CAST(FLOOR(exp(CAST(slnx // n AS DOUBLE) / 1.0e9)) AS BIGINT) AS geomean_cents
        |  FROM s)
        |SELECT n, mean_cents, geomean_cents,
        |  CAST(FLOOR(1000.0 * (1.0
        |    - CAST(geomean_cents AS DOUBLE) / CAST(mean_cents AS DOUBLE)))
        |    AS BIGINT) AS atkinson_milli
        |FROM g""".stripMargin,

    "q258_bass_diffusion" ->
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS nt
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS ctot FROM day),
         |f AS (
         |  SELECT nt, fp, fp * fp AS fp2 FROM (
         |    SELECT nt,
         |      (1000 * (CAST(SUM(nt) OVER (ORDER BY day) AS BIGINT) - nt)) // ctot AS fp
         |    FROM day CROSS JOIN tot)),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m0,
         |    CAST(SUM(fp) AS BIGINT) AS m1, CAST(SUM(fp2) AS BIGINT) AS m2,
         |    CAST(SUM(fp * fp2) AS BIGINT) AS m3, CAST(SUM(fp2 * fp2) AS BIGINT) AS m4,
         |    CAST(SUM(nt) AS BIGINT) AS sy, CAST(SUM(nt * fp) AS BIGINT) AS syf,
         |    CAST(SUM(nt * fp2) AS BIGINT) AS syf2, CAST(SUM(nt * nt) AS BIGINT) AS syy
         |  FROM f),
         |dd AS (
         |  SELECT m0, sy, syf, syf2, syy, m1, m2, m3, m4, $BassDetE AS det FROM m),
         |co AS (
         |  SELECT m0, sy, syf, syf2, syy, m1, m2, m3, m4, det,
         |    $BassAE AS ahat, $BassBE AS bhat, $BassCE AS chat
         |  FROM dd)
         |SELECT m0 AS n_days,
         |  CAST(FLOOR(1000.0 * ahat) AS BIGINT) AS a_milli,
         |  CAST(FLOOR(1000.0 * bhat) AS BIGINT) AS b_milli,
         |  CAST(FLOOR(1000.0 * chat) AS BIGINT) AS c_milli,
         |  CASE WHEN chat >= 0.0 THEN CAST(NULL AS BIGINT)
         |    ELSE CAST(FLOOR(-bhat / (2.0 * chat)) AS BIGINT)
         |    END AS fstar_permille,
         |  CAST(FLOOR(1000.0 * (1.0
         |    - (CAST(syy AS DOUBLE) - ahat * CAST(sy AS DOUBLE)
         |       - bhat * CAST(syf AS DOUBLE) - chat * CAST(syf2 AS DOUBLE))
         |      / (CAST(syy AS DOUBLE)
         |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m0 AS DOUBLE))))
         |    AS BIGINT) AS r2_milli
         |FROM co""".stripMargin
  )
}
