package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-14 day-series estimators:
  *
  *  - `q242_isotonic_pav` — isotonic (monotone non-decreasing)
  *    regression of daily revenue on time, computed EXACTLY via the
  *    closed-form minimax identity fitted_i = max_{j≤i} min_{k≥i}
  *    mean(y_j..y_k) — the same fit pool-adjacent-violators reaches,
  *    but with no sequential algorithm anywhere: two window passes
  *    over the day-pair frame replace the PAV loop, so the "fit" is
  *    pure relational algebra (the monotone trend floor under a noisy
  *    intake series; also the calibration step of isotonic-calibrated
  *    classifiers).
  *  - `q243_sprt_ab`      — Wald's sequential probability ratio test
  *    on the daily urgent-order fraction: H0 p=0.18 vs H1 p=0.22 at
  *    α = β = 0.05, LLR accumulated day by day, decision = which
  *    boundary the cumulative LLR crosses first (the sequential
  *    monitor that stops a drift test early instead of waiting for a
  *    fixed-horizon z-test like q100).
  *
  * Exactness: both queries carry NO query-time libm at all. The
  * isotonic means are doubles of exact BIGINT prefix-sum differences
  * (cents; exact below 2^53 ≈ $90T total revenue) and min/max only
  * SELECT among deterministic doubles. The SPRT per-trial log terms
  * ln(p1/p0), ln((1−p1)/(1−p0)) and the ln((1−β)/α) boundaries are
  * Scala-precomputed micro-quantized LITERALS inlined into both
  * engines' SQL (the q241 periodogram discipline), so every daily LLR
  * k·La + (n−k)·Lb and its cumulative sum is exact BIGINT arithmetic.
  *
  * Scale: one keyed day-aggregate each (partial+final over the corpus
  * scan), then day-sized everything after. The isotonic pair frame is
  * calendar² ≈ 2.9M rows — a broadcast theta self-join of two
  * day-sized frames whose size depends on the CALENDAR, not the
  * corpus: at 100× volume the pair frame is unchanged while the day
  * aggregate absorbs the growth map-side. SPRT cumulative sums ride
  * the established day-sized global window idiom.
  */
object RelationalQueries17 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  /** q248 decay factors (1−λ)^{2t} = 0.64^t for t = 1..89 as EXACT
    * double literals (17 sig digits round-trips bit-exactly through
    * both engines' parsers); beyond t = 89 the factor is below half an
    * ulp of 1.0, so 1−decay evaluates to exactly 1.0 either way. A
    * Scala-precomputed literal table instead of a per-row fold — the
    * q241 trig discipline — because a multiplicative HOF fold was
    * measured to drift 1 ulp between Spark's codegen'd aggregate and
    * DuckDB's list_reduce. */
  private val DecayCase: String = {
    val ds = Iterator.iterate(1.0)(_ * 0.64).drop(1).take(89).toSeq
    ds.zipWithIndex.map { case (v, i) =>
      f"WHEN t = ${i + 1} THEN CAST(${"%.17e".format(v)} AS DOUBLE)" }
      .mkString("(CASE ", " ", " ELSE CAST(0.0 AS DOUBLE) END)")
  }

  /** SPRT design constants (fixed literals shared with the oracle). */
  private val P0 = 0.18
  private val P1 = 0.22
  /** ln(p1/p0) and ln((1−p1)/(1−p0)) in micro-nats (floor-quantized
    * once in Scala — no libm in either engine at query time). */
  private val LaMicro = math.floor(math.log(P1 / P0) * 1e6).toLong
  private val LbMicro = math.floor(math.log((1 - P1) / (1 - P0)) * 1e6).toLong
  /** Boundaries ln((1−β)/α) = ln 19 and ln(β/(1−α)) = −ln 19 (α=β=.05). */
  private val AMicro = math.floor(math.log(0.95 / 0.05) * 1e6).toLong
  private val BMicro = math.floor(math.log(0.05 / 0.95) * 1e6).toLong

  val queries: Map[String, Q] = Map(
    // ISOTONIC REGRESSION by minimax: day frame → prefix sums →
    // all (j ≤ k) window means → B(j,k) = min_{k'≥k} mean(j..k')
    // (one window min per j, descending k) → fitted_k = max_{j≤k}
    // B(j,k) (one keyed aggregate). Fitted values floor to cents.
    "q242_isotonic_pav" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val idx = day
        .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
        .withColumn("spre", sum($"v").over(Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"t", $"day", $"v", $"spre")
        .localCheckpoint() // day-sized; feeds both sides of the pair join
      val jf = idx.select($"t".as("j"), ($"spre" - $"v").as("sj1"))
      val kf = idx.select($"t".as("k"), $"spre".as("sk"))
      val pairs = jf.join(broadcast(kf), $"j" <= $"k")
        .withColumn("mean_jk",
          ($"sk" - $"sj1").cast("double") / ($"k" - $"j" + 1L).cast("double"))
      val bmin = pairs.withColumn("bjk",
        min($"mean_jk").over(Window.partitionBy($"j").orderBy($"k".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val fitted = bmin.groupBy($"k").agg(max($"bjk").as("fit"))
      idx.join(fitted, $"t" === $"k")
        .selectExpr("date_format(day, 'yyyy-MM-dd') AS day", "v AS v_cents",
          "CAST(FLOOR(fit) AS BIGINT) AS fitted_cents")
        .orderBy($"day")
    }),

    // SPRT: daily (n, k) → exact-integer LLR → cumulative sum →
    // first boundary crossing under the (day) total order.
    "q243_sprt_ab" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).as("k"))
      val cum = day
        .withColumn("llr", $"k" * LaMicro + ($"n" - $"k") * LbMicro)
        .withColumn("cum", sum($"llr").over(Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint() // day-sized
      val stats = cum.agg(count(lit(1)).as("n_days"),
        sum($"llr").as("llr_final_micro"),
        min($"cum").as("llr_min_micro"), max($"cum").as("llr_max_micro"))
      val crossings = cum.agg(
        min(when($"cum" >= AMicro, $"day")).as("d1"),
        min(when($"cum" <= BMicro, $"day")).as("d0"))
      stats.crossJoin(broadcast(crossings)).selectExpr(
        "n_days",
        """CASE WHEN d1 IS NULL AND d0 IS NULL THEN 'continue'
          | WHEN d0 IS NULL OR (d1 IS NOT NULL AND d1 <= d0) THEN 'h1'
          | ELSE 'h0' END AS decision""".stripMargin,
        """COALESCE(date_format(
          |  CASE WHEN d1 IS NULL THEN d0 WHEN d0 IS NULL THEN d1
          |       WHEN d1 <= d0 THEN d1 ELSE d0 END, 'yyyy-MM-dd'),
          | 'none') AS first_cross_day""".stripMargin,
        "llr_final_micro", "llr_min_micro", "llr_max_micro")
    }),

    // SHAPLEY CHANNEL ATTRIBUTION, EXACT: each converter's coalition is
    // the bitmask of channels touched strictly before their FIRST
    // purchase; the value function v(S) = # converters whose coalition
    // ⊆ S (monotone, so every marginal v(S∪c) − v(S) is a non-negative
    // integer), and φ_c·n! = Σ_{S∌c} |S|!(n−1−|S|)!·[v(S∪c) − v(S)]
    // is EXACT BIGINT arithmetic — the factorial weights are literals
    // on the 16-row coalition frame (n = 4 channels). The principled
    // multi-touch credit q94_last_touch_attribution approximates.
    // One corpus scan builds the per-user coalition (keyed aggregate);
    // everything after is 16×16-sized.
    "q244_shapley_attribution" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", $"event_type", $"ts")
      val firstp = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(min($"ts").as("fp"))
      val masks = ev.join(broadcast(firstp), Seq("user_id"))
        .filter($"ts" < $"fp" && $"event_type" =!= "purchase")
        .select($"user_id", $"event_type").distinct()
        .selectExpr("user_id", s"$ChannelBitSql AS bit")
        .groupBy($"user_id").agg(sum($"bit").cast("long").as("mask"))
      val setc = firstp.join(masks, Seq("user_id"), "left")
        .selectExpr("COALESCE(mask, 0) AS mask")
        .groupBy($"mask").agg(count(lit(1)).as("conv"))
        .localCheckpoint() // ≤16 rows; feeds two v() lookups
      val coal = CoalitionRows.toDF("m", "w") // (mask, |S|!(n−1−|S|)!)
      val v = coal.select($"m")
        .join(broadcast(setc), expr("(mask & m) = mask"), "left")
        .groupBy($"m").agg(coalesce(sum($"conv"), lit(0L)).as("vm"))
      val ch = ChannelRows.toDF("channel", "bit")
      ch.crossJoin(broadcast(coal)).filter(expr("(m & bit) = 0"))
        .join(broadcast(v.select($"m", $"vm")), Seq("m"))
        .join(broadcast(v.select($"m".as("mc"), $"vm".as("vmc"))),
          expr("mc = (m | bit)"))
        .groupBy($"channel")
        .agg(sum($"w" * ($"vmc" - $"vm")).cast("long").as("phi_num"))
        .selectExpr("channel", "phi_num",
          "phi_num * 1000 DIV 24 AS phi_milli") // n! = 24; marginals ≥ 0
        .orderBy($"channel")
    }),

    // TWO-SAMPLE ANDERSON–DARLING (tie-weighted Pettitt form): where
    // q228's Cramér–von Mises weights all of [0,1] equally, AD weights
    // the ECDF gap by 1/(H(N−H)) — tail-sensitive distribution-shift
    // detection. Per distinct value: t = c·(N·B − n1·H)²/(H(N−H)n1n2),
    // every operand an exact BIGINT off the same cumulative substrate
    // as q228, per-point micro-quantized BEFORE the sum. The last
    // pooled point (H = N) is excluded by definition (its weight is a
    // 0/0). Asymptotic 5% point 2.492 as a fixed literal.
    "q245_anderson_darling" -> ((s, d) => {
      import s.implicits._
      val perv = lineitem(s, d)
        .groupBy((dec($"l_discount") * 100).cast("long").as("disc"))
        .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("c1"),
          sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("c2"))
      val wc = Window.orderBy($"disc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perv
        .withColumn("b", sum($"c1").over(wc))
        .withColumn("h", sum($"c1" + $"c2").over(wc))
      val tot = cum.agg(max($"b").as("n1"), max($"h").as("nn"))
      cum.crossJoin(broadcast(tot))
        .filter($"h" < $"nn")
        .selectExpr("n1", "nn",
          """CAST(FLOOR(
            |  (CAST(nn AS DOUBLE) * CAST(b AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(h AS DOUBLE))
            |  * (CAST(nn AS DOUBLE) * CAST(b AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(h AS DOUBLE))
            |  / (CAST(h AS DOUBLE) * CAST(nn - h AS DOUBLE))
            |  / (CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE))
            |  * CAST(c1 + c2 AS DOUBLE) * 1e6) AS BIGINT) AS t_micro""".stripMargin)
        .groupBy($"n1", $"nn")
        .agg(sum($"t_micro").cast("long").as("a2_micro"),
          count(lit(1)).as("n_points"))
        .selectExpr("n1", "nn - n1 AS n2", "n_points", "a2_micro",
          "a2_micro >= 2492000 AS significant")
    }),

    // KPSS LEVEL-STATIONARITY TEST on daily order counts — the
    // complement of q239's Dickey–Fuller (DF: H0 = unit root; KPSS:
    // H0 = stationary; agreement of the pair is the real diagnostic).
    // With centered exact integers a_t = n·y_t − Σy and their prefix
    // sums S_t, η = ΣS_t²/(n·Σa_t²) exactly (the n-scalings cancel);
    // both quadratic sums ride DECIMAL(19)² products. 5% critical
    // 0.463 as a fixed literal.
    "q246_kpss_level" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("y"))
      val tot = day.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
      val a = day.crossJoin(broadcast(tot))
        .select($"day", ($"nd" * $"y" - $"sy").cast("long").as("a"), $"nd")
      val wc = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      a.withColumn("sa", sum($"a").over(wc))
        .groupBy()
        .agg(max($"nd").as("n_days"),
          sum($"sa".cast(D19) * $"sa".cast(D19)).as("ssq"),
          sum($"a".cast(D19) * $"a".cast(D19)).as("saa"))
        .selectExpr("n_days",
          """CASE WHEN saa = 0 THEN CAST(0 AS BIGINT)
            | ELSE CAST(FLOOR(CAST(ssq AS DOUBLE)
            |  / (CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)) * 1e6) AS BIGINT)
            | END AS eta_micro""".stripMargin)
        .selectExpr("n_days", "eta_micro", "eta_micro >= 463000 AS nonstationary")
    }),

    // BINARY-SEGMENTATION CHANGEPOINT SEARCH on daily revenue — where
    // q170 TESTS a given break and q127/q154/q234 monitor drift, this
    // FINDS the two strongest level shifts: round 1 picks the split
    // maximizing the SSE gain S_L²/n_L + S_R²/n_R − S²/n over all
    // calendar positions (prefix sums make every candidate O(1)),
    // round 2 re-runs the search inside both segments and keeps the
    // globally best second split (classic binseg order). Gains are
    // doubles of exact cents sums (the ml_decision_tree contract),
    // reported normalized by n (cents²/day; exact-BIGINT-rendered).
    "q247_binseg_changepoints" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val idx = day
        .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
        .withColumn("sp", sum($"v").over(Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint() // day-sized
      val tot = idx.agg(max($"t").as("n"), max($"sp").as("stot"))
        .localCheckpoint()
      val cand1 = idx.crossJoin(broadcast(tot)).filter($"t" < $"n")
        .withColumn("gain", expr(
          """(CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(t AS DOUBLE)
            | + CAST(stot - sp AS DOUBLE) * CAST(stot - sp AS DOUBLE) / CAST(n - t AS DOUBLE)
            | - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin))
      val cp1 = cand1.orderBy($"gain".desc, $"t".asc).limit(1)
        .selectExpr("t AS t1", "sp AS sp1", "n", "stot",
          "date_format(day, 'yyyy-MM-dd') AS cp1_day",
          "CAST(FLOOR(gain / CAST(n AS DOUBLE)) AS BIGINT) AS g1_norm",
          "sp DIV t AS mean1_l_cents",
          "(stot - sp) DIV (n - t) AS mean1_r_cents")
        .localCheckpoint() // 1-row model state
      // two segments (lo, hi] with their boundary prefix sums
      val segs = cp1.selectExpr(
        """stack(2, CAST(0 AS BIGINT), t1, CAST(0 AS BIGINT), sp1, 'L',
          | t1, n, sp1, stot, 'R') AS (lo, hi, slo, shi, side)""".stripMargin)
      val cand2 = idx.join(broadcast(segs), $"t" > $"lo" && $"t" < $"hi")
        .withColumn("gain", expr(
          """(CAST(sp - slo AS DOUBLE) * CAST(sp - slo AS DOUBLE) / CAST(t - lo AS DOUBLE)
            | + CAST(shi - sp AS DOUBLE) * CAST(shi - sp AS DOUBLE) / CAST(hi - t AS DOUBLE)
            | - CAST(shi - slo AS DOUBLE) * CAST(shi - slo AS DOUBLE) / CAST(hi - lo AS DOUBLE))""".stripMargin))
      val cp2 = cand2.orderBy($"gain".desc, $"t".asc).limit(1)
        .selectExpr("date_format(day, 'yyyy-MM-dd') AS cp2_day", "side AS cp2_side",
          "CAST(FLOOR(gain / CAST(hi - lo AS DOUBLE)) AS BIGINT) AS g2_norm")
      cp1.selectExpr("n AS n_days", "cp1_day", "mean1_l_cents", "mean1_r_cents", "g1_norm")
        .crossJoin(broadcast(cp2))
    }),

    // EWMA CONTROL CHART (λ=0.2, L=3) on daily revenue — the
    // small-shift-sensitive SPC member between q151's XmR (big shifts)
    // and q195's p-chart (rates): z_t = λx_t + (1−λ)z_{t−1} seeded at
    // x̄, limits x̄ ± 3σ√(λ/(2−λ)·(1−(1−λ)^{2t})). With λ = 1/5 the z
    // recursion is run ENTIRELY IN INTEGERS: z'_milli = ⌊(4·z_milli +
    // 1000·x)/5⌋ — floor-quantized to milli-cents at every step, so
    // the 2400-step prefix fold is bit-free of float drift (a plain
    // double fold of this length measurably diverges by 1 ulp between
    // Spark's codegen'd HOF and DuckDB's list_reduce — caught by the
    // gate and designed out, not papered over). The decay factor
    // (1−λ)^{2t} and σ ride one single-evaluation double tree each.
    "q248_ewma_chart" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
      val tot = day.agg(count(lit(1)).as("nd"), sum($"v").as("sv"))
      // deviations kilo-cent-quantized BEFORE squaring: the quadratic
      // sum then stays < 2^53, so its BIGINT→DOUBLE cast is EXACT on
      // both engines — a DECIMAL(38) Σa² cast to double diverged by
      // 1 ulp between the engines at sf ≥ 0.01 (the q170 class) and
      // surfaced in the printf'd limits. Width: exact through ~9e4
      // daily kilo-cent deviations² × calendar (≈ sf 15); beyond,
      // re-coarsen the quantum (q188 discipline).
      val a = day.crossJoin(broadcast(tot))
        .selectExpr("day", "v", "nd", "sv",
          """CAST(FLOOR(CAST(v - sv DIV nd AS DOUBLE) / 1000.0) AS BIGINT)
            | AS devk""".stripMargin)
      val sd = a.agg(sum($"devk" * $"devk").cast("long").as("m2k"))
      val wc = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      a.crossJoin(broadcast(sd))
        .withColumn("vals", collect_list($"v").over(wc))
        .selectExpr("day", "v", "CAST(size(vals) AS BIGINT) AS t",
          "(1000 * sv) DIV nd AS mu_milli",
          "CAST(sv AS DOUBLE) / CAST(nd AS DOUBLE) AS mu",
          // sample σ in cents from the exact kilo-cent quadratic sum
          """sqrt(CAST(m2k AS DOUBLE) / CAST(nd - 1 AS DOUBLE))
            | * 1000.0D AS sigma""".stripMargin,
          """aggregate(vals, (1000 * sv) DIV nd,
            | (acc, x) -> (4 * acc + 1000 * x) DIV 5) AS z_milli""".stripMargin)
        .selectExpr("day", "v", "t", "mu_milli", "mu", "z_milli",
          s"3.0D * sigma * sqrt(0.2D / 1.8D * (1.0D - $DecayCase)) AS hw")
        .selectExpr("date_format(day, 'yyyy-MM-dd') AS day", "v AS v_cents", "t",
          "z_milli",
          "format_string('%.6e', mu + hw) AS ucl",
          "format_string('%.6e', mu - hw) AS lcl",
          "CAST(abs(z_milli - mu_milli) AS DOUBLE) / 1000.0D > hw AS ooc")
        .orderBy($"day")
    }),

    // SEASONAL GENERALIZED-ESD: 3 iterative Grubbs rounds over
    // WEEKDAY-deseasonalized daily revenue — q238 flags one outlier
    // and stops; masked second/third outliers (which inflate the SD
    // the single test divides by) need the remove-and-retest rounds,
    // and deseasonalizing first keeps ordinary weekend dips from
    // soaking up the budget. Residuals are milli-floored per row
    // (exact BIGINTs); each round's G = max|a|/√(Σa²/(n−1)) rides the
    // q238 centered-integer machinery on the day-sized remaining set,
    // argmax under the (|a| desc, day) total order, then the day is
    // removed. 3 pointer-checkpointed rounds, unrolled-CTE oracle.
    "q249_seasonal_esd" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("v"))
        .withColumn("w", dayofweek($"day"))
      val wk = day.groupBy($"w")
        .agg(count(lit(1)).as("nw"), sum($"v").as("sw"))
      var rem = day.join(broadcast(wk), Seq("w"))
        .selectExpr("day",
          """CAST(FLOOR((CAST(v AS DOUBLE)
            | - CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)) * 1000.0) AS BIGINT) AS r""".stripMargin)
        .localCheckpoint() // day-sized residual frame
      val out = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      for (i <- 1 to 3) {
        val tot = rem.agg(count(lit(1)).as("n"), sum($"r").as("sr"),
          sum($"r".cast(D19) * $"r".cast(D19)).as("srr"))
        val dev = rem.crossJoin(broadcast(tot))
          .select($"day", $"r", $"n", $"sr", $"srr",
            ($"n" * $"r" - $"sr").cast("long").as("a"))
        val pick = dev.orderBy(abs($"a").desc, $"day".asc).limit(1)
          .selectExpr(s"$i AS round", "date_format(day, 'yyyy-MM-dd') AS outlier_day",
            "n AS n_tested",
            // G = max|a| / √((n·Σr² − (Σr)²)·n/(n−1)) over exact sums
            """CAST(FLOOR(CAST(abs(a) AS DOUBLE)
              | / sqrt((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
              |         - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
              |        * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
              | * 1000.0) AS BIGINT) AS g_milli""".stripMargin,
            "day AS pick_day")
          .localCheckpoint() // 1-row round state
        out += pick.drop("pick_day")
        rem = rem.join(broadcast(pick.select($"pick_day".as("day"))),
          Seq("day"), "left_anti").localCheckpoint()
      }
      out.result().reduce(_ unionByName _).orderBy($"round")
    }),

    // CUPED variance reduction for the A/B readout — the controlled
    // experiment technique q100/q184 lack: each customer's pre-period
    // (1995) revenue is the covariate, θ = cov(X,Y)/var(X) pooled,
    // and the post-period (1996) metric is replaced by Y − θ(X − X̄).
    // Exactness: revenues quantize to kilo-cents so EVERY moment sum
    // (Σxy, n·Σx², (Σx)², the n-scaled adjusted-metric sums) is an
    // exact BIGINT below 2^53 (exact double casts; the q248 lesson
    // institutionalized — widths hold to ~1.5e6 customers, note in
    // PLANS); θ is micro-floored once, so adjusted sums are again
    // pure integers. Arms ride the samp_ab_assign md5 split. One
    // orders scan → customer-level pivot → single-row algebra.
    "q250_cuped_adjust" -> ((s, d) => {
      import s.implicits._
      val rev = orders(s, d)
        .groupBy($"o_custkey", year($"o_orderdate").as("yr"))
        .agg(sum((dec($"o_totalprice") * 100).cast("long")).as("cents"))
      val cust = customer(s, d).select($"c_custkey")
      val xy = cust
        .join(rev.filter($"yr" === 1995)
          .selectExpr("o_custkey AS c_custkey", "cents DIV 1000 AS x"),
          Seq("c_custkey"), "left")
        .join(rev.filter($"yr" === 1996)
          .selectExpr("o_custkey AS c_custkey", "cents DIV 1000 AS y"),
          Seq("c_custkey"), "left")
        .selectExpr("c_custkey", "COALESCE(x, 0) AS x", "COALESCE(y, 0) AS y",
          """CASE WHEN substring(md5(CAST(CAST(c_custkey AS STRING) AS BINARY)), 1, 1) < '8'
            | THEN 'A' ELSE 'B' END AS arm""".stripMargin)
        .localCheckpoint() // customer-sized (x, y, arm) frame
      val m = xy.agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
        sum($"y" * $"y").as("syy"),
        sum(when($"arm" === "A", 1L).otherwise(0L)).as("na"),
        sum(when($"arm" === "A", $"x").otherwise(0L)).as("sxa"),
        sum(when($"arm" === "A", $"y").otherwise(0L)).as("sya"))
        .selectExpr("n", "sx", "sy", "sxx", "sxy", "syy", "na", "sxa", "sya",
          "n - na AS nb", "sx - sxa AS sxb", "sy - sya AS syb",
          // θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), micro-floored once
          """CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
            | / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT) AS th_micro""".stripMargin)
        // n-scaled 1e6-scaled adjusted-metric sums, exact BIGINTs:
        // Σ_g n·Yadj·1e6 = 1e6·n·Σ_g y − θ_micro·(n·Σ_g x − n_g·Σx)
        .selectExpr("n", "na", "nb", "sy", "sya", "syb", "th_micro",
          "sxx", "sxy", "syy", "sx",
          "1000000 * n * sya - th_micro * (n * sxa - na * sx) AS adj_a",
          "1000000 * n * syb - th_micro * (n * sxb - nb * sx) AS adj_b")
      m.selectExpr("n", "na", "nb", "th_micro",
        "sya DIV na AS mean_y_a_kc", "syb DIV nb AS mean_y_b_kc",
        // diffs in micro-kilo-cents, floored from exact-integer ratios
        """CAST(FLOOR(1e6 * (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
          | - CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT) AS diff_raw_microkc""".stripMargin,
        """CAST(FLOOR(CAST(adj_a AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(n AS DOUBLE))
          | - CAST(adj_b AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
          | AS diff_cuped_microkc""".stripMargin,
        // var reduction 1 − var(Yadj)/var(Y) = ρ² in bp, from exact moments
        """CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
          | * CAST(n * sxy - sx * sy AS DOUBLE)
          | / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
          | * 10000.0) AS BIGINT) AS var_reduction_bp""".stripMargin)
    }),

    // PARTIAL CORRELATION of quantity and price CONTROLLING for
    // discount — r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)):
    // the confound-removal step q129/q180 stop short of ("is the
    // qty↔price link real, or does discount drive both?"). Exactness
    // by the two-pass shifted-moments discipline: pass 1 floors the
    // integer means; pass 2 sums INTEGER residual products around
    // them — dx ≤ 50, dy ≤ ~1.2e3 (price in hecto-dollars), dz ≤ 100,
    // so every Σ d_a·d_b stays an exact double cast well past 100×
    // corpus (no n·Σxy−ΣxΣy BIGINT products anywhere — the width trap
    // the raw-moment form hits at 10×). The exact-mean correction
    // S_ab = Σd_a d_b − r_a r_b/n uses residual totals |r| < n. Each
    // correlation micro-floors before the partial formula consumes
    // it; the partial micro-floors before the t-statistic does.
    "q251_partial_corr" -> ((s, d) => {
      import s.implicits._
      def vars(df: DataFrame): DataFrame = df.selectExpr(
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 10000 AS y",
        "CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT) AS z")
      val v = vars(lineitem(s, d))
      val m = v.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"))
        .selectExpr("n", "sx DIV n AS mx", "sy DIV n AS my", "sz DIV n AS mz")
      val c = v.crossJoin(broadcast(m)) // single-row means side
        .selectExpr("n", "x - mx AS dx", "y - my AS dy", "z - mz AS dz")
        .groupBy($"n")
        .agg(sum($"dx" * $"dx").as("qxx"), sum($"dy" * $"dy").as("qyy"),
          sum($"dz" * $"dz").as("qzz"), sum($"dx" * $"dy").as("qxy"),
          sum($"dx" * $"dz").as("qxz"), sum($"dy" * $"dz").as("qyz"),
          sum($"dx").as("rx"), sum($"dy").as("ry"), sum($"dz").as("rz"))
      val corr = c.selectExpr("n",
        s"${rMicroE("qxy", "rx", "ry", "qxx", "qyy")} AS rxy_micro",
        s"${rMicroE("qxz", "rx", "rz", "qxx", "qzz")} AS rxz_micro",
        s"${rMicroE("qyz", "ry", "rz", "qyy", "qzz")} AS ryz_micro")
      corr.selectExpr("n", "rxy_micro", "rxz_micro", "ryz_micro",
          s"$PartialMicroE AS partial_micro")
        .selectExpr("n", "rxy_micro", "rxz_micro", "ryz_micro", "partial_micro",
          s"$PartialTMilliE AS t_milli")
    }),

    // TWO-GROUP LOG-RANK TEST on order→ship fulfillment lag (every
    // line an observed event): do urgent/high-priority orders ship
    // on a different time-to-event distribution than the rest? The
    // inferential complement of q98_survival_km's single-group
    // curve. The lag takes a few thousand DISTINCT day values
    // (bounded by the CALENDAR span, never the corpus), so after one
    // orderkey equi-join the corpus collapses to its (t, d1, d2)
    // death census in one partial+final aggregate; at-risk counts
    // n_g(t) = Σ_{u≥t} d_g(u) are reverse cumulative sums on the
    // lag-sized frame. Per-time hypergeometric terms E1_t = d·n1/n
    // and V_t = d·(n1/n)·(n2/n)·(n−d)/(n−1) micro-floor PER TIME
    // before the cross-time sum (the bartlett discipline), so the
    // z statistic consumes only identical integers.
    "q252_logrank_test" -> ((s, d) => {
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
      ev
        .withColumn("n1", sum($"d1").over(w))
        .withColumn("n2", sum($"d2").over(w))
        .selectExpr("t", "d1", "d2", "n1", "n2", "n1 + n2 AS nt", "d1 + d2 AS dt")
        .selectExpr("t", "d1", "d2", "n1", "n2",
          s"$LogrankE1MicroE AS e1_micro", s"$LogrankVMicroE AS v_micro")
        .withColumn("o1", sum($"d1").over(Window.partitionBy()))
        .withColumn("se1", sum($"e1_micro").over(Window.partitionBy()))
        .withColumn("sv", sum($"v_micro").over(Window.partitionBy()))
        .selectExpr("t", "d1", "d2", "n1", "n2", "e1_micro", "v_micro",
          // z = (O1 − E1)/√V from micro-integer totals
          """CAST(FLOOR(CAST(1000000 * o1 - se1 AS DOUBLE)
            | / sqrt(CAST(sv AS DOUBLE))) AS BIGINT) AS z_milli""".stripMargin)
        .orderBy($"t")
    }),

    // HOTELLING T² two-sample test: does the (quantity, price) MEAN
    // VECTOR differ between returned and kept items? The multivariate
    // closure of q140's univariate Welch/t family — answers in one
    // number what two marginal t-tests plus a correlation argument
    // can't. Same two-pass shifted-moments discipline as q251, per
    // GROUP: integer means floored in pass 1, integer residual
    // products in pass 2 (dx ≤ 50, dy ≤ ~1.2e3 hecto-dollars — exact
    // doubles past 100×), exact-mean corrections from residual
    // totals. Pooled 2×2 covariance, Cramer inverse, and
    // T² = (n1n2/n)·d'W⁻¹d evaluate as ONE shared double tree over
    // identical integers (the q177 pooled-SD idiom), floored at
    // output; the F transform (n−3)/(2(n−2))·T² reuses the floored
    // integer.
    "q253_hotelling_t2" -> ((s, d) => {
      import s.implicits._
      val v = lineitem(s, d).selectExpr(
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g",
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 10000 AS y")
      val m = v.groupBy($"g")
        .agg(count(lit(1)).as("ng"), sum($"x").as("sx"), sum($"y").as("sy"))
        .selectExpr("g", "ng", "sx DIV ng AS mx", "sy DIV ng AS my")
      val c = v.join(broadcast(m), Seq("g")) // 2-row means side
        .selectExpr("g", "ng", "x - mx AS dx", "y - my AS dy", "mx", "my")
        .groupBy($"g", $"ng", $"mx", $"my")
        .agg(sum($"dx" * $"dx").as("qxx"), sum($"dy" * $"dy").as("qyy"),
          sum($"dx" * $"dy").as("qxy"),
          sum($"dx").as("rx"), sum($"dy").as("ry"))
        .selectExpr("g", "ng", "rx", "ry",
          // exact group means as doubles: m + r/n (r < n by floor)
          "CAST(mx AS DOUBLE) + CAST(rx AS DOUBLE) / CAST(ng AS DOUBLE) AS ux",
          "CAST(my AS DOUBLE) + CAST(ry AS DOUBLE) / CAST(ng AS DOUBLE) AS uy",
          // exact-mean-corrected central moments (doubles of exact ints)
          "CAST(qxx AS DOUBLE) - CAST(rx * rx AS DOUBLE) / CAST(ng AS DOUBLE) AS cxx",
          "CAST(qyy AS DOUBLE) - CAST(ry * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cyy",
          "CAST(qxy AS DOUBLE) - CAST(rx * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cxy")
      c.groupBy() // 2 rows → 1: pooled algebra, deterministic sums
        .agg(sum($"ng").as("n"),
          sum(when($"g" === 1, $"ng").otherwise(0L)).as("n1"),
          sum(when($"g" === 1, $"ux").otherwise(0.0)).as("ux1"),
          sum(when($"g" === 1, $"uy").otherwise(0.0)).as("uy1"),
          sum(when($"g" === 0, $"ux").otherwise(0.0)).as("ux0"),
          sum(when($"g" === 0, $"uy").otherwise(0.0)).as("uy0"),
          sum($"cxx").as("wxx"), sum($"cyy").as("wyy"), sum($"cxy").as("wxy"))
        .selectExpr("n", "n1", "n - n1 AS n0",
          "CAST(FLOOR((ux1 - ux0) * 1000.0) AS BIGINT) AS dx_milli",
          "CAST(FLOOR((uy1 - uy0) * 1000.0) AS BIGINT) AS dy_milli",
          s"CAST(FLOOR($HotellingT2E * 1000.0) AS BIGINT) AS t2_milli")
        .selectExpr("n", "n1", "n0", "dx_milli", "dy_milli", "t2_milli",
          // F = (n−3)/(2(n−2))·T² from the floored integer
          """CAST(FLOOR(CAST(n - 3 AS DOUBLE) / (2.0 * CAST(n - 2 AS DOUBLE))
            | * CAST(t2_milli AS DOUBLE)) AS BIGINT) AS f_milli""".stripMargin)
    })
  )

  /** Hotelling T² = (n1·n0/n)·d'W⁻¹d with W the pooled covariance
    * (S1+S2)/(n−2), inverted by 2×2 Cramer — one shared double tree
    * over the exact-moment columns (shared text). */
  private val HotellingT2E =
    """(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
      | * ((ux1 - ux0) * ((wyy / CAST(n - 2 AS DOUBLE)) * (ux1 - ux0)
      |      - (wxy / CAST(n - 2 AS DOUBLE)) * (uy1 - uy0))
      |   + (uy1 - uy0) * ((wxx / CAST(n - 2 AS DOUBLE)) * (uy1 - uy0)
      |      - (wxy / CAST(n - 2 AS DOUBLE)) * (ux1 - ux0)))
      | / ((wxx / CAST(n - 2 AS DOUBLE)) * (wyy / CAST(n - 2 AS DOUBLE))
      |   - (wxy / CAST(n - 2 AS DOUBLE)) * (wxy / CAST(n - 2 AS DOUBLE)))""".stripMargin

  /** Pearson correlation of two centered-residual moment columns in
    * micro units (shared text): S_ab = Σd_a d_b − r_a r_b/n over
    * √(S_aa S_bb), every input an exact BIGINT→DOUBLE cast. */
  private def rMicroE(qab: String, ra: String, rb: String,
      qaa: String, qbb: String): String =
    s"""CAST(FLOOR((CAST($qab AS DOUBLE) - CAST($ra * $rb AS DOUBLE) / CAST(n AS DOUBLE))
       | / sqrt((CAST($qaa AS DOUBLE) - CAST($ra * $ra AS DOUBLE) / CAST(n AS DOUBLE))
       |   * (CAST($qbb AS DOUBLE) - CAST($rb * $rb AS DOUBLE) / CAST(n AS DOUBLE)))
       | * 1e6) AS BIGINT)""".stripMargin

  /** Partial correlation from the three micro-quantized pairwise
    * correlations (shared text; consumes only identical integers). */
  private val PartialMicroE =
    """CAST(FLOOR((CAST(rxy_micro AS DOUBLE) / 1e6
      | - CAST(rxz_micro AS DOUBLE) / 1e6 * CAST(ryz_micro AS DOUBLE) / 1e6)
      | / sqrt((1.0 - CAST(rxz_micro AS DOUBLE) / 1e6 * CAST(rxz_micro AS DOUBLE) / 1e6)
      |   * (1.0 - CAST(ryz_micro AS DOUBLE) / 1e6 * CAST(ryz_micro AS DOUBLE) / 1e6))
      | * 1e6) AS BIGINT)""".stripMargin

  /** t = r√((n−3)/(1−r²)) from the micro-quantized partial (shared
    * text). */
  private val PartialTMilliE =
    """CAST(FLOOR(CAST(partial_micro AS DOUBLE) / 1e6
      | * sqrt(CAST(n - 3 AS DOUBLE)
      |   / (1.0 - CAST(partial_micro AS DOUBLE) / 1e6 * CAST(partial_micro AS DOUBLE) / 1e6))
      | * 1000.0) AS BIGINT)""".stripMargin

  /** Per-time log-rank expectation d·n1/n micro-floored (shared
    * text). */
  private val LogrankE1MicroE =
    """CAST(FLOOR(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
      | / CAST(nt AS DOUBLE) * 1e6) AS BIGINT)""".stripMargin

  /** Per-time hypergeometric variance micro-floored (shared text);
    * the last event time has n = d so the term is exactly 0. */
  private val LogrankVMicroE =
    """CASE WHEN nt > 1 THEN CAST(FLOOR(CAST(dt AS DOUBLE)
      | * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
      | * (CAST(n2 AS DOUBLE) / CAST(nt AS DOUBLE))
      | * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE))
      | * 1e6) AS BIGINT) ELSE 0 END""".stripMargin

  /** Channel → bit assignment (the 4 non-purchase event types). */
  private val ChannelBitSql =
    """CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      | WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END""".stripMargin

  /** All 16 coalitions of the 4 channels with Shapley weights
    * w = |S|!·(n−1−|S|)! (n = 4): 6, 2, 2, 6 by popcount. */
  private val CoalitionRows: Seq[(Long, Long)] = (0 until 16).map { m =>
    val k = java.lang.Integer.bitCount(m)
    val fact = Array(1L, 1L, 2L, 6L, 24L)
    // the |S| = 4 coalition never appears as a "without c" base (the
    // (m & bit) = 0 filter excludes it) — its weight is inert
    (m.toLong, if (k <= 3) fact(k) * fact(3 - k) else 0L)
  }

  private val ChannelRows: Seq[(String, Long)] =
    Seq(("click", 1L), ("error", 2L), ("signup", 4L), ("view", 8L))

  /** Shared VALUES text for the coalition/channel frames (oracle). */
  private val CoalitionSql = CoalitionRows
    .map { case (m, w) => s"($m, $w)" }
    .mkString("(VALUES ", ", ", ") coal(m, w)")
  private val ChannelSql = ChannelRows
    .map { case (c, b) => s"('$c', $b)" }
    .mkString("(VALUES ", ", ", ") ch(channel, bit)")

  val oracles: Map[String, String] = Map(
    "q242_isotonic_pav" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT day, v,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(SUM(v) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS spre
        |  FROM day),
        |pairs AS (
        |  SELECT j.t AS j, k.t AS k,
        |    CAST(k.spre - j.spre + j.v AS DOUBLE)
        |      / CAST(k.t - j.t + 1 AS DOUBLE) AS mean_jk
        |  FROM idx j JOIN idx k ON j.t <= k.t),
        |bmin AS (
        |  SELECT j, k,
        |    MIN(mean_jk) OVER (PARTITION BY j ORDER BY k DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bjk
        |  FROM pairs),
        |fitted AS (SELECT k, MAX(bjk) AS fit FROM bmin GROUP BY k)
        |SELECT strftime(i.day, '%Y-%m-%d') AS day, i.v AS v_cents,
        |  CAST(FLOOR(f.fit) AS BIGINT) AS fitted_cents
        |FROM idx i JOIN fitted f ON f.k = i.t
        |ORDER BY day""".stripMargin,

    "q243_sprt_ab" ->
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k
         |  FROM orders GROUP BY 1),
         |cum AS (
         |  SELECT day, k * $LaMicro + (n - k) * $LbMicro AS llr,
         |    CAST(SUM(k * $LaMicro + (n - k) * $LbMicro) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM day),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(SUM(llr) AS BIGINT) AS llr_final_micro,
         |    CAST(MIN(cum) AS BIGINT) AS llr_min_micro,
         |    CAST(MAX(cum) AS BIGINT) AS llr_max_micro
         |  FROM cum),
         |crossings AS (
         |  SELECT MIN(CASE WHEN cum >= $AMicro THEN day END) AS d1,
         |    MIN(CASE WHEN cum <= $BMicro THEN day END) AS d0
         |  FROM cum)
         |SELECT n_days,
         |  CASE WHEN d1 IS NULL AND d0 IS NULL THEN 'continue'
         |   WHEN d0 IS NULL OR (d1 IS NOT NULL AND d1 <= d0) THEN 'h1'
         |   ELSE 'h0' END AS decision,
         |  COALESCE(strftime(
         |    CASE WHEN d1 IS NULL THEN d0 WHEN d0 IS NULL THEN d1
         |         WHEN d1 <= d0 THEN d1 ELSE d0 END, '%Y-%m-%d'),
         |   'none') AS first_cross_day,
         |  llr_final_micro, llr_min_micro, llr_max_micro
         |FROM stats CROSS JOIN crossings""".stripMargin,

    "q244_shapley_attribution" ->
      s"""WITH firstp AS (
         |  SELECT user_id, MIN(ts) AS fp FROM events
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |touched AS (
         |  SELECT DISTINCT e.user_id, e.event_type
         |  FROM events e JOIN firstp f ON f.user_id = e.user_id
         |  WHERE e.ts < f.fp AND e.event_type <> 'purchase'),
         |masks AS (
         |  SELECT user_id,
         |    CAST(SUM($ChannelBitSql) AS BIGINT) AS mask
         |  FROM touched GROUP BY user_id),
         |setc AS (
         |  SELECT COALESCE(m.mask, 0) AS mask, CAST(count(*) AS BIGINT) AS conv
         |  FROM firstp f LEFT JOIN masks m ON m.user_id = f.user_id
         |  GROUP BY COALESCE(m.mask, 0)),
         |v AS (
         |  SELECT coal.m, CAST(COALESCE(SUM(s.conv), 0) AS BIGINT) AS vm
         |  FROM $CoalitionSql
         |  LEFT JOIN setc s ON (s.mask & coal.m) = s.mask
         |  GROUP BY coal.m)
         |SELECT ch.channel,
         |  CAST(SUM(coal.w * (vc.vm - vb.vm)) AS BIGINT) AS phi_num,
         |  CAST(SUM(coal.w * (vc.vm - vb.vm)) AS BIGINT) * 1000 // 24 AS phi_milli
         |FROM $ChannelSql
         |JOIN $CoalitionSql ON (coal.m & ch.bit) = 0
         |JOIN v vb ON vb.m = coal.m
         |JOIN v vc ON vc.m = (coal.m | ch.bit)
         |GROUP BY ch.channel
         |ORDER BY ch.channel""".stripMargin,

    "q245_anderson_darling" ->
      """WITH perv AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT disc, c1, c2,
        |    CAST(SUM(c1) OVER (ORDER BY disc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS b,
        |    CAST(SUM(c1 + c2) OVER (ORDER BY disc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS h
        |  FROM perv),
        |tot AS (SELECT MAX(b) AS n1, MAX(h) AS nn FROM cum),
        |terms AS (
        |  SELECT n1, nn,
        |    CAST(FLOOR(
        |      (CAST(nn AS DOUBLE) * CAST(b AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(h AS DOUBLE))
        |      * (CAST(nn AS DOUBLE) * CAST(b AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(h AS DOUBLE))
        |      / (CAST(h AS DOUBLE) * CAST(nn - h AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE))
        |      * CAST(c1 + c2 AS DOUBLE) * 1e6) AS BIGINT) AS t_micro
        |  FROM cum CROSS JOIN tot
        |  WHERE h < nn)
        |SELECT n1, nn - n1 AS n2,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(SUM(t_micro) AS BIGINT) AS a2_micro,
        |  CAST(SUM(t_micro) AS BIGINT) >= 2492000 AS significant
        |FROM terms GROUP BY n1, nn""".stripMargin,

    "q246_kpss_level" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS sy FROM day),
        |a AS (
        |  SELECT day, CAST(nd * y - sy AS BIGINT) AS a, nd
        |  FROM day CROSS JOIN tot),
        |sa AS (
        |  SELECT a, nd,
        |    CAST(SUM(a) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sa
        |  FROM a),
        |sums AS (
        |  SELECT MAX(nd) AS n_days,
        |    CAST(SUM(CAST(sa AS DECIMAL(19,0)) * CAST(sa AS DECIMAL(19,0))) AS DOUBLE) AS ssq,
        |    CAST(SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))) AS DOUBLE) AS saa
        |  FROM sa)
        |SELECT n_days,
        |  CASE WHEN saa = 0 THEN CAST(0 AS BIGINT)
        |   ELSE CAST(FLOOR(ssq / (CAST(n_days AS DOUBLE) * saa) * 1e6) AS BIGINT)
        |   END AS eta_micro,
        |  CASE WHEN saa = 0 THEN CAST(0 AS BIGINT)
        |   ELSE CAST(FLOOR(ssq / (CAST(n_days AS DOUBLE) * saa) * 1e6) AS BIGINT)
        |   END >= 463000 AS nonstationary
        |FROM sums""".stripMargin,

    "q247_binseg_changepoints" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT day, v,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(SUM(v) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sp
        |  FROM day),
        |tot AS (SELECT MAX(t) AS n, MAX(sp) AS stot FROM idx),
        |cand1 AS (
        |  SELECT i.*, tot.n, tot.stot,
        |    CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(t AS DOUBLE)
        |     + CAST(stot - sp AS DOUBLE) * CAST(stot - sp AS DOUBLE) / CAST(n - t AS DOUBLE)
        |     - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE) AS gain
        |  FROM idx i CROSS JOIN tot WHERE t < n),
        |cp1 AS (
        |  SELECT t AS t1, sp AS sp1, n, stot,
        |    strftime(day, '%Y-%m-%d') AS cp1_day,
        |    CAST(FLOOR(gain / CAST(n AS DOUBLE)) AS BIGINT) AS g1_norm,
        |    sp // t AS mean1_l_cents,
        |    (stot - sp) // (n - t) AS mean1_r_cents
        |  FROM cand1 ORDER BY gain DESC, t ASC LIMIT 1),
        |segs AS (
        |  SELECT CAST(0 AS BIGINT) AS lo, t1 AS hi, CAST(0 AS BIGINT) AS slo,
        |    sp1 AS shi, 'L' AS side FROM cp1
        |  UNION ALL
        |  SELECT t1, n, sp1, stot, 'R' FROM cp1),
        |cand2 AS (
        |  SELECT i.day, i.t, s.lo, s.hi, s.side,
        |    CAST(i.sp - s.slo AS DOUBLE) * CAST(i.sp - s.slo AS DOUBLE) / CAST(i.t - s.lo AS DOUBLE)
        |     + CAST(s.shi - i.sp AS DOUBLE) * CAST(s.shi - i.sp AS DOUBLE) / CAST(s.hi - i.t AS DOUBLE)
        |     - CAST(s.shi - s.slo AS DOUBLE) * CAST(s.shi - s.slo AS DOUBLE) / CAST(s.hi - s.lo AS DOUBLE) AS gain
        |  FROM idx i JOIN segs s ON i.t > s.lo AND i.t < s.hi),
        |cp2 AS (
        |  SELECT strftime(day, '%Y-%m-%d') AS cp2_day, side AS cp2_side,
        |    CAST(FLOOR(gain / CAST(hi - lo AS DOUBLE)) AS BIGINT) AS g2_norm
        |  FROM cand2 ORDER BY gain DESC, t ASC LIMIT 1)
        |SELECT n AS n_days, cp1_day, mean1_l_cents, mean1_r_cents, g1_norm,
        |  cp2_day, cp2_side, g2_norm
        |FROM cp1 CROSS JOIN cp2""".stripMargin,

    "q248_ewma_chart" ->
      s"""WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(v) AS BIGINT) AS sv FROM day),
        |av AS (
        |  SELECT day, v, nd, sv,
        |    CAST(FLOOR(CAST(v - sv // nd AS DOUBLE) / 1000.0) AS BIGINT) AS devk
        |  FROM day CROSS JOIN tot),
        |sd AS (
        |  SELECT CAST(SUM(devk * devk) AS BIGINT) AS m2k
        |  FROM av),
        |w AS (
        |  SELECT day, v, nd, sv,
        |    list(v) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals
        |  FROM av),
        |n1 AS (
        |  SELECT day, v, CAST(len(vals) AS BIGINT) AS t,
        |    (1000 * sv) // nd AS mu_milli,
        |    CAST(sv AS DOUBLE) / CAST(nd AS DOUBLE) AS mu,
        |    sqrt(CAST(m2k AS DOUBLE) / CAST(nd - 1 AS DOUBLE)) * 1000.0 AS sigma,
        |    CAST(list_reduce(list_prepend((1000 * sv) // nd, vals),
        |      (acc, x) -> (4 * acc + 1000 * x) // 5) AS BIGINT) AS z_milli
        |  FROM w CROSS JOIN sd),
        |n2 AS (
        |  SELECT day, v, t, mu_milli, mu, z_milli,
        |    3.0 * sigma * sqrt(0.2 / 1.8 * (1.0 - $DecayCase)) AS hw
        |  FROM n1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, v AS v_cents, t,
        |  z_milli,
        |  printf('%.6e', mu + hw) AS ucl,
        |  printf('%.6e', mu - hw) AS lcl,
        |  CAST(abs(z_milli - mu_milli) AS DOUBLE) / 1000.0 > hw AS ooc
        |FROM n2 ORDER BY day""".stripMargin,

    "q249_seasonal_esd" -> {
      def round(i: Int): String = {
        val prev = s"rem${i - 1}"
        s"""tot$i AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sr,
           |    SUM(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0))) AS srr
           |  FROM $prev),
           |pick$i AS MATERIALIZED (
           |  SELECT $i AS round, strftime(day, '%Y-%m-%d') AS outlier_day,
           |    n AS n_tested,
           |    CAST(FLOOR(CAST(abs(n * r - sr) AS DOUBLE)
           |      / sqrt((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
           |              - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
           |             * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
           |      * 1000.0) AS BIGINT) AS g_milli,
           |    day AS pick_day
           |  FROM $prev CROSS JOIN tot$i
           |  ORDER BY abs(n * r - sr) DESC, day ASC LIMIT 1),
           |rem$i AS MATERIALIZED (
           |  SELECT day, r FROM $prev
           |  WHERE day NOT IN (SELECT pick_day FROM pick$i))""".stripMargin
      }
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
         |  FROM orders GROUP BY 1),
         |dw AS (SELECT day, v, dayofweek(day) AS w FROM day),
         |wk AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS nw, CAST(SUM(v) AS BIGINT) AS sw
         |  FROM dw GROUP BY w),
         |rem0 AS MATERIALIZED (
         |  SELECT d.day,
         |    CAST(FLOOR((CAST(v AS DOUBLE)
         |      - CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)) * 1000.0) AS BIGINT) AS r
         |  FROM dw d JOIN wk ON wk.w = d.w),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT round, outlier_day, n_tested, g_milli FROM pick1
         |UNION ALL SELECT round, outlier_day, n_tested, g_milli FROM pick2
         |UNION ALL SELECT round, outlier_day, n_tested, g_milli FROM pick3
         |ORDER BY round""".stripMargin
    },

    "q250_cuped_adjust" ->
      """WITH rev AS (
        |  SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |xy AS MATERIALIZED (
        |  SELECT c.c_custkey,
        |    COALESCE(x.cents // 1000, 0) AS x,
        |    COALESCE(y.cents // 1000, 0) AS y,
        |    CASE WHEN substring(md5(CAST(c.c_custkey AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM customer c
        |  LEFT JOIN rev x ON x.o_custkey = c.c_custkey AND x.yr = 1995
        |  LEFT JOIN rev y ON y.o_custkey = c.c_custkey AND y.yr = 1996),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sxa,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS sya
        |  FROM xy),
        |m2 AS (
        |  SELECT n, sx, sy, sxx, sxy, syy, na, sxa, sya,
        |    n - na AS nb, sx - sxa AS sxb, sy - sya AS syb,
        |    CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT) AS th_micro
        |  FROM m),
        |m3 AS (
        |  SELECT *,
        |    1000000 * n * sya - th_micro * (n * sxa - na * sx) AS adj_a,
        |    1000000 * n * syb - th_micro * (n * sxb - nb * sx) AS adj_b
        |  FROM m2)
        |SELECT n, na, nb, th_micro,
        |  sya // na AS mean_y_a_kc, syb // nb AS mean_y_b_kc,
        |  CAST(FLOOR(1e6 * (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT) AS diff_raw_microkc,
        |  CAST(FLOOR(CAST(adj_a AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(n AS DOUBLE))
        |    - CAST(adj_b AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
        |    AS diff_cuped_microkc,
        |  CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
        |    * CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
        |    * 10000.0) AS BIGINT) AS var_reduction_bp
        |FROM m3""".stripMargin,

    "q251_partial_corr" ->
      s"""WITH v AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS y,
         |    CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT) AS z
         |  FROM lineitem),
         |m AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS mx,
         |    CAST(SUM(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS my,
         |    CAST(SUM(z) AS BIGINT) // CAST(count(*) AS BIGINT) AS mz
         |  FROM v),
         |c AS (
         |  SELECT n,
         |    CAST(SUM(dx * dx) AS BIGINT) AS qxx, CAST(SUM(dy * dy) AS BIGINT) AS qyy,
         |    CAST(SUM(dz * dz) AS BIGINT) AS qzz, CAST(SUM(dx * dy) AS BIGINT) AS qxy,
         |    CAST(SUM(dx * dz) AS BIGINT) AS qxz, CAST(SUM(dy * dz) AS BIGINT) AS qyz,
         |    CAST(SUM(dx) AS BIGINT) AS rx, CAST(SUM(dy) AS BIGINT) AS ry,
         |    CAST(SUM(dz) AS BIGINT) AS rz
         |  FROM (SELECT n, x - mx AS dx, y - my AS dy, z - mz AS dz
         |        FROM v CROSS JOIN m)
         |  GROUP BY n),
         |corr AS (
         |  SELECT n,
         |    ${rMicroE("qxy", "rx", "ry", "qxx", "qyy")} AS rxy_micro,
         |    ${rMicroE("qxz", "rx", "rz", "qxx", "qzz")} AS rxz_micro,
         |    ${rMicroE("qyz", "ry", "rz", "qyy", "qzz")} AS ryz_micro
         |  FROM c),
         |p AS (
         |  SELECT n, rxy_micro, rxz_micro, ryz_micro,
         |    $PartialMicroE AS partial_micro
         |  FROM corr)
         |SELECT n, rxy_micro, rxz_micro, ryz_micro, partial_micro,
         |  $PartialTMilliE AS t_milli
         |FROM p""".stripMargin,

    "q252_logrank_test" ->
      s"""WITH ev AS (
         |  SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS t,
         |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS d2
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1),
         |risk AS (
         |  SELECT t, d1, d2,
         |    CAST(SUM(d1) OVER (ORDER BY t DESC) AS BIGINT) AS n1,
         |    CAST(SUM(d2) OVER (ORDER BY t DESC) AS BIGINT) AS n2
         |  FROM ev),
         |base AS (
         |  SELECT t, d1, d2, n1, n2, n1 + n2 AS nt, d1 + d2 AS dt FROM risk),
         |mic AS (
         |  SELECT t, d1, d2, n1, n2,
         |    $LogrankE1MicroE AS e1_micro,
         |    $LogrankVMicroE AS v_micro
         |  FROM base),
         |tot AS (
         |  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         |    CAST(SUM(e1_micro) AS BIGINT) AS se1,
         |    CAST(SUM(v_micro) AS BIGINT) AS sv
         |  FROM mic)
         |SELECT t, d1, d2, n1, n2, e1_micro, v_micro,
         |  CAST(FLOOR(CAST(1000000 * o1 - se1 AS DOUBLE)
         |    / sqrt(CAST(sv AS DOUBLE))) AS BIGINT) AS z_milli
         |FROM mic CROSS JOIN tot
         |ORDER BY t""".stripMargin,

    "q253_hotelling_t2" ->
      s"""WITH v AS (
         |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
         |    CAST(l_quantity AS BIGINT) AS x,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS y
         |  FROM lineitem),
         |m AS MATERIALIZED (
         |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(SUM(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS mx,
         |    CAST(SUM(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS my
         |  FROM v GROUP BY g),
         |c AS (
         |  SELECT g, ng, mx, my,
         |    CAST(SUM(dx * dx) AS BIGINT) AS qxx, CAST(SUM(dy * dy) AS BIGINT) AS qyy,
         |    CAST(SUM(dx * dy) AS BIGINT) AS qxy,
         |    CAST(SUM(dx) AS BIGINT) AS rx, CAST(SUM(dy) AS BIGINT) AS ry
         |  FROM (SELECT v.g, m.ng, m.mx, m.my, v.x - m.mx AS dx, v.y - m.my AS dy
         |        FROM v JOIN m ON v.g = m.g)
         |  GROUP BY g, ng, mx, my),
         |e AS (
         |  SELECT g, ng,
         |    CAST(mx AS DOUBLE) + CAST(rx AS DOUBLE) / CAST(ng AS DOUBLE) AS ux,
         |    CAST(my AS DOUBLE) + CAST(ry AS DOUBLE) / CAST(ng AS DOUBLE) AS uy,
         |    CAST(qxx AS DOUBLE) - CAST(rx * rx AS DOUBLE) / CAST(ng AS DOUBLE) AS cxx,
         |    CAST(qyy AS DOUBLE) - CAST(ry * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cyy,
         |    CAST(qxy AS DOUBLE) - CAST(rx * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cxy
         |  FROM c),
         |p AS (
         |  SELECT CAST(SUM(ng) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN g = 1 THEN ng ELSE 0 END) AS BIGINT) AS n1,
         |    SUM(CASE WHEN g = 1 THEN ux ELSE 0.0 END) AS ux1,
         |    SUM(CASE WHEN g = 1 THEN uy ELSE 0.0 END) AS uy1,
         |    SUM(CASE WHEN g = 0 THEN ux ELSE 0.0 END) AS ux0,
         |    SUM(CASE WHEN g = 0 THEN uy ELSE 0.0 END) AS uy0,
         |    SUM(cxx) AS wxx, SUM(cyy) AS wyy, SUM(cxy) AS wxy
         |  FROM e),
         |t2 AS (
         |  SELECT n, n1, n - n1 AS n0,
         |    CAST(FLOOR((ux1 - ux0) * 1000.0) AS BIGINT) AS dx_milli,
         |    CAST(FLOOR((uy1 - uy0) * 1000.0) AS BIGINT) AS dy_milli,
         |    CAST(FLOOR($HotellingT2E * 1000.0) AS BIGINT) AS t2_milli
         |  FROM p)
         |SELECT n, n1, n0, dx_milli, dy_milli, t2_milli,
         |  CAST(FLOOR(CAST(n - 3 AS DOUBLE) / (2.0 * CAST(n - 2 AS DOUBLE))
         |    * CAST(t2_milli AS DOUBLE)) AS BIGINT) AS f_milli
         |FROM t2""".stripMargin
  )
}
