package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-15 batch 5 — the nonparametric/extreme-value corner of the
  * statistics battery:
  *
  *  - `q275_pettitt_test`    — Pettitt's rank-based changepoint test
  *    per event type's daily revenue series: U_t = 2·S_t − t·(n+1)
  *    on midranks (2×-scaled to stay integer), K = max|U_t|, the
  *    nonparametric sibling of CUSUM (q127) / binseg (q247) / PH
  *    (q270) that needs no variance estimate.
  *  - `q276_cliffs_delta`    — Cliff's δ dominance effect size between
  *    'A' and 'R' returnflag quantities: (#(x>y) − #(x<y))/(n_a·n_r)
  *    from the two ≤50-row distinct-value tables — the robust
  *    companion to q177's Cohen's d.
  *  - `q277_kendall_w`       — Kendall's coefficient of concordance:
  *    do the event types (raters) rank the days (items) consistently
  *    by revenue? Tie-corrected, on 2×-scaled midranks so every sum
  *    is integer until the final division.
  *  - `q278_hill_estimator`  — Hill tail-index of the customer revenue
  *    distribution over the top k = 100 order statistics: the
  *    heavy-tail diagnostic behind "is revenue Pareto, and how fat?".
  *    Per-item ln terms are nano-floored BEFORE the k-sum (the
  *    quantize-before-Σ idiom); the order statistics come from a
  *    TakeOrdered, never a global sort.
  *  - `q279_gumbel_maxima`   — Gumbel fit by the method of moments on
  *    the daily block MAXIMA of event values per type, with the
  *    30-block return level — the extreme-value companion to q204's
  *    Weibull fit.
  *  - `q280_turning_points`  — turning-point randomness test per
  *    daily series: observed local extrema vs E = 2(n−2)/3,
  *    Var = (16n−29)/90 — the cheap "is this series i.i.d. noise?"
  *    screen next to q161's runs test.
  *
  * Scale: everything runs on calendar-sized day series (keyed windows
  * per event type) or ≤50-row distinct-value tables; q278's order
  * statistics are a k-limited TakeOrdered over the customer aggregate.
  */
object RelationalQueries21 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)
  private val HillK = 100

  val queries: Map[String, Q] = Map(
    "q275_pettitt_test" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("x"))
      // 2×-scaled midrank within the series: r2 = 2·rank + ties − 1
      val wOrd = Window.partitionBy($"event_type").orderBy($"x")
      val wEq = Window.partitionBy($"event_type", $"x")
      val wN = Window.partitionBy($"event_type")
      val ranked = daily
        .withColumn("r2", lit(2) * rank().over(wOrd) + count(lit(1)).over(wEq) - 1)
        .withColumn("n", count(lit(1)).over(wN))
      val wCum = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wT = Window.partitionBy($"event_type").orderBy($"day")
      val u = ranked
        .withColumn("t", row_number().over(wT).cast("long"))
        .withColumn("s2", sum($"r2").over(wCum))
        // U_t = 2·S_t − t(n+1); with S2 = 2·S: U_t = S2_t − t(n+1)
        .withColumn("u", $"s2" - $"t" * ($"n" + 1))
        .localCheckpoint() // feeds the max AND the argmax passes
      val k = u.groupBy($"event_type")
        .agg(max($"n").as("n_days"), max(abs($"u")).as("k_stat"))
      val cp = u.join(k.select($"event_type", $"k_stat"), Seq("event_type"))
        .filter(abs($"u") === $"k_stat")
        .groupBy($"event_type").agg(min($"day").as("change_day"))
      k.join(cp, Seq("event_type"))
        .selectExpr("event_type", "n_days", "k_stat",
          "CAST(change_day AS STRING) AS change_day",
          // p ≈ 2·exp(−6K²/(n³+n²)) — one libm call per group
          """format_string('%.6e', 2.0 * exp(-6.0 * k_stat * k_stat
            | / (CAST(n_days AS DOUBLE) * n_days * n_days
            |    + CAST(n_days AS DOUBLE) * n_days))) AS p_approx""".stripMargin)
        .orderBy($"event_type")
    }),

    "q276_cliffs_delta" -> ((s, d) => {
      import s.implicits._
      val v = lineitem(s, d)
        .filter($"l_returnflag".isin("A", "R"))
        .select($"l_returnflag".as("g"), $"l_quantity".cast("long").as("q"))
        .groupBy($"q")
        .agg(sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
          sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
        .localCheckpoint() // ≤50-row value table, feeds both sides
      val pairs = v.select($"q".as("qa"), $"ca")
        .crossJoin(broadcast(v.select($"q".as("qr"), $"cr")))
      pairs.groupBy()
        .agg(sum($"ca" * $"cr").as("n_pairs"),
          sum(when($"qa" > $"qr", $"ca" * $"cr").otherwise(0L)).as("n_gt"),
          sum(when($"qa" < $"qr", $"ca" * $"cr").otherwise(0L)).as("n_lt"),
          sum(when($"qa" === $"qr", $"ca" * $"cr").otherwise(0L)).as("n_eq"))
        .selectExpr("n_pairs", "n_gt", "n_lt", "n_eq",
          """CAST(SIGN(n_gt - n_lt) AS BIGINT)
            | * ((1000 * abs(n_gt - n_lt)) DIV n_pairs) AS delta_milli""".stripMargin)
    }),

    "q277_kendall_w" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("x"))
        .localCheckpoint() // feeds ranks AND tie census
      // only days every rater scored keep the design balanced
      val full = daily.groupBy($"day").agg(count(lit(1)).as("m_day"))
      val m = daily.select($"event_type").distinct().count()
      val grid = daily.join(full.filter($"m_day" === m).select($"day"), Seq("day"))
      val wOrd = Window.partitionBy($"event_type").orderBy($"x")
      val wEq = Window.partitionBy($"event_type", $"x")
      val r2d = grid
        .withColumn("r2", lit(2) * rank().over(wOrd) + count(lit(1)).over(wEq) - 1)
      val rsum = r2d.groupBy($"day").agg(sum($"r2").as("rr2"))
      val sums = rsum.agg(count(lit(1)).as("n"),
        sum($"rr2" * $"rr2").as("s4")) // 4·S
      // tie correction per rater: T = Σ(t³ − t) over tie groups
      val ties = r2d.groupBy($"event_type", $"x").agg(count(lit(1)).as("tt"))
        .agg(sum($"tt" * $"tt" * $"tt" - $"tt").as("tcorr"))
      sums.crossJoin(broadcast(ties))
        .selectExpr("n", s"CAST($m AS BIGINT) AS m", "s4", "tcorr",
          // W = (3·ΣR2² − 3m²n(n+1)²) / (m²(n³−n) − m·T)
          s"""format_string('%.6f',
             | (3.0 * s4 - 3.0 * $m * $m * n * (n + 1) * (n + 1))
             | / ($m.0 * $m * (CAST(n AS DOUBLE) * n * n - n) - $m.0 * tcorr))
             | AS kendall_w""".stripMargin)
    }),

    "q278_hill_estimator" -> ((s, d) => {
      import s.implicits._
      val per = orders(s, d).groupBy($"o_custkey")
        .agg(sum((dec($"o_totalprice") * 100).cast(D38)).cast("long").as("m"))
      val top = per.orderBy($"m".desc, $"o_custkey".asc).limit(HillK + 1)
        .localCheckpoint() // k+1 order statistics via TakeOrdered
      val xk1 = top.orderBy($"m".asc, $"o_custkey".desc).limit(1)
        .select($"m".as("x_threshold"))
      top.crossJoin(broadcast(xk1))
        .filter($"m" > $"x_threshold") // the k items above the threshold
        .selectExpr("x_threshold",
          // per-item ln term, nano-floored BEFORE the sum
          """CAST(FLOOR(1.0e9 * ln(CAST(m AS DOUBLE) / CAST(x_threshold AS DOUBLE)))
            | AS BIGINT) AS t_nano""".stripMargin)
        .groupBy($"x_threshold")
        .agg(count(lit(1)).as("k"), sum($"t_nano").as("sum_nano"))
        .selectExpr("k", "x_threshold", "sum_nano",
          "format_string('%.6f', CAST(sum_nano AS DOUBLE) / 1.0e9 / k) AS hill_gamma",
          "format_string('%.6f', 1.0e9 * k / CAST(sum_nano AS DOUBLE)) AS tail_alpha")
    }),

    "q279_gumbel_maxima" -> ((s, d) => {
      import s.implicits._
      val blocks = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(max((dec($"value") * 100).cast("long")).as("x"))
      val g = blocks.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"x".cast(D38)).cast("double").as("s1"),
        sum(($"x" * $"x").cast(D38)).cast("double").as("s2"))
      val nD = $"n".cast("double")
      val mean = $"s1" / nD
      val varr = ($"s2" - $"s1" * $"s1" / nD) / (nD - 1.0)
      val beta = sqrt(varr * lit(6.0)) / lit(math.Pi)
      val mu = mean - lit(0.5772156649015329) * beta
      // 30-block return level: μ − β·ln(−ln(1 − 1/30))
      val rl = mu - beta * log(-log(lit(1.0) - lit(1.0) / 30.0))
      g.select($"event_type", $"n".as("n_blocks"),
          format_string("%.6f", mu / 100.0).as("gumbel_mu_usd"),
          format_string("%.6f", beta / 100.0).as("gumbel_beta_usd"),
          format_string("%.6f", rl / 100.0).as("return_level_30_usd"))
        .orderBy($"event_type")
    }),

    "q281_markov_entropy" -> ((s, d) => {
      import s.implicits._
      // transition matrix + steady state (the q91/q175 substrate),
      // then the chain's ENTROPY RATE H = −Σ_i π_i Σ_j p_ij ln p_ij —
      // the information-theoretic "how predictable is the next event?"
      // headline that ties the Markov family together. Per-cell libm
      // terms are nano-floored BEFORE the sum (quantize-before-Σ).
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
      val cells = p.join(v.select($"state".as("from_type"), $"m"), Seq("from_type"))
        .filter($"bp" > 0)
        .selectExpr("from_type",
          """CAST(FLOOR(-1.0e9 * (CAST(m AS DOUBLE) / 1.0e6)
            | * (CAST(bp AS DOUBLE) / 1.0e4)
            | * ln(CAST(bp AS DOUBLE) / 1.0e4)) AS BIGINT) AS h_nano""".stripMargin)
      cells.agg(count(lit(1)).as("n_cells"), sum($"h_nano").as("h_rate_nano"))
        .selectExpr("n_cells", "h_rate_nano",
          "format_string('%.6f', CAST(h_rate_nano AS DOUBLE) / 1.0e9 / ln(2.0)) AS h_rate_bits")
    }),

    "q282_bowley_skew" -> ((s, d) => {
      import s.implicits._
      // type-1 (inverse-ECDF) quartiles on the per-group distinct-value
      // table: v_q = smallest value whose cumulative count reaches
      // ⌈q·n⌉ — pure integers, no interpolation to drift
      val v = lineitem(s, d)
        .select($"l_returnflag".as("g"), $"l_quantity".cast("long").as("q"))
        .groupBy($"g", $"q").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"g").orderBy($"q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wG = Window.partitionBy($"g")
      val cum = v.withColumn("cumc", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wG))
      def qAt(kExpr: String) =
        s"MIN(CASE WHEN cumc >= $kExpr THEN q END)"
      val quart = cum.groupBy($"g")
        .agg(max($"n").as("n"),
          expr(qAt("(n + 3) DIV 4")).as("q1"),
          expr(qAt("(n + 1) DIV 2")).as("q2"),
          expr(qAt("(3 * n + 3) DIV 4")).as("q3"))
      quart.selectExpr("g AS l_returnflag", "n", "q1", "q2", "q3",
          """CASE WHEN q3 = q1 THEN CAST(0 AS BIGINT)
            | ELSE CAST(SIGN(q3 + q1 - 2 * q2) AS BIGINT)
            |   * ((1000 * abs(q3 + q1 - 2 * q2)) DIV (q3 - q1)) END AS bowley_milli""".stripMargin,
          """CASE WHEN q3 + q1 = 0 THEN CAST(0 AS BIGINT)
            | ELSE (1000 * (q3 - q1)) DIV (q3 + q1) END AS qcd_milli""".stripMargin)
        .orderBy($"l_returnflag")
    }),

    "q283_price_index" -> ((s, d) => {
      import s.implicits._
      // Laspeyres / Paasche / Fisher price indices between the data's
      // two calendar halves, on per-part unit values: per-part rational
      // terms milli-floored BEFORE the cross-part sum (quantize-before-
      // Σ), so both engines sum identical integers. Basket = parts
      // traded in BOTH halves.
      val li = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey".as("l_orderkey"),
          to_date($"o_orderdate").as("od")), Seq("l_orderkey"))
      val mid = li.agg(date_add(min($"od"),
          (datediff(max($"od"), min($"od")) / 2).cast("int")).as("mid"))
        .localCheckpoint()
      val per = li.crossJoin(broadcast(mid))
        .withColumn("h", when($"od" <= $"mid", 1).otherwise(2))
        .groupBy($"l_partkey", $"h")
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("c"),
          sum($"l_quantity".cast("long")).as("q"))
      val both = per.filter($"h" === 1)
        .select($"l_partkey", $"c".as("c0"), $"q".as("q0"))
        .join(per.filter($"h" === 2)
          .select($"l_partkey", $"c".as("c1"), $"q".as("q1")), Seq("l_partkey"))
      both.groupBy()
        .agg(count(lit(1)).as("n_parts"),
          sum($"c0").as("sc0"), sum($"c1").as("sc1"),
          // Laspeyres numerator Σ u1·q0 = Σ c1·q0/q1, milli-floored/part
          sum(expr("(1000 * c1 * q0) DIV q1")).as("l_num_milli"),
          // Paasche denominator Σ u0·q1 = Σ c0·q1/q0, milli-floored/part
          sum(expr("(1000 * c0 * q1) DIV q0")).as("p_den_milli"))
        .selectExpr("n_parts",
          "l_num_milli DIV sc0 AS laspeyres_milli",
          "(1000000 * sc1) DIV p_den_milli AS paasche_milli",
          """format_string('%.6f', sqrt(
            | (CAST(l_num_milli AS DOUBLE) / 1000.0 / sc0)
            | * (1000.0 * sc1 / CAST(p_den_milli AS DOUBLE)))) AS fisher_index""".stripMargin)
    }),

    "q284_forecast_eval" -> ((s, d) => {
      import s.implicits._
      // forecast-accuracy panel per event type: the SEASONAL-NAIVE
      // (lag-7) forecast graded by MAPE / sMAPE / MASE, with the lag-1
      // naive as MASE's scaling baseline — the metrics every forecast
      // family (Croston/SES/Holt/Holt-Winters, q143/q157/q166) is
      // judged by. Per-day ratio terms milli-floored before averaging.
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val lagged = daily
        .withColumn("x1", lag($"x", 1).over(w))
        .withColumn("x7", lag($"x", 7).over(w))
      val e = lagged.groupBy($"event_type").agg(
        count(lit(1)).as("n_days"),
        sum(when($"x1".isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when($"x7".isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(when($"x1".isNotNull, abs($"x" - $"x1")).otherwise(0L)).as("sae1"),
        sum(when($"x7".isNotNull, abs($"x" - $"x7")).otherwise(0L)).as("sae7"),
        sum(when($"x7".isNotNull, expr("(1000 * abs(x - x7)) DIV x")).otherwise(0L))
          .as("mape_sum_milli"),
        sum(when($"x7".isNotNull, expr("(2000 * abs(x - x7)) DIV (x + x7)")).otherwise(0L))
          .as("smape_sum_milli"))
      e.selectExpr("event_type", "n_days",
          "sae7 DIV n7 AS mae7_cents",
          "sae1 DIV n1 AS mae1_cents",
          "mape_sum_milli DIV n7 AS mape_milli",
          "smape_sum_milli DIV n7 AS smape_milli",
          // MASE = (Σ|e7|/n7) / (Σ|e1|/n1), milli. GREATEST(sae1, 1)
          // guards the constant-series corner (naive 1-step error 0
          // would NULL the ratio silently, r15 ADVICE); with sae1 = 0
          // the milli ratio degenerates to an explicit huge sentinel
          // rather than a missing row.
          "(1000 * sae7 * n1) DIV (GREATEST(sae1, 1) * n7) AS mase_milli")
        .orderBy($"event_type")
    }),

    "q285_footrule_distance" -> ((s, d) => {
      import s.implicits._
      // Spearman's FOOTRULE between the revenue and quantity catalog
      // rankings: Σ|r1 − r2|, normalized against its maximum ⌊n²/2⌋ —
      // the L1 companion to Borda fusion (how far apart are the two
      // ballots at all?). Exact GlobalRanks; pure integers.
      val per = lineitem(s, d).groupBy($"l_partkey")
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("rev"),
          sum($"l_quantity".cast("long")).as("qty"))
        .localCheckpoint()
      val (r1, n) = GlobalRank.withRank(per.select($"l_partkey", $"rev"),
        "r_rev", Seq($"rev".desc, $"l_partkey".asc))
      val (r2, _) = GlobalRank.withRank(per.select($"l_partkey", $"qty"),
        "r_qty", Seq($"qty".desc, $"l_partkey".asc))
      r1.select($"l_partkey", $"r_rev").join(r2.select($"l_partkey", $"r_qty"),
          Seq("l_partkey"))
        .agg(count(lit(1)).as("n_parts"),
          sum(abs($"r_rev" - $"r_qty")).as("footrule"))
        .selectExpr("n_parts", "footrule",
          // max Σ|r−σ(r)| over permutations is ⌊n²/2⌋
          "(1000 * footrule) DIV ((n_parts * n_parts) DIV 2) AS footrule_norm_milli")
    }),

    "q286_dispersion_test" -> ((s, d) => {
      import s.implicits._
      // Poisson DISPERSION test per event type: D = Σ(x − x̄)²/x̄ over
      // daily event COUNTS ~ χ²(n−1) under Poisson — the formal
      // overdispersion screen behind the Fano heuristic. Centered
      // sums as exact integers (X = n·x − Σx), one double division.
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sx2"))
        .selectExpr("event_type", "n", "sx",
          // D = (n·Σx² − (Σx)²) / Σx, exact integers until the division
          """format_string('%.6f',
            | CAST(n * sx2 - sx * sx AS DOUBLE) / CAST(sx AS DOUBLE)) AS d_stat""".stripMargin,
          """format_string('%.6f',
            | CAST(n * sx2 - sx * sx AS DOUBLE) / CAST(sx AS DOUBLE)
            | / (CAST(n AS DOUBLE) - 1.0)) AS dispersion_index""".stripMargin)
        .orderBy($"event_type")
    }),

    "q280_turning_points" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val tp = daily
        .withColumn("xp", lag($"x", 1).over(w))
        .withColumn("xn", lead($"x", 1).over(w))
        .filter($"xp".isNotNull && $"xn".isNotNull)
        .withColumn("is_tp",
          when(($"xp" < $"x" && $"x" > $"xn") ||
            ($"xp" > $"x" && $"x" < $"xn"), 1L).otherwise(0L))
      tp.groupBy($"event_type")
        .agg((count(lit(1)) + 2).as("n_days"), sum($"is_tp").as("n_turning"))
        .selectExpr("event_type", "n_days", "n_turning",
          "format_string('%.6f', 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0) AS expected_tp",
          """format_string('%.6f',
            | (CAST(n_turning AS DOUBLE) - 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0)
            | / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)) AS z_stat""".stripMargin)
        .orderBy($"event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "q285_footrule_distance" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY l_partkey),
        |r AS (
        |  SELECT l_partkey,
        |    CAST(row_number() OVER (ORDER BY rev DESC, l_partkey ASC) AS BIGINT) AS r_rev,
        |    CAST(row_number() OVER (ORDER BY qty DESC, l_partkey ASC) AS BIGINT) AS r_qty
        |  FROM per)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(abs(r_rev - r_qty)) AS BIGINT) AS footrule,
        |  (1000 * CAST(SUM(abs(r_rev - r_qty)) AS BIGINT))
        |    // ((CAST(COUNT(*) AS BIGINT) * COUNT(*)) // 2) AS footrule_norm_milli
        |FROM r""".stripMargin,

    "q286_dispersion_test" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM daily GROUP BY event_type)
        |SELECT event_type, n, sx,
        |  printf('%.6f', CAST(n * sx2 - sx * sx AS DOUBLE) / CAST(sx AS DOUBLE)) AS d_stat,
        |  printf('%.6f', CAST(n * sx2 - sx * sx AS DOUBLE) / CAST(sx AS DOUBLE)
        |    / (CAST(n AS DOUBLE) - 1.0)) AS dispersion_index
        |FROM g ORDER BY event_type""".stripMargin,

    "q283_price_index" ->
      """WITH li AS (
        |  SELECT l.l_partkey,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(l.l_quantity AS BIGINT) AS qty,
        |    CAST(o.o_orderdate AS DATE) AS od
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mid AS (
        |  SELECT MIN(od) + CAST(datediff('day', MIN(od), MAX(od)) // 2 AS INT) AS mid
        |  FROM li),
        |per AS (
        |  SELECT l_partkey, CASE WHEN od <= mid THEN 1 ELSE 2 END AS h,
        |    CAST(SUM(cents) AS BIGINT) AS c, CAST(SUM(qty) AS BIGINT) AS q
        |  FROM li CROSS JOIN mid GROUP BY 1, 2),
        |basket AS (
        |  SELECT a.l_partkey, a.c AS c0, a.q AS q0, b.c AS c1, b.q AS q1
        |  FROM per a JOIN per b ON a.l_partkey = b.l_partkey
        |  WHERE a.h = 1 AND b.h = 2),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
        |    CAST(SUM(c0) AS BIGINT) AS sc0, CAST(SUM(c1) AS BIGINT) AS sc1,
        |    CAST(SUM((1000 * c1 * q0) // q1) AS BIGINT) AS l_num_milli,
        |    CAST(SUM((1000 * c0 * q1) // q0) AS BIGINT) AS p_den_milli
        |  FROM basket)
        |SELECT n_parts,
        |  l_num_milli // sc0 AS laspeyres_milli,
        |  (1000000 * sc1) // p_den_milli AS paasche_milli,
        |  printf('%.6f', sqrt(
        |    (CAST(l_num_milli AS DOUBLE) / 1000.0 / sc0)
        |    * (1000.0 * sc1 / CAST(p_den_milli AS DOUBLE)))) AS fisher_index
        |FROM agg""".stripMargin,

    "q284_forecast_eval" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, x,
        |    LAG(x, 1) OVER w AS x1, LAG(x, 7) OVER w AS x7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |e AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN x7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN abs(x - x1) ELSE 0 END) AS BIGINT) AS sae1,
        |    CAST(SUM(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) ELSE 0 END) AS BIGINT) AS sae7,
        |    CAST(SUM(CASE WHEN x7 IS NOT NULL
        |             THEN (1000 * abs(x - x7)) // x ELSE 0 END) AS BIGINT) AS mape_sum_milli,
        |    CAST(SUM(CASE WHEN x7 IS NOT NULL
        |             THEN (2000 * abs(x - x7)) // (x + x7) ELSE 0 END) AS BIGINT) AS smape_sum_milli
        |  FROM lagged GROUP BY event_type)
        |SELECT event_type, n_days,
        |  sae7 // n7 AS mae7_cents,
        |  sae1 // n1 AS mae1_cents,
        |  mape_sum_milli // n7 AS mape_milli,
        |  smape_sum_milli // n7 AS smape_milli,
        |  (1000 * sae7 * n1) // (GREATEST(sae1, 1) * n7) AS mase_milli
        |FROM e ORDER BY event_type""".stripMargin,

    "q281_markov_entropy" ->
      """WITH tr AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
        |  FROM (
        |    SELECT event_type AS from_type,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |    FROM events) q
        |  WHERE to_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
        |        FROM tr GROUP BY 1),
        |p AS MATERIALIZED (
        |  SELECT tr.from_type, tr.to_type, (tr.n_trans * 10000) // tot.n_from AS bp
        |  FROM tr JOIN tot ON tr.from_type = tot.from_type),
        |k AS (SELECT CAST(COUNT(DISTINCT from_type) AS BIGINT) AS k FROM p),
        |v0 AS (SELECT DISTINCT from_type AS state,
        |         1000000 // (SELECT k FROM k) AS m FROM p),
        |v1 AS MATERIALIZED (
        |  SELECT to_type AS state, CAST(SUM(m * bp) AS BIGINT) // 10000 AS m
        |  FROM p JOIN v0 ON p.from_type = v0.state GROUP BY to_type),
        |v2 AS MATERIALIZED (
        |  SELECT to_type AS state, CAST(SUM(m * bp) AS BIGINT) // 10000 AS m
        |  FROM p JOIN v1 ON p.from_type = v1.state GROUP BY to_type),
        |v3 AS MATERIALIZED (
        |  SELECT to_type AS state, CAST(SUM(m * bp) AS BIGINT) // 10000 AS m
        |  FROM p JOIN v2 ON p.from_type = v2.state GROUP BY to_type),
        |v4 AS MATERIALIZED (
        |  SELECT to_type AS state, CAST(SUM(m * bp) AS BIGINT) // 10000 AS m
        |  FROM p JOIN v3 ON p.from_type = v3.state GROUP BY to_type),
        |cells AS (
        |  SELECT CAST(FLOOR(-1.0e9 * (CAST(m AS DOUBLE) / 1.0e6)
        |    * (CAST(bp AS DOUBLE) / 1.0e4)
        |    * ln(CAST(bp AS DOUBLE) / 1.0e4)) AS BIGINT) AS h_nano
        |  FROM p JOIN v4 ON p.from_type = v4.state
        |  WHERE bp > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(h_nano) AS BIGINT) AS h_rate_nano,
        |  printf('%.6f', CAST(SUM(h_nano) AS DOUBLE) / 1.0e9 / ln(2.0)) AS h_rate_bits
        |FROM cells""".stripMargin,

    "q282_bowley_skew" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, q,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM v),
        |quart AS (
        |  SELECT g, MAX(n) AS n,
        |    MIN(CASE WHEN cumc >= (n + 3) // 4 THEN q END) AS q1,
        |    MIN(CASE WHEN cumc >= (n + 1) // 2 THEN q END) AS q2,
        |    MIN(CASE WHEN cumc >= (3 * n + 3) // 4 THEN q END) AS q3
        |  FROM cum GROUP BY g)
        |SELECT g AS l_returnflag, n, q1, q2, q3,
        |  CASE WHEN q3 = q1 THEN CAST(0 AS BIGINT)
        |   ELSE CAST(SIGN(q3 + q1 - 2 * q2) AS BIGINT)
        |     * ((1000 * abs(q3 + q1 - 2 * q2)) // (q3 - q1)) END AS bowley_milli,
        |  CASE WHEN q3 + q1 = 0 THEN CAST(0 AS BIGINT)
        |   ELSE (1000 * (q3 - q1)) // (q3 + q1) END AS qcd_milli
        |FROM quart ORDER BY l_returnflag""".stripMargin,

    "q275_pettitt_test" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, day,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS BIGINT) AS r2,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |u AS (
        |  SELECT event_type, day, n,
        |    CAST(SUM(r2) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |      * (n + 1) AS u
        |  FROM ranked),
        |k AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |    CAST(MAX(abs(u)) AS BIGINT) AS k_stat
        |  FROM u GROUP BY event_type),
        |cp AS (
        |  SELECT u.event_type, MIN(u.day) AS change_day
        |  FROM u JOIN k ON u.event_type = k.event_type AND abs(u.u) = k.k_stat
        |  GROUP BY u.event_type)
        |SELECT k.event_type, k.n_days, k.k_stat,
        |  CAST(cp.change_day AS VARCHAR) AS change_day,
        |  printf('%.6e', 2.0 * exp(-6.0 * k_stat * k_stat
        |    / (CAST(n_days AS DOUBLE) * n_days * n_days
        |       + CAST(n_days AS DOUBLE) * n_days))) AS p_approx
        |FROM k JOIN cp ON k.event_type = cp.event_type
        |ORDER BY k.event_type""".stripMargin,

    "q276_cliffs_delta" ->
      """WITH v AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY 1),
        |agg AS (
        |  SELECT CAST(SUM(a.ca * b.cr) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN a.q > b.q THEN a.ca * b.cr ELSE 0 END) AS BIGINT) AS n_gt,
        |    CAST(SUM(CASE WHEN a.q < b.q THEN a.ca * b.cr ELSE 0 END) AS BIGINT) AS n_lt,
        |    CAST(SUM(CASE WHEN a.q = b.q THEN a.ca * b.cr ELSE 0 END) AS BIGINT) AS n_eq
        |  FROM v a CROSS JOIN v b)
        |SELECT n_pairs, n_gt, n_lt, n_eq,
        |  CAST(SIGN(n_gt - n_lt) AS BIGINT)
        |  * ((1000 * abs(n_gt - n_lt)) // n_pairs) AS delta_milli
        |FROM agg""".stripMargin,

    "q277_kendall_w" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS m FROM daily),
        |grid AS (
        |  SELECT d.* FROM daily d
        |  JOIN (SELECT day FROM daily GROUP BY day
        |        HAVING COUNT(*) = (SELECT m FROM m)) f USING (day)),
        |r2d AS (
        |  SELECT day,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2
        |  FROM grid),
        |rsum AS (SELECT day, CAST(SUM(r2) AS BIGINT) AS rr2 FROM r2d GROUP BY day),
        |sums AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(rr2 * rr2) AS BIGINT) AS s4
        |  FROM rsum),
        |ties AS (
        |  SELECT CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS tcorr FROM (
        |    SELECT CAST(COUNT(*) AS BIGINT) AS tt
        |    FROM grid GROUP BY event_type, x))
        |SELECT n, (SELECT m FROM m) AS m, s4, tcorr,
        |  printf('%.6f',
        |    (3.0 * s4 - 3.0 * (SELECT m FROM m) * (SELECT m FROM m) * n * (n + 1) * (n + 1))
        |    / ((SELECT m FROM m) * 1.0 * (SELECT m FROM m)
        |        * (CAST(n AS DOUBLE) * n * n - n)
        |       - (SELECT m FROM m) * 1.0 * tcorr)) AS kendall_w
        |FROM sums CROSS JOIN ties""".stripMargin,

    "q278_hill_estimator" ->
      s"""WITH per AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS m
         |  FROM orders GROUP BY o_custkey),
         |top AS (
         |  SELECT m, o_custkey FROM per
         |  ORDER BY m DESC, o_custkey ASC LIMIT ${HillK + 1}),
         |thr AS (
         |  SELECT m AS x_threshold FROM top
         |  ORDER BY m ASC, o_custkey DESC LIMIT 1),
         |terms AS (
         |  SELECT x_threshold,
         |    CAST(FLOOR(1.0e9 * ln(CAST(m AS DOUBLE) / CAST(x_threshold AS DOUBLE)))
         |      AS BIGINT) AS t_nano
         |  FROM top CROSS JOIN thr
         |  WHERE m > x_threshold),
         |agg AS (
         |  SELECT x_threshold, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(t_nano) AS BIGINT) AS sum_nano
         |  FROM terms GROUP BY x_threshold)
         |SELECT k, x_threshold, sum_nano,
         |  printf('%.6f', CAST(sum_nano AS DOUBLE) / 1.0e9 / k) AS hill_gamma,
         |  printf('%.6f', 1.0e9 * k / CAST(sum_nano AS DOUBLE)) AS tail_alpha
         |FROM agg""".stripMargin,

    "q279_gumbel_maxima" ->
      """WITH blocks AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2
        |  FROM blocks GROUP BY event_type),
        |fit AS (
        |  SELECT event_type, n,
        |    s1 / n AS mean,
        |    sqrt(((s2 - s1 * s1 / n) / (CAST(n AS DOUBLE) - 1.0)) * 6.0) / pi() AS beta
        |  FROM g)
        |SELECT event_type, n AS n_blocks,
        |  printf('%.6f', (mean - 0.5772156649015329 * beta) / 100.0) AS gumbel_mu_usd,
        |  printf('%.6f', beta / 100.0) AS gumbel_beta_usd,
        |  printf('%.6f', ((mean - 0.5772156649015329 * beta)
        |    - beta * ln(-ln(1.0 - 1.0 / 30.0))) / 100.0) AS return_level_30_usd
        |FROM fit ORDER BY event_type""".stripMargin,

    "q280_turning_points" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, x,
        |    LAG(x) OVER w AS xp, LEAD(x) OVER w AS xn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |tp AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) + 2 AS BIGINT) AS n_days,
        |    CAST(SUM(CASE WHEN (xp < x AND x > xn) OR (xp > x AND x < xn)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
        |  FROM lagged WHERE xp IS NOT NULL AND xn IS NOT NULL
        |  GROUP BY event_type)
        |SELECT event_type, n_days, n_turning,
        |  printf('%.6f', 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0) AS expected_tp,
        |  printf('%.6f', (CAST(n_turning AS DOUBLE) - 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0)
        |    / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)) AS z_stat
        |FROM tp ORDER BY event_type""".stripMargin
  )
}
