package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 batch-8 ML/recommender additions:
  *
  *  - `ml_fisher_lda`  — Fisher's linear discriminant on the
  *    (quantity, price) plane for the return flag: the CLASSIFIER dual
  *    of q253_hotelling_t2 — the same pooled within-class moments, now
  *    pointed at prediction (w ∝ W⁻¹d is the direction the T² test
  *    says the means differ along; the midpoint threshold is the
  *    two-class Bayes rule under equal Gaussians). Reports the
  *    discriminant, the exact confusion counts of the induced
  *    classifier and accuracy vs the majority baseline.
  *  - `cf_slope_one`   — weighted Slope One rating predictor over the
  *    customer×part quantity matrix: the fourth recommender member
  *    (neighborhood `cf_item_neighbors`, scoring `cf_user_recs`,
  *    factorization `cf_als_rank1` — Slope One is the deviation-based
  *    predictor that needs no training loop at all). Item-pair
  *    deviations dev(i,j) = mean(r_i − r_j) over co-raters, weighted
  *    prediction r̂_uj = Σᵢ n_ij·(r_ui − dev(i,j)) / Σᵢ n_ij, graded
  *    by train MAE.
  *
  * Exactness, ml_fisher_lda: the q251/q253 two-pass shifted-moment
  * discipline (integer means floored in pass 1, integer residual
  * products in pass 2 — every moment an exact double cast past 100×
  * corpus). The un-normalized discriminant (wyy·dx − wxy·dy,
  * wxx·dy − wxy·dx) is W⁻¹d scaled by det(W) > 0, so no sign flip is
  * ever needed (w'd = d'W⁻¹d ≥ 0 by positive-definiteness); it
  * micro-quantizes through a max-normalization, the threshold floors
  * once, and every per-row score 2·(wx·x + wy·y) > thr is a pure
  * BIGINT compare.
  * Exactness, cf_slope_one: ratings are integer quantity sums;
  * deviations sign-split-floor to milli (Spark DIV truncates, DuckDB
  * // floors — they agree only via sign·(|x| DIV d)); prediction
  * numerators are exact BIGINT dot products and the division
  * sign-splits the same way.
  *
  * Scale, ml_fisher_lda: two partial+final moment passes and one
  * scoring pass with a broadcast 1-row model — the corpus never
  * shuffles on a row key. Scale, cf_slope_one: the quadratic stage is
  * per-user pair enumeration, bounded by the top-16-items-per-user
  * cap (the df-cap discipline — k² = 240 ordered pairs per user
  * FOREVER, linear in users); the deviation table is item-pair-keyed
  * and every join is a keyed equi-join.
  */
object MlQueries6 extends graft.QueryModule {
  /** Items kept per user for pair enumeration (total order: rating
    * desc, partkey asc — deterministic under ties). */
  private val CapK = 16

  /** Per-day responsibility γ (milli) of component 1 under the tied-
    * variance two-component model (columns pi1, mu1, mu2, vr, x —
    * shared text, both engines): γ = 1/(1 + (π₂/π₁)·e^{Δ}) with
    * Δ = ((x−μ₁)² − (x−μ₂)²)/(2σ²) an exact integer ratio, so the one
    * libm exp per day consumes identical operands; γ milli-floors per
    * day before any cross-day sum (the bartlett discipline). An
    * over/underflowed exp saturates γ to 0/999 identically. */
  private val GammaMilliE =
    """CAST(FLOOR(1000.0 / (1.0
      | + (CAST(1000 - pi1 AS DOUBLE) / CAST(pi1 AS DOUBLE))
      |   * exp(CAST((x - mu1) * (x - mu1) - (x - mu2) * (x - mu2) AS DOUBLE)
      |       / (2.0 * CAST(vr AS DOUBLE))))) AS BIGINT)""".stripMargin

  /** One exact EM round for `ml_gmm_em`: state (pi1, mu1, mu2, vr) →
    * next state. γ milli-floors per day; M-step updates are integer
    * floors with absorbing-state clamps (π ∈ [1, 999], σ² ≥ 1)
    * mirrored in the oracle. */
  private def emRound(day: DataFrame, state: DataFrame): DataFrame = {
    import day.sparkSession.implicits._
    val gam = day.crossJoin(broadcast(state))
      .selectExpr("x", s"$GammaMilliE AS g")
      .localCheckpoint() // day-sized; feeds the mean AND variance passes
    val means = gam.agg(count(lit(1)).as("n"),
        sum($"g").as("sg"), sum($"g" * $"x").as("sgx"),
        sum(lit(1000L) - $"g").as("s1g"),
        sum((lit(1000L) - $"g") * $"x").as("s1gx"))
      .selectExpr("n",
        "GREATEST(1, LEAST(999, sg DIV n)) AS pi1",
        "sgx DIV GREATEST(sg, 1) AS mu1",
        "s1gx DIV GREATEST(s1g, 1) AS mu2")
      .localCheckpoint() // 1-row intermediate state
    gam.crossJoin(broadcast(means))
      .groupBy($"n", $"pi1", $"mu1", $"mu2")
      .agg(sum($"g" * ($"x" - $"mu1") * ($"x" - $"mu1")
        + (lit(1000L) - $"g") * ($"x" - $"mu2") * ($"x" - $"mu2")).as("sv"))
      .selectExpr("pi1", "mu1", "mu2",
        "GREATEST(sv DIV (1000 * n), 1) AS vr")
  }

  val queries: Map[String, Q] = Map(
    // TWO-COMPONENT GAUSSIAN MIXTURE (tied variance) on daily revenue,
    // fitted by two exact unrolled EM rounds — the UNSUPERVISED
    // density-model member next to ml_kmeans_lloyd's hard assignment
    // (EM's soft responsibilities are what k-means discards) and
    // ml_gaussian_nb's supervised Gaussians. Deterministic init from
    // exact quartile order statistics (ORDER BY x, day total order);
    // each round is one γ pass + one mean pass + one variance pass on
    // the calendar-sized day frame. Reports the full parameter TRACE
    // (init, round 1, round 2) — convergence is visible, not asserted.
    "ml_gmm_em" -> ((s, d) => {
      import s.implicits._
      val day = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("cents"))
        .selectExpr("day", "cents DIV 100000 AS x") // kilo-dollars
      val wd = Window.orderBy($"x", $"day")
      val ranked = day.withColumn("r", row_number().over(wd).cast("long"))
        .localCheckpoint() // day-sized; quartile picks + moments
      val tot = ranked.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
        .selectExpr("n", "GREATEST((n * sxx - sx * sx) DIV (n * n), 1) AS var0")
      val q1 = ranked.crossJoin(broadcast(tot.select($"n")))
        .filter($"r" === expr("GREATEST(1, (n + 1) DIV 4)"))
        .select($"x".as("mu1"))
      val q3 = ranked.crossJoin(broadcast(tot.select($"n".as("n2"))))
        .filter($"r" === expr("GREATEST(1, (3 * (n2 + 1)) DIV 4)"))
        .select($"x".as("mu2"))
      val state0 = tot.crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
        .selectExpr("n", "500 AS pi1", "mu1", "mu2", "var0 AS vr")
        .localCheckpoint()
      val dayx = ranked.select($"x")
      val r1 = emRound(dayx, state0.select($"pi1", $"mu1", $"mu2", $"vr"))
        .localCheckpoint()
      val r2 = emRound(dayx, r1)
      state0.selectExpr("n AS n_days", "mu1 AS mu1_0", "mu2 AS mu2_0", "vr AS var_0")
        .crossJoin(broadcast(r1.selectExpr("pi1 AS pi1_r1", "mu1 AS mu1_r1",
          "mu2 AS mu2_r1", "vr AS var_r1")))
        .crossJoin(broadcast(r2.selectExpr("pi1 AS pi1_r2", "mu1 AS mu1_r2",
          "mu2 AS mu2_r2", "vr AS var_r2")))
    }),

    "ml_fisher_lda" -> ((s, d) => {
      import s.implicits._
      val v = lineitem(s, d).selectExpr(
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g",
          "CAST(l_quantity AS BIGINT) AS x",
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 10000 AS y")
        .localCheckpoint() // feeds the moment passes AND the scoring pass
      val m = v.groupBy($"g")
        .agg(count(lit(1)).as("ng"), sum($"x").as("sx"), sum($"y").as("sy"))
        .selectExpr("g", "ng", "sx DIV ng AS mx", "sy DIV ng AS my")
      val c = v.join(broadcast(m), Seq("g")) // 2-row means side
        .selectExpr("g", "ng", "x - mx AS dx", "y - my AS dy", "mx", "my")
        .groupBy($"g", $"ng", $"mx", $"my")
        .agg(sum($"dx" * $"dx").as("qxx"), sum($"dy" * $"dy").as("qyy"),
          sum($"dx" * $"dy").as("qxy"),
          sum($"dx").as("rx"), sum($"dy").as("ry"))
        .selectExpr("g", "ng",
          "CAST(mx AS DOUBLE) + CAST(rx AS DOUBLE) / CAST(ng AS DOUBLE) AS ux",
          "CAST(my AS DOUBLE) + CAST(ry AS DOUBLE) / CAST(ng AS DOUBLE) AS uy",
          "CAST(qxx AS DOUBLE) - CAST(rx * rx AS DOUBLE) / CAST(ng AS DOUBLE) AS cxx",
          "CAST(qyy AS DOUBLE) - CAST(ry * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cyy",
          "CAST(qxy AS DOUBLE) - CAST(rx * ry AS DOUBLE) / CAST(ng AS DOUBLE) AS cxy")
      val model = c.groupBy() // 2 rows → 1: pooled algebra
        .agg(sum($"ng").as("n"),
          sum(when($"g" === 1, $"ng").otherwise(0L)).as("n1"),
          sum(when($"g" === 1, $"ux").otherwise(0.0)).as("ux1"),
          sum(when($"g" === 1, $"uy").otherwise(0.0)).as("uy1"),
          sum(when($"g" === 0, $"ux").otherwise(0.0)).as("ux0"),
          sum(when($"g" === 0, $"uy").otherwise(0.0)).as("uy0"),
          sum($"cxx").as("wxx"), sum($"cyy").as("wyy"), sum($"cxy").as("wxy"))
        // det(W)·W⁻¹d — direction preserved (det > 0), max-normalized
        .selectExpr("n", "n1", "ux1", "uy1", "ux0", "uy0",
          "wyy * (ux1 - ux0) - wxy * (uy1 - uy0) AS wxr",
          "wxx * (uy1 - uy0) - wxy * (ux1 - ux0) AS wyr")
        .selectExpr("n", "n1", "ux1", "uy1", "ux0", "uy0", "wxr", "wyr",
          "GREATEST(abs(wxr), abs(wyr)) AS mw")
        .selectExpr("n", "n1", "ux1", "uy1", "ux0", "uy0",
          "CAST(FLOOR(1000000.0 * wxr / mw) AS BIGINT) AS wx_micro",
          "CAST(FLOOR(1000000.0 * wyr / mw) AS BIGINT) AS wy_micro")
        // midpoint threshold on the DOUBLED score (no halving anywhere)
        .selectExpr("n", "n1", "wx_micro", "wy_micro",
          """CAST(FLOOR(CAST(wx_micro AS DOUBLE) * (ux1 + ux0)
            | + CAST(wy_micro AS DOUBLE) * (uy1 + uy0)) AS BIGINT) AS thr2""".stripMargin)
        .localCheckpoint() // 1-row model
      val cm = v.crossJoin(broadcast(model))
        .selectExpr("g",
          "CASE WHEN 2 * (wx_micro * x + wy_micro * y) > thr2 THEN 1 ELSE 0 END AS yh")
        .groupBy()
        .agg(sum(expr("yh * g")).cast("long").as("tp"),
          sum(expr("yh * (1 - g)")).cast("long").as("fp"),
          sum(expr("(1 - yh) * g")).cast("long").as("fn"),
          sum(expr("(1 - yh) * (1 - g)")).cast("long").as("tn"))
      cm.crossJoin(broadcast(model))
        .selectExpr("n", "n1", "n - n1 AS n0", "wx_micro", "wy_micro", "thr2",
          "tp", "fp", "fn", "tn",
          "(tp + tn) * 10000 DIV n AS acc_bp",
          "(GREATEST(n1, n - n1)) * 10000 DIV n AS majority_bp")
    }),

    "cf_slope_one" -> ((s, d) => {
      import s.implicits._
      // ONE shuffle builds the capped rating frame: the explicit
      // repartition on c satisfies BOTH the (c, p) aggregate (c is a
      // subset of its grouping key) and the per-user top-K window, so
      // neither plans its own exchange.
      val r = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey".as("l_orderkey"), $"o_custkey"),
          Seq("l_orderkey"))
        // r20: session shuffle-partition count (scale-adaptive) instead
        // of a hard-coded 32 — identical under the bench contract
        // (shuffle.partitions = core count), honest on a cluster
        .repartition(s.sessionState.conf.numShufflePartitions, $"o_custkey")
        .groupBy($"o_custkey".as("c"), $"l_partkey".as("p"))
        .agg(sum($"l_quantity".cast("long")).as("r"))
      val capped = r
        .withColumn("rn", row_number().over(
          Window.partitionBy($"c").orderBy($"r".desc, $"p".asc)))
        .filter($"rn" <= CapK).select($"c", $"p", $"r")
        .localCheckpoint() // feeds ONE ordered pair enumeration
      // SINGLE ordered enumeration (i < j); the per-pair deviation is a
      // WINDOW over the same frame (the r15 bench showed dev is pair-
      // mass-sized — nearly every (i, j) is unique — so the old
      // groupBy + join paid a full extra shuffle to rejoin each pair
      // with its own aggregate). rn = 1 marks one representative row
      // per (i, j) for the model outputs.
      val wij = Window.partitionBy($"i", $"j")
      val pw = capped.as("a").join(capped.as("b"),
          $"a.c" === $"b.c" && $"a.p" < $"b.p")
        .select($"a.c".as("c"), $"a.p".as("i"), $"a.r".as("ri"),
          $"b.p".as("j"), $"b.r".as("rj"))
        .withColumn("nij", count(lit(1)).over(wij))
        .withColumn("diff", sum($"ri" - $"rj").over(wij).cast("long"))
        .withColumn("rn", row_number().over(wij.orderBy($"c".asc)))
        .selectExpr("c", "i", "ri", "j", "rj", "nij", "rn",
          // sign-split milli floor (Spark DIV truncates; DuckDB // floors)
          "CAST(SIGN(diff) AS BIGINT) * ((1000 * abs(diff)) DIV nij) AS dev_milli")
        .localCheckpoint() // pair frame + its deviations, read 3× below
      // each ordered pair predicts BOTH ways: tgt=i from oth=j (dev
      // enters with −, since dev_milli is the i−j deviation) and tgt=j
      // from oth=i (dev enters with +) — no join back to a model table
      val preds = pw
        .select($"c", explode(array(
          struct($"i".as("tgt"), $"ri".as("r_tgt"), $"rj".as("r_oth"),
            lit(-1).as("sgn")),
          struct($"j".as("tgt"), $"rj".as("r_tgt"), $"ri".as("r_oth"),
            lit(1).as("sgn")))).as("leg"), $"nij", $"dev_milli")
        .select($"c", $"leg.tgt".as("tgt"), $"leg.r_tgt".as("r_tgt"),
          $"leg.r_oth".as("r_oth"), $"leg.sgn".as("sgn"), $"nij", $"dev_milli")
        .groupBy($"c", $"tgt", $"r_tgt")
        .agg(sum($"nij" * (lit(1000L) * $"r_oth" - $"sgn" * $"dev_milli")).as("num"),
          sum($"nij").as("den"))
        .selectExpr("c", "tgt", "r_tgt",
          "CAST(SIGN(num) AS BIGINT) * (abs(num) DIV den) AS pred_milli")
      val err = preds
        .agg(count(lit(1)).as("n_preds"),
          sum(abs(lit(1000L) * $"r_tgt" - $"pred_milli")).cast("long").as("sae"))
        .selectExpr("n_preds", "sae DIV n_preds AS mae_milli")
      val dev1 = pw.filter($"rn" === 1)
      val nPairs = dev1.agg(count(lit(1)).as("n_pairs"))
      dev1.orderBy($"nij".desc, $"i".asc, $"j".asc).limit(10)
        .crossJoin(broadcast(err))
        .crossJoin(broadcast(nPairs))
        .selectExpr("i AS part_i", "j AS part_j", "nij", "dev_milli",
          "n_pairs", "n_preds", "mae_milli")
        .orderBy($"nij".desc, $"part_i".asc, $"part_j".asc)
    })
  )

  /** One SQL EM round (shared skeleton — gam/means/state CTE triple
    * for round `i` reading state CTE `prev`). */
  private def emRoundSql(i: Int, prev: String): String =
    s"""gam$i AS MATERIALIZED (
       |  SELECT x, $GammaMilliE AS g
       |  FROM ranked CROSS JOIN $prev),
       |me$i AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    GREATEST(1, LEAST(999,
       |      CAST(SUM(g) AS BIGINT) // CAST(COUNT(*) AS BIGINT))) AS pi1,
       |    CAST(SUM(g * x) AS BIGINT)
       |      // GREATEST(CAST(SUM(g) AS BIGINT), 1) AS mu1,
       |    CAST(SUM((1000 - g) * x) AS BIGINT)
       |      // GREATEST(CAST(SUM(1000 - g) AS BIGINT), 1) AS mu2
       |  FROM gam$i),
       |st$i AS MATERIALIZED (
       |  SELECT pi1, mu1, mu2,
       |    GREATEST(CAST(SUM(g * (x - mu1) * (x - mu1)
       |        + (1000 - g) * (x - mu2) * (x - mu2)) AS BIGINT)
       |      // (1000 * n), 1) AS vr
       |  FROM gam$i CROSS JOIN me$i
       |  GROUP BY pi1, mu1, mu2, n)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_gmm_em" ->
      s"""WITH day AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         |      // 100000 AS x
         |  FROM orders GROUP BY 1),
         |ranked AS MATERIALIZED (
         |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, day) AS BIGINT) AS r FROM day),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM ranked),
         |st0 AS MATERIALIZED (
         |  SELECT 500 AS pi1, q1.mu1, q3.mu2,
         |    GREATEST((n * sxx - sx * sx) // (n * n), 1) AS vr, n
         |  FROM tot,
         |    (SELECT x AS mu1 FROM ranked CROSS JOIN tot
         |     WHERE r = GREATEST(1, (n + 1) // 4)) q1,
         |    (SELECT x AS mu2 FROM ranked CROSS JOIN tot
         |     WHERE r = GREATEST(1, (3 * (n + 1)) // 4)) q3),
         |${emRoundSql(1, "st0")},
         |${emRoundSql(2, "st1")}
         |SELECT st0.n AS n_days, st0.mu1 AS mu1_0, st0.mu2 AS mu2_0, st0.vr AS var_0,
         |  st1.pi1 AS pi1_r1, st1.mu1 AS mu1_r1, st1.mu2 AS mu2_r1, st1.vr AS var_r1,
         |  st2.pi1 AS pi1_r2, st2.mu1 AS mu1_r2, st2.mu2 AS mu2_r2, st2.vr AS var_r2
         |FROM st0 CROSS JOIN st1 CROSS JOIN st2""".stripMargin,

    "ml_fisher_lda" ->
      """WITH v AS MATERIALIZED (
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
        |  SELECT g, ng,
        |    CAST(mx AS DOUBLE) + CAST(CAST(SUM(dx) AS BIGINT) AS DOUBLE) / CAST(ng AS DOUBLE) AS ux,
        |    CAST(my AS DOUBLE) + CAST(CAST(SUM(dy) AS BIGINT) AS DOUBLE) / CAST(ng AS DOUBLE) AS uy,
        |    CAST(CAST(SUM(dx * dx) AS BIGINT) AS DOUBLE)
        |      - CAST(CAST(SUM(dx) AS BIGINT) * CAST(SUM(dx) AS BIGINT) AS DOUBLE) / CAST(ng AS DOUBLE) AS cxx,
        |    CAST(CAST(SUM(dy * dy) AS BIGINT) AS DOUBLE)
        |      - CAST(CAST(SUM(dy) AS BIGINT) * CAST(SUM(dy) AS BIGINT) AS DOUBLE) / CAST(ng AS DOUBLE) AS cyy,
        |    CAST(CAST(SUM(dx * dy) AS BIGINT) AS DOUBLE)
        |      - CAST(CAST(SUM(dx) AS BIGINT) * CAST(SUM(dy) AS BIGINT) AS DOUBLE) / CAST(ng AS DOUBLE) AS cxy
        |  FROM (SELECT v.g, m.ng, m.mx, m.my, v.x - m.mx AS dx, v.y - m.my AS dy
        |        FROM v JOIN m ON v.g = m.g)
        |  GROUP BY g, ng, mx, my),
        |p AS (
        |  SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN g = 1 THEN ng ELSE 0 END) AS BIGINT) AS n1,
        |    SUM(CASE WHEN g = 1 THEN ux ELSE 0.0 END) AS ux1,
        |    SUM(CASE WHEN g = 1 THEN uy ELSE 0.0 END) AS uy1,
        |    SUM(CASE WHEN g = 0 THEN ux ELSE 0.0 END) AS ux0,
        |    SUM(CASE WHEN g = 0 THEN uy ELSE 0.0 END) AS uy0,
        |    SUM(cxx) AS wxx, SUM(cyy) AS wyy, SUM(cxy) AS wxy
        |  FROM c),
        |raw AS (
        |  SELECT n, n1, ux1, uy1, ux0, uy0,
        |    wyy * (ux1 - ux0) - wxy * (uy1 - uy0) AS wxr,
        |    wxx * (uy1 - uy0) - wxy * (ux1 - ux0) AS wyr
        |  FROM p),
        |wq AS (
        |  SELECT n, n1, ux1, uy1, ux0, uy0,
        |    CAST(FLOOR(1000000.0 * wxr / GREATEST(abs(wxr), abs(wyr))) AS BIGINT) AS wx_micro,
        |    CAST(FLOOR(1000000.0 * wyr / GREATEST(abs(wxr), abs(wyr))) AS BIGINT) AS wy_micro
        |  FROM raw),
        |model AS MATERIALIZED (
        |  SELECT n, n1, wx_micro, wy_micro,
        |    CAST(FLOOR(CAST(wx_micro AS DOUBLE) * (ux1 + ux0)
        |      + CAST(wy_micro AS DOUBLE) * (uy1 + uy0)) AS BIGINT) AS thr2
        |  FROM wq),
        |cm AS (
        |  SELECT
        |    CAST(SUM(yh * g) AS BIGINT) AS tp,
        |    CAST(SUM(yh * (1 - g)) AS BIGINT) AS fp,
        |    CAST(SUM((1 - yh) * g) AS BIGINT) AS fn,
        |    CAST(SUM((1 - yh) * (1 - g)) AS BIGINT) AS tn
        |  FROM (SELECT g,
        |          CASE WHEN 2 * (wx_micro * x + wy_micro * y) > thr2
        |            THEN 1 ELSE 0 END AS yh
        |        FROM v CROSS JOIN model))
        |SELECT n, n1, n - n1 AS n0, wx_micro, wy_micro, thr2,
        |  tp, fp, fn, tn,
        |  (tp + tn) * 10000 // n AS acc_bp,
        |  GREATEST(n1, n - n1) * 10000 // n AS majority_bp
        |FROM cm CROSS JOIN model""".stripMargin,

    "cf_slope_one" ->
      s"""WITH r AS (
         |  SELECT o.o_custkey AS c, l.l_partkey AS p,
         |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2),
         |capped AS MATERIALIZED (
         |  SELECT c, p, r FROM (
         |    SELECT c, p, r,
         |      ROW_NUMBER() OVER (PARTITION BY c ORDER BY r DESC, p ASC) AS rn
         |    FROM r)
         |  WHERE rn <= $CapK),
         |dev AS MATERIALIZED (
         |  SELECT i, j, nij,
         |    CAST(SIGN(diff) AS BIGINT) * ((1000 * abs(diff)) // nij) AS dev_milli
         |  FROM (
         |    SELECT a.p AS i, b.p AS j, CAST(COUNT(*) AS BIGINT) AS nij,
         |      CAST(SUM(a.r - b.r) AS BIGINT) AS diff
         |    FROM capped a JOIN capped b ON a.c = b.c AND a.p < b.p
         |    GROUP BY 1, 2)),
         |preds AS (
         |  SELECT c, tgt, r_tgt,
         |    CAST(SIGN(num) AS BIGINT) * (abs(num) // den) AS pred_milli
         |  FROM (
         |    SELECT t.c, t.tgt, t.r_tgt,
         |      CAST(SUM(d.nij * (1000 * t.r_oth - t.sgn * d.dev_milli)) AS BIGINT) AS num,
         |      CAST(SUM(d.nij) AS BIGINT) AS den
         |    FROM (
         |      SELECT a.c AS c, a.p AS tgt, a.r AS r_tgt, b.p AS oth, b.r AS r_oth,
         |        LEAST(a.p, b.p) AS i, GREATEST(a.p, b.p) AS j,
         |        CASE WHEN b.p < a.p THEN 1 ELSE -1 END AS sgn
         |      FROM capped a JOIN capped b ON a.c = b.c AND a.p <> b.p) t
         |    JOIN dev d ON t.i = d.i AND t.j = d.j
         |    GROUP BY 1, 2, 3)),
         |err AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_preds,
         |    CAST(SUM(abs(1000 * r_tgt - pred_milli)) AS BIGINT)
         |      // CAST(COUNT(*) AS BIGINT) AS mae_milli
         |  FROM preds),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM dev),
         |top AS (
         |  SELECT i AS part_i, j AS part_j, nij, dev_milli
         |  FROM dev ORDER BY nij DESC, i ASC, j ASC LIMIT 10)
         |SELECT part_i, part_j, nij, dev_milli, n_pairs, n_preds, mae_milli
         |FROM top CROSS JOIN err CROSS JOIN np
         |ORDER BY nij DESC, part_i ASC, part_j ASC""".stripMargin
  )
}
