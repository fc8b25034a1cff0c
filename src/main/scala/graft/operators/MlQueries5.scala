package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 ML additions over the (x1, x2, y) return-flag frame
  * (MlQueries4.features — discount cents −5, quantity −25, y = returned):
  *
  *  - `ml_decision_tree`    — a depth-2 CART grown exactly: exhaustive
  *    best-first split search over a fixed 14-candidate grid at the
  *    root, then independently on each side — the structural step past
  *    `ml_decision_stump` (one split) and `ml_adaboost_stumps`
  *    (additive stumps): an actual tree with four leaves, plus its
  *    exact train accuracy.
  *  - `ml_mutual_info_rank` — mutual-information feature screen: four
  *    bucketed candidate features ranked by I(F;Y) against the return
  *    flag (the filter-method complement of the model-based
  *    `ml_permutation_importance`).
  *
  * Exactness: the tree's split criterion is the Gini-equivalent purity
  * score Σ_child (pos² + neg²)/n_child — all counts exact BIGINTs, the
  * score one shared double tree evaluated once per (node, candidate)
  * on identical integers in both engines (pos² ≤ (9e7)² stays an exact
  * double through sf ≈ 15; beyond that the IEEE product is rounded but
  * still deterministic, same inputs → same bits). Leaf predictions and
  * accuracy are pure integer counts. MI terms (c/N)·ln(N·c/(c_f·c_y))
  * are nano-quantized PER CELL before the ≤62-cell sum (the
  * bartlett/tukey cross-group discipline), so the ranking integer is
  * summation-order-free.
  *
  * Scale: each tree pass is grid-crossjoin (14 rows, broadcast) →
  * partial+final aggregate — rows expand ×14 BEFORE the map-side
  * combine collapses each task to ≤28 groups; the fact table never
  * shuffles on a row key (the ml_adaboost_stumps shape). MI is one
  * corpus scan through a 4-way stack generator into a ≤62-cell
  * aggregate; marginals ride cell-sized windows.
  */
object MlQueries5 extends graft.QueryModule {
  /** The (x1, x2, y) feature frame (shared with MlQueries4). */
  private def features(s: SparkSession, d: String): DataFrame =
    // r20: fanOutScan keyed on the ROW IDENTITY (never a feature key —
    // the PlanSpec no-feature-key-shuffle contract); see Tables.
    graft.Tables.fanOutScan(s, lineitem(s, d).selectExpr(
      "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
      "CAST(l_quantity AS BIGINT) - 25 AS x2",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
      "l_orderkey", "l_linenumber"),
      org.apache.spark.sql.functions.col("l_orderkey"),
      org.apache.spark.sql.functions.col("l_linenumber"))
      .select("x1", "x2", "y")

  private val featSql =
    """SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
      |  CAST(l_quantity AS BIGINT) - 25 AS x2,
      |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |FROM lineitem""".stripMargin

  /** 14-candidate split grid: feature (1|2) × 7 thresholds spanning
    * each feature's small integer range (x1 −3..3; x2 −15..15 step 5).
    * Split semantics: left ⟺ x_f ≤ thr. */
  private val splitGrid: Seq[(Int, Long)] = for {
    f <- Seq(1, 2)
    t <- Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L)
  } yield (f, if (f == 1) t else t * 5)

  private val gridSql = splitGrid
    .map { case (f, t) => s"($f, CAST($t AS BIGINT))" }
    .mkString("(VALUES ", ", ", ") grid(f, thr)")

  /** Left-branch predicate over (x1, x2) for feature/threshold columns
    * `$f`/`$thr`; f = 0 encodes "no split, everything left" (the
    * degenerate-side fallback). Shared text, both engines. */
  private def leftE(f: String, thr: String): String =
    s"(CASE WHEN $f = 0 THEN TRUE WHEN $f = 1 THEN x1 <= $thr ELSE x2 <= $thr END)"

  /** Purity score to MAXIMIZE over candidates: Σ_child (pos²+neg²)/n —
    * minimizing weighted Gini ⟺ maximizing this (n − Σ(pos²+neg²)/n is
    * n·Gini_w). One double tree over exact counts nl/pl/nr/pr. */
  private val scoreE =
    """((CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
      |  + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE)) / CAST(nl AS DOUBLE)
      | + (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
      |  + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE)) / CAST(nr AS DOUBLE))""".stripMargin

  val queries: Map[String, Q] = Map(
    // DEPTH-2 CART: root split by exhaustive purity search, then the
    // same search independently on each side; a side with no valid
    // candidate (every split leaves one child empty — a pure constant
    // block) keeps f = 0 and predicts its own majority in both leaves.
    // Three corpus passes total (root stats, side stats, final score),
    // like ml_adaboost_stumps.
    "ml_decision_tree" -> ((s, d) => {
      import s.implicits._
      val t = features(s, d).localCheckpoint()
      val grid = splitGrid.toDF("f", "thr")
      // pass 1: per-candidate (n, pos, n_left, pos_left) → root argmax
      val cand = t.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "y",
          s"CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END AS isl")
        .groupBy($"f", $"thr")
        .agg(count(lit(1)).as("n"), sum($"y").cast("long").as("p"),
          sum($"isl").cast("long").as("nl"),
          sum(when($"isl" === 1, $"y").otherwise(0)).cast("long").as("pl"))
        .withColumn("nr", $"n" - $"nl").withColumn("pr", $"p" - $"pl")
        .filter($"nl" > 0 && $"nr" > 0)
        .withColumn("score", expr(scoreE))
      val root = cand.orderBy($"score".desc, $"f".asc, $"thr".asc).limit(1)
        .selectExpr("f AS rootf", "thr AS roott")
        .localCheckpoint() // 1-row model state: pin so later passes don't re-run the search
      // pass 2: route rows by the root, re-run the search per side
      val sided = t.crossJoin(broadcast(root))
        .selectExpr("x1", "x2", "y",
          s"CASE WHEN ${leftE("rootf", "roott")} THEN 0 ELSE 1 END AS side")
      val sideCand = sided.crossJoin(broadcast(grid))
        .selectExpr("side", "f", "thr", "y",
          s"CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END AS isl")
        .groupBy($"side", $"f", $"thr")
        .agg(count(lit(1)).as("n"), sum($"y").cast("long").as("p"),
          sum($"isl").cast("long").as("nl"),
          sum(when($"isl" === 1, $"y").otherwise(0)).cast("long").as("pl"))
        .withColumn("nr", $"n" - $"nl").withColumn("pr", $"p" - $"pl")
        .filter($"nl" > 0 && $"nr" > 0)
        .withColumn("score", expr(scoreE))
      val wSide = Window.partitionBy($"side")
        .orderBy($"score".desc, $"f".asc, $"thr".asc)
      val best = sideCand.withColumn("rk", row_number().over(wSide))
        .filter($"rk" === 1)
        .select($"side", $"f".as("cf"), $"thr".as("cthr"),
          $"nl", $"pl", $"nr", $"pr")
      val sides = sided.groupBy($"side")
        .agg(count(lit(1)).as("ns"), sum($"y").cast("long").as("ps"))
      val childs = sides.join(best, Seq("side"), "left")
        .selectExpr("side", "COALESCE(cf, 0) AS cf",
          "COALESCE(cthr, CAST(0 AS BIGINT)) AS cthr",
          """CASE WHEN cf IS NULL THEN (CASE WHEN 2 * ps > ns THEN 1 ELSE 0 END)
            | ELSE (CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END) END AS pred_l""".stripMargin,
          """CASE WHEN cf IS NULL THEN (CASE WHEN 2 * ps > ns THEN 1 ELSE 0 END)
            | ELSE (CASE WHEN 2 * pr > nr THEN 1 ELSE 0 END) END AS pred_r""".stripMargin)
      val tree = root.crossJoin(broadcast(childs.groupBy().agg(
        max(when($"side" === 0, $"cf")).as("lf"),
        max(when($"side" === 0, $"cthr")).as("lt"),
        max(when($"side" === 0, $"pred_l")).as("pred_ll"),
        max(when($"side" === 0, $"pred_r")).as("pred_lr"),
        max(when($"side" === 1, $"cf")).as("rgf"),
        max(when($"side" === 1, $"cthr")).as("rgt"),
        max(when($"side" === 1, $"pred_l")).as("pred_rl"),
        max(when($"side" === 1, $"pred_r")).as("pred_rr"))))
        .localCheckpoint() // 1-row assembled tree
      // pass 3: exact train accuracy through the four leaves
      t.crossJoin(broadcast(tree))
        .selectExpr("y", "rootf", "roott", "lf", "lt", "rgf", "rgt",
          "pred_ll", "pred_lr", "pred_rl", "pred_rr",
          s"""CASE WHEN ${leftE("rootf", "roott")}
             | THEN (CASE WHEN ${leftE("lf", "lt")} THEN pred_ll ELSE pred_lr END)
             | ELSE (CASE WHEN ${leftE("rgf", "rgt")} THEN pred_rl ELSE pred_rr END)
             | END AS yhat""".stripMargin)
        .groupBy($"rootf", $"roott", $"lf", $"lt", $"rgf", $"rgt",
          $"pred_ll", $"pred_lr", $"pred_rl", $"pred_rr")
        .agg(count(lit(1)).as("n"),
          sum(when($"y" === $"yhat", 1L).otherwise(0L)).cast("long").as("n_correct"))
        .selectExpr("rootf AS root_f", "roott AS root_thr",
          "lf AS left_f", "lt AS left_thr", "rgf AS right_f", "rgt AS right_thr",
          "pred_ll", "pred_lr", "pred_rl", "pred_rr",
          "n", "n_correct", "n_correct * 10000 DIV n AS acc_bp")
    }),

    // MUTUAL-INFORMATION FEATURE RANK: I(F;Y) = Σ_cells (c/N)·
    // ln(N·c/(c_f·c_y)) over exact counts, nano-quantized per cell.
    // One corpus scan stacks the four candidate features into
    // (feature, val, y) cells; marginals ride windows on the ≤62-row
    // cell table. Ranking by the Σ of per-cell nano terms == ranking
    // by MI (same N across features).
    "ml_mutual_info_rank" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d).selectExpr(
          "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc",
          "CAST(l_quantity AS BIGINT) DIV 10 AS qtyb",
          "CAST(month(l_shipdate) AS BIGINT) AS mon",
          "CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS BIGINT) AS st",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
        .select(expr("stack(4, 'disc', disc, 'qty', qtyb, 'month', mon, 'status', st) AS (feature, val)"), $"y")
        .groupBy($"feature", $"val", $"y").agg(count(lit(1)).as("c"))
      val marg = cells
        .withColumn("n", sum($"c").over(Window.partitionBy($"feature")))
        .withColumn("cf", sum($"c").over(Window.partitionBy($"feature", $"val")))
        .withColumn("cy", sum($"c").over(Window.partitionBy($"feature", $"y")))
      val terms = marg.selectExpr("feature",
        """CAST(FLOOR(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
          | * ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
          |      / (CAST(cf AS DOUBLE) * CAST(cy AS DOUBLE))) * 1e9) AS BIGINT) AS t_nano""".stripMargin)
      terms.groupBy($"feature").agg(sum($"t_nano").cast("long").as("mi_nano"))
        .withColumn("rk",
          row_number().over(Window.orderBy($"mi_nano".desc, $"feature".asc)).cast("long"))
        .select($"feature", $"mi_nano", $"rk")
        .orderBy($"rk")
    }),

    // GRADIENT-BOOSTED REGRESSION STUMPS, TWO ROUNDS: stump 1 fits the
    // price target by exhaustive SSE-gain search (argmin SSE ⟺ argmax
    // S_L²/n_L + S_R²/n_R over exact child sums), leaf means are
    // milli-quantized by integer DIV (exact — sums are non-negative),
    // so round-2 residuals r = 1000·y − μ_milli are EXACT BIGINTs;
    // stump 2 refits the residuals with the same search and its leaf
    // offsets ν = ⌊T/n⌋ floor through the double (T signed — DIV would
    // truncate toward zero, floor() agrees across engines). The Σ|r|
    // before/after stump 2 is the exact-integer fit-improvement
    // certificate. Squared sums S² enter ONLY as IEEE doubles of exact
    // integers (deterministic both engines; the ml_decision_tree
    // contract). Three corpus passes, each grid-broadcast →
    // partial+final aggregate — no row-key shuffle anywhere.
    "ml_gbt_stumps" -> ((s, d) => {
      import s.implicits._
      // r20: fan the single-task scan out keyed on row identity (q113
      // seam; never a feature key). Exact integer sums only.
      val t = graft.Tables.fanOutScan(s, lineitem(s, d).selectExpr(
          "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
          "CAST(l_quantity AS BIGINT) - 25 AS x2",
          "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y",
          "l_orderkey", "l_linenumber"), $"l_orderkey", $"l_linenumber")
        .select("x1", "x2", "y")
        .localCheckpoint()
      val grid = splitGrid.toDF("f", "thr")
      // round 1: argmax of sl²/nl + sr²/nr
      val c1 = t.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "y",
          s"CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END AS isl")
        .groupBy($"f", $"thr")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"isl").cast("long").as("nl"),
          sum(when($"isl" === 1, $"y").otherwise(0L)).as("sl"))
        .withColumn("nr", $"n" - $"nl").withColumn("sr", $"sy" - $"sl")
        .filter($"nl" > 0 && $"nr" > 0)
      val h1 = c1.orderBy(expr(sseGainE).desc, $"f".asc, $"thr".asc).limit(1)
        .selectExpr("f AS f1", "thr AS thr1",
          "sl * 1000 DIV nl AS mul_milli", // y ≥ 0 ⟹ sl, sr ≥ 0: DIV == floor
          "sr * 1000 DIV nr AS mur_milli")
        .localCheckpoint() // 1-row model state
      // round 2: exact residuals vs the quantized leaf means
      val resid = t.crossJoin(broadcast(h1))
        .selectExpr("x1", "x2", "f1", "thr1", "mul_milli", "mur_milli",
          s"""1000 * y - (CASE WHEN ${leftE("f1", "thr1")}
             | THEN mul_milli ELSE mur_milli END) AS r""".stripMargin)
      val c2 = resid.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "r", "f1", "thr1", "mul_milli", "mur_milli",
          s"CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END AS isl")
        .groupBy($"f", $"thr", $"f1", $"thr1", $"mul_milli", $"mur_milli")
        .agg(count(lit(1)).as("n"), sum($"r").as("sy"),
          sum($"isl").cast("long").as("nl"),
          sum(when($"isl" === 1, $"r").otherwise(0L)).as("sl"),
          sum(abs($"r")).as("sae1"))
        .withColumn("nr", $"n" - $"nl").withColumn("sr", $"sy" - $"sl")
        .filter($"nl" > 0 && $"nr" > 0)
      val h2 = c2.orderBy(expr(sseGainE).desc, $"f".asc, $"thr".asc).limit(1)
        .selectExpr("f1", "thr1", "mul_milli", "mur_milli",
          "f AS f2", "thr AS thr2", "sae1",
          "CAST(FLOOR(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) AS BIGINT) AS nul_milli",
          "CAST(FLOOR(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) AS BIGINT) AS nur_milli")
        .localCheckpoint() // 1-row model state
      // pass 3: Σ|r − ν| — the post-boost residual mass
      resid.select($"x1", $"x2", $"r").crossJoin(broadcast(h2))
        .selectExpr("f1", "thr1", "mul_milli", "mur_milli",
          "f2", "thr2", "nul_milli", "nur_milli", "sae1",
          s"""abs(r - (CASE WHEN ${leftE("f2", "thr2")}
             | THEN nul_milli ELSE nur_milli END)) AS a2""".stripMargin)
        .groupBy($"f1", $"thr1", $"mul_milli", $"mur_milli",
          $"f2", $"thr2", $"nul_milli", $"nur_milli", $"sae1")
        .agg(count(lit(1)).as("n"), sum($"a2").as("sae2"))
        .selectExpr("f1", "thr1", "mul_milli", "mur_milli",
          "f2", "thr2", "nul_milli", "nur_milli",
          "n", "sae1 DIV n AS mae1_milli", "sae2 DIV n AS mae2_milli")
    }),

    // BOOTSTRAP-AGGREGATED STUMPS (bagging — the variance-reduction
    // ensemble next to boosting's bias reduction): 8 deterministic
    // "bootstrap" resamples via md5-derived pseudo-Poisson(1) row
    // weights w ∈ {0,1,2,3} (thresholds 368/736/920 on md5‰ ≈ the
    // Poisson(1) pmf mass — same in both engines by md5 portability),
    // each bag fits the best weighted-Gini stump, the ensemble
    // majority-votes. Two corpus passes: one ×(8 bags · 14 splits)
    // grid expansion into a 112-group partial aggregate, one scoring
    // pass against the 8-row broadcast model.
    "ml_bagging_stumps" -> ((s, d) => {
      import s.implicits._
      // r20: fan the single-task scan out BEFORE the per-row md5 digest
      // so the digest and every downstream pass run across the
      // session's cores (q113 seam); keys are the digest inputs.
      val t = graft.Tables.fanOutScan(s, lineitem(s, d).selectExpr(
          "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
          "CAST(l_quantity AS BIGINT) - 25 AS x2",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
          "l_orderkey", "l_linenumber"), $"l_orderkey", $"l_linenumber")
        .selectExpr("x1", "x2", "y",
          // ONE digest per row, materialized by the checkpoint — the
          // ×Bags weight expansion below only slices lanes of it
          "md5(concat(CAST(l_orderkey AS STRING), '|', CAST(l_linenumber AS STRING))) AS hk")
        .localCheckpoint()
      val grid = splitGrid.toDF("f", "thr")
      val bags = (0 until Bags).map(b => Tuple1(b)).toDF("bag")
      // CELL COLLAPSE (the ml_decision_stump threshold-collapse trick,
      // extended to the weighted ensemble): the Gini search only needs
      // per-(bag, x1, x2, y) weight sums — so pay ONE ×Bags corpus
      // pass to fold the md5 weights into ≤ |cells|·Bags sufficient
      // rows (~9k at any SF; x1 spans 11 values, x2 ~50, y 2), then
      // expand the ×14 grid over CELLS, not rows. The r14 version
      // expanded ×(Bags·14) = ×112 over the corpus; the collapse
      // itself is output-preserving (identical integer sums) — the
      // concurrent weight-scheme changes (r15 digest lanes, r16
      // 4-hex lanes) are what re-pinned the output hashes.
      val cells = t.crossJoin(broadcast(bags))
        .selectExpr("x1", "x2", "y", "bag", s"$BagWSql AS w")
        .groupBy($"bag", $"x1", $"x2", $"y")
        .agg(sum($"w").cast("long").as("sw"))
        .localCheckpoint() // sufficient-statistic grid, corpus-size-free
      val cand = cells.crossJoin(broadcast(grid))
        .selectExpr("bag", "f", "thr", "sw", "y",
          s"CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END AS isl")
        .groupBy($"bag", $"f", $"thr")
        .agg(sum($"sw").cast("long").as("n"),
          sum($"sw" * $"y").cast("long").as("p"),
          sum($"sw" * $"isl").cast("long").as("nl"),
          sum($"sw" * $"isl" * $"y").cast("long").as("pl"))
        .withColumn("nr", $"n" - $"nl").withColumn("pr", $"p" - $"pl")
        .filter($"nl" > 0 && $"nr" > 0)
        .withColumn("score", expr(scoreE))
      val wBag = Window.partitionBy($"bag")
        .orderBy($"score".desc, $"f".asc, $"thr".asc)
      val model = cand.withColumn("rn", row_number().over(wBag))
        .filter($"rn" === 1)
        .selectExpr("bag", "f", "thr", "n AS n_eff",
          "CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END AS pred_l",
          "CASE WHEN 2 * pr > nr THEN 1 ELSE 0 END AS pred_r")
        .localCheckpoint() // 8-row ensemble
      // vote INLINE (the ml_isolation_stumps idiom): pivot the 8
      // stumps into one broadcast row, score all 8 as CASE terms per
      // row — no per-row-key shuffle anywhere
      val modelRow = model.groupBy().agg(
        (0 until Bags).flatMap(b => Seq(
          max(when($"bag" === b, $"f")).as(s"f$b"),
          max(when($"bag" === b, $"thr")).as(s"t$b"),
          max(when($"bag" === b, $"pred_l")).as(s"pl$b"),
          max(when($"bag" === b, $"pred_r")).as(s"pr$b"))).head,
        (0 until Bags).flatMap(b => Seq(
          max(when($"bag" === b, $"f")).as(s"f$b"),
          max(when($"bag" === b, $"thr")).as(s"t$b"),
          max(when($"bag" === b, $"pred_l")).as(s"pl$b"),
          max(when($"bag" === b, $"pred_r")).as(s"pr$b"))).tail: _*)
      val voteE = (0 until Bags)
        .map(b => s"(CASE WHEN ${leftE(s"f$b", s"t$b")} THEN pl$b ELSE pr$b END)")
        .mkString(" + ")
      // score over the UNWEIGHTED cell census too — the vote depends
      // only on (x1, x2), so per-cell vote × cell count replaces the
      // second corpus scan (same integer totals, hash-unchanged)
      val acc = t.groupBy($"x1", $"x2", $"y").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(modelRow))
        .selectExpr("y", "cnt",
          s"CASE WHEN 2 * ($voteE) > $Bags THEN 1 ELSE 0 END AS yhat")
        .groupBy()
        .agg(sum($"cnt").cast("long").as("n"),
          sum(when($"y" === $"yhat", $"cnt").otherwise(0L)).cast("long").as("n_correct"))
        .selectExpr("n", "n_correct", "n_correct * 10000 DIV n AS ens_acc_bp")
      model.crossJoin(broadcast(acc))
        .select($"bag", $"f", $"thr", $"n_eff", $"pred_l", $"pred_r",
          $"n", $"n_correct", $"ens_acc_bp")
        .orderBy($"bag")
    }),

    // GREEDY k-CENTER CORESET (González farthest-point selection) over
    // the embedding corpus — the diversity-maximizing subset picker a
    // curation pipeline uses to seed balanced eval panels: each round
    // adds the point FARTHEST from the selected set (exact integer
    // squared distance on milli-quantized coordinates; argmax under
    // the (dist desc, vec_id) total order) and reports the coverage
    // radius after each pick. Per round one broadcast-centers corpus
    // pass — the linear Gonzalez bound, no pairwise corpus join ever.
    "samp_kcenter_coreset" -> ((s, d) => {
      import s.implicits._
      val qv = transform($"embedding", x => floor(x.cast("double") * 1000).cast("long"))
      def sqd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
      val emb = embeddings(s, d).select($"vec_id", qv.as("q")).localCheckpoint()
      var selected = emb.orderBy($"vec_id".asc).limit(1)
        .select($"vec_id", $"q", lit(1).as("pick"), lit(0L).as("mindist"))
        .localCheckpoint() // deterministic seed: smallest vec_id
      for (k <- 2 to CoresetK) {
        val next = emb
          .join(selected.select($"vec_id".as("sid")), $"vec_id" === $"sid", "left_anti")
          .crossJoin(broadcast(selected.select($"q".as("sq"))))
          .select($"vec_id", $"q", sqd($"q", $"sq").as("dist"))
          .groupBy($"vec_id", $"q").agg(min($"dist").as("mindist"))
          .orderBy($"mindist".desc, $"vec_id".asc).limit(1)
          .select($"vec_id", $"q", lit(k).as("pick"), $"mindist")
        selected = selected.unionByName(next).localCheckpoint()
      }
      selected.select($"pick", $"vec_id", $"mindist").orderBy($"pick")
    }),

    // RANK-1 ALS MATRIX FACTORIZATION of the customer×part quantity
    // matrix — the third recommender member next to cf_item_neighbors
    // (neighborhood) and cf_user_recs (scoring): r̂_ij ≈ u_i·v_j by
    // three alternating least-squares half-steps (u|v=1 → v|u → u|v),
    // each closed-form update u_i = Σr·v/Σv² run in EXACT integer
    // milli-units (all sums of BIGINTs, one floor DIV per update —
    // non-negative operands, so Spark DIV == DuckDB //). The final
    // pass reports Σ|1000·r − û·v̂/1000| — train MAE in milli-units,
    // all-integer. Every step is a keyed aggregate or keyed equi-join
    // on c or p (the true distributed-ALS shape: factors co-partition
    // with the ratings; no broadcast of anything user-sized).
    "cf_als_rank1" -> ((s, d) => {
      import s.implicits._
      val r = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey".as("l_orderkey"), $"o_custkey"),
          Seq("l_orderkey"))
        .groupBy($"o_custkey".as("c"), $"l_partkey".as("p"))
        .agg(sum($"l_quantity".cast("long")).as("r"))
        .localCheckpoint() // the ratings matrix, (c,p)-keyed
      val u1 = r.groupBy($"c")
        .agg(count(lit(1)).as("ni"), sum($"r").as("sri"))
        .selectExpr("c", "(1000 * sri) DIV ni AS um") // v≡1000: Σr·v/Σv² = Σr/(1000·n)·1e6
      val v1 = r.join(u1.select($"c", $"um"), Seq("c"))
        .groupBy($"p").agg(count(lit(1)).as("nj"),
          sum($"r" * $"um").as("srum"), sum($"um" * $"um").as("sumsq"))
        .selectExpr("p", "nj", "(1000000 * srum) DIV sumsq AS vm")
        .localCheckpoint() // part-factor table
      val u2 = r.join(v1.select($"p", $"vm"), Seq("p"))
        .groupBy($"c").agg(sum($"r" * $"vm").as("srvm"),
          sum($"vm" * $"vm").as("svmsq"))
        .selectExpr("c", "(1000000 * srvm) DIV svmsq AS um2")
      val err = r.join(u2, Seq("c")).join(v1.select($"p", $"vm"), Seq("p"))
        .selectExpr("abs(1000 * r - (um2 * vm) DIV 1000) AS e")
        .agg(count(lit(1)).as("n_ratings"), sum($"e").cast("long").as("sae"))
        .selectExpr("n_ratings", "sae DIV n_ratings AS mae_milli")
      v1.orderBy($"vm".desc, $"p".asc).limit(10)
        .crossJoin(broadcast(err))
        .selectExpr("p AS partkey", "vm", "nj AS n_raters",
          "n_ratings", "mae_milli")
        .orderBy($"vm".desc, $"partkey".asc)
    }),

    // PLATT SCALING: calibrate the raw quantity margin s = qty − 25
    // into P(returned | s) = σ(a·s + b) by two Newton steps — the
    // calibration FITTER next to ml_calibration_ece's measurement.
    // The shape exploits s having ≤50 DISTINCT VALUES: the corpus
    // collapses to its (s, n, pos) cell table in ONE partial+final
    // aggregate, and both Newton iterations run on the 50-cell frame
    // (gradient/Hessian sums over cells, 2×2 Cramer solve) — the
    // smarter variant of ml_logreg_newton's per-row passes. Per-cell
    // sigmoids are nano-floored BEFORE every cross-cell sum (the
    // pNano idiom), coefficients micro-floored between steps, so each
    // iteration consumes only identical integers. Output: the fitted
    // (a, b), the 50-cell reliability table, and the n-weighted ECE.
    "ml_platt_scaling" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d).selectExpr(
          "CAST(l_quantity AS BIGINT) - 25 AS sc",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
        .groupBy($"sc")
        .agg(count(lit(1)).as("cnt"), sum($"y").cast("long").as("pos"))
        .localCheckpoint() // ≤50 cells; every Newton pass reads this
      var ab = cells.sparkSession.range(1)
        .selectExpr("CAST(0 AS BIGINT) AS a_micro", "CAST(0 AS BIGINT) AS b_micro")
        .localCheckpoint()
      for (_ <- 1 to 2) {
        val scored = cells.crossJoin(broadcast(ab))
          .selectExpr("sc", "cnt", "pos", "a_micro", "b_micro",
            s"$PlattPNanoE AS p_nano")
        val sums = scored.selectExpr("a_micro", "b_micro",
            // every cross-cell sum consumes INTEGER terms: gradients
            // are exact by construction; Hessian w-masses milli-floor
            // per cell first (cross-group double Σ is order-dependent
            // even at 50 cells — the bartlett discipline)
            "sc * (1000000000 * pos - cnt * p_nano) AS ga_t",
            "(1000000000 * pos - cnt * p_nano) AS gb_t",
            s"sc * sc * $PlattWMilliE AS haa_t",
            s"sc * $PlattWMilliE AS hab_t",
            s"$PlattWMilliE AS hbb_t")
          .groupBy($"a_micro", $"b_micro")
          .agg(sum($"ga_t").cast("long").as("ga"), sum($"gb_t").cast("long").as("gb"),
            sum($"haa_t").cast("long").as("haam"), sum($"hab_t").cast("long").as("habm"),
            sum($"hbb_t").cast("long").as("hbbm"))
        ab = sums.selectExpr("a_micro", "b_micro",
            "CAST(haam AS DOUBLE) / 1e3 AS haa",
            "CAST(habm AS DOUBLE) / 1e3 AS hab",
            "CAST(hbbm AS DOUBLE) / 1e3 AS hbb",
            "CAST(ga AS DOUBLE) / 1e9 AS gad", "CAST(gb AS DOUBLE) / 1e9 AS gbd")
          .selectExpr(
          // Newton: [da db] = H⁻¹ g (2×2 Cramer), micro-floored
          """CAST(a_micro + FLOOR((gad * hbb - gbd * hab)
            | / (haa * hbb - hab * hab) * 1e6) AS BIGINT) AS a_micro""".stripMargin,
          """CAST(b_micro + FLOOR((gbd * haa - gad * hab)
            | / (haa * hbb - hab * hab) * 1e6) AS BIGINT) AS b_micro""".stripMargin)
          .localCheckpoint()
      }
      val rel = cells.crossJoin(broadcast(ab))
        .selectExpr("sc", "cnt", "pos", "a_micro", "b_micro",
          s"$PlattPNanoE AS p_nano")
        .selectExpr("sc", "cnt", "pos", "a_micro", "b_micro", "p_nano",
          "pos * 10000 DIV cnt AS obs_bp",
          // cell ECE mass |Σy − n·p| = n·|ȳ − p|, exact ×1e9 integers
          "abs(1000000000 * pos - cnt * p_nano) AS ece_t")
      rel.selectExpr("sc", "cnt", "pos", "obs_bp", "p_nano", "a_micro", "b_micro", "ece_t")
        .withColumn("ece_num", sum($"ece_t").over(Window.partitionBy()))
        .withColumn("n_total", sum($"cnt").over(Window.partitionBy()))
        .selectExpr("sc", "cnt", "pos", "obs_bp", "p_nano", "a_micro", "b_micro",
          "ece_num DIV (n_total * 100000) AS ece_e4") // Σ|pos·1e9−cnt·p|/(N·1e9) ×1e4
        .orderBy($"sc")
    }),

    // PRECISION–RECALL CURVE + AVERAGE PRECISION over the quantity
    // ranking (pos = returned): the imbalanced-class complement of
    // ml_roc_curve — precision is base-rate-sensitive where TPR/FPR
    // are not. Operating points are the ≤50 DISTINCT quantity scores
    // themselves ("predict positive ⟺ quantity ≥ s"), so the corpus
    // collapses to its (score, n, pos) census in ONE partial+final
    // aggregate and everything after is 50-row window algebra. AP is
    // the step-integral Σ_k Δtp_k · precision_k rendered exactly in
    // integers: precision basis points are floored BIGINT ratios, the
    // Δtp weights are the per-cell positive counts, so ap_e4 =
    // Σ(pos·prec_bp) DIV P consumes only identical integers — no
    // trapezoid doubles anywhere.
    "ml_pr_curve" -> ((s, d) => {
      import s.implicits._
      val cells = lineitem(s, d).selectExpr(
          "CAST(l_quantity AS BIGINT) AS sc",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
        .groupBy($"sc")
        .agg(count(lit(1)).as("cnt"), sum($"y").cast("long").as("pos"))
      val w = Window.orderBy($"sc".desc) // ≤50 rows: global window idiom
      cells
        .withColumn("tp", sum($"pos").over(w))
        .withColumn("pp", sum($"cnt").over(w))
        .withColumn("p_all", sum($"pos").over(Window.partitionBy()))
        .selectExpr("sc", "cnt", "pos", "tp", "pp", "p_all",
          "tp * 10000 DIV pp AS precision_bp",
          "tp * 10000 DIV p_all AS recall_bp")
        .withColumn("ap_num", sum($"pos" * $"precision_bp").over(Window.partitionBy()))
        .selectExpr("sc", "cnt", "pos", "tp", "pp", "precision_bp", "recall_bp",
          """CASE WHEN precision_bp + recall_bp = 0 THEN 0
            | ELSE 2 * precision_bp * recall_bp DIV (precision_bp + recall_bp)
            | END AS f1_bp""".stripMargin,
          "ap_num DIV p_all AS ap_e4")
        .orderBy($"sc".desc)
    }),

    // CONFUSION-MATRIX EVAL PANEL for the quantity>25 return
    // classifier: the standard single-threshold report card — counts
    // plus accuracy, balanced accuracy, precision/recall/F1, Matthews
    // correlation and Cohen's κ — that ml_roc_curve (sweep),
    // ml_pr_curve (imbalance) and ml_calibration_ece (probabilities)
    // all presuppose. ONE conditional partial+final aggregate over
    // the corpus; every ratio metric is an exact integer floor
    // (basis points) or one shared double tree over the four exact
    // counts (MCC's √ of a 4-factor product, κ's chance-agreement
    // quadratics — products ≤ n² stay exact doubles past 100×),
    // floored to milli at output.
    "ml_confusion_metrics" -> ((s, d) => {
      val cm = lineitem(s, d).selectExpr(
          "CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS yhat",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
        .groupBy()
        .agg(sum(expr("yhat * y")).cast("long").as("tp"),
          sum(expr("yhat * (1 - y)")).cast("long").as("fp"),
          sum(expr("(1 - yhat) * y")).cast("long").as("fn"),
          sum(expr("(1 - yhat) * (1 - y)")).cast("long").as("tn"))
      cm.selectExpr("tp", "fp", "fn", "tn", "tp + fp + fn + tn AS n",
          "(tp + tn) * 10000 DIV (tp + fp + fn + tn) AS acc_bp",
          "(tp * 10000 DIV (tp + fn) + tn * 10000 DIV (tn + fp)) DIV 2 AS bal_acc_bp",
          "tp * 10000 DIV (tp + fp) AS precision_bp",
          "tp * 10000 DIV (tp + fn) AS recall_bp",
          "2 * tp * 10000 DIV (2 * tp + fp + fn) AS f1_bp",
          s"$MccMilliE AS mcc_milli",
          s"$KappaMilliE AS kappa_milli")
    })
  )

  /** Matthews correlation (tp·tn − fp·fn)/√(Π marginals) milli-floored
    * — one shared double tree over the four exact counts (shared
    * text). */
  private val MccMilliE =
    """CAST(FLOOR(CAST(tp * tn - fp * fn AS DOUBLE)
      | / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
      |   * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
      | * 1000.0) AS BIGINT)""".stripMargin

  /** Cohen's κ = (p_o − p_e)/(1 − p_e) milli-floored; marginal
    * products ≤ n² are exact doubles (shared text). */
  private val KappaMilliE =
    """CAST(FLOOR((CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
      | - (CAST((tp + fp) * (tp + fn) AS DOUBLE)
      |    + CAST((tn + fn) * (tn + fp) AS DOUBLE))
      |   / (CAST(tp + fp + fn + tn AS DOUBLE) * CAST(tp + fp + fn + tn AS DOUBLE)))
      | / (1.0
      |   - (CAST((tp + fp) * (tp + fn) AS DOUBLE)
      |      + CAST((tn + fn) * (tn + fp) AS DOUBLE))
      |     / (CAST(tp + fp + fn + tn AS DOUBLE) * CAST(tp + fp + fn + tn AS DOUBLE)))
      | * 1000.0) AS BIGINT)""".stripMargin

  /** Per-cell calibrated probability σ(a·s + b) in nano units, from
    * micro-quantized coefficients (shared text; the one libm call —
    * exp — floors immediately, the pNano discipline). */
  private val PlattPNanoE =
    """CAST(FLOOR(1e9 / (1.0 + exp(-(CAST(a_micro AS DOUBLE) / 1e6 * CAST(sc AS DOUBLE)
      | + CAST(b_micro AS DOUBLE) / 1e6)))) AS BIGINT)""".stripMargin

  /** Per-cell Hessian mass n·p·(1−p) milli-floored (shared text). */
  private val PlattWMilliE =
    """CAST(FLOOR(CAST(cnt AS DOUBLE)
      | * (CAST(p_nano AS DOUBLE) / 1e9)
      | * (1.0 - CAST(p_nano AS DOUBLE) / 1e9) * 1000.0) AS BIGINT)""".stripMargin

  /** Number of bagging resamples. */
  private val Bags = 8
  /** Greedy k-center picks. */
  private val CoresetK = 6

  /** Deterministic pseudo-Poisson(1) bootstrap weight for (row hash
    * hk, bag): bag b reads its own DISJOINT 4-hex-char lane of ONE
    * md5-per-row (chars 1+4b..4+4b — 8 lanes exactly fill the 32-char
    * digest), 16-bit value ‰ thresholds 368/736/920 ≈ the Poisson(1)
    * pmf masses for 0/1/2/3+. 16-bit lanes (r15 ADVICE): 4096 % 1000
    * = 96 made the old 12-bit lanes visibly non-uniform mod 1000
    * (P(w=0) ≈ 0.383 vs the documented 0.368); 65536 % 1000 = 536
    * bounds the bias at 1/65.5 ≈ 0.4%. One md5 per corpus row — the
    * avalanche property makes the lanes pairwise-independent, which
    * is all the bootstrap needs. The DuckDB twin slices the same
    * lanes of the same digest. */
  private val BagWSql =
    """(CASE
      | WHEN CAST(conv(substring(hk, 1 + 4 * bag, 4), 16, 10) AS BIGINT) % 1000 < 368 THEN 0
      | WHEN CAST(conv(substring(hk, 1 + 4 * bag, 4), 16, 10) AS BIGINT) % 1000 < 736 THEN 1
      | WHEN CAST(conv(substring(hk, 1 + 4 * bag, 4), 16, 10) AS BIGINT) % 1000 < 920 THEN 2
      | ELSE 3 END)""".stripMargin

  /** SSE-gain surrogate for a regression split (maximize):
    * S_L²/n_L + S_R²/n_R over exact child target sums. Same double
    * contract as `scoreE`. */
  private val sseGainE =
    """(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
      | + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE))""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_decision_tree" ->
      s"""WITH t AS ($featSql),
         |cand AS (
         |  SELECT f, thr, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS p,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN y ELSE 0 END) AS BIGINT) AS pl
         |  FROM t CROSS JOIN $gridSql
         |  GROUP BY f, thr),
         |cand2 AS (
         |  SELECT f, thr, n, p, nl, pl, n - nl AS nr, p - pl AS pr FROM cand
         |  WHERE nl > 0 AND n - nl > 0),
         |root AS (
         |  SELECT f AS rootf, thr AS roott FROM (
         |    SELECT f, thr, $scoreE AS score FROM cand2)
         |  ORDER BY score DESC, f ASC, thr ASC LIMIT 1),
         |sided AS (
         |  SELECT x1, x2, y,
         |    CASE WHEN ${leftE("rootf", "roott")} THEN 0 ELSE 1 END AS side
         |  FROM t CROSS JOIN root),
         |scand AS (
         |  SELECT side, f, thr, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS p,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN y ELSE 0 END) AS BIGINT) AS pl
         |  FROM sided CROSS JOIN $gridSql
         |  GROUP BY side, f, thr),
         |scand2 AS (
         |  SELECT side, f, thr, n, p, nl, pl, n - nl AS nr, p - pl AS pr FROM scand
         |  WHERE nl > 0 AND n - nl > 0),
         |best AS (
         |  SELECT side, f AS cf, thr AS cthr, nl, pl, nr, pr FROM (
         |    SELECT side, f, thr, nl, pl, nr, pr,
         |      row_number() OVER (PARTITION BY side
         |        ORDER BY $scoreE DESC, f ASC, thr ASC) AS rk
         |    FROM scand2) q WHERE rk = 1),
         |sides AS (
         |  SELECT side, CAST(count(*) AS BIGINT) AS ns, CAST(SUM(y) AS BIGINT) AS ps
         |  FROM sided GROUP BY side),
         |childs AS (
         |  SELECT s.side, COALESCE(b.cf, 0) AS cf,
         |    COALESCE(b.cthr, CAST(0 AS BIGINT)) AS cthr,
         |    CASE WHEN b.cf IS NULL THEN (CASE WHEN 2 * s.ps > s.ns THEN 1 ELSE 0 END)
         |      ELSE (CASE WHEN 2 * b.pl > b.nl THEN 1 ELSE 0 END) END AS pred_l,
         |    CASE WHEN b.cf IS NULL THEN (CASE WHEN 2 * s.ps > s.ns THEN 1 ELSE 0 END)
         |      ELSE (CASE WHEN 2 * b.pr > b.nr THEN 1 ELSE 0 END) END AS pred_r
         |  FROM sides s LEFT JOIN best b ON b.side = s.side),
         |tree AS (
         |  SELECT rootf, roott,
         |    MAX(CASE WHEN side = 0 THEN cf END) AS lf,
         |    MAX(CASE WHEN side = 0 THEN cthr END) AS lt,
         |    MAX(CASE WHEN side = 0 THEN pred_l END) AS pred_ll,
         |    MAX(CASE WHEN side = 0 THEN pred_r END) AS pred_lr,
         |    MAX(CASE WHEN side = 1 THEN cf END) AS rgf,
         |    MAX(CASE WHEN side = 1 THEN cthr END) AS rgt,
         |    MAX(CASE WHEN side = 1 THEN pred_l END) AS pred_rl,
         |    MAX(CASE WHEN side = 1 THEN pred_r END) AS pred_rr
         |  FROM childs CROSS JOIN root
         |  GROUP BY rootf, roott),
         |scored AS (
         |  SELECT y, rootf, roott, lf, lt, rgf, rgt,
         |    pred_ll, pred_lr, pred_rl, pred_rr,
         |    CASE WHEN ${leftE("rootf", "roott")}
         |      THEN (CASE WHEN ${leftE("lf", "lt")} THEN pred_ll ELSE pred_lr END)
         |      ELSE (CASE WHEN ${leftE("rgf", "rgt")} THEN pred_rl ELSE pred_rr END)
         |      END AS yhat
         |  FROM t CROSS JOIN tree)
         |SELECT rootf AS root_f, roott AS root_thr,
         |  lf AS left_f, lt AS left_thr, rgf AS right_f, rgt AS right_thr,
         |  pred_ll, pred_lr, pred_rl, pred_rr,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN y = yhat THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN y = yhat THEN 1 ELSE 0 END) AS BIGINT) * 10000
         |    // CAST(count(*) AS BIGINT) AS acc_bp
         |FROM scored
         |GROUP BY rootf, roott, lf, lt, rgf, rgt,
         |  pred_ll, pred_lr, pred_rl, pred_rr""".stripMargin,

    "ml_gbt_stumps" ->
      s"""WITH t AS (
         |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
         |    CAST(l_quantity AS BIGINT) - 25 AS x2,
         |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
         |  FROM lineitem),
         |c1 AS (
         |  SELECT f, thr, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN y ELSE 0 END) AS BIGINT) AS sl
         |  FROM t CROSS JOIN $gridSql
         |  GROUP BY f, thr),
         |c1b AS (
         |  SELECT f, thr, n, sy, nl, sl, n - nl AS nr, sy - sl AS sr FROM c1
         |  WHERE nl > 0 AND n - nl > 0),
         |h1 AS (
         |  SELECT f AS f1, thr AS thr1,
         |    sl * 1000 // nl AS mul_milli, sr * 1000 // nr AS mur_milli
         |  FROM c1b ORDER BY $sseGainE DESC, f ASC, thr ASC LIMIT 1),
         |resid AS (
         |  SELECT x1, x2, f1, thr1, mul_milli, mur_milli,
         |    1000 * y - (CASE WHEN ${leftE("f1", "thr1")}
         |      THEN mul_milli ELSE mur_milli END) AS r
         |  FROM t CROSS JOIN h1),
         |c2 AS (
         |  SELECT f, thr, f1, thr1, mul_milli, mur_milli,
         |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sy,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(CASE WHEN ${leftE("f", "thr")} THEN r ELSE 0 END) AS BIGINT) AS sl,
         |    CAST(SUM(abs(r)) AS BIGINT) AS sae1
         |  FROM resid CROSS JOIN $gridSql
         |  GROUP BY f, thr, f1, thr1, mul_milli, mur_milli),
         |c2b AS (
         |  SELECT f, thr, f1, thr1, mul_milli, mur_milli, n, sy, nl, sl, sae1,
         |    n - nl AS nr, sy - sl AS sr
         |  FROM c2 WHERE nl > 0 AND n - nl > 0),
         |h2 AS (
         |  SELECT f1, thr1, mul_milli, mur_milli,
         |    f AS f2, thr AS thr2, sae1,
         |    CAST(FLOOR(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) AS BIGINT) AS nul_milli,
         |    CAST(FLOOR(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) AS BIGINT) AS nur_milli
         |  FROM c2b ORDER BY $sseGainE DESC, f ASC, thr ASC LIMIT 1),
         |resid2 AS (
         |  SELECT f1, thr1, mul_milli, mur_milli, f2, thr2,
         |    nul_milli, nur_milli, sae1,
         |    abs(r.r - (CASE WHEN ${leftE("f2", "thr2")}
         |      THEN nul_milli ELSE nur_milli END)) AS a2
         |  FROM (SELECT x1, x2,
         |          1000 * y - (CASE WHEN ${leftE("f1", "thr1")}
         |            THEN mul_milli ELSE mur_milli END) AS r
         |        FROM t CROSS JOIN h1) r
         |  CROSS JOIN h2)
         |SELECT f1, thr1, mul_milli, mur_milli, f2, thr2, nul_milli, nur_milli,
         |  CAST(count(*) AS BIGINT) AS n,
         |  sae1 // CAST(count(*) AS BIGINT) AS mae1_milli,
         |  CAST(SUM(a2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mae2_milli
         |FROM resid2
         |GROUP BY f1, thr1, mul_milli, mur_milli, f2, thr2,
         |  nul_milli, nur_milli, sae1""".stripMargin,

    "ml_platt_scaling" -> {
      val dEnom = """((CAST(haam AS DOUBLE) / 1e3) * (CAST(hbbm AS DOUBLE) / 1e3)
        | - (CAST(habm AS DOUBLE) / 1e3) * (CAST(habm AS DOUBLE) / 1e3))""".stripMargin
      def step(i: Int): String = {
        val prev = s"ab${i - 1}"
        s"""sc$i AS (
           |  SELECT sc, cnt, pos, a_micro, b_micro, $PlattPNanoE AS p_nano
           |  FROM cells CROSS JOIN $prev),
           |sm$i AS (
           |  SELECT a_micro, b_micro,
           |    CAST(SUM(sc * (1000000000 * pos - cnt * p_nano)) AS BIGINT) AS ga,
           |    CAST(SUM(1000000000 * pos - cnt * p_nano) AS BIGINT) AS gb,
           |    CAST(SUM(sc * sc * $PlattWMilliE) AS BIGINT) AS haam,
           |    CAST(SUM(sc * $PlattWMilliE) AS BIGINT) AS habm,
           |    CAST(SUM($PlattWMilliE) AS BIGINT) AS hbbm
           |  FROM sc$i GROUP BY a_micro, b_micro),
           |ab$i AS MATERIALIZED (
           |  SELECT
           |    CAST(a_micro + FLOOR(((CAST(ga AS DOUBLE) / 1e9) * (CAST(hbbm AS DOUBLE) / 1e3)
           |      - (CAST(gb AS DOUBLE) / 1e9) * (CAST(habm AS DOUBLE) / 1e3))
           |      / $dEnom * 1e6) AS BIGINT) AS a_micro,
           |    CAST(b_micro + FLOOR(((CAST(gb AS DOUBLE) / 1e9) * (CAST(haam AS DOUBLE) / 1e3)
           |      - (CAST(ga AS DOUBLE) / 1e9) * (CAST(habm AS DOUBLE) / 1e3))
           |      / $dEnom * 1e6) AS BIGINT) AS b_micro
           |  FROM sm$i)""".stripMargin
      }
      s"""WITH cells AS MATERIALIZED (
         |  SELECT CAST(l_quantity AS BIGINT) - 25 AS sc,
         |    CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM lineitem GROUP BY 1),
         |ab0 AS (SELECT CAST(0 AS BIGINT) AS a_micro, CAST(0 AS BIGINT) AS b_micro),
         |${(1 to 2).map(step).mkString(",\n")},
         |rel AS (
         |  SELECT sc, cnt, pos, a_micro, b_micro, $PlattPNanoE AS p_nano
         |  FROM cells CROSS JOIN ab2),
         |rel2 AS (
         |  SELECT sc, cnt, pos, a_micro, b_micro, p_nano,
         |    pos * 10000 // cnt AS obs_bp,
         |    abs(1000000000 * pos - cnt * p_nano) AS ece_t
         |  FROM rel),
         |tot AS (
         |  SELECT CAST(SUM(ece_t) AS BIGINT) AS ece_num,
         |    CAST(SUM(cnt) AS BIGINT) AS n_total
         |  FROM rel2)
         |SELECT sc, cnt, pos, obs_bp, p_nano, a_micro, b_micro,
         |  ece_num // (n_total * 100000) AS ece_e4
         |FROM rel2 CROSS JOIN tot
         |ORDER BY sc""".stripMargin
    },

    "ml_pr_curve" ->
      """WITH cells AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT sc, cnt, pos,
        |    CAST(SUM(pos) OVER (ORDER BY sc DESC) AS BIGINT) AS tp,
        |    CAST(SUM(cnt) OVER (ORDER BY sc DESC) AS BIGINT) AS pp,
        |    CAST(SUM(pos) OVER () AS BIGINT) AS p_all
        |  FROM cells),
        |pr AS (
        |  SELECT sc, cnt, pos, tp, pp, p_all,
        |    tp * 10000 // pp AS precision_bp,
        |    tp * 10000 // p_all AS recall_bp
        |  FROM cum)
        |SELECT sc, cnt, pos, tp, pp, precision_bp, recall_bp,
        |  CASE WHEN precision_bp + recall_bp = 0 THEN 0
        |    ELSE 2 * precision_bp * recall_bp // (precision_bp + recall_bp)
        |    END AS f1_bp,
        |  CAST(SUM(pos * precision_bp) OVER () AS BIGINT) // p_all AS ap_e4
        |FROM pr
        |ORDER BY sc DESC""".stripMargin,

    "ml_confusion_metrics" ->
      s"""WITH cm AS (
         |  SELECT
         |    CAST(SUM(yhat * y) AS BIGINT) AS tp,
         |    CAST(SUM(yhat * (1 - y)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - yhat) * y) AS BIGINT) AS fn,
         |    CAST(SUM((1 - yhat) * (1 - y)) AS BIGINT) AS tn
         |  FROM (SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS yhat,
         |          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |        FROM lineitem))
         |SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
         |  (tp + tn) * 10000 // (tp + fp + fn + tn) AS acc_bp,
         |  (tp * 10000 // (tp + fn) + tn * 10000 // (tn + fp)) // 2 AS bal_acc_bp,
         |  tp * 10000 // (tp + fp) AS precision_bp,
         |  tp * 10000 // (tp + fn) AS recall_bp,
         |  2 * tp * 10000 // (2 * tp + fp + fn) AS f1_bp,
         |  $MccMilliE AS mcc_milli,
         |  $KappaMilliE AS kappa_milli
         |FROM cm""".stripMargin,

    "cf_als_rank1" ->
      """WITH r AS MATERIALIZED (
        |  SELECT o.o_custkey AS c, l.l_partkey AS p,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |u1 AS (
        |  SELECT c, (1000 * CAST(SUM(r) AS BIGINT)) // CAST(count(*) AS BIGINT) AS um
        |  FROM r GROUP BY c),
        |v1 AS MATERIALIZED (
        |  SELECT p, CAST(count(*) AS BIGINT) AS nj,
        |    (1000000 * CAST(SUM(r.r * um) AS BIGINT))
        |      // CAST(SUM(um * um) AS BIGINT) AS vm
        |  FROM r JOIN u1 USING (c) GROUP BY p),
        |u2 AS MATERIALIZED (
        |  SELECT c, (1000000 * CAST(SUM(r.r * vm) AS BIGINT))
        |      // CAST(SUM(vm * vm) AS BIGINT) AS um2
        |  FROM r JOIN v1 USING (p) GROUP BY c),
        |err AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ratings,
        |    CAST(SUM(abs(1000 * r.r - (um2 * vm) // 1000)) AS BIGINT) AS sae
        |  FROM r JOIN u2 USING (c) JOIN v1 USING (p)),
        |top AS (SELECT p, vm, nj FROM v1 ORDER BY vm DESC, p ASC LIMIT 10)
        |SELECT p AS partkey, vm, nj AS n_raters, n_ratings,
        |  sae // n_ratings AS mae_milli
        |FROM top CROSS JOIN err
        |ORDER BY vm DESC, partkey ASC""".stripMargin,

    "ml_bagging_stumps" -> {
      val duckW =
        """(CASE
          | WHEN ('0x' || substring(hk, 1 + 4 * bag, 4))::BIGINT % 1000 < 368 THEN 0
          | WHEN ('0x' || substring(hk, 1 + 4 * bag, 4))::BIGINT % 1000 < 736 THEN 1
          | WHEN ('0x' || substring(hk, 1 + 4 * bag, 4))::BIGINT % 1000 < 920 THEN 2
          | ELSE 3 END)""".stripMargin
      s"""WITH t AS (
         |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
         |    CAST(l_quantity AS BIGINT) - 25 AS x2,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         |    md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) AS hk
         |  FROM lineitem),
         |weighted AS MATERIALIZED (
         |  SELECT x1, x2, y, bag, $duckW AS w
         |  FROM t CROSS JOIN (SELECT unnest(range(0, $Bags)) AS bag) bg),
         |cand AS (
         |  SELECT bag, f, thr, CAST(SUM(w) AS BIGINT) AS n,
         |    CAST(SUM(w * y) AS BIGINT) AS p,
         |    CAST(SUM(w * CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(w * y * CASE WHEN ${leftE("f", "thr")} THEN 1 ELSE 0 END) AS BIGINT) AS pl
         |  FROM weighted CROSS JOIN $gridSql
         |  GROUP BY bag, f, thr),
         |cand2 AS (
         |  SELECT bag, f, thr, n, p, nl, pl, n - nl AS nr, p - pl AS pr FROM cand
         |  WHERE nl > 0 AND n - nl > 0),
         |model AS MATERIALIZED (
         |  SELECT bag, f, thr, n AS n_eff,
         |    CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END AS pred_l,
         |    CASE WHEN 2 * pr > nr THEN 1 ELSE 0 END AS pred_r
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY bag
         |      ORDER BY $scoreE DESC, f ASC, thr ASC) AS rn
         |    FROM cand2) q WHERE rn = 1),
         |mrow AS (
         |  SELECT ${(0 until Bags).map(b =>
             s"MAX(CASE WHEN bag = $b THEN f END) AS f$b, " +
             s"MAX(CASE WHEN bag = $b THEN thr END) AS t$b, " +
             s"MAX(CASE WHEN bag = $b THEN pred_l END) AS pl$b, " +
             s"MAX(CASE WHEN bag = $b THEN pred_r END) AS pr$b").mkString(",\n    ")}
         |  FROM model),
         |acc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN y = (CASE WHEN 2 * (${(0 until Bags).map(b =>
               s"(CASE WHEN ${leftE(s"f$b", s"t$b")} THEN pl$b ELSE pr$b END)").mkString(" + ")})
         |      > $Bags THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM t CROSS JOIN mrow)
         |SELECT m.bag, m.f, m.thr, m.n_eff, m.pred_l, m.pred_r,
         |  a.n, a.n_correct, a.n_correct * 10000 // a.n AS ens_acc_bp
         |FROM model m CROSS JOIN acc a
         |ORDER BY m.bag""".stripMargin
    },

    "samp_kcenter_coreset" -> {
      // per-round CTEs: distance to every current center, min over
      // centers, argmax pick, then the grown selected set
      def roundFull(k: Int): String = {
        val prev = s"sel${k - 1}"
        s"""d$k AS (
           |  SELECT a.vec_id, s.vec_id AS cid,
           |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS dist
           |  FROM e a
           |  CROSS JOIN $prev s
           |  JOIN e b ON b.vec_id = s.vec_id AND b.dim = a.dim
           |  WHERE a.vec_id NOT IN (SELECT vec_id FROM $prev)
           |  GROUP BY a.vec_id, s.vec_id),
           |n$k AS (
           |  SELECT vec_id, CAST(MIN(dist) AS BIGINT) AS mindist
           |  FROM d$k GROUP BY vec_id),
           |p$k AS (
           |  SELECT $k AS pick, vec_id, mindist FROM n$k
           |  ORDER BY mindist DESC, vec_id ASC LIMIT 1),
           |sel$k AS MATERIALIZED (
           |  SELECT pick, vec_id, mindist FROM ${prev}
           |  UNION ALL SELECT pick, vec_id, mindist FROM p$k)""".stripMargin
      }
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, i AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, 64) AS g(i)),
         |sel1 AS MATERIALIZED (
         |  SELECT 1 AS pick, MIN(vec_id) AS vec_id, CAST(0 AS BIGINT) AS mindist
         |  FROM embeddings),
         |${(2 to CoresetK).map(roundFull).mkString(",\n")}
         |SELECT pick, vec_id, mindist FROM sel$CoresetK ORDER BY pick""".stripMargin
    },

    "ml_mutual_info_rank" ->
      s"""WITH base AS (
         |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc,
         |    CAST(l_quantity AS BIGINT) // 10 AS qtyb,
         |    CAST(month(l_shipdate) AS BIGINT) AS mon,
         |    CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS BIGINT) AS st,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |cells AS (
         |  SELECT feature, val, y, CAST(count(*) AS BIGINT) AS c
         |  FROM (
         |    SELECT 'disc' AS feature, disc AS val, y FROM base
         |    UNION ALL SELECT 'qty', qtyb, y FROM base
         |    UNION ALL SELECT 'month', mon, y FROM base
         |    UNION ALL SELECT 'status', st, y FROM base) u
         |  GROUP BY feature, val, y),
         |marg AS (
         |  SELECT feature, val, y, c,
         |    CAST(SUM(c) OVER (PARTITION BY feature) AS BIGINT) AS n,
         |    CAST(SUM(c) OVER (PARTITION BY feature, val) AS BIGINT) AS cf,
         |    CAST(SUM(c) OVER (PARTITION BY feature, y) AS BIGINT) AS cy
         |  FROM cells),
         |terms AS (
         |  SELECT feature,
         |    CAST(FLOOR(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
         |      * ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
         |           / (CAST(cf AS DOUBLE) * CAST(cy AS DOUBLE))) * 1e9) AS BIGINT) AS t_nano
         |  FROM marg),
         |mi AS (
         |  SELECT feature, CAST(SUM(t_nano) AS BIGINT) AS mi_nano
         |  FROM terms GROUP BY feature)
         |SELECT feature, mi_nano,
         |  CAST(row_number() OVER (ORDER BY mi_nano DESC, feature ASC) AS BIGINT) AS rk
         |FROM mi ORDER BY rk""".stripMargin
  )
}
