package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 model-evaluation additions: the three audits a training
  * pipeline runs between "data is clean" and "model is trusted" —
  *
  *  - `ml_decision_stump`      — exhaustive best-split search (the
  *    1-node CART that baselines every feature-importance report);
  *  - `ml_calibration_ece`     — reliability table + expected
  *    calibration error over a score/outcome stream;
  *  - `ml_conformal_interval`  — split-conformal prediction interval
  *    (calibration-half residual quantile) with held-out coverage.
  *
  * Exactness contract (the q152+/q184+ idiom): every shuffled
  * aggregate is an integer count/sum; ratios are either integer
  * DIV-quantized (bp/milli) or a single operand-identical double tree
  * over exact integers rendered with format_string — IEEE determinism
  * makes them hash-exact against DuckDB at any partitioning.
  */
object MlQueries2 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  /** 16 deterministic md5-derived tree constants for the isolation
    * stumps — computed once at class load and inlined as LITERALS in
    * both the Spark expressions and the DuckDB oracle, so neither
    * engine hashes at runtime. */
  private val T = 16
  private val hConst: IndexedSeq[Long] = (0 until T).map { t =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"tree$t".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
  /** tree t splits on value (even t) or hour-of-day (odd t) */
  private def isoFeature(t: Int) = if (t % 2 == 0) "v_milli" else "hr"
  private def isoThr(t: Int) =
    if (t % 2 == 0) s"(vmin + ${hConst(t)} % (vmax - vmin + 1))"
    else s"(hmin + ${hConst(t)} % (hmax - hmin + 1))"

  /** sign-split integer floor division — Spark DIV truncates toward
    * zero and DuckDB // floors, so they agree only on non-negative
    * operands; this spells out the non-negative form on both. */
  private def sdivS(x: String, d: String) =
    s"(CASE WHEN ($x) < 0 THEN -((-($x)) DIV ($d)) ELSE ($x) DIV ($d) END)"
  private def sdivD(x: String, d: String) =
    s"(CASE WHEN ($x) < 0 THEN -((-($x)) // ($d)) ELSE ($x) // ($d) END)"

  /** nDCG@10 machinery: micro-quantized gain weights 1/log2(rank+1),
    * computed ONCE here and inlined as literals in both engines (libm
    * log2 never runs inside either query). */
  private val NDCG_K = 10
  private val NDCG_NQ = 10
  private val ndcgW: IndexedSeq[Long] = (1 to NDCG_K).map { i =>
    math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong
  }
  private val EMB_DIMS = 64
  /** exact integer dot of two milli-quantized float lists (DuckDB) */
  private val qdotSql =
    s"CAST(list_sum(list_transform(range(1, ${EMB_DIMS + 1}), i -> " +
      "CAST(floor(CAST(%s[i] AS DOUBLE) * 1000) AS BIGINT) * " +
      "CAST(floor(CAST(%s[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT)"

  /** Weighted-Gini tree shared verbatim by the Spark selectExpr and
    * the DuckDB oracle: each factor cast to double individually,
    * squares as explicit products (no pow — libm-free), identical
    * association on both engines. */
  private val giniExpr =
    """CASE WHEN nl = 0 OR nr = 0 THEN NULL ELSE
      |  CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)
      |  * (1.0 - (CAST(al AS DOUBLE)/CAST(nl AS DOUBLE))*(CAST(al AS DOUBLE)/CAST(nl AS DOUBLE))
      |         - (CAST(nl - al AS DOUBLE)/CAST(nl AS DOUBLE))*(CAST(nl - al AS DOUBLE)/CAST(nl AS DOUBLE)))
      |  + CAST(nr AS DOUBLE) / CAST(n AS DOUBLE)
      |  * (1.0 - (CAST(ar AS DOUBLE)/CAST(nr AS DOUBLE))*(CAST(ar AS DOUBLE)/CAST(nr AS DOUBLE))
      |         - (CAST(nr - ar AS DOUBLE)/CAST(nr AS DOUBLE))*(CAST(nr - ar AS DOUBLE)/CAST(nr AS DOUBLE)))
      |END""".stripMargin

  val queries: Map[String, Q] = Map(
    // DECISION STUMP — exhaustive best Gini split of l_returnflag='R'
    // on the discount axis. ONE keyed aggregate compresses the corpus
    // to its ≤11 distinct discount levels (the candidate thresholds);
    // everything after is dimension-sized, so the cumulative window
    // and the argmin rank run over a handful of rows at any corpus
    // size (the same contract as q189's 5-segment offsets window).
    // Discounts are value-quantized to milli with round-half-up
    // (FLOOR(x*1000+0.5)) — 0.03 stores as 0.029999…, plain floor
    // would split the level.
    "ml_decision_stump" -> ((s, d) => {
      import s.implicits._
      val rows = lineitem(s, d).select(
        expr("CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT)").as("v_milli"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      val perv = rows.groupBy($"v_milli")
        .agg(count(lit(1)).as("nv"), sum($"y").as("av"))
      // ≤11 rows from here on: dimension-sized windows are safe
      val wCum = Window.orderBy($"v_milli")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy($"v_milli")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val splits = perv
        .withColumn("nl", sum($"nv").over(wCum))
        .withColumn("al", sum($"av").over(wCum))
        .withColumn("n", sum($"nv").over(wAll))
        .withColumn("a", sum($"av").over(wAll))
        .withColumn("nr", $"n" - $"nl")
        .withColumn("ar", $"a" - $"al")
        .filter($"nr" > 0) // the last level splits nothing off
        .withColumn("gini_w", expr(giniExpr))
      splits
        .withColumn("rk",
          row_number().over(Window.orderBy($"gini_w".asc, $"v_milli".asc)))
        .select($"v_milli".as("threshold_milli"),
          $"nl".as("n_left"), $"al".as("pos_left"),
          $"nr".as("n_right"), $"ar".as("pos_right"),
          format_string("%.9f", $"gini_w").as("gini"),
          ($"rk" === 1).as("is_best"))
        .orderBy($"threshold_milli")
    }),

    // CALIBRATION / ECE — the reliability table a ranking or filter
    // model is audited with: treat events.value as a 0–100 score,
    // p_hat = clamp(value,0,100)/100 (milli-quantized per row BEFORE
    // any sum), outcome = purchase. Ten fixed bins → per-bin mean
    // confidence vs observed rate, plus the n-weighted expected
    // calibration error as a repeated scalar (samp_kfold's pattern).
    // ONE pass + one 10-row rollup; exact integers throughout.
    "ml_calibration_ece" -> ((s, d) => {
      import s.implicits._
      val scored = events(s, d).select(
        expr("CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0.0), 9.0) AS BIGINT)").as("bin"),
        expr("CAST(FLOOR(LEAST(GREATEST(value, 0.0), 100.0) * 10.0 + 0.5) AS BIGINT)").as("p_milli"),
        ($"event_type" === "purchase").cast("long").as("y"))
      val bins = scored.groupBy($"bin")
        .agg(count(lit(1)).as("n_b"), sum($"p_milli").as("pm"), sum($"y").as("pos"))
        .selectExpr("bin", "n_b", "pos",
          "pm DIV n_b AS conf_milli",
          "pos * 1000 DIV n_b AS acc_milli")
        .withColumn("gap_milli", abs($"conf_milli" - $"acc_milli"))
      val wAll = Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bins // 10 rows: dimension-sized window
        .withColumn("ece_milli",
          sum($"n_b" * $"gap_milli").over(wAll) / sum($"n_b").over(wAll))
        .withColumn("ece_milli", $"ece_milli".cast("long"))
        .select($"bin", $"n_b", $"pos", $"conf_milli", $"acc_milli",
          $"gap_milli", $"ece_milli")
        .orderBy($"bin")
    }),

    // SPLIT-CONFORMAL INTERVAL — distribution-free 90% prediction
    // band: the per-segment mean fit on the even-key calibration half
    // is the "model"; q̂ is the ⌈(n+1)·0.9⌉-th order statistic of its
    // absolute residuals (EXACT, via the GlobalRank two-pass over the
    // residual-value histogram — never a single-partition window);
    // coverage is then measured on the held-out odd half. Output: one
    // row per segment with q̂/n_cal as repeated scalars. Every join
    // against the 5-row model/quantile tables is a broadcast.
    "ml_conformal_interval" -> ((s, d) => {
      import s.implicits._
      val seg = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment"),
          Seq("o_custkey"))
        .select($"c_mktsegment",
          (dec($"o_totalprice") * 100).cast("long").as("cents"),
          ($"o_orderkey" % 2).as("half"))
      val means = seg.filter($"half" === 0).groupBy($"c_mktsegment")
        .agg(expr("sum(cents) DIV count(1)").as("mean_cents"))
      val resid = seg.filter($"half" === 0)
        .join(broadcast(means), Seq("c_mktsegment"))
        .select(abs($"cents" - $"mean_cents").as("r"))
      val tbl = resid.groupBy($"r").agg(count(lit(1)).as("c"))
      // explicit nParts: tbl descends from the orders×customer join,
      // so Catalyst's size estimate is join-inflated (GlobalRank doc)
      val (cum, nCal) = GlobalRank.withPrefixSum(tbl, "cum", $"c",
        Seq($"r".asc), s.sparkContext.defaultParallelism)
      val k = ((nCal + 1) * 9 + 9) / 10 // ⌈(n+1)·0.9⌉ in exact integers
      val qHat = cum.filter($"cum" >= k).agg(min($"r").as("q_hat_cents"))
      seg.filter($"half" === 1)
        .join(broadcast(means), Seq("c_mktsegment"))
        .crossJoin(broadcast(qHat)) // single-row side
        .select($"c_mktsegment",
          (abs($"cents" - $"mean_cents") <= $"q_hat_cents").cast("long").as("cov"),
          $"q_hat_cents")
        .groupBy($"c_mktsegment", $"q_hat_cents")
        .agg(count(lit(1)).as("n_test"), sum($"cov").as("n_covered"))
        .selectExpr("c_mktsegment", "n_test", "n_covered",
          "n_covered * 10000 DIV n_test AS coverage_bp",
          "q_hat_cents", s"CAST($nCal AS BIGINT) AS n_cal")
        .orderBy($"c_mktsegment")
    }),

    // ISOLATION STUMPS — deterministic isolation-forest-lite anomaly
    // ranking: 16 md5-seeded depth-1 trees split on value/hour; a
    // point's isolation mass is Σ over trees of the size of the side
    // it lands on (small mass ⟺ it keeps landing on thin sides ⟺
    // anomalous). NO per-point tree join: thresholds and side sizes
    // are two single-row broadcast aggregates, the score is 16 inline
    // CASE terms over broadcast scalars — two corpus passes + one
    // TakeOrdered at any scale. All integer arithmetic; the tree
    // constants are compile-time literals shared with the oracle.
    "ml_isolation_stumps" -> ((s, d) => {
      import s.implicits._
      val rows = events(s, d).select($"event_id",
        expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("v_milli"),
        hour($"ts").cast("long").as("hr"))
      val stats = rows.agg(
        min($"v_milli").as("vmin"), max($"v_milli").as("vmax"),
        min($"hr").as("hmin"), max($"hr").as("hmax"),
        count(lit(1)).as("n_total"))
      val thr = rows.crossJoin(broadcast(stats)) // single-row side
        .selectExpr(Seq("v_milli", "hr", "n_total") ++
          (0 until T).map(t => s"${isoThr(t)} AS thr_$t"): _*)
      val sides = thr.groupBy($"n_total" +: (0 until T).map(t => col(s"thr_$t")): _*)
        .agg(count(lit(1)).as("n_chk"),
          (0 until T).map(t =>
            sum(expr(s"CASE WHEN ${isoFeature(t)} <= thr_$t THEN 1 ELSE 0 END"))
              .as(s"nle_$t")): _*)
        .drop("n_chk")
      val scoreExpr = (0 until T).map(t =>
        s"CASE WHEN ${isoFeature(t)} <= thr_$t THEN nle_$t ELSE n_total - nle_$t END")
        .mkString(" + ")
      rows.crossJoin(broadcast(sides)) // single-row side
        .selectExpr("event_id", "v_milli", "hr",
          s"($scoreExpr) AS isolation_mass")
        .orderBy($"isolation_mass".asc, $"event_id".asc)
        .limit(20)
    }),

    // nDCG@10 RETRIEVAL EVAL — the "is this embedding space retrieving
    // the right things?" metric: each query's exact-integer-dot top-10
    // is graded against same-label relevance with micro-quantized
    // 1/log2(rank+1) gains (compile-time literals — libm never runs in
    // the query), and IDCG truncates at the query label's corpus-wide
    // relevant count. Scale: ONE broadcast-query corpus pass scores
    // candidates (the sim_mips bound); label counts ride a broadcast
    // dimension aggregate; everything after is (queries×10)-sized.
    "sim_ndcg_eval" -> ((s, d) => {
      import s.implicits._
      val qv = transform($"embedding", x => floor(x.cast("double") * 1000).cast("long"))
      val emb = embeddings(s, d).select($"vec_id", $"label", qv.as("q"))
        .repartition(s.sparkContext.defaultParallelism)
      val queriesDf = embeddings(s, d).filter($"vec_id" < NDCG_NQ)
        .select($"vec_id".as("q_id"), $"label".as("q_label"), qv.as("qq"))
      val scored = emb.join(broadcast(queriesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"q_label", $"vec_id", $"label",
          aggregate(zip_with($"q", $"qq", (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dot_q"))
      val w = Window.partitionBy($"q_id").orderBy($"dot_q".desc, $"vec_id".asc)
      val top = scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= NDCG_K)
        .withColumn("rel", ($"label" === $"q_label").cast("long"))
      val gainCase = (1 to NDCG_K).map(i =>
        s"WHEN rank = $i THEN ${ndcgW(i - 1)}").mkString("CASE ", " ", " ELSE 0 END")
      val idcgCase = (1 to NDCG_K).map(i =>
        s"WHEN n_rel >= $i THEN ${ndcgW.take(i).sum}")
        .reverse.mkString("CASE ", " ", " ELSE 0 END")
      val labelCnt = embeddings(s, d).groupBy($"label").agg(count(lit(1)).as("n_lab"))
      top
        .groupBy($"q_id", $"q_label")
        .agg(sum(expr(s"rel * ($gainCase)")).as("dcg_micro"),
          sum($"rel").as("rel_in_topk"))
        .join(broadcast(labelCnt.select($"label".as("q_label"), $"n_lab")),
          Seq("q_label"))
        .withColumn("n_rel", least($"n_lab" - 1, lit(NDCG_K.toLong)))
        .withColumn("idcg_micro", expr(idcgCase).cast("long"))
        .withColumn("ndcg_bp",
          expr("CASE WHEN idcg_micro = 0 THEN 0 ELSE dcg_micro * 10000 DIV idcg_micro END"))
        .select($"q_id", $"q_label", $"rel_in_topk", $"n_rel",
          $"dcg_micro", $"idcg_micro", $"ndcg_bp")
        .orderBy($"q_id")
    }),

    // LINEAR SVM BY UNROLLED SUBGRADIENT — two full-batch Pegasos-ish
    // steps on (discount%, quantity), entirely in basis-point integer
    // weights: step k sums y·x over margin violators (one scan against
    // single-row broadcast weights), updates w ← w − w/64 + ⌊2500·Σ/n⌋
    // with sign-split DIV so Spark's truncation equals DuckDB's floor
    // on negatives. Per-row products stay ≤1.25e5, so Σ fits BIGINT to
    // ~10^12 rows. The synthetic tables carry NO cross-column signal
    // (all columns independent), so the target is the separable
    // quantity≥25 concept — the learned boundary recovering that
    // threshold (acc ≫ majority_bp) is what proves the two steps
    // work. One-row output, hash-gated against the oracle's CTE
    // replay of both steps.
    "ml_svm_gd" -> ((s, d) => {
      import s.implicits._
      val t = lineitem(s, d).select(
        expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5").as("x1"),
        ($"l_quantity".cast("long") - 25L).as("x2"),
        when($"l_quantity" >= 25, 1L).otherwise(-1L).as("y"))
      // step 1: w = 0 ⇒ every row violates ⇒ sums are unconditional
      val s1 = t.agg(sum($"y" * $"x1").as("sx1"), sum($"y" * $"x2").as("sx2"),
        sum($"y").as("sy"), count(lit(1)).as("n"))
      val w1 = s1.selectExpr(
        s"${sdivS("sx1 * 2500", "n")} AS w1",
        s"${sdivS("sx2 * 2500", "n")} AS w2",
        s"${sdivS("sy * 2500", "n")} AS b", "n")
      val marg = "y * (w1 * x1 + w2 * x2 + b)"
      val s2 = t.crossJoin(broadcast(w1)) // single-row side
        .groupBy($"w1", $"w2", $"b", $"n")
        .agg(
          sum(expr(s"CASE WHEN $marg < 10000 THEN y * x1 ELSE 0 END")).as("sx1"),
          sum(expr(s"CASE WHEN $marg < 10000 THEN y * x2 ELSE 0 END")).as("sx2"),
          sum(expr(s"CASE WHEN $marg < 10000 THEN y ELSE 0 END")).as("sy"))
      val w2 = s2.selectExpr(
        s"w1 - ${sdivS("w1", "64")} + ${sdivS("sx1 * 2500", "n")} AS w1",
        s"w2 - ${sdivS("w2", "64")} + ${sdivS("sx2 * 2500", "n")} AS w2",
        s"b + ${sdivS("sy * 2500", "n")} AS b", "n")
      t.crossJoin(broadcast(w2)) // single-row side
        .groupBy($"w1", $"w2", $"b", $"n")
        .agg(
          sum(expr(s"CASE WHEN $marg > 0 THEN 1 ELSE 0 END")).as("n_correct"),
          sum(expr(s"CASE WHEN $marg < 10000 THEN 10000 - ($marg) ELSE 0 END"))
            .as("hinge_sum"),
          sum(when($"y" === 1L, 1L).otherwise(0L)).as("n_pos"))
        .selectExpr("w1 AS w1_bp", "w2 AS w2_bp", "b AS b_bp", "n",
          "n_correct", "n_correct * 10000 DIV n AS acc_bp",
          "GREATEST(n_pos, n - n_pos) * 10000 DIV n AS majority_bp",
          "hinge_sum DIV n AS hinge_mean_bp")
    }),

    // ROC CURVE TABLE at 9 evenly-spaced price thresholds: the
    // operating-point menu behind q200's single AUC number ("at which
    // cutoff does TPR/FPR balance?"). One distinct-score census (the
    // q200/q105 substrate), a broadcast threshold grid fan-out, and
    // exact integer TPR/FPR/Youden basis points. Thresholds are
    // min + k/10·(max − min) — distribution-free, scale-invariant.
    "ml_roc_curve" -> ((s, d) => {
      import s.implicits._
      val perv = lineitem(s, d)
        .select((dec($"l_extendedprice") * 100).cast("long").as("score"),
          ($"l_returnflag" === "R").as("pos"))
        .groupBy($"score")
        .agg(count(lit(1)).as("nv"),
          sum(when($"pos", 1L).otherwise(0L)).as("nv1"))
        .localCheckpoint() // distinct-price-sized; feeds grid + totals
      val tot = perv.agg(sum($"nv1").as("p_all"),
        sum($"nv" - $"nv1").as("n_all"),
        min($"score").as("lo"), max($"score").as("hi"))
      val ks = s.range(1, 10).select($"id".as("k"))
      perv.crossJoin(broadcast(ks)).crossJoin(broadcast(tot))
        .selectExpr("k", "score", "nv", "nv1", "p_all", "n_all",
          "lo + k * (hi - lo) DIV 10 AS thr")
        .selectExpr("k", "p_all", "n_all", "thr",
          "CASE WHEN score >= thr THEN nv1 ELSE 0 END AS tp_c",
          "CASE WHEN score >= thr THEN nv - nv1 ELSE 0 END AS fp_c")
        .groupBy($"k", $"thr", $"p_all", $"n_all")
        .agg(sum($"tp_c").as("tp"), sum($"fp_c").as("fp"))
        .selectExpr("k", "thr AS threshold_cents", "tp", "fp",
          "tp * 10000 DIV p_all AS tpr_bp",
          "fp * 10000 DIV n_all AS fpr_bp",
          "tp * 10000 DIV p_all - fp * 10000 DIV n_all AS youden_bp")
        .orderBy($"k")
    }),

    // STUMP LEARNING CURVE: the ml_decision_stump trained on 25%, 50%
    // and 100% hash samples (deterministic md5 buckets — the
    // reproducible-split contract of the samp_ family), each graded
    // on the FULL corpus — the "is more data still buying accuracy?"
    // curve. Training censuses are (frac × ≤11)-row tables; split
    // selection and full-corpus grading are dimension-sized joins.
    "ml_learning_curve" -> ((s, d) => {
      import s.implicits._
      val rows = lineitem(s, d).select(
        expr("CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT)").as("v_milli"),
        ($"l_returnflag" === "R").cast("long").as("y"),
        substring(md5(($"l_orderkey" * 16 + $"l_linenumber").cast("string")
          .cast("binary")), 1, 2).as("hb"))
      val fr = Seq((25L, "40"), (50L, "80"), (100L, "gg"))
      val fracs = fr.map { case (p, lim) =>
          s.range(1).selectExpr(s"CAST($p AS BIGINT) AS frac_pct", s"'$lim' AS lim")
        }.reduce(_ unionByName _)
      val trainCensus = rows.crossJoin(broadcast(fracs))
        .filter($"hb" < $"lim")
        .groupBy($"frac_pct", $"v_milli")
        .agg(count(lit(1)).as("nv"), sum($"y").as("av"))
      val wCum = Window.partitionBy($"frac_pct").orderBy($"v_milli")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"frac_pct")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val best = trainCensus
        .withColumn("nl", sum($"nv").over(wCum))
        .withColumn("al", sum($"av").over(wCum))
        .withColumn("n", sum($"nv").over(
          wAll.orderBy($"v_milli")))
        .withColumn("a", sum($"av").over(
          wAll.orderBy($"v_milli")))
        .withColumn("nr", $"n" - $"nl")
        .withColumn("ar", $"a" - $"al")
        .filter($"nr" > 0)
        .withColumn("gini_w", expr(giniExpr))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"frac_pct").orderBy($"gini_w".asc, $"v_milli".asc)))
        .filter($"rk" === 1)
        .selectExpr("frac_pct", "n AS n_train", "v_milli AS thr",
          "CAST(al * 2 > nl AS BOOLEAN) AS pred_left",
          "CAST(ar * 2 > nr AS BOOLEAN) AS pred_right")
      val fullCensus = rows.groupBy($"v_milli")
        .agg(count(lit(1)).as("fnv"), sum($"y").as("fav"))
      best.crossJoin(broadcast(fullCensus)) // 3 × ≤11 rows
        .selectExpr("frac_pct", "n_train", "thr",
          """CASE WHEN v_milli <= thr
            | THEN CASE WHEN pred_left THEN fav ELSE fnv - fav END
            | ELSE CASE WHEN pred_right THEN fav ELSE fnv - fav END
            | END AS correct""".stripMargin, "fnv")
        .groupBy($"frac_pct", $"n_train", $"thr")
        .agg(sum($"correct").as("n_correct"), sum($"fnv").as("n_eval"))
        .selectExpr("frac_pct", "n_train", "thr AS threshold_milli",
          "n_correct * 10000 DIV n_eval AS acc_bp")
        .orderBy($"frac_pct")
    }),

    // CLOSED-FORM RIDGE REGRESSION (2 predictors): price ~ quantity +
    // discount with a 1% Tikhonov diagonal inflation, solved exactly
    // from the centered sufficient statistics — the regularization
    // companion to q113's OLS. ONE corpus aggregate carries all seven
    // sums (decimal products, exact at any scale); the 2×2 solve and
    // the OLS/ridge comparison are pure-arithmetic double trees
    // (no libm), so both engines agree bit-for-bit.
    "ml_ridge_closed" -> ((s, d) => {
      import s.implicits._
      val t = lineitem(s, d).select(
        $"l_quantity".cast("long").as("x1"),
        (dec($"l_discount") * 100).cast("long").as("x2"),
        (dec($"l_extendedprice") * 100).cast("long").as("y"))
      val g = t.agg(count(lit(1)).as("n"),
        sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"y").as("sy"),
        sum($"x1".cast(D19) * $"x1".cast(D19)).as("s11"),
        sum($"x2".cast(D19) * $"x2".cast(D19)).as("s22"),
        sum($"x1".cast(D19) * $"x2".cast(D19)).as("s12"),
        sum($"x1".cast(D19) * $"y".cast(D19)).as("s1y"),
        sum($"x2".cast(D19) * $"y".cast(D19)).as("s2y"))
      g.selectExpr(Seq("n") ++ ridgeCols: _*)
    })
  )

  /** Centered-moment double trees shared verbatim with the DuckDB
    * oracle (pure IEEE arithmetic — no libm — so bit-identical). */
  private def cm(a: String, b: String, sab: String) =
    s"(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"
  private val ridgeCols: Seq[String] = {
    val c11 = cm("s1", "s1", "s11"); val c22 = cm("s2", "s2", "s22")
    val c12 = cm("s1", "s2", "s12")
    val c1y = cm("s1", "sy", "s1y"); val c2y = cm("s2", "sy", "s2y")
    def solve(d11: String, d22: String) = (
      s"(($c1y * $d22 - $c2y * $c12) / ($d11 * $d22 - $c12 * $c12))",
      s"(($c2y * $d11 - $c1y * $c12) / ($d11 * $d22 - $c12 * $c12))")
    val (b1o, b2o) = solve(c11, c22)
    val (b1r, b2r) = solve(s"($c11 * 1.01)", s"($c22 * 1.01)")
    Seq(
      s"CAST(FLOOR($b1o * 1000.0) AS BIGINT) AS b1_ols_milli",
      s"CAST(FLOOR($b2o * 1000.0) AS BIGINT) AS b2_ols_milli",
      s"CAST(FLOOR($b1r * 1000.0) AS BIGINT) AS b1_ridge_milli",
      s"CAST(FLOOR($b2r * 1000.0) AS BIGINT) AS b2_ridge_milli",
      s"CAST(FLOOR(($b1o - $b1r) / $b1o * 10000.0) AS BIGINT) AS shrink1_bp",
      s"""CAST(FLOOR((CAST(sy AS DOUBLE) - $b1o * CAST(s1 AS DOUBLE)
         | - $b2o * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)
         | AS icept_ols_cents""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "ml_ridge_closed" ->
      s"""WITH t AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x1,
         |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
         |  FROM lineitem),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS s11,
         |    SUM(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s22,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s12,
         |    SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s1y,
         |    SUM(CAST(x2 AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s2y
         |  FROM t)
         |SELECT n, ${ridgeCols.mkString(",\n  ")}
         |FROM g""".stripMargin,

    "ml_roc_curve" ->
      """WITH perv AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS nv,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nv1
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(nv1) AS BIGINT) AS p_all,
        |    CAST(SUM(nv - nv1) AS BIGINT) AS n_all,
        |    CAST(MIN(score) AS BIGINT) AS lo, CAST(MAX(score) AS BIGINT) AS hi
        |  FROM perv),
        |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 10)),
        |grid AS (
        |  SELECT k, score, nv, nv1, p_all, n_all,
        |    lo + k * (hi - lo) // 10 AS thr
        |  FROM perv CROSS JOIN ks CROSS JOIN tot),
        |agg AS (
        |  SELECT k, thr, p_all, n_all,
        |    CAST(SUM(CASE WHEN score >= thr THEN nv1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score >= thr THEN nv - nv1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM grid GROUP BY k, thr, p_all, n_all)
        |SELECT k, thr AS threshold_cents, tp, fp,
        |  tp * 10000 // p_all AS tpr_bp,
        |  fp * 10000 // n_all AS fpr_bp,
        |  tp * 10000 // p_all - fp * 10000 // n_all AS youden_bp
        |FROM agg ORDER BY k""".stripMargin,

    "ml_learning_curve" -> {
      val gini = giniExpr.replace("\n", "\n        |  ")
      s"""WITH rows_t AS (
         |  SELECT CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT) AS v_milli,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         |    substring(md5(CAST(l_orderkey * 16 + l_linenumber AS VARCHAR)), 1, 2) AS hb
         |  FROM lineitem),
         |fracs(frac_pct, lim) AS (VALUES (25, '40'), (50, '80'), (100, 'gg')),
         |train AS (
         |  SELECT frac_pct, v_milli, CAST(count(*) AS BIGINT) AS nv,
         |    CAST(SUM(y) AS BIGINT) AS av
         |  FROM rows_t CROSS JOIN fracs WHERE hb < lim
         |  GROUP BY frac_pct, v_milli),
         |splits AS (
         |  SELECT frac_pct, v_milli,
         |    CAST(SUM(nv) OVER (PARTITION BY frac_pct ORDER BY v_milli
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
         |    CAST(SUM(av) OVER (PARTITION BY frac_pct ORDER BY v_milli
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS al,
         |    CAST(SUM(nv) OVER (PARTITION BY frac_pct) AS BIGINT) AS n,
         |    CAST(SUM(av) OVER (PARTITION BY frac_pct) AS BIGINT) AS a
         |  FROM train),
         |scored AS (
         |  SELECT frac_pct, v_milli, nl, al, n, a, nr, ar,
         |    $gini AS gini_w
         |  FROM (SELECT *, n - nl AS nr, a - al AS ar FROM splits) q
         |  WHERE nr > 0),
         |best AS (
         |  SELECT frac_pct, n AS n_train, v_milli AS thr,
         |    al * 2 > nl AS pred_left, ar * 2 > nr AS pred_right
         |  FROM (SELECT *, row_number() OVER (PARTITION BY frac_pct
         |          ORDER BY gini_w ASC, v_milli ASC) AS rk
         |        FROM scored) q
         |  WHERE rk = 1),
         |fullc AS (
         |  SELECT v_milli, CAST(count(*) AS BIGINT) AS fnv,
         |    CAST(SUM(y) AS BIGINT) AS fav
         |  FROM rows_t GROUP BY v_milli),
         |graded AS (
         |  SELECT frac_pct, n_train, thr,
         |    CASE WHEN v_milli <= thr
         |      THEN CASE WHEN pred_left THEN fav ELSE fnv - fav END
         |      ELSE CASE WHEN pred_right THEN fav ELSE fnv - fav END
         |    END AS correct, fnv
         |  FROM best CROSS JOIN fullc)
         |SELECT CAST(frac_pct AS BIGINT) AS frac_pct, n_train,
         |  thr AS threshold_milli,
         |  CAST(SUM(correct) AS BIGINT) * 10000
         |    // CAST(SUM(fnv) AS BIGINT) AS acc_bp
         |FROM graded GROUP BY frac_pct, n_train, thr
         |ORDER BY frac_pct""".stripMargin
    },
    "ml_decision_stump" ->
      s"""WITH rows0 AS (
         |  SELECT CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT) AS v_milli,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |perv AS (
         |  SELECT v_milli, CAST(count(*) AS BIGINT) AS nv,
         |    CAST(SUM(y) AS BIGINT) AS av
         |  FROM rows0 GROUP BY v_milli),
         |splits AS (
         |  SELECT v_milli,
         |    CAST(SUM(nv) OVER (ORDER BY v_milli ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
         |    CAST(SUM(av) OVER (ORDER BY v_milli ROWS UNBOUNDED PRECEDING) AS BIGINT) AS al,
         |    CAST(SUM(nv) OVER () AS BIGINT) AS n,
         |    CAST(SUM(av) OVER () AS BIGINT) AS a
         |  FROM perv),
         |sides AS (
         |  SELECT v_milli, nl, al, n, n - nl AS nr, a - al AS ar
         |  FROM splits WHERE n - nl > 0),
         |scored AS (
         |  SELECT v_milli, nl, al, nr, ar,
         |    $giniExpr AS gini_w
         |  FROM sides),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY gini_w ASC, v_milli ASC) AS rk
         |  FROM scored)
         |SELECT v_milli AS threshold_milli, nl AS n_left, al AS pos_left,
         |  nr AS n_right, ar AS pos_right,
         |  printf('%.9f', gini_w) AS gini, rk = 1 AS is_best
         |FROM ranked ORDER BY threshold_milli""".stripMargin,

    "ml_calibration_ece" ->
      """WITH scored AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0.0), 9.0) AS BIGINT) AS bin,
        |    CAST(FLOOR(LEAST(GREATEST(value, 0.0), 100.0) * 10.0 + 0.5) AS BIGINT) AS p_milli,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(SUM(y) AS BIGINT) AS pos,
        |    CAST(SUM(p_milli) AS BIGINT) // CAST(count(*) AS BIGINT) AS conf_milli,
        |    CAST(SUM(y) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS acc_milli
        |  FROM scored GROUP BY bin),
        |g AS (
        |  SELECT bin, n_b, pos, conf_milli, acc_milli,
        |    abs(conf_milli - acc_milli) AS gap_milli,
        |    CAST(SUM(n_b * abs(conf_milli - acc_milli)) OVER () AS BIGINT)
        |      // CAST(SUM(n_b) OVER () AS BIGINT) AS ece_milli
        |  FROM bins)
        |SELECT bin, n_b, pos, conf_milli, acc_milli, gap_milli, ece_milli
        |FROM g ORDER BY bin""".stripMargin,

    "ml_isolation_stumps" -> {
      val thrList = (0 until T).map(t => s"${isoThr(t)} AS thr_$t").mkString(",\n         |    ")
      val thrCols = (0 until T).map(t => s"t.thr_$t").mkString(", ")
      val nleList = (0 until T).map(t =>
        s"CAST(SUM(CASE WHEN r.${isoFeature(t)} <= t.thr_$t THEN 1 ELSE 0 END) AS BIGINT) AS nle_$t")
        .mkString(",\n         |    ")
      val score = (0 until T).map(t =>
        s"CASE WHEN r.${isoFeature(t)} <= s.thr_$t THEN s.nle_$t ELSE s.n_total - s.nle_$t END")
        .mkString(" + ")
      s"""WITH rows0 AS (
         |  SELECT event_id, CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli,
         |    CAST(hour(ts) AS BIGINT) AS hr
         |  FROM events),
         |stats AS (
         |  SELECT CAST(MIN(v_milli) AS BIGINT) AS vmin,
         |    CAST(MAX(v_milli) AS BIGINT) AS vmax,
         |    CAST(MIN(hr) AS BIGINT) AS hmin, CAST(MAX(hr) AS BIGINT) AS hmax,
         |    CAST(count(*) AS BIGINT) AS n_total
         |  FROM rows0),
         |thr AS (SELECT n_total,
         |    $thrList
         |  FROM stats),
         |sides AS (
         |  SELECT t.n_total, $thrCols,
         |    $nleList
         |  FROM rows0 r CROSS JOIN thr t
         |  GROUP BY t.n_total, $thrCols)
         |SELECT r.event_id, r.v_milli, r.hr, ($score) AS isolation_mass
         |FROM rows0 r CROSS JOIN sides s
         |ORDER BY isolation_mass ASC, event_id ASC LIMIT 20""".stripMargin
    },

    "ml_svm_gd" -> {
      val marg = "y * (w.w1 * x1 + w.w2 * x2 + w.b)"
      s"""WITH t AS (
         |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
         |    CAST(l_quantity AS BIGINT) - 25 AS x2,
         |    CASE WHEN l_quantity >= 25 THEN 1 ELSE -1 END AS y
         |  FROM lineitem),
         |s1 AS (
         |  SELECT CAST(SUM(y * x1) AS BIGINT) AS sx1,
         |    CAST(SUM(y * x2) AS BIGINT) AS sx2,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS n
         |  FROM t),
         |w1s AS (
         |  SELECT ${sdivD("sx1 * 2500", "n")} AS w1,
         |    ${sdivD("sx2 * 2500", "n")} AS w2,
         |    ${sdivD("sy * 2500", "n")} AS b, n
         |  FROM s1),
         |s2 AS (
         |  SELECT w.w1, w.w2, w.b, w.n,
         |    CAST(SUM(CASE WHEN $marg < 10000 THEN y * x1 ELSE 0 END) AS BIGINT) AS sx1,
         |    CAST(SUM(CASE WHEN $marg < 10000 THEN y * x2 ELSE 0 END) AS BIGINT) AS sx2,
         |    CAST(SUM(CASE WHEN $marg < 10000 THEN y ELSE 0 END) AS BIGINT) AS sy
         |  FROM t CROSS JOIN w1s w
         |  GROUP BY w.w1, w.w2, w.b, w.n),
         |w2s AS (
         |  SELECT w1 - ${sdivD("w1", "64")} + ${sdivD("sx1 * 2500", "n")} AS w1,
         |    w2 - ${sdivD("w2", "64")} + ${sdivD("sx2 * 2500", "n")} AS w2,
         |    b + ${sdivD("sy * 2500", "n")} AS b, n
         |  FROM s2),
         |f AS (
         |  SELECT w.w1, w.w2, w.b, w.n,
         |    CAST(SUM(CASE WHEN $marg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(SUM(CASE WHEN $marg < 10000 THEN 10000 - ($marg) ELSE 0 END) AS BIGINT) AS hinge_sum,
         |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM t CROSS JOIN w2s w
         |  GROUP BY w.w1, w.w2, w.b, w.n)
         |SELECT w1 AS w1_bp, w2 AS w2_bp, b AS b_bp, n, n_correct,
         |  n_correct * 10000 // n AS acc_bp,
         |  GREATEST(n_pos, n - n_pos) * 10000 // n AS majority_bp,
         |  hinge_sum // n AS hinge_mean_bp
         |FROM f""".stripMargin
    },

    "sim_ndcg_eval" -> {
      val gainCase = (1 to NDCG_K).map(i =>
        s"WHEN rank = $i THEN ${ndcgW(i - 1)}").mkString("CASE ", " ", " ELSE 0 END")
      val idcgCase = (1 to NDCG_K).map(i =>
        s"WHEN n_rel >= $i THEN ${ndcgW.take(i).sum}")
        .reverse.mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, label AS q_label, embedding AS qe
         |  FROM embeddings WHERE vec_id < $NDCG_NQ),
         |scored AS (
         |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         |    ${qdotSql.format("q.qe", "e.embedding")} AS dot_q
         |  FROM q JOIN embeddings e ON e.vec_id != q.q_id),
         |top AS (
         |  SELECT *, CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY dot_q DESC, vec_id ASC) AS rank
         |    FROM scored) WHERE rank <= $NDCG_K),
         |lab AS (SELECT label, CAST(count(*) AS BIGINT) AS n_lab
         |        FROM embeddings GROUP BY label),
         |agg AS (
         |  SELECT q_id, q_label,
         |    CAST(SUM(rel * ($gainCase)) AS BIGINT) AS dcg_micro,
         |    CAST(SUM(rel) AS BIGINT) AS rel_in_topk
         |  FROM top GROUP BY q_id, q_label),
         |j AS (
         |  SELECT a.q_id, a.q_label, a.rel_in_topk, a.dcg_micro,
         |    CAST(LEAST(l.n_lab - 1, $NDCG_K) AS BIGINT) AS n_rel
         |  FROM agg a JOIN lab l ON l.label = a.q_label),
         |f AS (SELECT *, CAST(($idcgCase) AS BIGINT) AS idcg_micro FROM j)
         |SELECT q_id, q_label, rel_in_topk, n_rel, dcg_micro, idcg_micro,
         |  CASE WHEN idcg_micro = 0 THEN CAST(0 AS BIGINT)
         |    ELSE dcg_micro * 10000 // idcg_micro END AS ndcg_bp
         |FROM f ORDER BY q_id""".stripMargin
    },

    "ml_conformal_interval" ->
      """WITH seg AS (
        |  SELECT c.c_mktsegment,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    o_orderkey % 2 AS half
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |means AS (
        |  SELECT c_mktsegment,
        |    CAST(SUM(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cents
        |  FROM seg WHERE half = 0 GROUP BY c_mktsegment),
        |resid AS (
        |  SELECT abs(s.cents - m.mean_cents) AS r
        |  FROM seg s JOIN means m USING (c_mktsegment) WHERE s.half = 0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM resid),
        |tbl AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM resid GROUP BY r),
        |cum AS (
        |  SELECT r, SUM(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tbl),
        |qh AS (
        |  SELECT CAST(MIN(r) AS BIGINT) AS q_hat_cents FROM cum, tot
        |  WHERE cum >= ((n_cal + 1) * 9 + 9) // 10),
        |test AS (
        |  SELECT s.c_mktsegment, q.q_hat_cents,
        |    CASE WHEN abs(s.cents - m.mean_cents) <= q.q_hat_cents
        |      THEN 1 ELSE 0 END AS cov
        |  FROM seg s JOIN means m USING (c_mktsegment) CROSS JOIN qh q
        |  WHERE s.half = 1)
        |SELECT t.c_mktsegment, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(SUM(cov) AS BIGINT) AS n_covered,
        |  CAST(SUM(cov) AS BIGINT) * 10000 // CAST(count(*) AS BIGINT) AS coverage_bp,
        |  t.q_hat_cents, o.n_cal
        |FROM test t CROSS JOIN tot o
        |GROUP BY t.c_mktsegment, t.q_hat_cents, o.n_cal
        |ORDER BY t.c_mktsegment""".stripMargin
  )
}
