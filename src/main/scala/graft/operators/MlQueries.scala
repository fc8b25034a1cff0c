package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 embedding-space ML additions:
  *
  *  - `ml_kmeans_lloyd` — HASH-MATCHED Lloyd k-means. The IVF index
  *    (sim_knn_ivf) already trains centroids but is rows-only by
  *    contract; this is the exact twin: every coordinate is floor-
  *    quantized to integer MILLI-units, so assignment distances are
  *    exact integers, centroid updates are ⌊Σq/n⌋ on exact sums, and
  *    two full Lloyd rounds replay bit-for-bit as an unrolled CTE in
  *    DuckDB. Distributed shape: the (k·d)-row centroid table
  *    broadcasts to the corpus-sized assignment join (O(n·d·k) work,
  *    the Lloyd lower bound), updates are one keyed aggregate, rounds
  *    are pointer-checkpointed.
  *  - `sim_mips_topk` — maximum-inner-product top-k (the retrieval
  *    scoring un-normalized embeddings need, distinct from cosine
  *    sim_knn_brute): dot products over milli-quantized integers are
  *    exact at any order, so the ranking is hash-matched, not
  *    rows-only. Queries broadcast; per-partition top-k merges k-row
  *    sides (TakeOrdered shape under the per-query window).
  */
object MlQueries extends graft.QueryModule {
  private val K = 8      // clusters
  private val DIMS = 64
  private val TOPK = 5
  private val MMR_NQ = 3    // MMR query documents: vec_id < 3
  private val MMR_POOL = 20 // MMR relevance candidates per query
  private val MMR_K = 5     // MMR picks per query

  /** The PCA Gram build (pre-checkpoint) — package-visible so PlanSpec
    * can pin the join stage that `ml_pca_power`'s eager 4096-row
    * localCheckpoint otherwise truncates out of the final plan. */
  private[graft] def pcaGram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = quantized(s, d)
    q.select($"vec_id", $"dim".as("i"), $"qv".as("qa"))
      .join(q.select($"vec_id", $"dim".as("j"), $"qv".as("qb")), Seq("vec_id"))
      .groupBy($"i", $"j").agg(sum($"qa" * $"qb").as("g"))
  }

  /** Corpus exploded to (vec_id, dim, qv) with milli-quantized integer
    * coordinates — the substrate both queries score on. */
  private def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d)
      .select($"vec_id", posexplode(
        transform($"embedding", x => floor(x.cast("double") * 1000).cast("long")))
        .as(Seq("dim", "qv")))
      .repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .localCheckpoint()
  }

  val queries: Map[String, Q] = Map(
    "ml_kmeans_lloyd" -> ((s, d) => {
      import s.implicits._
      val e = quantized(s, d)
      // seeds: the first K vectors (deterministic, oracle-replayable)
      var cent = e.filter($"vec_id" < K)
        .select($"vec_id".as("cluster"), $"dim", $"qv".as("c"))
        .localCheckpoint()
      def assign(c: DataFrame): DataFrame = {
        val dist = e.join(broadcast(c), Seq("dim"))
          .groupBy($"vec_id", $"cluster")
          .agg(sum(($"qv" - $"c") * ($"qv" - $"c")).as("dist"))
        val wv = Window.partitionBy($"vec_id").orderBy($"dist", $"cluster")
        dist.withColumn("rn", row_number().over(wv)).filter($"rn" === 1)
          .select($"vec_id", $"cluster", $"dist")
      }
      for (_ <- 1 to 1) { // one update between the two assignment passes
        val a = assign(cent)
        cent = a.join(e, Seq("vec_id"))
          .groupBy($"cluster", $"dim")
          .agg(floor(sum($"qv").cast("double") / count(lit(1))).cast("long").as("c"))
          .localCheckpoint()
      }
      assign(cent)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"), sum($"dist").as("inertia"))
        .orderBy($"cluster")
    }),

    // PCA top component via POWER ITERATION, exact integers end-to-end:
    // the covariance-like Gram matrix Σ qᵢqⱼ is built from the
    // quantized substrate's CO-PARTITIONED self-join on vec_id (both
    // sides share one vec_id partitioning, so the n·d² outer-product
    // rows never shuffle — they flow straight into the map-side
    // partial of the (i,j) aggregate, d² = 4096 cells at any corpus
    // size; an earlier nested-higher-order-function formulation
    // evaluated interpreted and ran 20× slower), then 3 power rounds
    // run on the aggregate-sized cell table: v ← G·v, rescaled to
    // ±1000 by sign·(|x|·1000 DIV max|x|) so both engines truncate
    // identically (plain DIV/​// diverge on negatives: Spark
    // truncates, DuckDB floors — sign-splitting removes the hazard).
    // Deterministic for a fixed v₀ = 1⃗; the oracle replays the rounds
    // as unrolled CTEs.
    "ml_pca_power" -> ((s, d) => {
      import s.implicits._
      val gram = pcaGram(s, d)
        .localCheckpoint() // 4096 rows at any corpus size
      def rescale(df: DataFrame): DataFrame = {
        val w = Window.partitionBy() // 64 rows
        df.withColumn("m", max(abs($"s")).over(w))
          .select($"i".as("j"),
            (signum($"s").cast("long") * expr("abs(s) * 1000 DIV m")).as("v"))
      }
      var v = gram.select($"i").distinct().select($"i".as("j"), lit(1000L).as("v"))
      for (_ <- 1 to 3) {
        val raw = gram.join(broadcast(v), Seq("j"))
          .groupBy($"i").agg(sum($"g" * $"v").as("s"))
        v = rescale(raw).localCheckpoint() // 64 rows
      }
      v.select($"j".as("dim"), $"v".as("v_milli")).orderBy($"dim")
    }),

    // k-NN LABEL CLASSIFIER EVAL — the "is this embedding space any
    // good?" harness: leave-one-out 5-NN majority vote over a
    // deterministic 5% eval sample (vec_id % 20 = 0 — bounded at any
    // corpus size), reported as the full CONFUSION MATRIX. Votes and
    // tie-breaks are total orders (count desc, label asc) over exact
    // ranks, so the matrix is hash-matched. Eval rows broadcast; the
    // scoring join is (corpus × sample), the same bound as sim_knn.
    "ml_knn_classifier" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
      val qs = embeddings(s, d).filter($"vec_id" % 20 === 0)
        .select($"vec_id".as("q"), $"label".as("true_label"), $"embedding".as("q_emb"))
      val scored = emb.join(broadcast(qs), $"vec_id" =!= $"q")
        .select($"q", $"true_label", $"label".as("cand_label"),
          graft.functions.VectorFunctions.cosineSimilarity($"q_emb", $"embedding")
            .as("cosine"), $"vec_id")
      val wTop = Window.partitionBy($"q").orderBy($"cosine".desc, $"vec_id".asc)
      val top5 = scored.withColumn("rn", row_number().over(wTop)).filter($"rn" <= 5)
      val votes = top5.groupBy($"q", $"true_label", $"cand_label")
        .agg(count(lit(1)).as("cnt"))
      val wVote = Window.partitionBy($"q").orderBy($"cnt".desc, $"cand_label".asc)
      votes.withColumn("rk", row_number().over(wVote)).filter($"rk" === 1)
        .groupBy($"true_label", $"cand_label".as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"true_label", $"pred_label")
    }),

    // Simplified SILHOUETTE on squared centroid distances — the
    // cluster-quality metric for the label partition (and the shape a
    // kmeans evaluation reuses): a² = squared distance to own
    // centroid, b² = min squared distance to any other centroid,
    // s = (b²−a²)/max(a²,b²) per point, all EXACT integers on the
    // milli-quantized substrate (centroids are floor(Σq/n) — floor is
    // floor on both engines, unlike DIV/// on negatives; the per-point
    // ratio is sign·(|b²−a²|·1e6 DIV max)). One keyed centroid
    // aggregate + a broadcast dim join, label-count-sized output.
    "ml_silhouette_lite" -> ((s, d) => {
      import s.implicits._
      val e = quantized(s, d)
      val labels = embeddings(s, d).select($"vec_id", $"label".as("own"))
      val cent = e.join(labels, Seq("vec_id"))
        .groupBy($"own".as("cl"), $"dim")
        .agg(floor(sum($"qv").cast("double") / count(lit(1))).cast("long").as("c"))
      val dist = e.join(broadcast(cent), Seq("dim"))
        .groupBy($"vec_id", $"cl")
        .agg(sum(($"qv" - $"c") * ($"qv" - $"c")).as("d2"))
      val ab = dist.join(labels, Seq("vec_id"))
        .groupBy($"vec_id", $"own")
        .agg(sum(when($"cl" === $"own", $"d2")).as("a2"),
          min(when($"cl" =!= $"own", $"d2")).as("b2"))
      val sMicro = ab.withColumn("s_micro",
        when(greatest($"a2", $"b2") === 0, 0L)
          .otherwise(signum(($"b2" - $"a2").cast("double")).cast("long")
            * expr("abs(b2 - a2) * 1000000 DIV greatest(a2, b2)")))
      sMicro.groupBy($"own".as("label"))
        .agg(count(lit(1)).as("n_vecs"), sum($"s_micro").as("s_sum"))
        // sign-split mean: negative silhouettes must floor identically
        .select($"label", $"n_vecs",
          (signum($"s_sum".cast("double")).cast("long")
            * expr("abs(s_sum) DIV n_vecs")).as("mean_s_micro"))
        .orderBy($"label")
    }),

    "sim_mips_topk" -> ((s, d) => {
      import s.implicits._
      val qv = transform($"embedding", x => floor(x.cast("double") * 1000).cast("long"))
      val emb = embeddings(s, d).select($"vec_id", qv.as("q"))
        .repartition(s.sparkContext.defaultParallelism)
      val queriesDf = embeddings(s, d)
        .filter($"vec_id" >= TOPK && $"vec_id" < 2 * TOPK)
        .select($"vec_id".as("q_id"), qv.as("qq"))
      val scored = emb.join(broadcast(queriesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          aggregate(zip_with($"q", $"qq", (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dot_q"))
      val w = Window.partitionBy($"q_id").orderBy($"dot_q".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= TOPK)
        .select($"q_id", $"rank", $"vec_id", $"dot_q")
        .orderBy($"q_id", $"rank")
    }),

    // MMR-DIVERSIFIED retrieval — the redundancy-killing re-rank on
    // top of plain top-k (sim_knn/sim_mips return near-duplicates of
    // the best hit; Maximal Marginal Relevance trades relevance
    // against similarity-to-already-selected): greedy picks maximize
    // 7·rel − 3·maxsim (λ=0.7 scaled to integers) over milli-quantized
    // exact dot products, so every argmax is a total order and the
    // whole selection is HASH-MATCHED — the oracle replays the five
    // greedy rounds as unrolled CTEs. Scale: relevance scoring is the
    // broadcast-query corpus pass (the sim_knn bound); everything
    // after lives on the 20-candidate-per-query table, and the greedy
    // loop never touches the corpus again.
    "sim_mmr_diversify" -> ((s, d) => {
      import s.implicits._
      val qv = transform($"embedding", x => floor(x.cast("double") * 1000).cast("long"))
      def qd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      val emb = embeddings(s, d).select($"vec_id", qv.as("q"))
        .repartition(s.sparkContext.defaultParallelism)
      val queriesDf = embeddings(s, d).filter($"vec_id" < MMR_NQ)
        .select($"vec_id".as("q_id"), qv.as("qq"))
      val rel = emb.join(broadcast(queriesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", qd($"q", $"qq").as("rel"))
      val wTop = Window.partitionBy($"q_id").orderBy($"rel".desc, $"vec_id".asc)
      val cand = rel.withColumn("rn", row_number().over(wTop))
        .filter($"rn" <= MMR_POOL).select($"q_id", $"vec_id", $"rel")
        .localCheckpoint() // ≤ NQ·POOL = 60 rows
      val cvec = cand.join(emb, Seq("vec_id"))
      val ps = cvec.select($"q_id", $"vec_id".as("cand_id"), $"q".as("cq"))
        .join(cvec.select($"q_id", $"vec_id".as("other_id"), $"q".as("oq")), Seq("q_id"))
        .filter($"cand_id" =!= $"other_id")
        .select($"q_id", $"cand_id", $"other_id", qd($"cq", $"oq").as("sim"))
        .localCheckpoint() // ≤ NQ·POOL² rows
      var selected = cand
        .withColumn("rn", row_number().over(wTop)).filter($"rn" === 1)
        .select($"q_id", $"vec_id", $"rel",
          (lit(7L) * $"rel").as("mmr_score"), lit(1).as("pick"))
        .localCheckpoint()
      val psr = ps.select($"q_id".as("pq"), $"cand_id", $"other_id", $"sim")
      for (k <- 2 to MMR_K) {
        val scoredK = cand
          .join(selected.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"), "left_anti")
          .join(psr, $"q_id" === $"pq" && $"vec_id" === $"cand_id")
          .join(selected.select($"q_id".as("sq"), $"vec_id".as("sel_id")),
            $"pq" === $"sq" && $"other_id" === $"sel_id")
          .groupBy($"q_id", $"vec_id", $"rel")
          .agg((lit(7L) * $"rel" - lit(3L) * max($"sim")).as("mmr_score"))
        val wK = Window.partitionBy($"q_id").orderBy($"mmr_score".desc, $"vec_id".asc)
        val pickK = scoredK.withColumn("rn", row_number().over(wK))
          .filter($"rn" === 1)
          .select($"q_id", $"vec_id", $"rel", $"mmr_score", lit(k).as("pick"))
        selected = selected.unionByName(pickK).localCheckpoint()
      }
      selected.orderBy($"q_id", $"pick")
    })
  )

  private val qdot =
    s"CAST(list_sum(list_transform(range(1, ${DIMS + 1}), i -> " +
      "CAST(floor(CAST(%s[i] AS DOUBLE) * 1000) AS BIGINT) * " +
      "CAST(floor(CAST(%s[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "ml_kmeans_lloyd" ->
      s"""WITH e AS (
         |  SELECT vec_id, i AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, $DIMS) AS g(i)),
         |c0 AS (SELECT vec_id AS cluster, dim, qv AS c FROM e WHERE vec_id < $K),
         |d1 AS (
         |  SELECT e.vec_id, c.cluster,
         |    CAST(SUM((e.qv - c.c) * (e.qv - c.c)) AS BIGINT) AS dist
         |  FROM e JOIN c0 c ON e.dim = c.dim GROUP BY e.vec_id, c.cluster),
         |a1 AS (
         |  SELECT vec_id, cluster, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cluster) AS rn FROM d1)
         |  WHERE rn = 1),
         |c1 AS (
         |  SELECT a.cluster, e.dim,
         |    CAST(floor(CAST(SUM(e.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM a1 a JOIN e ON a.vec_id = e.vec_id GROUP BY a.cluster, e.dim),
         |d2 AS (
         |  SELECT e.vec_id, c.cluster,
         |    CAST(SUM((e.qv - c.c) * (e.qv - c.c)) AS BIGINT) AS dist
         |  FROM e JOIN c1 c ON e.dim = c.dim GROUP BY e.vec_id, c.cluster),
         |a2 AS (
         |  SELECT vec_id, cluster, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cluster) AS rn FROM d2)
         |  WHERE rn = 1)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(SUM(dist) AS BIGINT) AS inertia
         |FROM a2 GROUP BY cluster ORDER BY cluster""".stripMargin,

    "ml_knn_classifier" -> {
      val cs = "list_sum(list_transform(range(1, len(%s)+1), " +
        "i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)))"
      def dot(a: String, b: String) = cs.format(a, a, b)
      val cos = s"(${dot("q.embedding", "e.embedding")} / " +
        s"(sqrt(${dot("q.embedding", "q.embedding")}) * " +
        s"sqrt(${dot("e.embedding", "e.embedding")})))"
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q, q.label AS tl, e.label AS cl, e.vec_id AS c,
         |    $cos AS cosine
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id % 20 = 0 AND e.vec_id != q.vec_id),
         |top5 AS (
         |  SELECT q, tl, cl FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q
         |      ORDER BY cosine DESC, c) AS rn FROM scored)
         |  WHERE rn <= 5),
         |votes AS (
         |  SELECT q, tl, cl, count(*) AS cnt FROM top5 GROUP BY q, tl, cl),
         |pred AS (
         |  SELECT q, tl, cl AS pl FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q
         |      ORDER BY cnt DESC, cl) AS rk FROM votes)
         |  WHERE rk = 1)
         |SELECT tl AS true_label, pl AS pred_label,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY tl, pl ORDER BY true_label, pred_label""".stripMargin
    },

    "ml_silhouette_lite" ->
      s"""WITH e AS (
         |  SELECT vec_id, i AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, $DIMS) AS g(i)),
         |lab AS (SELECT vec_id, label AS own FROM embeddings),
         |cent AS (
         |  SELECT l.own AS cl, e.dim,
         |    CAST(floor(CAST(SUM(e.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM e JOIN lab l ON e.vec_id = l.vec_id GROUP BY l.own, e.dim),
         |dist AS (
         |  SELECT e.vec_id, c.cl,
         |    CAST(SUM((e.qv - c.c) * (e.qv - c.c)) AS BIGINT) AS d2
         |  FROM e JOIN cent c ON e.dim = c.dim GROUP BY e.vec_id, c.cl),
         |ab AS (
         |  SELECT d.vec_id, l.own,
         |    CAST(SUM(CASE WHEN d.cl = l.own THEN d.d2 END) AS BIGINT) AS a2,
         |    CAST(MIN(CASE WHEN d.cl != l.own THEN d.d2 END) AS BIGINT) AS b2
         |  FROM dist d JOIN lab l ON d.vec_id = l.vec_id
         |  GROUP BY d.vec_id, l.own),
         |sm AS (
         |  SELECT own,
         |    CASE WHEN greatest(a2, b2) = 0 THEN 0
         |      ELSE (CASE WHEN b2 < a2 THEN -1 WHEN b2 > a2 THEN 1 ELSE 0 END)
         |        * (abs(b2 - a2) * 1000000 // greatest(a2, b2)) END AS s_micro
         |  FROM ab)
         |SELECT own AS label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST((CASE WHEN SUM(s_micro) < 0 THEN -1
         |    WHEN SUM(s_micro) > 0 THEN 1 ELSE 0 END)
         |    * (abs(SUM(s_micro)) // count(*)) AS BIGINT) AS mean_s_micro
         |FROM sm GROUP BY own ORDER BY label""".stripMargin,

    "ml_pca_power" -> {
      def round(n: Int): String =
        s"""r$n AS (
           |  SELECT g.i, SUM(g.g * v.v) AS s
           |  FROM gram g JOIN v${n - 1} v ON g.j = v.j GROUP BY g.i),
           |v$n AS (
           |  SELECT i AS j, CAST(
           |    (CASE WHEN s < 0 THEN -1 WHEN s > 0 THEN 1 ELSE 0 END)
           |    * (abs(s) * 1000 // (SELECT max(abs(s)) FROM r$n)) AS BIGINT) AS v
           |  FROM r$n)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, i - 1 AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, $DIMS) AS g(i)),
         |gram AS (
         |  SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |v0 AS (SELECT DISTINCT i AS j, CAST(1000 AS BIGINT) AS v FROM gram),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT j AS dim, v AS v_milli FROM v3 ORDER BY dim""".stripMargin
    },

    "sim_mips_topk" ->
      s"""SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, dot_q FROM (
         | SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |  ${qdot.format("q.embedding", "e.embedding")} AS dot_q,
         |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${qdot.format("q.embedding", "e.embedding")} DESC,
         |      e.vec_id ASC) AS rank
         | FROM embeddings q JOIN embeddings e
         |   ON q.vec_id >= $TOPK AND q.vec_id < ${2 * TOPK}
         |    AND e.vec_id != q.vec_id) t
         |WHERE rank <= $TOPK ORDER BY q_id, rank""".stripMargin,

    // The five greedy MMR rounds replayed as unrolled CTEs: each round
    // scores the not-yet-selected candidates by 7·rel − 3·max(sim to
    // the selected set) and takes the (score desc, vec_id) argmax —
    // all BIGINT arithmetic over the same milli-quantized dots.
    "sim_mmr_diversify" -> {
      def selK(k: Int): String = {
        val prev = s"selall${k - 1}"
        s"""scored$k AS (
           |  SELECT c.q_id, c.vec_id, c.rel,
           |    7*c.rel - 3*MAX(p.sim) AS mmr_score
           |  FROM cand c
           |  JOIN ps p ON p.q_id = c.q_id AND p.cand_id = c.vec_id
           |  JOIN $prev s ON s.q_id = p.q_id AND s.vec_id = p.other_id
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
           |                    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
           |  GROUP BY c.q_id, c.vec_id, c.rel),
           |sel$k AS (
           |  SELECT q_id, vec_id, rel, mmr_score, $k AS pick FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id
           |      ORDER BY mmr_score DESC, vec_id) AS rn FROM scored$k)
           |  WHERE rn = 1),
           |selall$k AS (SELECT q_id, vec_id FROM selall${k - 1}
           |             UNION ALL SELECT q_id, vec_id FROM sel$k)"""
      }
      s"""WITH cand AS (
         |  SELECT q_id, vec_id, rel FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |      ${qdot.format("q.embedding", "e.embedding")} AS rel,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${qdot.format("q.embedding", "e.embedding")} DESC,
         |          e.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings e
         |      ON q.vec_id < $MMR_NQ AND e.vec_id != q.vec_id) t
         |  WHERE rn <= $MMR_POOL),
         |cv AS (SELECT c.q_id, c.vec_id, c.rel, e.embedding
         |       FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id),
         |ps AS (SELECT a.q_id, a.vec_id AS cand_id, b.vec_id AS other_id,
         |    ${qdot.format("a.embedding", "b.embedding")} AS sim
         |  FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.vec_id != b.vec_id),
         |sel1 AS (
         |  SELECT q_id, vec_id, rel, CAST(7*rel AS BIGINT) AS mmr_score, 1 AS pick FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, vec_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |selall1 AS (SELECT q_id, vec_id FROM sel1),
         |${(2 to MMR_K).map(selK).mkString(",\n")}
         |SELECT q_id, vec_id, rel, CAST(mmr_score AS BIGINT) AS mmr_score,
         |  CAST(pick AS INTEGER) AS pick
         |FROM (${(1 to MMR_K).map(k => s"SELECT * FROM sel$k").mkString("\n      UNION ALL ")})
         |ORDER BY q_id, pick""".stripMargin
    }
  )
}
