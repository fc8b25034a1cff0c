package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions._

/** Similarity search over `embeddings.embedding` (array<float>, 64-dim).
  *
  * Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
  * and IVF variants are the 100 TB scale paths (candidates from keyed
  * equi-joins instead of a query×corpus cross product). All pure Catalyst
  * higher-order expressions — no UDFs, no corpus-sized collects.
  *
  * The approximate variants additionally ship `*_check` twins that gate
  * recall@k against the exact brute-force top-k, so the driver's oracle
  * hash-verifies the ANN quality invariant instead of recording a
  * rows-only pass.
  */
object SimilarityQueries extends graft.QueryModule {
  private val K = 5
  private val N_QUERIES = 5

  /** Collect a TRAINING frame (driver-feedback Lloyd/PQ rounds) with
    * AQE off (r20, guide §1.2 driver cost): each training round is a
    * model-sized aggregate over ≤corpus rows whose plan AQE splits
    * into per-stage materialization jobs — on a 16-cell/64-dim model
    * that is pure driver round-trip latency (~2 extra job waves per
    * round, nothing to re-optimize at that size). The SEARCH plans
    * keep AQE (they join/broadcast at data scale).
    *
    * r21 (verdict ask #9): the AQE-off window is scoped to a memoized
    * CHILD SESSION (same SparkContext, own SQLConf) instead of the old
    * mutate-and-restore on the shared session conf — the repo now runs
    * concurrent driver actions from thread pools (borda/q95), and a
    * future overlap would have leaked AQE-off into a search plan. The
    * training plan is re-bound via graftbridge.onSession; cached
    * frames resolve through the shared cache manager, so the executed
    * plan is the one the r20 A/B measured, and there is no set/restore
    * left to leak (Round21Spec pins this). Float caveat unchanged:
    * training-aggregate partition layout can move centroid last-ulp
    * bits — inside the rows-only contract of the approximate entries
    * and the calibrated ≥400 bp recall floors of the _check twins. */
  private val trainSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def trainSession(s: SparkSession): SparkSession =
    trainSessions.computeIfAbsent(s, ps => {
      val ts = ps.newSession()
      ts.conf.set("spark.sql.adaptive.enabled", "false")
      ts
    })
  private def collectNoAqe(s: SparkSession, df: DataFrame): Array[org.apache.spark.sql.Row] =
    org.apache.spark.sql.graftbridge.onSession(df, trainSession(s)).collect()
  private def collectVecsNoAqe(s: SparkSession, df: DataFrame): Array[Seq[Float]] = {
    val ts = trainSession(s)
    import ts.implicits._
    org.apache.spark.sql.graftbridge.onSession(df, ts).as[Seq[Float]].collect()
  }

  /** Exact top-K: broadcast the small query set against the corpus (at
    * 100 TB: corpus stays partitioned, queries broadcast; per-partition
    * top-k then global top-k via the window). */
  private def bruteTopK(s: SparkSession, d: String,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    // corpus lands as one row group → spread the scoring across cores
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val queriesDf = embeddings(s, d).filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val scored = emb.join(broadcast(queriesDf),
        if (excludeSelf) $"vec_id" =!= $"q_id" else lit(true))
      .select($"q_id", $"vec_id",
        cosineSimilarity($"q_emb", $"embedding").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"q_id", $"rank", $"vec_id", $"cosine")
  }

  /** ANN via multi-table random-hyperplane LSH: L=4 tables × 8 sign
    * bits; a corpus vector is a candidate if it collides with the query
    * in ANY table (classic recall amplification). Hyperplane weights
    * derive deterministically from xxhash64(table, plane, dim) — no
    * driver-side randomness, reproducible across executors. At 100 TB
    * the (table, bucket) equi-join replaces the query×corpus product. */
  private def lshTopK(s: SparkSession, d: String,
      tables: Int = 4, planes: Int = 4, excludeSelf: Boolean = true): DataFrame =
    lshSearch(s, d, tables, planes)(excludeSelf)

  /** Builds the LSH tables and the COLLIDED candidate scores once,
    * returning the search as a closure over the self-exclusion flag
    * (r20: annCheck runs both retrieval modes — the bucketing, the
    * candidate join and the cosine scoring are mode-independent, only
    * the self filter differs, and filtering the scored set before or
    * after dedup keeps the identical (q, v) set). */
  private def lshSearch(s: SparkSession, d: String,
      tables: Int, planes: Int): Boolean => DataFrame = {
    import s.implicits._
    // bucket(t) = 8 sign bits of the projections onto table t's planes
    def bucket(emb: Column, t: Column) =
      aggregate(
        sequence(lit(0), lit(planes - 1)),
        lit(0L),
        (acc, b) => acc.bitwiseOR(
          when(
            aggregate(
              zip_with(
                emb,
                transform(sequence(lit(0), lit(63)),
                  i => (pmod(xxhash64(t, b, i), lit(1000L)).cast("double") / 1000.0 - 0.5)),
                (x, w) => x.cast("double") * w),
              lit(0.0), (a2, v) => a2 + v) > 0.0,
            call_function("shiftleft", lit(1L), b)).otherwise(0L)))
    def withBuckets(df: DataFrame) = df
      .select(col("*"), posexplode(transform(sequence(lit(0), lit(tables - 1)),
        t => bucket(col("embedding"), t))).as(Seq("tbl", "bucket")))
    val emb = withBuckets(embeddings(s, d).select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism, $"vec_id")) // r20: single-file scan = 1 partition; bucket math on all cores
    val queriesDf = withBuckets(
      embeddings(s, d).filter($"vec_id" < N_QUERIES)
        .select($"vec_id".as("q_id"), $"embedding"))
      .select($"q_id", $"embedding".as("q_emb"), $"tbl", $"bucket")
    lazy val scoredAll = emb.join(broadcast(queriesDf), Seq("tbl", "bucket"))
      .select($"q_id", $"vec_id", $"q_emb", $"embedding")
      .dropDuplicates("q_id", "vec_id")
      .select($"q_id", $"vec_id",
        cosineSimilarity($"q_emb", $"embedding").as("cosine"))
      .localCheckpoint() // candidate-set-sized; shared by both modes
    (excludeSelf: Boolean) => {
      val scored =
        if (excludeSelf) scoredAll.filter($"vec_id" =!= $"q_id") else scoredAll
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cosine")
    }
  }

  /** IVF-style ANN: spherical k-means centroids form the inverted-file
    * cells; every vector is assigned to its nearest centroid, and a
    * query probes only its 2 nearest cells. At 100 TB the corpus is
    * partitioned by cell id, so a probe touches 2/16 of the data
    * instead of all of it. The quantizer is trained here with
    * DataFrame-native Lloyd iterations — assignment is a Catalyst
    * expression over the corpus, the centroid update is one
    * groupBy(cell, dim) mean, and the model (16×64 floats) rides the
    * driver→literal path exactly as it would ride a broadcast on a
    * cluster. (Spark ML's KMeans fits too, but its RDD conversion and
    * per-iteration job fan-out cost ~5 s of fixed overhead on a model
    * this small.) */
  private def ivfTopK(s: SparkSession, d: String,
      kCells: Int = 16, nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame =
    ivfSearch(s, d, kCells, nProbe)(excludeSelf)

  /** Trains the IVF quantizer ONCE and returns the search as a closure
    * over the self-exclusion flag — annCheck runs both retrieval modes
    * against one trained index (the production shape: build once,
    * query many), instead of re-running Lloyd per variant. */
  /** Nearest-centroid id for a vector against a driver-side model —
    * an explicit kCells-wide array of codegen'd cosine calls (a HOF
    * lambda would evaluate interpreted, and a custom expression under
    * a lambda trips attribute resolution). Shared by IVF and IVF-PQ. */
  private def cellOf(v: Column, m: Seq[(Int, Seq[Float])]): Column = {
    val sims = array(m.map { case (_, c) => cosineSimilarity(v, typedlit(c)) }: _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Deterministic-seed (kCells smallest hashed ids), 2-round Lloyd
    * coarse quantizer — extracted VERBATIM from ivfSearch (r19) so the
    * IVF-PQ index trains the identical coarse model; hash-neutral for
    * the existing sim_knn_ivf* entries. */
  private def lloydCentroids(s: SparkSession, emb: DataFrame,
      kCells: Int): Seq[(Int, Seq[Float])] = {
    import s.implicits._
    var model: Seq[(Int, Seq[Float])] = collectVecsNoAqe(s, emb
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(kCells)
      .select($"embedding")).toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }
    for (_ <- 1 to 2) { // Lloyd: assign (distributed) → mean (grouped)
      // r21 (verdict ask #3): ONE aggregate pass per round — 64
      // elementwise avg columns grouped by cell — instead of
      // posexplode to (cell, dim) rows. The explode multiplied every
      // corpus row ×64 BEFORE the shuffle (guide §2.3: aggregate
      // before you shuffle / don't explode into the exchange); the
      // columnar form shuffles one 16-row × 64-col partial per map
      // partition. Same per-dim value set; float-sum ORDER shifts are
      // inside the rows-only contract + the _check recall floors
      // (re-verified at all 3 SFs, RecallProbe re-run — see
      // OPTIMIZATION_r21.md).
      val means = collectNoAqe(s, emb
        .select(cellOf($"embedding", model).as("cell"), $"embedding")
        .groupBy($"cell")
        .agg(avg(element_at($"embedding", 1)).as("m0"),
          (2 to 64).map(i => avg(element_at($"embedding", i)).as(s"m${i - 1}")): _*))
        .map(r => r.getInt(0) ->
          (1 to 64).map(i => r.getDouble(i).toFloat).toSeq).toMap
      model = model.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    model
  }

  private def ivfSearch(s: SparkSession, d: String,
      kCells: Int, nProbe: Int): Boolean => DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism, $"vec_id") // r20: 1-partition scan serialized the assignment math
      .cache()
    val model = lloydCentroids(s, emb, kCells)
    // the built index: cell assignment materialized once (both of
    // annCheck's retrieval modes — and, on a cluster, every query
    // batch — read the same pinned index, not a recomputation)
    val assigned = emb.withColumn("cell", cellOf($"embedding", model))
      .localCheckpoint()
    // query → its 2 nearest cells, via cosine against centroid vectors
    val centroids = model.toDF("cell", "centroid")
    val queriesDf = assigned.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val probes = queriesDf.crossJoin(broadcast(centroids))
      .select($"q_id", $"q_emb", $"cell",
        cosineSimilarity($"q_emb", $"centroid").as("csim"))
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"csim".desc, $"cell".asc)
    val probeCells = probes.withColumn("pr", row_number().over(w0))
      .filter($"pr" <= nProbe).select($"q_id", $"q_emb", $"cell")
    // r20: the cell-pruned candidate scoring is mode-independent —
    // pin it once, both annCheck retrieval modes filter the scored set
    // (the self filter commutes with the scoring projection)
    lazy val scoredAll = assigned.join(broadcast(probeCells), Seq("cell"))
      .select($"q_id", $"vec_id", cosineSimilarity($"q_emb", $"embedding").as("cosine"))
      .localCheckpoint()
    (excludeSelf: Boolean) => {
      val scored =
        if (excludeSelf) scoredAll.filter($"vec_id" =!= $"q_id") else scoredAll
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cosine")
    }
  }

  /** Product-quantization ANN (spherical PQ + ADC): the 64-dim vector
    * splits into M=8 subspaces of 8 dims; each subspace gets its own
    * 16-centroid codebook (2 DataFrame-native Lloyd rounds, all 8
    * subspaces trained in ONE job per round — the model is 8×16×8
    * floats on the driver, exactly the broadcast-sized path IVF uses).
    * A corpus vector is encoded as 8 small codes — at 100 TB that is an
    * 8-byte index row per vector instead of 256 bytes of floats, the
    * whole point of PQ: the candidate scan touches codes only, never
    * raw embeddings. Queries score via asymmetric distance computation:
    * a per-query 8×16 lookup table of subspace cosines (640 rows for 5
    * queries, broadcast), summed per vector in one keyed aggregation;
    * the top-256 ADC candidates are re-ranked with exact cosine.
    *
    * Self-retrieval invariant (the `_check` gate): the query's own ADC
    * score Σₘ cos(qₘ, centroid(code(qₘ))) is per-subspace maximal, so
    * no vector can out-score it and self always reaches the exact
    * re-rank, which puts it at rank 1 with cosine 1. */
  private def pqTopK(s: SparkSession, d: String,
      excludeSelf: Boolean = true): DataFrame =
    pqSearch(s, d)(excludeSelf)

  /** Trains the PQ codebooks and encodes the corpus ONCE, returning
    * the search as a closure over the self-exclusion flag (same
    * build-once/query-many rationale as ivfSearch). */
  private def pqSearch(s: SparkSession, d: String): Boolean => DataFrame = {
    import s.implicits._
    val M = 8; val SUB = 8; val KC = 16; val CAND = 256
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
    // corpus exploded once into (vec_id, m, sub): 8-dim subvector rows.
    // Keeping the codebook probe at 16 cosine calls per ROW (the cell
    // index rides element_at over the flat model literal) instead of
    // 8×16=128 per vector keeps the generated code well under janino's
    // 64 KB method limit — the 128-wide formulation trips the limit and
    // silently falls back to the interpreted path.
    val sub = emb.select($"vec_id",
      posexplode(array((0 until M).map(m => slice($"embedding", m * SUB + 1, SUB)): _*))
        .as(Seq("m", "sub")))
      .cache()
    // deterministic seeds, sliced into per-subspace codebooks
    val seeds: Array[Seq[Float]] = collectVecsNoAqe(s, emb
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(KC)
      .select($"embedding"))
    var model: IndexedSeq[Seq[Float]] = // flat index m*KC + c
      for (m <- 0 until M; c <- 0 until KC)
        yield seeds(c).slice(m * SUB, (m + 1) * SUB).toSeq
    // nearest codebook entry for a (m, sub) row against the current model
    def codeOf(mod: IndexedSeq[Seq[Float]]) = {
      val sims = array((0 until KC).map(c =>
        cosineSimilarity($"sub",
          element_at(typedlit(mod), $"m" * KC + c + 1))): _*)
      (array_position(sims, array_max(sims)) - 1).cast("int")
    }
    for (_ <- 1 to 2) { // Lloyd: assign (distributed) → mean (grouped)
      // r21 (verdict ask #3): one aggregate pass per round — SUB
      // elementwise avgs grouped by (m, cell) instead of posexplode
      // to (m, cell, sdim) rows (same reshape as lloydCentroids).
      val means = collectNoAqe(s, sub
        .select($"m", codeOf(model).as("cell"), $"sub")
        .groupBy($"m", $"cell")
        .agg(avg(element_at($"sub", 1)).as("mu0"),
          (2 to SUB).map(i => avg(element_at($"sub", i)).as(s"mu${i - 1}")): _*))
        .map(r => (r.getInt(0) * KC + r.getInt(1)) ->
          (1 to SUB).map(i => r.getDouble(i + 1).toFloat).toSeq).toMap
      model = model.indices.map(i => means.getOrElse(i, model(i)))
    }
    // corpus → (vec_id, m, code): the 8-byte-per-vector PQ index,
    // pinned once — both retrieval modes (and any later query batch)
    // read the encoded index, never re-encode
    val codes = sub.select($"vec_id", $"m", codeOf(model).as("code"))
      .localCheckpoint()
    val queriesDf = emb.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    // per-query ADC lookup table: subspace cosine against every codebook entry
    val centroids = model.zipWithIndex
      .map { case (v, i) => (i / KC, i % KC, v) }
      .toDF("m", "cell", "centroid")
    val lut = queriesDf
      .select($"q_id",
        posexplode(array((0 until M).map(m => slice($"q_emb", m * SUB + 1, SUB)): _*))
        .as(Seq("m", "q_sub")))
      .join(centroids, "m")
      .select($"q_id", $"m", $"cell",
        cosineSimilarity($"q_sub", $"centroid").as("sim"))
    // r20: the ADC aggregation is mode-independent (the self filter is
    // on the group keys, so filtering before or after the sum is
    // identical) — pin it once for both annCheck retrieval modes
    lazy val adcAll = codes.join(broadcast(lut), codes("m") === lut("m") && $"code" === $"cell")
      .groupBy($"q_id", $"vec_id").agg(sum($"sim").as("adc"))
      .localCheckpoint()
    (excludeSelf: Boolean) => {
      val adc =
        if (excludeSelf) adcAll.filter($"vec_id" =!= $"q_id") else adcAll
      val w0 = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"adc".desc, $"vec_id".asc)
      val cand = adc.withColumn("r", row_number().over(w0)).filter($"r" <= CAND)
        .select($"q_id", $"vec_id")
      // exact re-rank of the candidate set
      val scored = cand
        .join(emb, "vec_id")
        .join(broadcast(queriesDf), "q_id")
        .select($"q_id", $"vec_id",
          cosineSimilarity($"q_emb", $"embedding").as("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cosine")
    }
  }

  /** IVF-PQ (r18 verdict ask #4) — the coarse quantizer composed with
    * product quantization over RESIDUALS, the production shape for
    * 100 TB ANN (faiss IndexIVFPQ; Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — public knowledge):
    *
    *  1. COARSE: the exact IVF quantizer ([[lloydCentroids]], same
    *     seeds/rounds) assigns each vector a cell; queries probe their
    *     nProbe cosine-nearest cells, so the candidate scan is
    *     cell-pruned — never the corpus.
    *  2. RESIDUAL PQ: each vector's residual (vector − its coarse
    *     centroid) splits into M=8 subspaces with a 16-entry codebook
    *     each (2 Lloyd rounds, all subspaces trained in one job per
    *     round, the pqSearch machinery pointed at residuals). The
    *     stored index row is (cell, 8 codes) — 9 small ints per
    *     vector; raw embeddings are touched only by the final re-rank.
    *  3. ADC on the DOT-PRODUCT decomposition: q·x = q·c + q·r with
    *     r ≈ decode(codes), so score = q·c_cell (one per probed cell)
    *     + Σₘ LUT(m, code) where LUT = dot(qₘ, pq centroid) — the LUT
    *     is M·KC rows per query, broadcast; the per-candidate work is
    *     a keyed join + sum, NO vector math. Top-256 ADC candidates
    *     re-rank with exact cosine (the pqSearch discipline).
    *
    * At 100 TB: codes are built once (the persisted-index pattern of
    * SimilarityQueries2 applies unchanged), probes are keyed equi-joins
    * on cell, and ADC moves 9-int rows — the two index halves compose
    * without a new shuffle shape. */
  private def ivfpqSearch(s: SparkSession, d: String,
      kCells: Int = 16, nProbe: Int = 4): Boolean => DataFrame = {
    import s.implicits._
    val M = 8; val SUB = 8; val KC = 16; val CAND = 256
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism, $"vec_id") // r20: 1-partition scan serialized the assignment math
      .cache()
    val model = lloydCentroids(s, emb, kCells)
    val centArr = model.sortBy(_._1).map(_._2.toIndexedSeq).toIndexedSeq
    val assigned = emb.withColumn("cell", cellOf($"embedding", model))
      .withColumn("resid", zip_with($"embedding",
        element_at(typedlit(centArr), $"cell" + 1), (x, c) => x - c))
    // residual subvector rows; codebook training = pqSearch's shape
    val sub = assigned.select($"vec_id", $"cell",
      posexplode(array((0 until M).map(m => slice($"resid", m * SUB + 1, SUB)): _*))
        .as(Seq("m", "sub")))
      .cache()
    val seeds: Array[Seq[Float]] = collectVecsNoAqe(s, assigned
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(KC)
      .select($"resid"))
    var pq: IndexedSeq[Seq[Float]] = // flat index m*KC + c
      (for (m <- 0 until M; c <- 0 until KC)
        yield seeds(c).slice(m * SUB, (m + 1) * SUB).toSeq).toIndexedSeq
    def codeOf(mod: IndexedSeq[Seq[Float]]) = {
      val sims = array((0 until KC).map(c =>
        cosineSimilarity($"sub",
          element_at(typedlit(mod), $"m" * KC + c + 1))): _*)
      (array_position(sims, array_max(sims)) - 1).cast("int")
    }
    for (_ <- 1 to 2) {
      // r21 (verdict ask #3): one aggregate pass per round (see
      // pqSearch — SUB elementwise avgs instead of posexplode).
      val means = collectNoAqe(s, sub
        .select($"m", codeOf(pq).as("code"), $"sub")
        .groupBy($"m", $"code")
        .agg(avg(element_at($"sub", 1)).as("mu0"),
          (2 to SUB).map(i => avg(element_at($"sub", i)).as(s"mu${i - 1}")): _*))
        .map(r => (r.getInt(0) * KC + r.getInt(1)) ->
          (1 to SUB).map(i => r.getDouble(i + 1).toFloat).toSeq).toMap
      pq = pq.indices.map(i => means.getOrElse(i, pq(i)))
    }
    // the stored IVF-PQ index: (vec_id, cell, m, code) — pinned once
    val codes = sub.select($"vec_id", $"cell", $"m", codeOf(pq).as("code"))
      .localCheckpoint()
    val queriesDf = emb.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    // probe cells by the ASSIGNMENT metric (cosine): the query's own
    // cell is its rank-1 probe, so self always reaches ADC; q·c rides
    // along for the ADC decomposition. Model-sized (queries × cells).
    val centroidsDf = model.toDF("cell", "centroid")
    val cellScores = queriesDf.crossJoin(broadcast(centroidsDf))
      .select($"q_id", $"cell",
        dotProduct($"q_emb", $"centroid").as("cdot"),
        cosineSimilarity($"q_emb", $"centroid").as("csim"))
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"csim".desc, $"cell".asc)
    val probeCells = cellScores.withColumn("pr", row_number().over(w0))
      .filter($"pr" <= nProbe).select($"q_id", $"cell", $"cdot")
    // per-query ADC lookup table: dot(q subvector, pq centroid) for
    // every (m, code) — M·KC rows per query, broadcast
    val pqCent = pq.zipWithIndex
      .map { case (v, i) => (i / KC, i % KC, v) }.toDF("m", "code", "pqc")
    val lut = queriesDf
      .select($"q_id",
        posexplode(array((0 until M).map(m => slice($"q_emb", m * SUB + 1, SUB)): _*))
          .as(Seq("m", "qsub")))
      .join(pqCent, "m")
      .select($"q_id", $"m", $"code", dotProduct($"qsub", $"pqc").as("rdot"))
    // r20: the probe join + ADC aggregation are mode-independent (the
    // self filter is on the group keys) — pin once for both annCheck
    // retrieval modes
    lazy val adcAll = codes.join(broadcast(probeCells), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .groupBy($"q_id", $"vec_id")
      .agg((first($"cdot") + sum($"rdot")).as("adc")) // cdot constant per group
      .localCheckpoint()
    (excludeSelf: Boolean) => {
      val adc =
        if (excludeSelf) adcAll.filter($"vec_id" =!= $"q_id") else adcAll
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"adc".desc, $"vec_id".asc)
      val cand = adc.withColumn("r", row_number().over(wc)).filter($"r" <= CAND)
        .select($"q_id", $"vec_id")
      val scored = cand
        .join(emb, "vec_id")
        .join(broadcast(queriesDf), "q_id")
        .select($"q_id", $"vec_id",
          cosineSimilarity($"q_emb", $"embedding").as("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cosine")
    }
  }

  val queries: Map[String, Q] = Map[String, Q](
    // Feature scaling for the embedding column: per-vector L2 norm and
    // the first component re-expressed in unit-norm coordinates — the
    // preprocessing step every cosine-based index assumes. Pure narrow
    // map (no shuffle at any scale); arithmetic is the same strict
    // left-to-right double fold as the knn queries, so the DuckDB twin
    // reproduces the exact bits and both print at %.9f.
    "feat_l2_normalize" -> ((s, d) => {
      import s.implicits._
      val norm = sqrt(normSq($"embedding"))
      embeddings(s, d)
        .select($"vec_id", $"label",
          format_string("%.9f", norm).as("l2_norm"),
          format_string("%.9f",
            element_at($"embedding", 1).cast("double") / norm).as("x0_unit"))
        .orderBy($"vec_id")
    }),

    "sim_knn_brute" -> ((s, d) => {
      import s.implicits._
      bruteTopK(s, d).orderBy($"q_id", $"rank")
    }),

    // RANGE (radius) SEARCH — the threshold twin of top-k retrieval:
    // every corpus vector within cosine ≥ 0.3 of each query, however
    // many or few there are (the dedup-candidate / recall-audit
    // shape; top-k can't express "give me ALL matches"). Queries ride
    // a broadcast (every-100th id, so the query set scales as
    // corpus/100 and the scan stays one embarrassingly-parallel
    // pass); the exact fold cosine is the same HOF kernel the brute
    // baseline uses — bucket pruning (IVF/LSH) layers on identically
    // when recall tolerance allows.
    "sim_range_search" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
      val queriesDf = embeddings(s, d).filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      emb.join(broadcast(queriesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          cosineSimilarity($"q_emb", $"embedding").as("cosine"))
        .filter($"cosine" >= 0.3)
        .orderBy($"q_id", $"vec_id")
    }),

    // Per-label centroid separation — the embedding-space health probe
    // a curation pass reads before trusting label buckets as IVF
    // cells: collapsing inter-centroid distances mean the clusters
    // (and every bucketed ANN shortcut built on them) are dissolving.
    // Exactness: cross-ROW float sums are order-dependent, so each
    // component is micro-quantized (floor(v·1e6) — float→double cast
    // and one multiply are IEEE-identical on both engines) and all
    // aggregation runs in DECIMAL(38) integers; the only doubles are
    // the final sqrt/scale through one shared tree. Scale shape: one
    // map-side-combinable (label,pos) aggregate over the exploded
    // corpus, then a label×label join on a 640-row broadcast-sized
    // centroid table — the corpus is touched once.
    "sim_label_centroids" -> ((s, d) => {
      import s.implicits._
      val q = embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"label", $"pos",
          floor($"v".cast("double") * lit(1000000.0))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("q"))
      val cent = q.groupBy($"label", $"pos")
        .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
        .localCheckpoint() // 640 rows; feeds both sides of the pair join
      val a = cent.select($"label".as("label_a"), $"pos",
        $"sq".as("sq_a"), $"n".as("n_a"))
      val b = cent.select($"label".as("label_b"), $"pos",
        $"sq".as("sq_b"), $"n".as("n_b"))
      a.join(b, Seq("pos")).filter($"label_a" < $"label_b")
        .withColumn("dc", $"sq_a" * $"n_b" - $"sq_b" * $"n_a")
        .groupBy($"label_a", $"label_b")
        .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
          sum($"dc" * $"dc").as("d2"))
        .select($"label_a", $"label_b", $"n_a", $"n_b",
          format_string("%.6f", sqrt($"d2".cast("double")) /
            (($"n_a" * $"n_b").cast("double") * lit(1000000.0)))
            .as("centroid_dist"))
        .orderBy($"label_a", $"label_b")
    }),

    // Embedding near-duplicate pairs above a cosine threshold; candidate
    // pruning by same-label bucket keeps it off the full cross join
    // (label works as a coarse IVF cell here).
    "sim_neardup_pairs" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"label", $"embedding")
      emb.as("a").join(emb.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
          cosineSimilarity($"a.embedding", $"b.embedding").as("cosine"))
        .filter($"cosine" > 0.35)
        .orderBy($"v1", $"v2")
    }),

    // Threshold-calibration SWEEP for semantic dedup — the curve a
    // curation run reads before committing to a cosine cutoff: pair
    // and affected-doc counts at each candidate threshold, from ONE
    // label-bucketed scoring pass (the sim_neardup_pairs substrate;
    // thresholds explode over the scored pairs, never re-score).
    // Counts are exact because both engines compare the same
    // left-to-right-fold doubles.
    "sim_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"label", $"embedding")
      val scored = emb.as("a").join(emb.as("b"),
          $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
          cosineSimilarity($"a.embedding", $"b.embedding").as("cosine"))
        .filter($"cosine" > 0.30)
      scored
        .select($"v1", $"v2", $"cosine",
          explode(array(lit(30), lit(35), lit(40))).as("th_bp"))
        .filter($"cosine" > $"th_bp".cast("double") / 100.0)
        .groupBy($"th_bp")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"v1").as("n_left_docs"),
          min($"v1").as("min_v1"), max($"v2").as("max_v2"))
        .orderBy($"th_bp")
    }),

    // SEMANTIC dedup clustering — connected components over the
    // embedding-cosine near-dup graph (the sim_neardup_pairs edges):
    // the semantic twin of dedup_cluster_reps, collapsing paraphrase
    // families A~B~C to one representative even when A≁C directly.
    // Same label-bucketed candidate generation (never all-pairs), same
    // shared pointer-doubling CC engine; oracle is a DuckDB recursive
    // reach closure over the identical exact-fold cosine pairs.
    "sim_cluster_reps" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"label", $"embedding")
      val pairs = emb.as("a").join(emb.as("b"),
          $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
        .filter(cosineSimilarity($"a.embedding", $"b.embedding") > 0.35)
        .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"))
      val labels = ConnectedComponents.labels(s, pairs, "sim_cluster_reps")
      embeddings(s, d).select($"vec_id")
        .join(labels.select($"id".as("vec_id"), $"lab"), Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"lab", $"vec_id").as("rep"))
        .groupBy($"rep".as("rep_id"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"rep_id")
    }),

    // Raw ANN result lists: approximate + hash-derived planes/centroids
    // → no SQL twin for the lists themselves (rows-only check); the
    // paired *_check queries gate their recall against the exact top-K.
    "sim_knn_lsh" -> ((s, d) => {
      import s.implicits._
      lshTopK(s, d).orderBy($"q_id", $"rank")
    }),

    "sim_knn_ivf" -> ((s, d) => {
      import s.implicits._
      ivfTopK(s, d).orderBy($"q_id", $"rank")
    }),

    "sim_knn_pq" -> ((s, d) => {
      import s.implicits._
      pqTopK(s, d).orderBy($"q_id", $"rank")
    }),

    "sim_knn_ivfpq" -> ((s, d) => {
      import s.implicits._
      ivfpqSearch(s, d)(true).orderBy($"q_id", $"rank")
    }),

    // MUTUAL-kNN graph over a FIXED vector panel (vec_id % 8 == 0 and
    // < 2048 — bounded ≤256 members at ANY corpus size, like the
    // Hodges–Lehmann day cap): edge (a,b) exists iff b is in a's
    // exact top-K AND a is in b's — the symmetric graph density-based
    // clustering (HDBSCAN-style) builds on, where one-sided neighbors
    // (a hub attracting everything) are pruned. Panel² cosine scoring
    // is broadcast-sized forever by the cap; at corpus scale the
    // candidate side rides the bucketed indexes instead (sim_knn_*),
    // and the mutuality filter is THIS operator's semantic. Ranking
    // ties break on vec_id; cosine is micro-floored for output (the
    // sim_mips hash-parity idiom).
    "sim_mutual_knn" -> ((s, d) => {
      import s.implicits._
      val panel = embeddings(s, d)
        .filter($"vec_id" % 8 === 0 && $"vec_id" < 2048)
        .select($"vec_id", $"embedding")
      val scored = panel.select($"vec_id".as("a"), $"embedding".as("ea"))
        .join(broadcast(panel.select($"vec_id".as("b"), $"embedding".as("eb"))),
          $"a" =!= $"b")
        .select($"a", $"b", cosineSimilarity($"ea", $"eb").as("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"a").orderBy($"cosine".desc, $"b".asc)
      val topk = scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"a", $"b", $"rank", $"cosine")
      topk.select($"a", $"b", $"rank".as("rank_ab"), $"cosine")
        .join(topk.select($"b".as("a"), $"a".as("b"), $"rank".as("rank_ba")),
          Seq("a", "b"))
        .filter($"a" < $"b")
        .selectExpr("a", "b", "rank_ab", "rank_ba",
          "CAST(FLOOR(cosine * 1000000.0) AS BIGINT) AS cos_micro")
        .orderBy($"a", $"b")
    })
  ) ++ Map[String, Q](
    // ANN quality gates, two invariants per index:
    //  (1) self-retrieval@1 — run the index WITHOUT excluding the query
    //      vector itself: rank 1 must be the query (cosine 1). This is
    //      deterministic (an LSH vector always collides with itself in
    //      every table; an IVF query always probes its own assignment
    //      cell) and exercises the full index→probe→score→rank path —
    //      the bug class where query-side and corpus-side bucketing
    //      drift apart fails it instantly.
    //  (2) aggregate recall@K vs the exact top-K. Per-index floors are
    //      calibrated from graft.RecallProbe's measured recall at ALL
    //      three SFs, re-measured r12 (2026-08-14) and unchanged from
    //      the promotion-time run (LSH 0.40/0.64/0.44, IVF
    //      0.52/0.40/0.52, PQ 1.00/1.00/0.72 at sf0.001/0.01/0.1 —
    //      deterministic pipelines, exactly reproducible), set ONE
    //      pair (400 bp of the 25-pair denominator) under the worst
    //      SF: losing a single exact-top-K pair beyond the calibrated
    //      state fails the gate, so an index regression can't hide
    //      under slack. The synthetic embeddings carry little
    //      neighborhood structure, so per-query floors would overfit
    //      noise; the aggregate floor is the robust invariant.
    "sim_knn_lsh_check" -> ((s, d) =>   // worst-SF measured 4000 bp − 400
      annCheck(s, d, lshSearch(s, d, 4, 4), minRecallBp = 3600)),
    "sim_knn_ivf_check" -> ((s, d) =>   // worst-SF measured 4000 bp − 400
      annCheck(s, d, ivfSearch(s, d, 16, 4), minRecallBp = 3600)),
    // PQ re-ranks its top-256 ADC candidates with exact cosine, so its
    // recall floor sits far higher than the bucketed indexes'. Same
    // calibration rule as LSH/IVF: worst-SF measured (7200 bp) − 400.
    "sim_knn_pq_check" -> ((s, d) =>
      annCheck(s, d, pqSearch(s, d), minRecallBp = 6800)),
    // IVF-PQ's cell pruning caps its recall at IVF's (it scans the
    // same probed cells) while residual-PQ ADC + exact re-rank ranks
    // within them — measured recall EQUALS sim_knn_ivf's at every SF
    // (5200/4000/5200 bp at sf0.001/0.01/0.1, graft.RecallProbe r19
    // 2026-08-16): the 256-candidate re-rank recovers the full exact
    // within-cell ranking, so quantization costs nothing on top of the
    // probe. Same calibration rule: worst-SF measured (4000) − 400 bp.
    "sim_knn_ivfpq_check" -> ((s, d) =>
      annCheck(s, d, ivfpqSearch(s, d), minRecallBp = 3600))
  )

  /** Shared ANN gate: one row of invariant booleans + oracle-computable
    * exact columns (see the check scaladoc in `queries`). `search` is a
    * built index closed over the self-exclusion flag — the trainable
    * indexes (IVF/PQ) train once and serve both retrieval modes. */
  private def annCheck(s: SparkSession, d: String,
      search: Boolean => DataFrame,
      minRecallBp: Int): DataFrame = {
    import s.implicits._
    val totalHits = search(true).select($"q_id", $"vec_id")
      .join(bruteTopK(s, d).select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_hits"))
    val selfTop1 = search(false).filter($"rank" === 1)
      .agg(count(lit(1)).as("n_top1"),
        sum(when($"vec_id" === $"q_id", 1).otherwise(0)).as("n_self"))
    val nq = embeddings(s, d).filter($"vec_id" < N_QUERIES)
      .agg(count(lit(1)).as("n_queries"))
    nq.crossJoin(totalHits).crossJoin(selfTop1) // all single-row sides
      .select($"n_queries",
        ($"n_top1" === $"n_queries" && $"n_self" === $"n_queries").as("self_top1_ok"),
        ($"n_hits" * 10000L / ($"n_queries" * K) >= minRecallBp).as("recall_ok"))
  }

  // Exact-arithmetic DuckDB twins: double-cast per element, sequential
  // list_sum fold — same bits as the Spark HOF fold.
  private val dot =
    "list_sum(list_transform(range(1, len(%s)+1), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)))"
  private def cos(a: String, b: String) =
    s"(${dot.format(a, a, b)} / (sqrt(${dot.format(a, a, a)}) * sqrt(${dot.format(b, b, b)})))"

  val oracles: Map[String, String] = Map(
    "sim_mutual_knn" ->
      s"""WITH panel AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 8 = 0 AND vec_id < 2048),
         |scored AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${cos("a.embedding", "b.embedding")} AS cosine
         |  FROM panel a JOIN panel b ON a.vec_id <> b.vec_id),
         |topk AS (
         |  SELECT a, b, cosine,
         |    CAST(row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS INT) AS rank
         |  FROM scored QUALIFY rank <= $K)
         |SELECT t1.a, t1.b, t1.rank AS rank_ab, t2.rank AS rank_ba,
         |  CAST(FLOOR(t1.cosine * 1000000.0) AS BIGINT) AS cos_micro
         |FROM topk t1 JOIN topk t2 ON t2.a = t1.b AND t2.b = t1.a
         |WHERE t1.a < t1.b
         |ORDER BY t1.a, t1.b""".stripMargin,

    "feat_l2_normalize" ->
      s"""SELECT vec_id, label,
         | printf('%.9f', sqrt(${dot.format("embedding", "embedding", "embedding")})) AS l2_norm,
         | printf('%.9f', CAST(embedding[1] AS DOUBLE)
         |   / sqrt(${dot.format("embedding", "embedding", "embedding")})) AS x0_unit
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "sim_label_centroids" ->
      """WITH e AS (
        |  SELECT label, s.i AS pos,
        |    CAST(floor(CAST(s.v AS DOUBLE) * 1000000.0) AS HUGEINT) AS q
        |  FROM (
        |    SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'i': i, 'v': embedding[i]})) AS s
        |    FROM embeddings)),
        |cent AS (
        |  SELECT label, pos, sum(q) AS sq, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY label, pos),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
        |    (a.sq * b.n - b.sq * a.n) AS dc
        |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label),
        |g AS (
        |  SELECT label_a, label_b, max(n_a) AS n_a, max(n_b) AS n_b,
        |    sum(dc * dc) AS d2
        |  FROM p GROUP BY label_a, label_b)
        |SELECT label_a, label_b, n_a, n_b,
        |  printf('%.6f', sqrt(CAST(d2 AS DOUBLE))
        |    / (CAST(n_a * n_b AS DOUBLE) * 1000000.0)) AS centroid_dist
        |FROM g ORDER BY label_a, label_b""".stripMargin,

    "sim_knn_brute" ->
      s"""SELECT q_id, rank, vec_id, cosine FROM (
         | SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |  ${cos("q.embedding", "e.embedding")} AS cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rank
         | FROM embeddings q JOIN embeddings e ON q.vec_id < $N_QUERIES AND e.vec_id != q.vec_id) t
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,

    "sim_neardup_pairs" ->
      s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
         | ${cos("a.embedding", "b.embedding")} AS cosine
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cos("a.embedding", "b.embedding")} > 0.35
         |ORDER BY v1, v2""".stripMargin,

    "sim_range_search" ->
      s"""SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         | ${cos("q.embedding", "e.embedding")} AS cosine
         |FROM embeddings q JOIN embeddings e
         |  ON q.vec_id % 100 = 0 AND e.vec_id != q.vec_id
         |WHERE ${cos("q.embedding", "e.embedding")} >= 0.3
         |ORDER BY q_id, vec_id""".stripMargin,

    "sim_threshold_sweep" ->
      s"""WITH scored AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${cos("a.embedding", "b.embedding")} AS cosine
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.embedding", "b.embedding")} > 0.30),
         |sweep AS (
         |  SELECT s.*, t.th_bp
         |  FROM scored s, (VALUES (30), (35), (40)) t(th_bp)
         |  WHERE s.cosine > CAST(t.th_bp AS DOUBLE) / 100.0)
         |SELECT th_bp, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT v1) AS BIGINT) AS n_left_docs,
         |  min(v1) AS min_v1, max(v2) AS max_v2
         |FROM sweep GROUP BY th_bp ORDER BY th_bp""".stripMargin,

    "sim_cluster_reps" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.embedding", "b.embedding")} > 0.35),
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
         |          UNION ALL SELECT v2, v1 FROM pairs),
         |reach(id, lab) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |final AS (SELECT id, MIN(lab) AS lab FROM reach GROUP BY id)
         |SELECT lab AS rep_id, COUNT(*) AS n_members
         |FROM final GROUP BY lab ORDER BY rep_id""".stripMargin,

    // ANN quality gates: the oracle recomputes the query universe and
    // pins both invariants as literal TRUE — a broken index (or a
    // bucketing drift between query and corpus sides) fails the hash.
    "sim_knn_lsh_check" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         | TRUE AS self_top1_ok, TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $N_QUERIES""".stripMargin,

    "sim_knn_ivf_check" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         | TRUE AS self_top1_ok, TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $N_QUERIES""".stripMargin,

    "sim_knn_pq_check" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         | TRUE AS self_top1_ok, TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $N_QUERIES""".stripMargin,

    "sim_knn_ivfpq_check" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         | TRUE AS self_top1_ok, TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $N_QUERIES""".stripMargin
  )
}
