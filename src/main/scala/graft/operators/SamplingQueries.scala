package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Dataset-curation operators a training-data pipeline needs around the
  * cleaning/dedup stages: deterministic sampling, split assignment, and
  * token-budget packing.
  *
  * All sampling here is HASH sampling (md5 of the key against a hex
  * threshold), not RNG sampling: the same row always lands on the same
  * side regardless of cluster size, partitioning, or retries — which is
  * what makes 100 TB pipelines reproducible and incremental (a re-run
  * over late-arriving data samples consistently with the original run).
  * It is also exactly oracle-expressible, unlike `df.sample`'s
  * partition-seeded RNG.
  */
object SamplingQueries extends graft.QueryModule {
  /** First two hex chars of md5(key) — a uniform 0..255 bucket as text;
    * `bucket < 'xx'` selects a deterministic fraction. */
    private def hashBucket(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 2)

  /** (doc_id, n_tokens, start_offset) with the GLOBAL token offset of
    * each doc in doc_id order — the distributed two-pass prefix sum
    * shared by the packing queries: per-range-partition cumsum plus an
    * exclusive prefix over the partition totals collected to the driver
    * (one row per partition), NOT a global single-partition window,
    * which would serialize 100 TB through one task.
    *
    * The range-partition count scales with the input: estimated scan
    * bytes / 64 MB, clamped to [defaultParallelism, 65536] — so sf0.01
    * gets local-core counts while a 100 TB corpus gets tens of
    * thousands of ~64 MB ranges (and the driver-side prefix stays a
    * ≤65536-element array). Tests override `numParts` to pin the
    * count-invariance of the result.
    */
  def tokenOffsets(s: SparkSession, d: String, numParts: Option[Int] = None): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val base = documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    val nParts = numParts.getOrElse {
      val bytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = (bytes / (64L << 20)).toLong + 1
      math.min(65536L, math.max(s.sparkContext.defaultParallelism.toLong, byBytes)).toInt
    }
    val toks = base
      .repartitionByRange(nParts, $"doc_id")
      .withColumn("pid", spark_partition_id())
      .cache()
    // pass 1: partition totals → exclusive prefix (driver-side; one
    // row per partition, ordered by the partition's doc_id range)
    val totals = toks.groupBy($"pid")
      .agg(sum($"n_tokens").as("t"), min($"doc_id").as("lo"))
      .collect().sortBy(_.getAs[Long]("lo"))
    var acc = 0L
    val offsets = totals.map { r =>
      val o = r.getAs[Int]("pid") -> acc; acc += r.getAs[Long]("t"); o
    }.toMap
    // pass 2: partition-local cumsum + the partition's global offset
    val w = Window.partitionBy($"pid").orderBy($"doc_id")
    toks
      .withColumn("start_offset",
        sum($"n_tokens").over(w) - $"n_tokens" + element_at(typedlit(offsets), $"pid"))
      .select($"doc_id", $"n_tokens", $"start_offset")
  }

  val queries: Map[String, Q] = Map(
    // PPS SYSTEMATIC SAMPLING — probability-proportional-to-size with a
    // systematic (fixed-interval) pick: a doc is selected when a grid
    // point start + k·step lands inside its [cum_before, cum) weight
    // interval, step = total DIV 20, start = md5-derived constant in
    // [0, step). The survey-sampling standard for size-weighted corpus
    // audits: big docs are proportionally likelier, picks spread evenly
    // across the corpus, and — unlike RNG sampling — the same corpus
    // always yields the same picks. Both grid-crossing operands are
    // shifted +step so the DIV arguments stay non-negative (Spark DIV
    // truncates, DuckDB // floors; they only agree ≥ 0). Prefix sums
    // ride the shared two-pass GlobalRank machinery — no global window.
    "samp_pps_systematic" -> ((s, d) => {
      import s.implicits._
      val w = documents(s, d).select($"doc_id", $"n_chars".cast("long").as("w"))
      val (cum, total) = GlobalRank.withPrefixSum(w, "cum", $"w", Seq($"doc_id".asc))
      val step = math.max(total / 20L, 1L)
      cum
        .withColumn("step", lit(step))
        .withColumn("start",
          expr("CAST(CONV(SUBSTRING(MD5('graft-pps'), 1, 12), 16, 10) AS BIGINT)") % step)
        .filter(expr("(cum + step - start - 1) DIV step > (cum - w + step - start - 1) DIV step"))
        .selectExpr("doc_id", "w", "cum - w AS cum_before",
          "(cum + step - start - 1) DIV step - 1 AS pick_k")
        .orderBy($"doc_id")
    }),
    // HORVITZ–THOMPSON ESTIMATION off the PPS sample — the estimator
    // that JUSTIFIES samp_pps_systematic: the ~20 size-picked docs
    // estimate the corpus-wide TOKEN total with 1/π weights
    // (systematic PPS: π_i = w_i/step exactly for w_i < step), graded
    // in bp against the directly-counted truth. Same two-pass prefix
    // machinery; the HT sum is sample-sized with milli-floored
    // integer terms.
    "samp_horvitz_thompson" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d).select($"doc_id", $"n_chars".cast("long").as("w"),
        size(split($"text", " ")).cast("long").as("toks"))
      val (cum, total) = GlobalRank.withPrefixSum(
        base.select($"doc_id", $"w"), "cum", $"w", Seq($"doc_id".asc))
      val step = math.max(total / 20L, 1L)
      val sample = cum
        .withColumn("start",
          expr("CAST(CONV(SUBSTRING(MD5('graft-pps'), 1, 12), 16, 10) AS BIGINT)") % step)
        .filter(expr(s"(cum + $step - start - 1) DIV $step > (cum - w + $step - start - 1) DIV $step"))
        .join(base.select($"doc_id", $"toks"), Seq("doc_id"))
        .selectExpr("doc_id", "toks", "w",
          s"CAST(FLOOR(CAST(toks AS DOUBLE) * CAST($step AS DOUBLE) * 1000.0 / CAST(w AS DOUBLE)) AS BIGINT) AS ht_milli")
      val truth = base.agg(sum($"toks").as("true_total_tokens"))
      sample.agg(count(lit(1)).as("n_sample"), sum($"ht_milli").as("ht_sum_milli"))
        .crossJoin(broadcast(truth)) // single-row side
        .selectExpr("n_sample", s"CAST($step AS BIGINT) AS step",
          "true_total_tokens",
          "ht_sum_milli DIV 1000 AS ht_total_tokens",
          "abs(ht_sum_milli DIV 1000 - true_total_tokens) * 10000 DIV true_total_tokens AS err_bp")
    }),

    // ~10% deterministic sample (26/256 of the md5 space).
    "samp_hash_sample" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .filter(hashBucket($"doc_id") < "1a")
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    }),

    // Deterministic A/B experiment assignment + the SAMPLE-RATIO-
    // MISMATCH health check an experimentation platform runs before
    // trusting any readout: arm = first md5 nibble of the unit id
    // (stable under reprocessing, no RNG — the same property as the
    // split family), conversion = has ≥1 order via one keyed left
    // join, SRM = chi-square of the observed arm sizes against the
    // designed 50/50. Everything reduces to ONE conditional-aggregate
    // row; the chi-square evaluates through an identical double tree
    // on both engines. A biased bucketing bug (the classic SRM cause)
    // flips srm_chi2 — this query is the regression gate for the
    // hash-assignment machinery itself.
    "samp_ab_assign" -> ((s, d) => {
      import s.implicits._
      import graft.Tables.{customer, orders}
      val arm = when(
        substring(md5($"c_custkey".cast("string").cast("binary")), 1, 1) < "8",
        "A").otherwise("B")
      val conv = orders(s, d).select($"o_custkey").distinct()
      val assigned = customer(s, d).select($"c_custkey", arm.as("arm"))
        .join(conv, $"c_custkey" === $"o_custkey", "left")
        .select($"arm", $"o_custkey".isNotNull.cast("long").as("converted"))
      val agg = assigned.agg(
        sum(when($"arm" === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when($"arm" === "A", $"converted").otherwise(0L)).as("conv_a"),
        sum(when($"arm" === "B", $"converted").otherwise(0L)).as("conv_b"))
      val e = ($"n_a" + $"n_b") / 2.0
      agg.select($"n_a", $"n_b", $"conv_a", $"conv_b",
        expr("conv_a * 10000 DIV n_a").as("cvr_a_bp"),
        expr("conv_b * 10000 DIV n_b").as("cvr_b_bp"),
        format_string("%.6f",
          ($"n_a" - e) * ($"n_a" - e) / e + ($"n_b" - e) * ($"n_b" - e) / e)
          .as("srm_chi2"))
    }),

    // CLASS-REBALANCING oversampling plan — the table a training-mix
    // builder materializes before upsampling minority classes to
    // parity with the majority: per label, the exact integer repeat
    // factor (n_max DIV n) plus the fractional remainder rate in
    // basis points that a deterministic hash-keep then applies
    // (samp_ab_assign's machinery). Planned yield is exact integer
    // arithmetic, so `planned_total >= n_max` is an invariant the
    // hash pins. One aggregate over the label census — the plan
    // itself is aggregate-sized at any corpus size.
    "samp_class_balance" -> ((s, d) => {
      import s.implicits._
      val census = embeddings(s, d).groupBy($"label")
        .agg(count(lit(1)).as("n"))
      val mx = census.agg(max($"n").as("n_max"))
      census.crossJoin(broadcast(mx)) // single-row side
        .select($"label", $"n",
          expr("n_max DIV n").as("repeat_n"),
          expr("(n_max % n) * 10000 DIV n").as("extra_rate_bp"),
          $"n_max")
        .select($"label", $"n", $"repeat_n", $"extra_rate_bp",
          expr("repeat_n * n + (extra_rate_bp * n) DIV 10000")
            .as("planned_floor"),
          ($"repeat_n" * $"n" >= $"n_max" - $"n").as("reaches_parity"))
        .orderBy($"label")
    }),

    // SPLIT-BALANCE AUDIT — is the train/val/test hash split
    // language-balanced? The chi-square independence check over the
    // split×lang contingency (q92's window-marginals idiom on the
    // ≤15-cell table): a skewed splitter would concentrate a language
    // in one split and distort both training mix and eval metrics.
    // The counts ride one keyed aggregate; everything after is
    // cell-table-sized.
    "samp_split_balance" -> ((s, d) => {
      import s.implicits._
      val b = hashBucket($"doc_id")
      val cells = documents(s, d)
        .withColumn("split",
          when(b < "cc", "train").when(b < "e6", "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("o"))
      val wr = Window.partitionBy($"split")
      val wc = Window.partitionBy($"lang")
      val wg = Window.partitionBy()
      cells
        .withColumn("rt", sum($"o").over(wr))
        .withColumn("ct", sum($"o").over(wc))
        .withColumn("gt", sum($"o").over(wg))
        .withColumn("e", $"rt" * $"ct" * lit(1.0) / $"gt")
        .agg(
          max($"gt").as("n_docs"),
          countDistinct($"split").as("n_splits"),
          countDistinct($"lang").as("n_langs"),
          ((countDistinct($"split") - 1) * (countDistinct($"lang") - 1)).as("dof"),
          format_string("%.9f",
            sum(($"o" - $"e") * ($"o" - $"e") / $"e")).as("chi2"))
    }),

    // FROZEN EVAL SET — the "pin the benchmark" op: a deterministic
    // ~2% holdout (md5 prefix < '05') plus an ORDER-INDEPENDENT set
    // fingerprint (sum + xor-ish of per-doc xxhash64, both exact
    // bigints), so any later pipeline run can prove bit-identical eval
    // membership without comparing row lists. One scan, one aggregate;
    // the fingerprint is the audit artifact a model eval publishes.
    "samp_eval_freeze" -> ((s, d) => {
      import s.implicits._
      // 60-bit integer from the md5 prefix — parseable identically on
      // both engines (conv/hex-cast), summed commutatively so the
      // fingerprint needs no sort and no collected row list at any set size
      val h = conv(substring(md5($"text".cast("binary")), 1, 15), 16, 10).cast("long")
      documents(s, d)
        .filter(hashBucket($"doc_id") < "05")
        .select($"doc_id", $"n_chars", h.as("h"))
        .agg(
          count(lit(1)).as("n_eval_docs"),
          sum($"n_chars").as("eval_chars"),
          (sum($"h".cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(1000000000000000000L)).cast("long").as("fingerprint_sum"),
          min($"doc_id").as("min_doc"),
          max($"doc_id").as("max_doc"))
    }),

    // LEAKAGE-FREE cluster-aware split: near-duplicate documents must
    // never straddle train/test (a near-copy of a training doc in the
    // eval set inflates every metric), so the md5 split key is the
    // doc's NEAR-DUP CLUSTER label (ConnectedComponents over the exact
    // n-gram Jaccard pair graph — the dedup_cluster_reps engine), not
    // the doc id: every member of a cluster lands in the same split by
    // construction. `clusters_intact` re-proves it from the data (max
    // distinct splits per cluster == 1). Scale: the pair graph + CC
    // are the already-measured dedup path; the split itself is one
    // keyed aggregate.
    "samp_group_split" -> ((s, d) => {
      import s.implicits._
      val labels = ConnectedComponents.labels(s,
        DedupQueries.jaccardPairs(s, d).select($"d1", $"d2"), "samp_group_split")
      val grouped = documents(s, d).select($"doc_id")
        .join(labels.select($"id".as("doc_id"), $"lab"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"lab", $"doc_id").as("grp"))
      val b = hashBucket($"grp")
      val split = grouped.withColumn("split",
        when(b < "cc", "train").when(b < "e6", "val").otherwise("test"))
      val intact = split.groupBy($"grp")
        .agg(countDistinct($"split").as("nsp"))
        .groupBy().agg((max($"nsp") === 1).as("clusters_intact"))
      split.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"grp").as("n_clusters"))
        .crossJoin(broadcast(intact))
        .orderBy($"split")
    }),

    // ~80/10/10 train/val/test split, stable under reprocessing; the
    // aggregate proves the split is exhaustive and disjoint.
    "samp_train_val_test" -> ((s, d) => {
      import s.implicits._
      val b = hashBucket($"doc_id")
      documents(s, d)
        .withColumn("split",
          when(b < "cc", "train").when(b < "e6", "val").otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("n_chars"))
        .orderBy($"split")
    }),

    // Stratified hash sampling: per-language rates (downsample the
    // dominant stratum, keep the tail) — `sampleBy` semantics without
    // its RNG. The rate map would be a broadcast literal at any scale.
    "samp_stratified" -> ((s, d) => {
      import s.implicits._
      val threshold = when($"lang" === "en", "10").otherwise("40")
      documents(s, d)
        .filter(hashBucket($"doc_id") < threshold)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy($"lang")
    }),

    // Fixed-SIZE per-stratum sample: exactly k docs per language,
    // chosen by hash order — the deterministic replacement for
    // per-group reservoir sampling (same k, stable across runs and
    // cluster sizes; one window shuffle keyed by the stratum).
    "samp_topk_per_stratum" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy(md5($"doc_id".cast("string").cast("binary")), $"doc_id")
      documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 20)
        .select($"doc_id", $"lang", $"rn")
        .orderBy($"lang", $"rn")
    }),

    // Concat-and-chunk token packing (the LLM-pretraining layout:
    // documents concatenated in doc_id order, sliced every `budget`
    // tokens), built on the shared distributed prefix sum
    // (`tokenOffsets`). Output: each doc's chunk assignment and how
    // many chunk boundaries it straddles.
    "pack_token_chunks" -> ((s, d) => {
      import s.implicits._
      val budget = 2048.0
      tokenOffsets(s, d)
        .select($"doc_id", $"n_tokens", $"start_offset",
          floor($"start_offset" / budget).as("chunk_id"),
          (floor(($"start_offset" + greatest($"n_tokens", lit(1L)) - 1) / budget)
            - floor($"start_offset" / budget) + 1).as("n_chunks_spanned"))
        .orderBy($"doc_id")
    }),

    // The per-chunk SLICE layout — one row per (doc, chunk) overlap,
    // with the doc-relative slice bounds a packing writer needs. Emitted
    // by the custom Catalyst Generator `TokenChunkSlices` (UDTF; also
    // SQL-callable as `token_chunk_slices` via GraftExtensions): a doc
    // spanning k chunk boundaries fans out to k+1 rows with zero
    // shuffle — the Generate node runs inside the scan stage. Oracle:
    // DuckDB LATERAL generate_series reproduces the fan-out exactly.
    "pack_chunk_slices" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.token_chunk_slices
      tokenOffsets(s, d)
        .select($"doc_id",
          token_chunk_slices($"start_offset", $"n_tokens", lit(2048L)))
        .orderBy($"doc_id", $"chunk_id")
    }),

    // PER-DOC overlapping windows (32 tokens, stride 16) — the
    // fine-tuning/embedding chunk layout, complementing the cross-doc
    // packing above. A pure narrow map + bounded explode (≤ n/16 + 1
    // windows per doc): no shuffle at all until the output sort.
    "text_chunk_stride" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      documents(s, d)
        .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
        .withColumn("win_start",
          explode(sequence(lit(0L), $"n_tokens" - 1, lit(16L))))
        .select($"doc_id", ($"win_start" / 16).cast("long").as("win_id"), $"win_start",
          least(lit(32L), $"n_tokens" - $"win_start").as("win_len"))
        .orderBy($"doc_id", $"win_start")
    }),

    // Deterministic GLOBAL shuffle for training-order assignment: every
    // doc gets a stable pseudorandom position (rank of md5(doc_id)).
    // The enumeration is GlobalRank's two-pass distributed rank —
    // range-partition by the shuffle key, per-partition row_number,
    // driver-side exclusive prefix over the partition COUNTS — never a
    // single-partition global window. Rerunning over a grown corpus
    // preserves relative order of surviving docs (hash rank is
    // data-independent), which is what makes resumable data loaders
    // reproducible.
    "samp_shuffle" -> ((s, d) => {
      import s.implicits._
      val keyed = documents(s, d)
        .select($"doc_id", md5($"doc_id".cast("string").cast("binary")).as("k"))
      val (ranked, _) = GlobalRank.withRank(keyed, "_rank1", Seq($"k", $"doc_id"))
      ranked
        .select($"doc_id", ($"_rank1" - 1).as("pos"))
        .orderBy($"doc_id")
    }),

    // Weighted Bernoulli sampling, inclusion probability ∝ n_chars
    // (expected-size 50): include doc iff u·W < k·w·2⁶⁰, where u is a
    // 60-bit uniform from md5(doc_id). ENTIRELY integer/decimal
    // arithmetic — no ln/pow whose libm rounding could diverge across
    // engines — so the selection is bit-reproducible and exactly
    // oracle-expressible. One narrow scan plus a broadcast single-row
    // total; like every sampler here it is retry/rescale-stable at
    // 100 TB (u and w are per-row constants; only W shifts as the
    // corpus grows, as any ∝-weight scheme requires).
    "samp_weighted" -> ((s, d) => {
      import s.implicits._
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val docs = documents(s, d).select($"doc_id", $"lang", $"n_chars")
      val total = docs.agg(sum($"n_chars").cast(D38).as("w_total"))
      val u60 = conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 15),
        16, 10).cast(D38)
      docs.crossJoin(broadcast(total)) // single-row side
        .filter(u60 * $"w_total" <
          lit(50) * $"n_chars".cast(D38) * lit(BigDecimal("1152921504606846976")))
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    }),

    // Weighted sampling WITHOUT replacement, fixed size k=20 — the
    // Efraimidis–Spirakis one-pass scheme: each row gets key
    // ln(u)/w (u hash-uniform, w = n_chars) and the k largest keys win.
    // Distributed shape: per-partition top-k then a k-row merge (Spark
    // plans the ORDER+LIMIT as TakeOrderedAndProject), so nothing
    // corpus-sized sorts. Cross-engine exactness: u is the SAME 60-bit
    // md5 integer both sides, 2^60 is a power of two (exact double),
    // and IEEE ln/division on identical operands give identical keys —
    // so the selected SET is identical; output re-orders by doc_id.
    // Contrastive negative sampling — the embedding-training primitive:
    // each anchor vector draws K=4 deterministic uniform negatives from
    // the corpus by hashing (anchor, k), with the classic +1-shift
    // exclusion (draw from N−1 and shift past the anchor) so a negative
    // can never equal its anchor. Pure narrow map over the anchors (the
    // corpus is addressed by id, never scanned), reproducible across
    // runs/engines because the randomness is the shared 60-bit md5.
    "samp_negative_pairs" -> ((s, d) => {
      import s.implicits._
      val n = embeddings(s, d).count() // corpus size — model-sized scalar
      val u60 = conv(substring(md5(
          concat($"vec_id".cast("string"), lit("#"), $"k".cast("string")).cast("binary")),
          1, 15), 16, 10).cast("long")
      val draw = u60 % lit(n - 1)
      embeddings(s, d).select($"vec_id", explode(sequence(lit(0), lit(3))).as("k"))
        .select($"vec_id", $"k".cast("long").as("k"),
          (draw + when(draw >= $"vec_id", 1L).otherwise(0L)).as("neg_id"))
        .orderBy($"vec_id", $"k")
    }),

    // Poisson bootstrap confidence interval for the corpus mean doc
    // length: B=32 resampling replicas in ONE pass — each (row,
    // replica) pair draws a deterministic Poisson(1) count from the
    // same 60-bit md5 uniform both engines compute (the standard
    // streaming approximation of with-replacement resampling; the
    // thresholds are the exact Poisson(1) CDF literals). Per-replica
    // means are rational (Σc·x / Σc over exact integers), so the
    // replica SET is bit-identical cross-engine; the CI bounds are the
    // 2nd-lowest / 2nd-highest replica means (~93.75% coverage for
    // B=32). Scale shape: the ×B explode is bounded amplification
    // feeding one keyed aggregate — no per-replica pass over the
    // corpus, which is the only bootstrap that works at 100 TB.
    "samp_bootstrap_ci" -> ((s, d) => {
      import s.implicits._
      val B = 32
      val u = conv(substring(md5(
          concat($"doc_id".cast("string"), lit("#"), $"b".cast("string")).cast("binary")),
          1, 15), 16, 10).cast("double") / lit(1.152921504606846976e18)
      val c = when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428846, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .when(u < 0.9994058151824183, 5)
        .otherwise(6)
      val means = documents(s, d)
        .select($"doc_id", $"n_chars", explode(sequence(lit(0), lit(B - 1))).as("b"))
        .select($"b", c.as("c"), $"n_chars")
        .groupBy($"b")
        .agg(sum($"c" * $"n_chars").as("sx"), sum($"c").as("sn"))
        .select($"b", ($"sx".cast("double") / $"sn".cast("double")).as("m"))
      val w = Window.orderBy($"m", $"b") // B rows — never corpus-sized
      val ranked = means.withColumn("rn", row_number().over(w))
      val point = documents(s, d)
        .agg((sum($"n_chars").cast("double") / count(lit(1)).cast("double")).as("mean"))
      point
        .crossJoin(ranked.filter($"rn" === 2).select($"m".as("lo")))      // 1-row
        .crossJoin(ranked.filter($"rn" === B - 1).select($"m".as("hi")))  // 1-row
        .select(format_string("%.6f", $"mean").as("mean"),
          format_string("%.6f", $"lo").as("boot_lo"),
          format_string("%.6f", $"hi").as("boot_hi"))
    }),

    // SOURCE-INTERLEAVED training order: every doc gets a global
    // position such that the corpus's sources round-robin through the
    // training stream (source s's k-th doc lands at k·|S| + idx(s)) —
    // the "mix sources evenly across every epoch slice" guarantee a
    // curriculum otherwise loses to chance, complementing samp_shuffle's
    // uniform order. The per-source rank is a KEYED window (each
    // source ranks its own partition — never a global sort), ordered
    // by md5 so the within-source order is itself a deterministic
    // shuffle; only the source→index vocabulary (tiny at any corpus
    // scale) touches the driver.
    "samp_interleave" -> ((s, d) => {
      import s.implicits._
      val srcs = documents(s, d).select($"source").distinct()
        .orderBy($"source").collect().map(_.getString(0))
      val idx = typedlit(srcs.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap)
      val w = Window.partitionBy($"source")
        .orderBy(md5($"doc_id".cast("string").cast("binary")), $"doc_id")
      documents(s, d)
        .select($"doc_id", $"source")
        .withColumn("r", row_number().over(w).cast("long") - 1)
        .select($"doc_id", $"source",
          ($"r" * srcs.length + element_at(idx, $"source")).as("pos"))
        .orderBy($"doc_id")
    }),

    "samp_weighted_topk" -> ((s, d) => {
      import s.implicits._
      val u60 = conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 15),
        16, 10).cast("double")
      val key = log(u60 / lit(1.152921504606846976e18)) / $"n_chars"
      documents(s, d)
        .select($"doc_id", $"lang", $"n_chars", key.as("k"))
        .orderBy($"k".desc, $"doc_id")
        .limit(20)
        .select($"doc_id", $"lang", $"n_chars",
          format_string("%.9f", $"k").as("es_key"))
        .orderBy($"doc_id")
    }),

    // Population Stability Index — the standard distribution-drift
    // monitor between a reference slice (orders before 1995) and a
    // current slice (1995+), over 10 fixed price deciles. Fixed-width
    // bins keep it one partial+final aggregate (exact equi-depth would
    // sort; that trade is q85's). Laplace +1 smoothing makes the terms
    // total and well-defined with empty bins; all probabilities derive
    // from integer counts so both engines feed ln identical operands.
    "q96_psi_drift" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy() // 10 bin rows
      orders(s, d)
        .select(year($"o_orderdate").as("y"),
          least(floor($"o_totalprice" / 50000).cast("int"), lit(9)).as("bin"))
        .groupBy($"bin")
        .agg(sum(when($"y" < 1995, 1L).otherwise(0L)).as("n_ref"),
          sum(when($"y" >= 1995, 1L).otherwise(0L)).as("n_cur"))
        .withColumn("p", ($"n_ref" + 1) * lit(1.0) / (sum($"n_ref").over(w) + 10))
        .withColumn("q", ($"n_cur" + 1) * lit(1.0) / (sum($"n_cur").over(w) + 10))
        .withColumn("term", ($"p" - $"q") * log($"p" / $"q"))
        .select($"bin", $"n_ref", $"n_cur",
          format_string("%.9f", $"term").as("psi_term"),
          format_string("%.9f", sum($"term").over(w)).as("psi_total"))
        .orderBy($"bin")
    }),

    // Temperature-scaled source mixing — the multilingual/multi-source
    // training-mix allocator (mT5-style p_s ∝ size^α, here α = 2 so
    // every weight stays an exact integer; the α<1 variant runs the
    // same largest-remainder machinery over correctly-rounded double
    // weights). A 100-doc epoch budget is apportioned by LARGEST
    // REMAINDER: base = ⌊T·w/W⌋ per source, the leftover seats go to
    // the biggest remainders (source-name tiebreak) — exact integer
    // arithmetic end-to-end, so the allocation is reproducible on any
    // cluster. Per-source weights are one keyed aggregate over the
    // corpus; the allocation itself runs on |sources| rows — aggregate-
    // sized at any corpus scale, like the PSI bins above.
    // SEQUENCE-LENGTH BUCKETING + padding-waste audit — the batching
    // decision a training loader makes: docs grouped into power-of-two
    // token-length buckets, with the exact padding waste each bucket
    // would pay if padded to its ceiling (the number that justifies
    // length-bucketed batching over naive global padding). Bucket =
    // ceil(log2(n_tokens) − 1e-9): the epsilon absorbs any ≤1-ulp libm
    // disagreement between engines at exact powers of two (where a
    // k+ε rounding would otherwise flip the ceil); every other number
    // in the query is an exact integer. One narrow scan + one keyed
    // aggregate.
    "pack_length_buckets" -> ((s, d) => {
      import s.implicits._
      val toks = size(split($"text", " ")).cast("long")
      documents(s, d)
        .select($"doc_id", toks.as("n_toks"))
        .withColumn("bucket_cap",
          expr("CAST(power(2, CAST(ceil(log2(n_toks) - 1e-9) AS INT)) AS BIGINT)"))
        .groupBy($"bucket_cap")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_toks").as("total_tokens"),
          min($"n_toks").as("min_toks"), max($"n_toks").as("max_toks"))
        .withColumn("padded_tokens", $"n_docs" * $"bucket_cap")
        .withColumn("waste_bp",
          expr("(n_docs * bucket_cap - total_tokens) * 10000 DIV (n_docs * bucket_cap)"))
        .orderBy($"bucket_cap")
    }),

    // SHELF BIN-PACKING — pack_length_buckets' padding census turned
    // into an actual packing plan: docs land on power-of-2 shelves,
    // each 256-token bin takes exactly cap DIV shelf docs of that
    // shelf (oversize shelves spill ⌈n_toks/cap⌉ bins per doc), and
    // the plan is judged against the fractional lower bound
    // ⌈Σtokens/cap⌉. This is how packing IS distributed at 100 TB —
    // per-class arithmetic off ONE keyed aggregate, no sequential
    // first-fit scan; the class rollup is shelf-count-sized (≤64 rows
    // for any real token range), so the summary window is free.
    "pack_shelf_bins" -> ((s, d) => {
      import s.implicits._
      val cap = 256L
      val toks = size(split($"text", " ")).cast("long")
      val cls = documents(s, d)
        .select($"doc_id", toks.as("n_toks"))
        .withColumn("shelf",
          expr("CAST(power(2, CAST(ceil(log2(n_toks) - 1e-9) AS INT)) AS BIGINT)"))
        .withColumn("doc_bins", expr(s"(n_toks + $cap - 1) DIV $cap"))
        .groupBy($"shelf")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("total_tokens"),
          sum($"doc_bins").as("oversize_bins"))
        .withColumn("per_bin",
          expr(s"CASE WHEN shelf <= $cap THEN $cap DIV shelf ELSE 0 END"))
        .withColumn("n_bins", expr(
          s"""CASE WHEN shelf <= $cap
             | THEN (n_docs + per_bin - 1) DIV per_bin
             | ELSE oversize_bins END""".stripMargin))
        .withColumn("util_bp",
          expr(s"total_tokens * 10000 DIV (n_bins * $cap)"))
      val wAll = Window.orderBy($"shelf")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cls // shelf-count-sized window (≤64 rows)
        .withColumn("total_bins", sum($"n_bins").over(wAll))
        .withColumn("grand_tokens", sum($"total_tokens").over(wAll))
        .withColumn("lb_bins", expr(s"(grand_tokens + $cap - 1) DIV $cap"))
        .withColumn("overhead_bp",
          expr("(total_bins - lb_bins) * 10000 DIV lb_bins"))
        .select($"shelf", $"n_docs", $"total_tokens", $"per_bin", $"n_bins",
          $"util_bp", $"total_bins", $"lb_bins", $"overhead_bp")
        .orderBy($"shelf")
    }),

    // IMPORTANCE REWEIGHTING toward a uniform language target — the
    // "rebalance without resampling" knob a training loop applies as
    // per-example loss weights: w_l = target_share / corpus_share in
    // exact basis points (N·10000 DIV (k·n_l)), clipped at 5× (the
    // standard variance guard), with the resulting EFFECTIVE SAMPLE
    // SIZE (Σnw)²/Σnw² published alongside — the honest "how many
    // docs is this reweighted corpus worth" number. One keyed
    // aggregate; everything after is |languages|-sized integers.
    "samp_importance_weights" -> ((s, d) => {
      import s.implicits._
      val wAll = Window.partitionBy() // |langs| rows
      documents(s, d)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_total", sum($"n_docs").over(wAll))
        .withColumn("k", count(lit(1)).over(wAll))
        .withColumn("weight_bp",
          least(expr("n_total * 10000 DIV (k * n_docs)"), lit(50000L)))
        // DECIMAL(38) squares: (Σ n·w)² overflows int64 past ~1e9 docs
        .withColumn("ess_docs",
          expr("""(CAST(SUM(n_docs * weight_bp) OVER () AS DECIMAL(38,0))
                  * CAST(SUM(n_docs * weight_bp) OVER () AS DECIMAL(38,0)))
                  DIV CAST(SUM(n_docs * weight_bp * weight_bp) OVER () AS DECIMAL(38,0))"""))
        .select($"lang", $"n_docs", $"weight_bp", $"ess_docs")
        .orderBy($"lang")
    }),

    // NEYMAN-OPTIMAL stratified allocation — the sampling-design twin
    // of samp_stratified's equal-rate draw: a fixed audit budget is
    // apportioned across language strata ∝ N_h·S_h (stratum size ×
    // population sd), which minimizes the estimator variance. The
    // Neyman weight collapses to sqrt(N_h·Σx² − (Σx)²) on exact
    // integer sums — one keyed aggregate; floor(sqrt) of an exactly-
    // representable integer is bit-identical on both engines (at
    // corpus scales past 2^53 the same weight would come from an
    // exact integer sqrt over DECIMAL — the quantization boundary is
    // documented, not silent). The largest-remainder apportionment is
    // samp_temperature_mix's exact-integer machinery, |strata| rows.
    "samp_neyman_alloc" -> ((s, d) => {
      import s.implicits._
      val T = 100L
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val wAll = Window.partitionBy() // |strata| rows
      val wRk = Window.orderBy($"rem".desc, $"lang") // |strata| rows
      documents(s, d)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars".cast(D38)).as("sx"),
          sum(($"n_chars".cast(D38) * $"n_chars".cast(D38))).as("sxx"))
        .withColumn("var_num", ($"n_docs" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("weight", floor(sqrt($"var_num")).cast("long"))
        .withColumn("w_tot", sum($"weight").over(wAll))
        .withColumn("base", expr(s"weight * $T DIV w_tot"))
        .withColumn("rem", expr(s"(weight * $T) % w_tot"))
        .withColumn("extra",
          when(row_number().over(wRk) <= lit(T) - sum($"base").over(wAll), 1L)
            .otherwise(0L))
        .select($"lang", $"n_docs", $"weight", ($"base" + $"extra").as("quota"))
        .orderBy($"lang")
    }),

    "samp_temperature_mix" -> ((s, d) => {
      import s.implicits._
      val T = 100L
      val wAll = Window.partitionBy() // |sources| rows
      val wRk = Window.orderBy($"rem".desc, $"source") // |sources| rows
      documents(s, d)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
        .withColumn("weight", $"chars" * $"chars")
        .withColumn("w_tot", sum($"weight").over(wAll))
        .withColumn("base", expr(s"weight * $T DIV w_tot"))
        .withColumn("rem", expr(s"(weight * $T) % w_tot"))
        .withColumn("extra",
          when(row_number().over(wRk) <= lit(T) - sum($"base").over(wAll), 1L)
            .otherwise(0L))
        .select($"source", $"n_docs", $"weight", ($"base" + $"extra").as("quota"))
        .orderBy($"source")
    }),

    // DEDUP-AWARE EFFECTIVE SAMPLE SIZE: each near-dup family counts
    // once — a doc's weight is 1/|its similarity cluster| (micro-
    // quantized integer, exact at any summation order), so per-source
    // "effective docs" and the duplication-inflation bp tell the
    // sampler how much of each source is really new content. Reuses
    // the shared jaccardPairs substrate + pointer-doubling CC labels
    // (cluster sizes are similarity-graph-sized); the corpus is
    // touched once for the label join.
    "samp_dedup_aware" -> ((s, d) => {
      import s.implicits._
      val labels = ConnectedComponents.labels(s,
        DedupQueries.jaccardPairs(s, d).select($"d1", $"d2"), "samp_dedup_aware")
      val labd = documents(s, d).select($"doc_id", $"source")
        .join(labels.select($"id".as("doc_id"), $"lab"), Seq("doc_id"), "left")
        .select($"doc_id", $"source", coalesce($"lab", $"doc_id").as("rep"))
      val csize = labd.groupBy($"rep").agg(count(lit(1)).as("k"))
      labd.join(csize, Seq("rep"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"k" > 1, 1L).otherwise(0L)).as("n_clustered"),
          sum(expr("1000000 DIV k")).as("eff_micro"))
        .selectExpr("source", "n_docs", "n_clustered", "eff_micro",
          """(n_docs * 1000000 - eff_micro) * 10000
            | DIV (n_docs * 1000000) AS dup_inflation_bp""".stripMargin)
        .orderBy($"source")
    }),

    // TWO-STAGE CLUSTER-SAMPLE ESTIMATOR: hash-sample 1/16 of orders
    // (PSUs), take ALL their line items, expand Σy by N/m — the
    // survey-sampling design every "estimate the total without
    // scanning everything" job uses, with its exact design-based
    // standard error and the realized error in basis points. One
    // keyed per-order aggregate; the estimator is a single-row tree
    // over exact sums.
    "samp_cluster_estimate" -> ((s, d) => {
      import s.implicits._
      val clus = lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("yv"))
      val tot = clus.agg(count(lit(1)).as("nn"), sum($"yv").as("t_true"))
      val g = clus
        .filter(substring(md5($"l_orderkey".cast("string").cast("binary")), 1, 1) === "0")
        .agg(count(lit(1)).as("m"), sum($"yv").as("sy"),
          expr("SUM(CAST(yv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0)))").as("syy"))
      g.crossJoin(broadcast(tot)).selectExpr("nn", "m", "t_true",
        s"CAST(FLOOR($clusterTHat) AS BIGINT) AS t_hat_cents",
        s"""abs(CAST(FLOOR($clusterTHat) AS BIGINT) - t_true) * 10000
           | DIV t_true AS err_bp""".stripMargin,
        s"CAST(FLOOR($clusterSe) AS BIGINT) AS se_cents",
        s"""abs(CAST(FLOOR($clusterTHat) AS BIGINT) - t_true)
           | <= CAST(FLOOR(2.0 * $clusterSe) AS BIGINT) AS within_2se""".stripMargin)
    })
  )

  /** Expansion estimator N/m·Σy and its design-based SE (shared text;
    * pure arithmetic + one sqrt over exact sums). */
  private val clusterTHat =
    "(CAST(nn AS DOUBLE) / CAST(m AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val clusterSe =
    """(CAST(nn AS DOUBLE) * sqrt((1.0 - CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
      | * ((CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE)))
      | / CAST(m AS DOUBLE)))""".stripMargin

  val oracles: Map[String, String] = Map(
    "samp_pps_systematic" ->
      """WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM w),
        |p AS (SELECT greatest(CAST(SUM(w) AS BIGINT) // 20, 1) AS step FROM w),
        |st AS (
        |  SELECT step,
        |    ('0x' || substring(md5('graft-pps'), 1, 12))::BIGINT % step AS start
        |  FROM p)
        |SELECT doc_id, w, CAST(cum - w AS BIGINT) AS cum_before,
        |  CAST((cum + step - start - 1) // step - 1 AS BIGINT) AS pick_k
        |FROM c CROSS JOIN st
        |WHERE (cum + step - start - 1) // step > (cum - w + step - start - 1) // step
        |ORDER BY doc_id""".stripMargin,
    "samp_horvitz_thompson" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, toks,
        |    SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM base),
        |p AS (SELECT greatest(CAST(SUM(w) AS BIGINT) // 20, 1) AS step FROM base),
        |st AS (
        |  SELECT step,
        |    ('0x' || substring(md5('graft-pps'), 1, 12))::BIGINT % step AS start
        |  FROM p),
        |sample AS (
        |  SELECT doc_id, toks, w, step,
        |    CAST(FLOOR(CAST(toks AS DOUBLE) * CAST(step AS DOUBLE) * 1000.0
        |      / CAST(w AS DOUBLE)) AS BIGINT) AS ht_milli
        |  FROM c CROSS JOIN st
        |  WHERE (cum + step - start - 1) // step > (cum - w + step - start - 1) // step),
        |truth AS (SELECT CAST(SUM(toks) AS BIGINT) AS true_total_tokens FROM base),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sample,
        |    CAST(MIN(step) AS BIGINT) AS step,
        |    CAST(SUM(ht_milli) AS BIGINT) AS ht_sum_milli
        |  FROM sample)
        |SELECT a.n_sample, a.step, t.true_total_tokens,
        |  a.ht_sum_milli // 1000 AS ht_total_tokens,
        |  abs(a.ht_sum_milli // 1000 - t.true_total_tokens) * 10000
        |    // t.true_total_tokens AS err_bp
        |FROM agg a CROSS JOIN truth t""".stripMargin,

    "samp_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin,

    "samp_class_balance" ->
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY label),
        |m AS (SELECT max(n) AS n_max FROM c)
        |SELECT label, n,
        |  n_max // n AS repeat_n,
        |  (n_max % n) * 10000 // n AS extra_rate_bp,
        |  (n_max // n) * n + ((n_max % n) * 10000 // n) * n // 10000
        |    AS planned_floor,
        |  (n_max // n) * n >= n_max - n AS reaches_parity
        |FROM c, m ORDER BY label""".stripMargin,

    "samp_ab_assign" ->
      """WITH a AS (
        |  SELECT CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '8'
        |    THEN 'A' ELSE 'B' END AS arm,
        |    CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS converted
        |  FROM customer
        |  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |    ON c_custkey = o.o_custkey),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM a),
        |e AS (SELECT *, (n_a + n_b) / 2.0 AS ex FROM s)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  conv_a * 10000 // n_a AS cvr_a_bp,
        |  conv_b * 10000 // n_b AS cvr_b_bp,
        |  printf('%.6f',
        |    (n_a - ex) * (n_a - ex) / ex + (n_b - ex) * (n_b - ex) / ex)
        |    AS srm_chi2
        |FROM e""".stripMargin,

    "samp_split_balance" ->
      """WITH cells AS (
        |  SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split,
        |    lang, COUNT(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT o,
        |    SUM(o) OVER (PARTITION BY split) AS rt,
        |    SUM(o) OVER (PARTITION BY lang) AS ct,
        |    SUM(o) OVER () AS gt,
        |    split, lang
        |  FROM cells),
        |e AS (SELECT *, rt * ct * 1.0 / gt AS exp FROM m)
        |SELECT CAST(MAX(gt) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST((COUNT(DISTINCT split) - 1) * (COUNT(DISTINCT lang) - 1) AS BIGINT) AS dof,
        |  printf('%.9f', SUM((o - exp) * (o - exp) / exp)) AS chi2
        |FROM e""".stripMargin,

    "samp_eval_freeze" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS eval_chars,
        |  CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT))
        |    % 1000000000000000000 AS BIGINT) AS fingerprint_sum,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '05'""".stripMargin,

    "samp_group_split" ->
      s"""WITH RECURSIVE ${DedupQueries.pairsCte},
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |reach(doc_id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst),
        |grp AS (SELECT doc_id, MIN(lab) AS grp FROM reach GROUP BY doc_id),
        |sp AS (SELECT doc_id, grp,
        |  CASE WHEN substring(md5(CAST(grp AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substring(md5(CAST(grp AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM grp),
        |intact AS (
        |  SELECT MAX(nsp) = 1 AS clusters_intact FROM (
        |    SELECT grp, COUNT(DISTINCT split) AS nsp FROM sp GROUP BY grp))
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_clusters,
        |  (SELECT clusters_intact FROM intact) AS clusters_intact
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    "samp_train_val_test" ->
      """SELECT split, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM (SELECT text,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin,

    "samp_stratified" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |      < (CASE WHEN lang = 'en' THEN '10' ELSE '40' END)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "samp_topk_per_stratum" ->
      """SELECT doc_id, lang, rn FROM (
        | SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    "pack_token_chunks" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - n_tokens AS BIGINT) AS start_offset
        | FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        | CAST(floor(start_offset / 2048.0) AS BIGINT) AS chunk_id,
        | CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 2048.0)
        |      - floor(start_offset / 2048.0) + 1 AS BIGINT) AS n_chunks_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "pack_chunk_slices" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - n_tokens AS BIGINT) AS start_offset
        | FROM t),
        |g AS (
        | SELECT doc_id, start_offset, n_tokens,
        |  unnest(generate_series(
        |    CAST(floor(start_offset / 2048.0) AS BIGINT),
        |    CAST(floor((start_offset + n_tokens - 1) / 2048.0) AS BIGINT))) AS chunk_id
        | FROM c WHERE n_tokens > 0)
        |SELECT doc_id, chunk_id,
        | greatest(chunk_id * 2048, start_offset) - start_offset AS slice_start,
        | least((chunk_id + 1) * 2048, start_offset + n_tokens)
        |   - greatest(chunk_id * 2048, start_offset) AS slice_len
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin,

    "text_chunk_stride" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |w AS (
        | SELECT doc_id, n_tokens, unnest(range(0, n_tokens, 16)) AS win_start
        | FROM t)
        |SELECT doc_id, win_start // 16 AS win_id, win_start,
        | least(32, n_tokens - win_start) AS win_len
        |FROM w ORDER BY doc_id, win_start""".stripMargin,

    "samp_shuffle" ->
      """SELECT doc_id,
        | ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "samp_negative_pairs" ->
      """WITH n AS (SELECT COUNT(*) AS nn FROM embeddings),
        |a AS (SELECT vec_id, unnest(range(0, 4)) AS k FROM embeddings),
        |dr AS (
        |  SELECT vec_id, k,
        |    ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT
        |      % (nn - 1) AS draw
        |  FROM a CROSS JOIN n)
        |SELECT vec_id, k,
        |  CAST(draw + CASE WHEN draw >= vec_id THEN 1 ELSE 0 END AS BIGINT) AS neg_id
        |FROM dr ORDER BY vec_id, k""".stripMargin,

    "samp_bootstrap_ci" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars, unnest(range(0, 32)) AS b FROM documents),
        |u AS (
        |  SELECT b, n_chars,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 15))::BIGINT)::DOUBLE
        |      / 1152921504606846976.0 AS u
        |  FROM r),
        |c AS (
        |  SELECT b, n_chars,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428846 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS c
        |  FROM u),
        |m AS (
        |  SELECT b, CAST(SUM(c * n_chars) AS BIGINT) AS sx, CAST(SUM(c) AS BIGINT) AS sn
        |  FROM c GROUP BY b),
        |mm AS (SELECT b, CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE) AS m FROM m),
        |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM mm),
        |pt AS (SELECT CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
        |       FROM documents)
        |SELECT printf('%.6f', pt.mean) AS mean,
        |  printf('%.6f', (SELECT m FROM rk WHERE rn = 2)) AS boot_lo,
        |  printf('%.6f', (SELECT m FROM rk WHERE rn = 31)) AS boot_hi
        |FROM pt""".stripMargin,

    "samp_interleave" ->
      """WITH s AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS si
        |  FROM (SELECT DISTINCT source FROM documents)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS r
        |  FROM documents)
        |SELECT doc_id, r.source, r * (SELECT count(*) FROM s) + si AS pos
        |FROM r JOIN s USING (source) ORDER BY doc_id""".stripMargin,

    // HUGEINT (int128) keeps u·W and k·w·2⁶⁰ exact, mirroring Spark's
    // DECIMAL(38,0) arithmetic bit-for-bit.
    "samp_weighted_topk" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)::DOUBLE
        |       / 1152921504606846976.0) / n_chars AS k
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, printf('%.9f', k) AS es_key
        |FROM (SELECT * FROM k ORDER BY k DESC, doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,

    "q96_psi_drift" ->
      """WITH b AS (
        |  SELECT least(CAST(floor(o_totalprice / 50000) AS INTEGER), 9) AS bin,
        |    CASE WHEN year(o_orderdate) < 1995 THEN 1 ELSE 0 END AS is_ref
        |  FROM orders),
        |cnt AS (
        |  SELECT bin,
        |    CAST(SUM(is_ref) AS BIGINT) AS n_ref,
        |    CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin),
        |pq AS (
        |  SELECT bin, n_ref, n_cur,
        |    (n_ref + 1) * 1.0 / (SUM(n_ref) OVER () + 10) AS p,
        |    (n_cur + 1) * 1.0 / (SUM(n_cur) OVER () + 10) AS q
        |  FROM cnt),
        |t AS (SELECT *, (p - q) * ln(p / q) AS term FROM pq)
        |SELECT bin, n_ref, n_cur,
        |  printf('%.9f', term) AS psi_term,
        |  printf('%.9f', SUM(term) OVER ()) AS psi_total
        |FROM t ORDER BY bin""".stripMargin,

    "samp_weighted" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::HUGEINT
        |      * (SELECT SUM(n_chars) FROM documents)::HUGEINT
        |    < 50::HUGEINT * n_chars::HUGEINT * 1152921504606846976::HUGEINT
        |ORDER BY doc_id""".stripMargin,

    "pack_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_toks,
        |    CAST(power(2, CAST(ceil(log2(n_toks) - 1e-9) AS INTEGER)) AS BIGINT)
        |      AS bucket_cap
        |  FROM t),
        |agg AS (
        |  SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |    min(n_toks) AS min_toks, max(n_toks) AS max_toks
        |  FROM b GROUP BY bucket_cap)
        |SELECT bucket_cap, n_docs, total_tokens, min_toks, max_toks,
        |  n_docs * bucket_cap AS padded_tokens,
        |  (n_docs * bucket_cap - total_tokens) * 10000
        |    // (n_docs * bucket_cap) AS waste_bp
        |FROM agg ORDER BY bucket_cap""".stripMargin,

    "pack_shelf_bins" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_toks,
        |    CAST(power(2, CAST(ceil(log2(n_toks) - 1e-9) AS INTEGER)) AS BIGINT)
        |      AS shelf,
        |    (n_toks + 255) // 256 AS doc_bins
        |  FROM t),
        |agg AS (
        |  SELECT shelf, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |    CAST(SUM(doc_bins) AS BIGINT) AS oversize_bins
        |  FROM b GROUP BY shelf),
        |plan AS (
        |  SELECT shelf, n_docs, total_tokens,
        |    CASE WHEN shelf <= 256 THEN 256 // shelf ELSE 0 END AS per_bin,
        |    CASE WHEN shelf <= 256
        |      THEN (n_docs + (256 // shelf) - 1) // (256 // shelf)
        |      ELSE oversize_bins END AS n_bins
        |  FROM agg),
        |g AS (
        |  SELECT shelf, n_docs, total_tokens, per_bin, n_bins,
        |    total_tokens * 10000 // (n_bins * 256) AS util_bp,
        |    CAST(SUM(n_bins) OVER () AS BIGINT) AS total_bins,
        |    (CAST(SUM(total_tokens) OVER () AS BIGINT) + 255) // 256 AS lb_bins
        |  FROM plan)
        |SELECT shelf, n_docs, total_tokens, per_bin, n_bins, util_bp,
        |  total_bins, lb_bins,
        |  (total_bins - lb_bins) * 10000 // lb_bins AS overhead_bp
        |FROM g ORDER BY shelf""".stripMargin,

    "samp_importance_weights" ->
      """WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_docs,
        |    least(SUM(n_docs) OVER () * 10000
        |      // (COUNT(*) OVER () * n_docs), 50000) AS weight_bp
        |  FROM g)
        |SELECT lang, n_docs, CAST(weight_bp AS BIGINT) AS weight_bp,
        |  CAST((SUM(n_docs * weight_bp) OVER ()) * (SUM(n_docs * weight_bp) OVER ())
        |    // SUM(n_docs * weight_bp * weight_bp) OVER () AS BIGINT) AS ess_docs
        |FROM w ORDER BY lang""".stripMargin,

    "samp_neyman_alloc" ->
      """WITH w AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY lang),
        |a AS (
        |  SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE))) AS BIGINT)
        |      AS weight
        |  FROM w),
        |b AS (
        |  SELECT lang, n_docs, weight,
        |    weight * 100 // SUM(weight) OVER () AS base,
        |    (weight * 100) % SUM(weight) OVER () AS rem
        |  FROM a),
        |c AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |    SUM(base) OVER () AS base_tot
        |  FROM b)
        |SELECT lang, n_docs, weight,
        |  CAST(base + CASE WHEN rk <= 100 - base_tot THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota
        |FROM c ORDER BY lang""".stripMargin,

    "samp_temperature_mix" ->
      """WITH w AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY source),
        |a AS (SELECT source, n_docs, chars * chars AS weight FROM w),
        |b AS (
        |  SELECT source, n_docs, weight,
        |    weight * 100 // SUM(weight) OVER () AS base,
        |    (weight * 100) % SUM(weight) OVER () AS rem
        |  FROM a),
        |c AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    SUM(base) OVER () AS base_tot
        |  FROM b)
        |SELECT source, n_docs, CAST(weight AS BIGINT) AS weight,
        |  CAST(base + CASE WHEN rk <= 100 - base_tot THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM c ORDER BY source""".stripMargin,

    "samp_dedup_aware" ->
      s"""WITH RECURSIVE ${DedupQueries.pairsCte},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |          UNION ALL SELECT d2, d1 FROM pairs),
         |reach(doc_id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |final AS (SELECT doc_id, MIN(lab) AS lab FROM reach GROUP BY doc_id),
         |labd AS (
         |  SELECT d.doc_id, d.source, f.lab AS rep
         |  FROM documents d JOIN final f USING (doc_id)),
         |csize AS (SELECT rep, CAST(count(*) AS BIGINT) AS k FROM labd GROUP BY rep),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         |    CAST(SUM(1000000 // k) AS BIGINT) AS eff_micro
         |  FROM labd JOIN csize USING (rep) GROUP BY source)
         |SELECT source, n_docs, n_clustered, eff_micro,
         |  (n_docs * 1000000 - eff_micro) * 10000
         |   // (n_docs * 1000000) AS dup_inflation_bp
         |FROM per ORDER BY source""".stripMargin,

    "samp_cluster_estimate" ->
      s"""WITH clus AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS yv
         |  FROM lineitem GROUP BY l_orderkey),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(SUM(yv) AS BIGINT) AS t_true
         |  FROM clus),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(yv) AS BIGINT) AS sy,
         |    SUM(CAST(yv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0))) AS syy
         |  FROM clus WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) = '0')
         |SELECT nn, m, t_true,
         |  CAST(FLOOR($clusterTHat) AS BIGINT) AS t_hat_cents,
         |  abs(CAST(FLOOR($clusterTHat) AS BIGINT) - t_true) * 10000
         |   // t_true AS err_bp,
         |  CAST(FLOOR($clusterSe) AS BIGINT) AS se_cents,
         |  abs(CAST(FLOOR($clusterTHat) AS BIGINT) - t_true)
         |   <= CAST(FLOOR(2.0 * $clusterSe) AS BIGINT) AS within_2se
         |FROM g CROSS JOIN tot""".stripMargin
  )
}
