package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions.tokens

/** Round-16 corpus-curation additions — the three data-selection
  * staples a pretraining pipeline runs AFTER dedup and quality gates:
  *
  *   - `text_ccnet_buckets` — CCNet-style per-language LM buckets
  *     (Wenzek et al. 2020): score every doc against a corpus bigram
  *     LM, split each language into head / middle / tail tertiles.
  *     The scoring here is the exact-integer surrogate of perplexity
  *     — mean conditional bigram probability in ppm (the
  *     `sim_mips_topk` milli-quantization discipline applied to LM
  *     scoring): identical bucketing semantics, and the NTILE
  *     boundaries ride exact integers, never an engine's last ulp of
  *     `ln`.
  *   - `samp_dsir_weights` — DSIR importance weights (Xie et al.
  *     2023): per-doc log-ratio of a target-domain unigram LM vs the
  *     raw-corpus LM, the score used to resample a general crawl
  *     toward a target domain. One source (`src0`) stands in as the
  *     target domain.
  *   - `samp_epoch_schedule` — data-mixing epoch schedule under a
  *     token budget (the UniMax / data-constrained-scaling shape,
  *     Muennighoff et al. 2023): sqrt-temperature source weights,
  *     largest-remainder token apportionment, epochs-per-source with
  *     a >4-epoch repetition-risk flag.
  *
  * Scale notes (100 TB lens): every pass over the corpus is a single
  * narrow explode feeding keyed partial+final aggregates; LM count
  * frames are vocab-sized (~1e8 rows at web scale — comfortably
  * distributed, joined by key, never collected); the only windows are
  * over |languages| / |sources| dimension frames or per-language
  * NTILE over doc-level aggregates (at 100 TB the tertile boundary
  * would come from GlobalRank's range-partitioned two-pass rank per
  * language — the boundary is two exact integers either way).
  */
object CurationQueries extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // CCNET LM BUCKETS — per-language head/middle/tail split by LM
    // familiarity. Per-doc score: mean over the doc's bigrams of the
    // corpus conditional probability P(w2|w1) in ppm, all-integer
    // (n_bigram * 1e6 DIV n_w1, summed exactly, DIV n_bigrams).
    // "head" = most corpus-typical (CCNet's lowest-perplexity
    // bucket). Docs with <2 tokens have no bigrams and drop out on
    // both engines identically (inner join on the bigram census).
    "text_ccnet_buckets" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      val pos = documents(s, d)
        .select($"doc_id", explode(ngrams(tokens($"text"), 2)).as("bigram"))
      val bc = pos.groupBy($"bigram").agg(count(lit(1)).as("n_bigram"))
        .withColumn("w1", split($"bigram", " ")(0))
      val w1c = bc.groupBy($"w1").agg(sum($"n_bigram").as("n_w1"))
      val perDoc = pos
        .join(bc.select($"bigram", $"n_bigram", $"w1"), Seq("bigram"))
        .join(w1c, Seq("w1"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("n_bigram * 1000000 DIV n_w1")).as("sum_ppm"))
        .select($"doc_id", expr("sum_ppm DIV n_bigrams").as("score_ppm"))
      val wTile = Window.partitionBy($"lang")
        .orderBy($"score_ppm".desc, $"doc_id".asc)
      perDoc
        .join(documents(s, d).select($"doc_id", $"lang", $"n_chars"), Seq("doc_id"))
        .withColumn("tile", ntile(3).over(wTile))
        .groupBy($"lang", $"tile")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("n_chars"),
          sum($"score_ppm").as("sum_ppm"),
          min($"score_ppm").as("min_ppm"),
          max($"score_ppm").as("max_ppm"))
        .select($"lang",
          when($"tile" === 1, "head")
            .when($"tile" === 2, "middle")
            .otherwise("tail").as("bucket"),
          $"n_docs", $"n_chars",
          expr("sum_ppm DIV n_docs").as("mean_ppm"),
          $"min_ppm", $"max_ppm")
        .orderBy($"lang", $"bucket")
    }),

    // DSIR IMPORTANCE WEIGHTS — per-doc Σ_tokens ln(p_target(w) /
    // p_raw(w)) under add-one-smoothed unigram LMs, target = src0.
    // The float log-weight folds per-doc in token-position order
    // (the text_perplexity discipline; ln operands are identical
    // rationals built from exact counts). `n_target_leaning` is the
    // exact-integer companion — count of tokens whose target
    // probability beats the corpus probability by integer
    // cross-multiplication — so the selection signal itself never
    // depends on float parity.
    "samp_dsir_weights" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select($"doc_id", $"source",
          posexplode(tokens($"text")).as(Seq("pos", "tok")))
      // r20: both LMs' counts in ONE conditional aggregate pass —
      // identical integers (the src0 indicator sum IS the target
      // count, 0 where absent = the old left-join coalesce), one
      // corpus explode + shuffle fewer, no vocab self-join.
      val vc = toks.groupBy($"tok").agg(count(lit(1)).as("c_w"),
        sum(when($"source" === "src0", 1L).otherwise(0L)).as("t_w"))
      // model-sized scalars: vocab size + the two LM totals
      val sc = vc.agg(count(lit(1)), sum($"c_w"), sum($"t_w")).head()
      val v = sc.getLong(0); val c = sc.getLong(1); val t = sc.getLong(2)
      val lam = vc.select($"tok",
        (log(($"t_w" + lit(1.0)) / lit((t + v).toDouble)) -
          log(($"c_w" + lit(1.0)) / lit((c + v).toDouble))).as("lam"),
        // exact integer vote: (t_w+1)(C+V) > (c_w+1)(T+V)
        (($"t_w" + 1L) * lit(c + v) > ($"c_w" + 1L) * lit(t + v))
          .cast("long").as("leans_target"))
      toks.join(lam, Seq("tok"))
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"leans_target").as("n_target_leaning"),
          aggregate(
            transform(array_sort(collect_list(struct($"pos", $"lam"))),
              x => x("lam")),
            lit(0.0), (a, x) => a + x).as("sum_lam"))
        .select($"doc_id", $"source", $"n_tokens", $"n_target_leaning",
          ($"source" === "src0").as("is_target"),
          format_string("%.6f", $"sum_lam").as("log_weight"))
        .orderBy($"doc_id")
    }),

    // EPOCH SCHEDULE UNDER A TOKEN BUDGET — sqrt-temperature mixing:
    // source weight = floor(sqrt(source tokens)) (exact: the token
    // totals are < 2^53, floor(sqrt(double)) is bit-identical — the
    // samp_neyman_alloc precedent), budget = 2× total corpus tokens,
    // apportioned by largest remainder (the samp_temperature_mix
    // machinery), epochs in milli via integer DIV. Sources scheduled
    // past 4 epochs get the repetition-risk flag (the data-constrained
    // scaling rule of thumb: returns decay fast after ~4 epochs).
    "samp_epoch_schedule" -> ((s, d) => {
      import s.implicits._
      val wAll = Window.partitionBy()               // |sources| rows
      val wRk = Window.orderBy($"rem".desc, $"source") // |sources| rows
      documents(s, d)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens($"text")).cast("long")).as("toks"))
        .withColumn("weight", floor(sqrt($"toks".cast("double"))).cast("long"))
        .withColumn("budget", lit(2L) * sum($"toks").over(wAll))
        .withColumn("w_tot", sum($"weight").over(wAll))
        .withColumn("base", expr("weight * budget DIV w_tot"))
        .withColumn("rem", expr("(weight * budget) % w_tot"))
        .withColumn("extra",
          when(row_number().over(wRk) <= $"budget" - sum($"base").over(wAll), 1L)
            .otherwise(0L))
        .withColumn("target_toks", $"base" + $"extra")
        .select($"source", $"n_docs", $"toks", $"weight", $"target_toks",
          expr("target_toks * 1000 DIV toks").as("epochs_milli"))
        .withColumn("repeat_risk", $"epochs_milli" > 4000L)
        .orderBy($"source")
    }),

    // EMBEDDING-SPACE DRIFT between two corpus snapshots (vec_id
    // parity stands in for crawl N vs crawl N+1) — the monitoring op
    // a curation team runs before trusting an index/dedup threshold
    // across snapshots: per label, the cosine between the two
    // snapshots' mean embedding directions, in exact integers end to
    // end (milli-quantized components → sign-split integer means →
    // integer dot / isqrt norms → cos in milli). Scale: one narrow
    // ×dims explode into a keyed partial+final sum (shuffle volume =
    // |labels|·|dims| after map-side combine), then |labels|-sized
    // math — the same shape at 100 TB.
    "sim_embedding_drift" -> ((s, d) => {
      import s.implicits._
      val q = embeddings(s, d)
        .select(($"vec_id" % 2).cast("int").as("half"), $"label",
          posexplode($"embedding").as(Seq("dim", "x")))
        .select($"half", $"label", $"dim",
          expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("qx"))
      val cnt = embeddings(s, d)
        .groupBy($"label", ($"vec_id" % 2).cast("int").as("half"))
        .agg(count(lit(1)).as("n"))
      val means = q.groupBy($"label", $"half", $"dim")
        .agg(sum($"qx").as("sq"))
        .join(cnt, Seq("label", "half"))
        // integer mean; DIV truncates and DuckDB // floors, so
        // negative sums go through the sign-split idiom
        .select($"label", $"half", $"dim", $"n",
          expr("CASE WHEN sq >= 0 THEN sq DIV n ELSE -((-sq) DIV n) END")
            .as("m"))
      val a = means.filter($"half" === 0)
        .select($"label", $"dim", $"n".as("n_a"), $"m".as("ma"))
      val b = means.filter($"half" === 1)
        .select($"label", $"dim", $"n".as("n_b"), $"m".as("mb"))
      a.join(b, Seq("label", "dim"))
        .groupBy($"label")
        .agg(min($"n_a").as("n_a"), min($"n_b").as("n_b"),
          sum($"ma" * $"mb").as("dot"),
          sum($"ma" * $"ma").as("na2"),
          sum($"mb" * $"mb").as("nb2"))
        .select($"label", $"n_a", $"n_b", $"dot",
          greatest(floor(sqrt($"na2".cast("double"))).cast("long"), lit(1L))
            .as("norm_a_milli"),
          greatest(floor(sqrt($"nb2".cast("double"))).cast("long"), lit(1L))
            .as("norm_b_milli"))
        .withColumn("cos_micro",
          expr("""CASE WHEN dot >= 0
                 | THEN (dot * 1000000) DIV (norm_a_milli * norm_b_milli)
                 | ELSE -(((-dot) * 1000000) DIV (norm_a_milli * norm_b_milli))
                 | END""".stripMargin))
        .select($"label", $"n_a", $"n_b", $"norm_a_milli", $"norm_b_milli",
          $"cos_micro", ($"cos_micro" < 990000L).as("drifted"))
        .orderBy($"label")
    }),

    // DATASET DATA CARD — the per-source datasheet a curation run
    // publishes (Datasheets for Datasets, Gebru et al. 2021): size,
    // token mass, dominant language and its share, exact-duplicate
    // exposure (share of docs whose normalized text also occurs
    // ELSEWHERE in the corpus — the cross-source contamination read),
    // quality-gate pass rate, and mean length. Every signal is a
    // keyed aggregate joined on the 20-row source dimension; the dup
    // exposure reuses the normalized-fingerprint census (corpus-keyed
    // groupBy, never a pair join). All-integer basis points.
    "samp_data_card" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.normalize
      val base = documents(s, d).select($"doc_id", $"source", $"lang",
        $"n_chars", $"text", md5(normalize($"text")).as("fp"))
      val fpc = base.groupBy($"fp").agg(count(lit(1)).as("n_fp"))
      val core = base.join(fpc, Seq("fp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens($"text")).cast("long")).as("n_tokens"),
          sum($"n_chars").as("n_chars"),
          sum(when($"n_fp" > 1, 1L).otherwise(0L)).as("n_dup_exposed"),
          sum(when(size(tokens($"text")) >= 30, 1L).otherwise(0L))
            .as("n_len_ok"))
      val wLang = Window.partitionBy($"source")
        .orderBy($"n_lang".desc, $"lang".asc)
      val topLang = documents(s, d)
        .groupBy($"source", $"lang").agg(count(lit(1)).as("n_lang"))
        .withColumn("rn", row_number().over(wLang)).filter($"rn" === 1)
        .select($"source", $"lang".as("top_lang"), $"n_lang")
      core.join(topLang, Seq("source"))
        .select($"source", $"n_docs", $"n_tokens",
          expr("n_chars DIV n_docs").as("mean_chars"),
          $"top_lang",
          expr("n_lang * 10000 DIV n_docs").as("top_lang_bp"),
          expr("n_dup_exposed * 10000 DIV n_docs").as("dup_exposed_bp"),
          expr("n_len_ok * 10000 DIV n_docs").as("len_ok_bp"))
        .orderBy($"source")
    }),

    // CROSS-LINGUAL SHINGLE OVERLAP — the translation/contamination
    // screen a multilingual corpus audit runs: how much of language
    // A's distinct 3-shingle inventory also appears in language B?
    // High overlap between languages flags machine-translated or
    // lang-mislabeled mass that per-language dedup would miss. The
    // substrate is the distinct (lang, shingle) set (one explode +
    // distinct, shingle-keyed); the pair counts come from a
    // shingle-keyed self-join whose per-key fanout is bounded by the
    // language count (≤5 rows per shingle), never corpus×corpus.
    // Pure integer counts and basis points.
    "text_crosslingual_overlap" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.shingles3
      val sh = documents(s, d)
        .select($"lang", explode(shingles3(tokens($"text"))).as("shingle"))
        .distinct().localCheckpoint() // (lang, shingle) inventory
      val inv = sh.groupBy($"lang").agg(count(lit(1)).as("n_shingles"))
      val shared = sh.select($"lang".as("lang_a"), $"shingle")
        .join(sh.select($"lang".as("lang_b"), $"shingle"), Seq("shingle"))
        .filter($"lang_a" < $"lang_b")
        .groupBy($"lang_a", $"lang_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(inv.select($"lang".as("lang_a"), $"n_shingles".as("n_a")),
          Seq("lang_a"))
        .join(inv.select($"lang".as("lang_b"), $"n_shingles".as("n_b")),
          Seq("lang_b"))
        .select($"lang_a", $"lang_b", $"n_a", $"n_b", $"n_shared",
          expr("n_shared * 10000 DIV n_a").as("share_of_a_bp"),
          expr("n_shared * 10000 DIV n_b").as("share_of_b_bp"))
        .orderBy($"lang_a", $"lang_b")
    }),

    // SYNTHETIC-TEXT WATERMARK DETECTION (Kirchenbauer et al. 2023) —
    // the screen a curation run adds once model-generated text floods
    // the crawl: a greenlist watermark biases each token toward the
    // "green" half of the vocabulary under a hash seeded by its
    // predecessor, so scoring = count bigrams whose portable-md5
    // parity is green and z-test against the null p = 1/2. Human text
    // scores z ≈ 0; watermarked text scores z ≈ γ√n. The suspect flag
    // is decided in EXACT integers (2g−n > 0 AND (2g−n)² > 16n ⟺
    // z > 4), so the verdict never rides a float; one bigram explode
    // into a keyed aggregate — the text_perplexity shape.
    "text_watermark_detect" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      documents(s, d)
        .select($"doc_id", explode(ngrams(tokens($"text"), 2)).as("bigram"))
        .select($"doc_id",
          (conv(substring(md5($"bigram".cast("binary")), 1, 15), 16, 10)
            .cast("long") % 2 === 0).cast("long").as("green"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum($"green").as("n_green"))
        .withColumn("bias", $"n_green" * 2 - $"n_pairs")
        .select($"doc_id", $"n_pairs", $"n_green",
          format_string("%.6f",
            $"bias".cast("double") / sqrt($"n_pairs".cast("double"))).as("z"),
          ($"bias" > 0 && $"bias" * $"bias" > $"n_pairs" * 16)
            .as("watermark_suspect"))
        .orderBy($"doc_id")
    }),

    // HELD-OUT LM EVALUATION — text_perplexity with the eval
    // discipline a real LM pipeline enforces: the bigram model trains
    // on 80% of docs (doc_id % 5 ≠ 0) and scores the UNSEEN 20%, so
    // the score measures generalization, not memorization. Unseen
    // bigrams fall back to the add-one floor 1/(n_w1 + V) and unseen
    // contexts to 1/V (left joins + coalesce — identical on both
    // engines); the per-doc fold is position-ordered (the
    // text_perplexity discipline) and the OOV-bigram share rides
    // along as an exact integer diagnostic.
    "text_lm_holdout_eval" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      val train = documents(s, d).filter($"doc_id" % 5 =!= 0)
      val vocab = train.select(explode(tokens($"text")).as("tok"))
        .agg(countDistinct($"tok")).head().getLong(0) // model-sized scalar
      val bc = train
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(ngrams(tokens($"text"), 2)).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("n_bigram"))
        .withColumn("w1", split($"bigram", " ")(0))
        .localCheckpoint() // bigram-TYPE-table sized; feeds w1c AND the scorer
      val w1c = bc.groupBy($"w1").agg(sum($"n_bigram").as("n_w1"))
      val pos = documents(s, d).filter($"doc_id" % 5 === 0)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          posexplode(ngrams(tokens($"text"), 2)).as(Seq("pos", "bigram")))
        .withColumn("w1", split($"bigram", " ")(0))
      pos
        .join(bc.select($"bigram", $"n_bigram"), Seq("bigram"), "left")
        .join(w1c, Seq("w1"), "left")
        .select($"doc_id", $"pos",
          when($"n_bigram".isNull, 1L).otherwise(0L).as("unseen"),
          (-log((coalesce($"n_bigram", lit(0L)) + lit(1.0))
            / (coalesce($"n_w1", lit(0L)) + lit(vocab.toDouble)))).as("nll"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum($"unseen").as("n_unseen"),
          aggregate(
            transform(array_sort(collect_list(struct($"pos", $"nll"))),
              x => x("nll")),
            lit(0.0), (a, x) => a + x).as("sum_nll"))
        .select($"doc_id", $"n_bigrams", $"n_unseen",
          format_string("%.6f", $"sum_nll" / $"n_bigrams").as("avg_nll"))
        .orderBy($"doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t)),
        |bc AS (SELECT bigram, COUNT(*) AS n_bigram FROM g GROUP BY bigram),
        |bw AS (SELECT bigram, n_bigram, string_split(bigram, ' ')[1] AS w1 FROM bc),
        |w1c AS (SELECT w1, SUM(n_bigram) AS n_w1 FROM bw GROUP BY w1),
        |pd AS (
        |  SELECT doc_id,
        |    CAST(SUM(n_bigram * 1000000 // n_w1) // COUNT(*) AS BIGINT)
        |      AS score_ppm
        |  FROM g JOIN bw USING (bigram) JOIN w1c USING (w1)
        |  GROUP BY doc_id),
        |tiles AS (
        |  SELECT d.lang, d.n_chars, pd.score_ppm,
        |    ntile(3) OVER (PARTITION BY d.lang
        |                   ORDER BY pd.score_ppm DESC, pd.doc_id ASC) AS tile
        |  FROM pd JOIN documents d USING (doc_id))
        |SELECT lang,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_ppm,
        |  CAST(MIN(score_ppm) AS BIGINT) AS min_ppm,
        |  CAST(MAX(score_ppm) AS BIGINT) AS max_ppm
        |FROM tiles GROUP BY lang, tile ORDER BY lang, bucket""".stripMargin,

    "samp_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source, i AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t,
        |          unnest(range(1, len(t) + 1)) AS i
        |        FROM documents)),
        |cc AS (SELECT tok, COUNT(*) AS c_w FROM tok GROUP BY tok),
        |tc AS (SELECT tok, COUNT(*) AS t_w FROM tok
        |       WHERE source = 'src0' GROUP BY tok),
        |vc AS (SELECT cc.tok, cc.c_w, COALESCE(tc.t_w, 0) AS t_w
        |       FROM cc LEFT JOIN tc USING (tok)),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |             CAST(SUM(c_w) AS BIGINT) AS c,
        |             CAST(SUM(t_w) AS BIGINT) AS t FROM vc),
        |lam AS (
        |  SELECT tok,
        |    ln((t_w + 1.0) / (t + v)) - ln((c_w + 1.0) / (c + v)) AS lam,
        |    CASE WHEN (t_w + 1) * (c + v) > (c_w + 1) * (t + v)
        |         THEN 1 ELSE 0 END AS leans_target
        |  FROM vc CROSS JOIN s),
        |pd AS (
        |  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(leans_target) AS BIGINT) AS n_target_leaning,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lam ORDER BY pos)),
        |      (a, x) -> a + x) AS sum_lam
        |  FROM tok JOIN lam USING (tok)
        |  GROUP BY doc_id, source)
        |SELECT doc_id, source, n_tokens, n_target_leaning,
        |  source = 'src0' AS is_target,
        |  printf('%.6f', sum_lam) AS log_weight
        |FROM pd ORDER BY doc_id""".stripMargin,

    "samp_epoch_schedule" ->
      """WITH w AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |a AS (
        |  SELECT source, n_docs, toks,
        |    CAST(floor(sqrt(CAST(toks AS DOUBLE))) AS BIGINT) AS weight,
        |    CAST(2 * SUM(toks) OVER () AS BIGINT) AS budget
        |  FROM w),
        |b AS (
        |  SELECT source, n_docs, toks, weight, budget,
        |    weight * budget // SUM(weight) OVER () AS base,
        |    (weight * budget) % SUM(weight) OVER () AS rem
        |  FROM a),
        |c AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    SUM(base) OVER () AS base_tot
        |  FROM b),
        |e AS (
        |  SELECT source, n_docs, toks, weight,
        |    CAST(base + CASE WHEN rk <= budget - base_tot THEN 1 ELSE 0 END
        |      AS BIGINT) AS target_toks
        |  FROM c)
        |SELECT source, n_docs, toks, weight, target_toks,
        |  CAST(target_toks * 1000 // toks AS BIGINT) AS epochs_milli,
        |  target_toks * 1000 // toks > 4000 AS repeat_risk
        |FROM e ORDER BY source""".stripMargin,

    "sim_embedding_drift" ->
      """WITH q AS (
        |  SELECT CAST(vec_id % 2 AS INTEGER) AS half, label, i AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
        |  FROM (SELECT vec_id, label, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |cnt AS (
        |  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1, 2),
        |sums AS (
        |  SELECT label, half, dim, CAST(SUM(qx) AS BIGINT) AS sq
        |  FROM q GROUP BY 1, 2, 3),
        |means AS (
        |  SELECT s.label, s.half, s.dim, c.n,
        |    CASE WHEN sq >= 0 THEN sq // n ELSE -((-sq) // n) END AS m
        |  FROM sums s JOIN cnt c USING (label, half)),
        |j AS (
        |  SELECT a.label, CAST(MIN(a.n) AS BIGINT) AS n_a,
        |    CAST(MIN(b.n) AS BIGINT) AS n_b,
        |    CAST(SUM(a.m * b.m) AS BIGINT) AS dot,
        |    CAST(SUM(a.m * a.m) AS BIGINT) AS na2,
        |    CAST(SUM(b.m * b.m) AS BIGINT) AS nb2
        |  FROM means a JOIN means b ON a.label = b.label AND a.dim = b.dim
        |  WHERE a.half = 0 AND b.half = 1
        |  GROUP BY a.label),
        |nrm AS (
        |  SELECT label, n_a, n_b, dot,
        |    GREATEST(CAST(FLOOR(SQRT(CAST(na2 AS DOUBLE))) AS BIGINT), 1)
        |      AS norm_a_milli,
        |    GREATEST(CAST(FLOOR(SQRT(CAST(nb2 AS DOUBLE))) AS BIGINT), 1)
        |      AS norm_b_milli
        |  FROM j),
        |fin AS (
        |  SELECT label, n_a, n_b, norm_a_milli, norm_b_milli,
        |    CASE WHEN dot >= 0
        |      THEN (dot * 1000000) // (norm_a_milli * norm_b_milli)
        |      ELSE -(((-dot) * 1000000) // (norm_a_milli * norm_b_milli))
        |      END AS cos_micro
        |  FROM nrm)
        |SELECT label, n_a, n_b, norm_a_milli, norm_b_milli,
        |  CAST(cos_micro AS BIGINT) AS cos_micro,
        |  cos_micro < 990000 AS drifted
        |FROM fin ORDER BY label""".stripMargin,

    "samp_data_card" ->
      """WITH base AS (
        |  SELECT doc_id, source, lang, n_chars, text,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |fpc AS (SELECT fp, COUNT(*) AS n_fp FROM base GROUP BY fp),
        |core AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    CAST(SUM(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_exposed,
        |    CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 30
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok
        |  FROM base JOIN fpc USING (fp)
        |  GROUP BY source),
        |tl AS (
        |  SELECT source, lang AS top_lang, n_lang FROM (
        |    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_lang,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, lang ASC) AS rn
        |    FROM documents GROUP BY source, lang)
        |  WHERE rn = 1)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_chars // n_docs AS BIGINT) AS mean_chars,
        |  top_lang,
        |  CAST(n_lang * 10000 // n_docs AS BIGINT) AS top_lang_bp,
        |  CAST(n_dup_exposed * 10000 // n_docs AS BIGINT) AS dup_exposed_bp,
        |  CAST(n_len_ok * 10000 // n_docs AS BIGINT) AS len_ok_bp
        |FROM core JOIN tl USING (source)
        |ORDER BY source""".stripMargin,

    "text_crosslingual_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT lang, shingle FROM (
        |    SELECT lang,
        |      unnest(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM (SELECT lang, string_split(text, ' ') AS t FROM documents))),
        |inv AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_shingles
        |        FROM sh GROUP BY lang),
        |shared AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT s.lang_a, s.lang_b,
        |  ia.n_shingles AS n_a, ib.n_shingles AS n_b, s.n_shared,
        |  CAST(s.n_shared * 10000 // ia.n_shingles AS BIGINT) AS share_of_a_bp,
        |  CAST(s.n_shared * 10000 // ib.n_shingles AS BIGINT) AS share_of_b_bp
        |FROM shared s
        |JOIN inv ia ON s.lang_a = ia.lang
        |JOIN inv ib ON s.lang_b = ib.lang
        |ORDER BY s.lang_a, s.lang_b""".stripMargin,

    "text_watermark_detect" ->
      """WITH g AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents))),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substring(md5(bigram), 1, 15))::BIGINT % 2 = 0
        |      THEN 1 ELSE 0 END AS green
        |  FROM g),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(green) AS BIGINT) AS n_green
        |  FROM sc GROUP BY doc_id),
        |b AS (SELECT *, n_green * 2 - n_pairs AS bias FROM agg)
        |SELECT doc_id, n_pairs, n_green,
        |  printf('%.6f', CAST(bias AS DOUBLE) / sqrt(CAST(n_pairs AS DOUBLE)))
        |    AS z,
        |  bias > 0 AND bias * bias > n_pairs * 16 AS watermark_suspect
        |FROM b ORDER BY doc_id""".stripMargin,

    "text_lm_holdout_eval" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents WHERE doc_id % 5 <> 0),
        |v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM (
        |  SELECT unnest(t) AS tok FROM tr)),
        |g AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tr)),
        |bc AS (SELECT bigram, COUNT(*) AS n_bigram FROM g GROUP BY bigram),
        |bw AS (SELECT bigram, n_bigram, string_split(bigram, ' ')[1] AS w1
        |       FROM bc),
        |w1c AS (SELECT w1, SUM(n_bigram) AS n_w1 FROM bw GROUP BY w1),
        |te AS (
        |  SELECT doc_id, i AS pos, t[i] || ' ' || t[i+1] AS bigram,
        |    string_split(t[i] || ' ' || t[i+1], ' ')[1] AS w1
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE doc_id % 5 = 0))),
        |sc AS (
        |  SELECT te.doc_id, te.pos,
        |    CASE WHEN bw.n_bigram IS NULL THEN 1 ELSE 0 END AS unseen,
        |    -ln((COALESCE(bw.n_bigram, 0) + 1.0)
        |      / (COALESCE(w1c.n_w1, 0) + CAST(vocab AS DOUBLE))) AS nll
        |  FROM te
        |  LEFT JOIN bw ON te.bigram = bw.bigram
        |  LEFT JOIN w1c ON te.w1 = w1c.w1
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(unseen) AS BIGINT) AS n_unseen,
        |  printf('%.6f',
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(nll ORDER BY pos)),
        |      (a, x) -> a + x) / COUNT(*)) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
