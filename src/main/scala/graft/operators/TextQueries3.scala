package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions.tokens

/** Round-11 retrieval/curation additions:
  *
  *  - `text_rrf_fusion` — HYBRID retrieval: lexical (token-Jaccard)
  *    and semantic (embedding-cosine, doc_id = vec_id) rankings for
  *    the same query documents, fused by Reciprocal Rank Fusion.
  *    RRF terms floor(1e6/(60+rank)) are exact integers over integer
  *    ranks, so the fused ranking is hash-matched — the fusion layer
  *    every two-tower retrieval stack runs, as one declarative plan.
  *  - `pipe_dataset_card` — the one-row corpus datasheet (sizes,
  *    language/source spread, exact-duplicate rate, token mass) a
  *    curation run publishes alongside the dataset. Pure exact-integer
  *    aggregates; every number is already defined by some family
  *    member, assembled here in ONE pass over the corpus.
  *
  * Scale notes: query sides broadcast (|Q| = 3 documents); candidate
  * generation is a keyed token join bounded by document token counts;
  * per-query rankings are keyed windows over candidate sets; the
  * final fuse is a (q_id, cand) full-outer join of two top-50 lists —
  * K-sized, not corpus-sized. The dataset card is one partial+final
  * aggregate over a single corpus scan.
  */
object TextQueries3 extends graft.QueryModule {
  private val NQ = 3       // query documents: doc_id < NQ
  private val POOL = 50    // per-ranking candidate depth
  private val TOPK = 10    // fused results per query
  private val RRF_K = 60

  val queries: Map[String, Q] = Map(
    // KNESER–NEY BIGRAM LM — the smoothing the production n-gram LM
    // family actually ships (vs text_bigram_lm's raw MLE and
    // text_perplexity's add-one): interpolated KN with discount
    // D = 3/4, which makes every probability a RATIO OF EXACT
    // INTEGERS after scaling by 4·c(w1)·N_bb —
    //   P_KN = [max(4c−3,0)·N_bb + 3·N1+(w1,·)·N1+(·,w2)]
    //        / [4·c(w1)·N_bb]
    // (continuation probability N1+(·,w2)/N_bb, absolute discounting,
    // one interpolation weight — the standard formulation). Emitted in
    // exact micro units via DIV; MLE rides along for the smoothing
    // delta. Every stage is a keyed aggregate over the bigram-TYPE
    // table; top-30 by count through TakeOrdered.
    "text_kneser_ney" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      val bg = documents(s, d)
        .select(explode(ngrams(tokens($"text"), 2)).as("bigram"))
        .select(split($"bigram", " ")(0).as("w1"), split($"bigram", " ")(1).as("w2"))
      val c = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c")).localCheckpoint()
      val cw1 = c.groupBy($"w1").agg(sum($"c").as("c_w1"), count(lit(1)).as("n1_left"))
      val n1r = c.groupBy($"w2").agg(count(lit(1)).as("n1_right"))
      val nbb = c.agg(count(lit(1)).as("n_bb"))
      c.join(cw1, Seq("w1")).join(n1r, Seq("w2"))
        .crossJoin(nbb) // 1-row side
        .selectExpr("w1", "w2", "c", "c_w1", "n1_left", "n1_right",
          "(greatest(4 * c - 3, 0) * n_bb + 3 * n1_left * n1_right) * 1000000" +
            " DIV (4 * c_w1 * n_bb) AS p_kn_micro",
          "c * 1000000 DIV c_w1 AS p_mle_micro")
        .orderBy($"c".desc, $"w1".asc, $"w2".asc)
        .limit(30)
    }),

    // NAIVE BAYES LANG-ID — the trained upgrade of text_langid_eval's
    // contains() heuristic: multinomial NB with add-one smoothing,
    // trained on the doc_id%5≠4 split, evaluated on the %5=4 holdout,
    // reported as the full confusion matrix. Determinism contract:
    // each per-token log-likelihood floor(ln((c+1)/(T+V))·1e6) is an
    // INTEGER before any aggregation (ln over an identical exact-int
    // division is bit-identical cross-engine — the text_perplexity
    // idiom), so per-(doc,lang) scores are exact integer sums at any
    // parallelism, and the argmax (score desc, lang asc) is a total
    // order. Scale: the scorer is test-tokens × 5 langs — a keyed
    // left join against the (lang, token) count table, linear in the
    // holdout; the model tables are vocabulary-sized.
    "text_nb_langid" -> ((s, d) => {
      import s.implicits._
      // r20: tokenize ONCE (checkpoint) and derive the per-lang token
      // totals and the vocabulary size from the (lang, token) COUNT
      // table instead of re-exploding the corpus for each — identical
      // integers (Σc per lang IS the lang's token count; distinct tok
      // of the count table IS the train vocabulary), and 3 full token
      // passes become 1 at any corpus size (guide §2.4 / plan audit:
      // 12 parquet scans → 2).
      val docs = documents(s, d)
        .select($"doc_id", $"lang", tokens($"text").as("toks"))
        .localCheckpoint()
      val train = docs.filter($"doc_id" % 5 =!= 4)
      val trainToks = train.select($"lang", explode($"toks").as("tok"))
      val counts = trainToks.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
        .localCheckpoint() // model-table-sized; feeds totals/vocab/scorer
      val totals = counts.groupBy($"lang").agg(sum($"c").as("t"))
      val vocab = counts.select($"tok").distinct().agg(count(lit(1)).as("v"))
      val priors = train.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
        .crossJoin(train.agg(count(lit(1)).as("n_all"))) // 1-row side
        .selectExpr("lang",
          "CAST(FLOOR(LN(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro")
      val testToks = docs.filter($"doc_id" % 5 === 4)
        .select($"doc_id", $"lang".as("true_lang"), explode($"toks").as("tok"))
      val scored = testToks
        .crossJoin(broadcast(totals.select($"lang".as("cand"), $"t"))) // 5-row side
        .crossJoin(vocab) // 1-row side
        .join(counts.select($"lang".as("cand"), $"tok", $"c"), Seq("cand", "tok"), "left")
        .selectExpr("doc_id", "true_lang", "cand",
          "CAST(FLOOR(LN(CAST(coalesce(c, 0) + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)) * 1e6) AS BIGINT) AS term")
        .groupBy($"doc_id", $"true_lang", $"cand")
        .agg(sum($"term").as("ll"))
        .join(broadcast(priors.select($"lang".as("cand"), $"prior_micro")), Seq("cand"))
        .select($"doc_id", $"true_lang", $"cand", ($"ll" + $"prior_micro").as("score"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand".asc)
      scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"true_lang".as("lang"), $"cand".as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    }),

    // SOURCE DRIFT — "which sources skew which vocabulary": per-source
    // token rate vs the rest-of-corpus rate over the top-50 global
    // vocabulary, top-3 positive-drift terms per source. The curation
    // read on domain shift before mixing sources into a training set.
    // One exploded-token scan feeds everything; the vocabulary is a
    // top-50 broadcast (bounded at any corpus size, the text_pmi
    // idiom), rates are exact integer basis points, and the final
    // ranking window partitions by source over ≤50 rows each.
    "text_source_drift" -> ((s, d) => {
      import s.implicits._
      // r20: ONE token pass builds the (source, token) count table;
      // the global vocabulary, per-source totals, the grand total AND
      // the per-source vocab counts all fold from it — identical
      // integers, 4 full corpus explodes → 1 (plan audit: 10 parquet
      // scans → 2). The count table is |sources|×|vocab|-sized, the
      // right pin at any corpus size.
      val full = documents(s, d)
        .select($"source", explode(tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val global = full.groupBy($"tok").agg(sum($"n").as("n_tot"))
      val vocab = global.orderBy($"n_tot".desc, $"tok".asc).limit(50)
      val perSrc = full.join(broadcast(vocab.select($"tok")), Seq("tok"))
        .select($"source", $"tok", $"n".as("n_src"))
      val srcTot = full.groupBy($"source").agg(sum($"n").as("t_src"))
      val grand = full.agg(sum($"n").as("t_all"))
      val w = Window.partitionBy($"source")
        .orderBy($"delta_bp".desc, $"tok".asc)
      perSrc
        .join(broadcast(vocab), Seq("tok"))
        .join(broadcast(srcTot), Seq("source"))
        .crossJoin(grand) // 1-row side
        .selectExpr("source", "tok", "n_src", "n_tot",
          "n_src * 10000 DIV t_src AS rate_src_bp",
          "(n_tot - n_src) * 10000 DIV (t_all - t_src) AS rate_rest_bp",
          "n_src * 10000 DIV t_src - (n_tot - n_src) * 10000 DIV (t_all - t_src) AS delta_bp")
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"source", $"rank", $"tok", $"n_src", $"rate_src_bp",
          $"rate_rest_bp", $"delta_bp")
        .orderBy($"source", $"rank")
    }),
    "text_rrf_fusion" -> ((s, d) => {
      import s.implicits._
      // --- lexical ranking: token-set Jaccard in exact basis points ---
      val toks = documents(s, d)
        .select($"doc_id", explode(array_distinct(tokens($"text"))).as("t"))
      val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val qToks = toks.filter($"doc_id" < NQ)
        .select($"doc_id".as("q_id"), $"t")
      val inter = toks.join(broadcast(qToks), Seq("t"))
        .filter($"doc_id" =!= $"q_id")
        .groupBy($"q_id", $"doc_id")
        .agg(count(lit(1)).as("inter"))
      val jac = inter
        .join(sizes.select($"doc_id".as("q_id"), $"n".as("nq")), Seq("q_id"))
        .join(sizes, Seq("doc_id"))
        .select($"q_id", $"doc_id",
          expr("inter * 10000 DIV (nq + n - inter)").as("jsim_bp"))
      val wLex = Window.partitionBy($"q_id").orderBy($"jsim_bp".desc, $"doc_id".asc)
      val lex = jac.withColumn("lex_rank", row_number().over(wLex))
        .filter($"lex_rank" <= POOL)
        .select($"q_id", $"doc_id", $"lex_rank")
      // --- semantic ranking: embedding cosine (doc_id = vec_id) ---
      val emb = embeddings(s, d)
      val qEmb = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val cos = emb.join(broadcast(qEmb), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("doc_id"),
          graft.functions.VectorFunctions.cosineSimilarity($"q_emb", $"embedding")
            .as("cosine"))
      val wSem = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"doc_id".asc)
      val sem = cos.withColumn("sem_rank", row_number().over(wSem))
        .filter($"sem_rank" <= POOL)
        .select($"q_id", $"doc_id", $"sem_rank")
      // --- reciprocal rank fusion: exact integer micro-units ---
      val fused = lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
        .select($"q_id", $"doc_id", $"lex_rank", $"sem_rank",
          (coalesce(expr(s"1000000 DIV ($RRF_K + lex_rank)"), lit(0L))
            + coalesce(expr(s"1000000 DIV ($RRF_K + sem_rank)"), lit(0L)))
            .as("rrf_micro"))
      val wF = Window.partitionBy($"q_id").orderBy($"rrf_micro".desc, $"doc_id".asc)
      fused.withColumn("rank", row_number().over(wF))
        .filter($"rank" <= TOPK)
        .select($"q_id", $"rank", $"doc_id", $"rrf_micro", $"lex_rank", $"sem_rank")
        .orderBy($"q_id", $"rank")
    }),

    "pipe_dataset_card" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"text").as("fp"),
          size(tokens($"text")).cast("long").as("n_toks"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          countDistinct($"source").as("n_sources"),
          sum($"n_chars").as("total_chars"),
          sum($"n_toks").as("total_tokens"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"),
          countDistinct($"fp").as("n_unique_texts"))
        .withColumn("dup_docs", $"n_docs" - $"n_unique_texts")
        .withColumn("dup_bp", expr("(n_docs - n_unique_texts) * 10000 DIV n_docs"))
        .withColumn("mean_chars", expr("total_chars DIV n_docs"))
    }),

    // LANG-ID EVALUATION — precision/recall per class for the
    // text_lang_id heuristic against the stored labels (text_lang_id
    // emits the raw confusion matrix; this is the metrics layer an
    // eval harness reads): per true language, support and recall; per
    // predicted language, precision — joined into one table, all in
    // exact integer basis points (DIV on non-negative counts). One
    // corpus scan into a (lang, guess)-cell aggregate; every metric
    // derives from the tiny cell table.
    "text_langid_eval" -> ((s, d) => {
      import s.implicits._
      val guess = when($"text".contains(" the "), "en")
        .when($"text".contains(" el "), "es")
        .when($"text".contains(" der "), "de")
        .when($"text".contains(" le "), "fr")
        .when($"text".contains("的"), "zh")
        .otherwise("unk")
      val cells = documents(s, d).withColumn("guess", guess)
        .groupBy($"lang", $"guess").agg(count(lit(1)).as("n"))
      val wT = Window.partitionBy($"lang")
      val wP = Window.partitionBy($"guess")
      cells
        .withColumn("support", sum($"n").over(wT))
        .withColumn("predicted", sum($"n").over(wP))
        .filter($"lang" === $"guess")
        .select($"lang", $"support", $"predicted",
          $"n".as("n_correct"),
          expr("n * 10000 DIV support").as("recall_bp"),
          expr("n * 10000 DIV predicted").as("precision_bp"))
        .orderBy($"lang")
    }),

    // SFT FORMATTING PLAN — the prompt/completion packaging pass a
    // supervised-fine-tune pipeline runs over a curated corpus: each
    // doc splits at PROMPT_TOKS=64 whitespace tokens, the completion
    // truncates at COMPLETION_TOKS=192, and the per-language plan
    // reports example counts, truncation rate, and token mass on both
    // sides — all exact integer arithmetic (least/greatest on token
    // counts), one corpus scan, one keyed aggregate.
    "pack_sft_format" -> ((s, d) => {
      import s.implicits._
      val n = size(tokens($"text")).cast("long")
      documents(s, d)
        .select($"lang",
          least(n, lit(64L)).as("p_toks"),
          least(greatest(n - 64L, lit(0L)), lit(192L)).as("c_toks"),
          (n > 256L).cast("int").as("truncated"),
          (n <= 64L).cast("int").as("empty_completion"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_examples"),
          sum($"p_toks").as("prompt_tokens"),
          sum($"c_toks").as("completion_tokens"),
          sum($"truncated".cast("long")).as("n_truncated"),
          sum($"empty_completion".cast("long")).as("n_empty_completion"))
        .withColumn("truncated_bp", expr("n_truncated * 10000 DIV n_examples"))
        .orderBy($"lang")
    }),

    // PER-SOURCE QUALITY DASHBOARD — the "which feeds are worth
    // keeping?" table a curation run reads before cutting ingest
    // contracts: per source, volume, within-source exact-duplicate
    // rate, size profile, language spread, and token mass. Every
    // number is an exact integer (md5 fingerprints, DIV ratios) off
    // ONE corpus scan + one keyed aggregate — the per-source edition
    // of pipe_dataset_card.
    "pipe_source_quality" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"source", $"lang", $"n_chars",
          md5($"text").as("fp"),
          size(tokens($"text")).cast("long").as("n_toks"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"fp").as("n_unique"),
          countDistinct($"lang").as("n_langs"),
          sum($"n_chars").as("total_chars"),
          sum($"n_toks").as("total_tokens"))
        .select($"source", $"n_docs", $"n_langs",
          expr("(n_docs - n_unique) * 10000 DIV n_docs").as("dup_bp"),
          expr("total_chars DIV n_docs").as("mean_chars"),
          expr("total_tokens DIV n_docs").as("mean_tokens"))
        .orderBy($"source")
    }),

    // LIX READABILITY per language — words/sentence + 100·longwords/
    // words, the syllable-free readability index (fully computable
    // from regex counts, unlike Flesch). Per-doc counts are exact
    // integers from identical regexes on both engines (\S+ tokens,
    // \S{7,} long words, [.!?]+ sentence terminators, min 1); the
    // corpus LIX comes from the exact per-language SUMS, and the
    // easy/medium/hard banding applies identical double trees per
    // row BEFORE counting, so every output is hash-stable. One
    // partial+final keyed aggregate over a single corpus scan.
    "text_readability_lix" -> ((s, d) => {
      import s.implicits._
      val counts = documents(s, d).select($"lang",
        size(regexp_extract_all($"text", lit("""\S+"""), lit(0))).cast("long").as("w"),
        size(regexp_extract_all($"text", lit("""\S{7,}"""), lit(0))).cast("long").as("lw"),
        greatest(size(regexp_extract_all($"text", lit("""[.!?]+"""), lit(0))), lit(1))
          .cast("long").as("sent"))
      val lixDoc = $"w".cast("double") / $"sent".cast("double") +
        lit(100.0) * $"lw".cast("double") / greatest($"w", lit(1L)).cast("double")
      counts
        .withColumn("band",
          when(lixDoc < 35.0, "easy").when(lixDoc < 50.0, "medium").otherwise("hard"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"w").as("total_words"),
          sum($"lw").as("total_longwords"),
          sum($"sent").as("total_sentences"),
          sum(when($"band" === "easy", 1L).otherwise(0L)).as("n_easy"),
          sum(when($"band" === "medium", 1L).otherwise(0L)).as("n_medium"),
          sum(when($"band" === "hard", 1L).otherwise(0L)).as("n_hard"))
        .withColumn("lix_corpus", format_string("%.4f",
          $"total_words".cast("double") / $"total_sentences".cast("double") +
            lit(100.0) * $"total_longwords".cast("double") / $"total_words".cast("double")))
        .orderBy($"lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_kneser_ney" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
        |  FROM (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS g FROM tok)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
        |cw1 AS (
        |  SELECT w1, CAST(SUM(c) AS BIGINT) AS c_w1,
        |    CAST(count(*) AS BIGINT) AS n1_left
        |  FROM bc GROUP BY 1),
        |n1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_right FROM bc GROUP BY 1),
        |nbb AS (SELECT CAST(count(*) AS BIGINT) AS n_bb FROM bc)
        |SELECT w1, w2, c, c_w1, n1_left, n1_right,
        |  CAST((greatest(4 * c - 3, 0) * n_bb + 3 * n1_left * n1_right) * 1000000
        |    // (4 * c_w1 * n_bb) AS BIGINT) AS p_kn_micro,
        |  CAST(c * 1000000 // c_w1 AS BIGINT) AS p_mle_micro
        |FROM bc JOIN cw1 USING (w1) JOIN n1r USING (w2) CROSS JOIN nbb
        |ORDER BY c DESC, w1, w2 LIMIT 30""".stripMargin,

    "text_nb_langid" ->
      """WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |train AS (SELECT * FROM docs WHERE doc_id % 5 <> 4),
        |tt AS (SELECT lang, unnest(toks) AS tok FROM train),
        |counts AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2),
        |totals AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM tt GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tt),
        |priors AS (
        |  SELECT lang,
        |    CAST(FLOOR(LN(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS prior_micro
        |  FROM (SELECT lang, count(*) AS n_docs FROM train GROUP BY 1)
        |  CROSS JOIN (SELECT count(*) AS n_all FROM train)),
        |test_toks AS (
        |  SELECT doc_id, lang AS true_lang, unnest(toks) AS tok
        |  FROM docs WHERE doc_id % 5 = 4),
        |scored AS (
        |  SELECT s.doc_id, s.true_lang, tl.lang AS cand,
        |    CAST(SUM(CAST(FLOOR(LN(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
        |      / CAST(tl.t + vv.v AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS ll
        |  FROM test_toks s
        |  CROSS JOIN totals tl CROSS JOIN vocab vv
        |  LEFT JOIN counts c ON c.lang = tl.lang AND c.tok = s.tok
        |  GROUP BY s.doc_id, s.true_lang, tl.lang),
        |fin AS (
        |  SELECT doc_id, true_lang, cand, ll + prior_micro AS score
        |  FROM scored JOIN priors p ON p.lang = cand),
        |pick AS (
        |  SELECT doc_id, true_lang, cand,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |  FROM fin)
        |SELECT true_lang AS lang, cand AS predicted, CAST(count(*) AS BIGINT) AS n
        |FROM pick WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_source_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |global AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tot FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, n_tot FROM global ORDER BY n_tot DESC, tok LIMIT 50),
        |per_src AS (
        |  SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS n_src
        |  FROM toks t JOIN vocab v ON t.tok = v.tok
        |  GROUP BY t.source, t.tok),
        |src_tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t_src FROM toks GROUP BY source),
        |grand AS (SELECT CAST(count(*) AS BIGINT) AS t_all FROM toks),
        |scored AS (
        |  SELECT p.source, p.tok, p.n_src,
        |    CAST(p.n_src * 10000 // s.t_src AS BIGINT) AS rate_src_bp,
        |    CAST((v.n_tot - p.n_src) * 10000 // (g.t_all - s.t_src) AS BIGINT) AS rate_rest_bp,
        |    CAST(p.n_src * 10000 // s.t_src
        |      - (v.n_tot - p.n_src) * 10000 // (g.t_all - s.t_src) AS BIGINT) AS delta_bp
        |  FROM per_src p JOIN vocab v ON p.tok = v.tok
        |  JOIN src_tot s ON p.source = s.source CROSS JOIN grand g),
        |ranked AS (
        |  SELECT source, tok, n_src, rate_src_bp, rate_rest_bp, delta_bp,
        |    row_number() OVER (PARTITION BY source ORDER BY delta_bp DESC, tok) AS rank
        |  FROM scored)
        |SELECT source, CAST(rank AS BIGINT) AS rank, tok, n_src,
        |  rate_src_bp, rate_rest_bp, delta_bp
        |FROM ranked WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "text_rrf_fusion" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |  FROM documents),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM toks GROUP BY doc_id),
         |inter AS (
         |  SELECT q.doc_id AS q_id, c.doc_id AS doc_id,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM toks q JOIN toks c ON q.t = c.t AND c.doc_id != q.doc_id
         |  WHERE q.doc_id < $NQ
         |  GROUP BY q.doc_id, c.doc_id),
         |jac AS (
         |  SELECT i.q_id, i.doc_id,
         |    i.inter * 10000 // (sq.n + sc.n - i.inter) AS jsim_bp
         |  FROM inter i
         |  JOIN sizes sq ON sq.doc_id = i.q_id
         |  JOIN sizes sc ON sc.doc_id = i.doc_id),
         |lex AS (
         |  SELECT q_id, doc_id, lex_rank FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY jsim_bp DESC, doc_id) AS lex_rank FROM jac)
         |  WHERE lex_rank <= $POOL),
         |cos AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
         |    list_sum(list_transform(range(1, len(q.embedding)+1),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1),
         |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
         |      * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
         |      AS cosine
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id < $NQ AND e.vec_id != q.vec_id),
         |sem AS (
         |  SELECT q_id, doc_id, sem_rank FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, doc_id) AS sem_rank FROM cos)
         |  WHERE sem_rank <= $POOL),
         |fused AS (
         |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
         |    coalesce(l.doc_id, s.doc_id) AS doc_id,
         |    l.lex_rank, s.sem_rank,
         |    coalesce(1000000 // ($RRF_K + l.lex_rank), 0)
         |      + coalesce(1000000 // ($RRF_K + s.sem_rank), 0) AS rrf_micro
         |  FROM lex l FULL OUTER JOIN sem s
         |    ON l.q_id = s.q_id AND l.doc_id = s.doc_id)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id,
         |  CAST(rrf_micro AS BIGINT) AS rrf_micro,
         |  CAST(lex_rank AS INTEGER) AS lex_rank,
         |  CAST(sem_rank AS INTEGER) AS sem_rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_micro DESC, doc_id) AS rank FROM fused)
         |WHERE rank <= $TOPK ORDER BY q_id, rank""".stripMargin,

    "pipe_dataset_card" ->
      """WITH per AS (
        |  SELECT doc_id, lang, source, n_chars, md5(text) AS fp,
        |    len(string_split(text, ' ')) AS n_toks
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_texts,
        |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
        |  CAST((count(*) - count(DISTINCT fp)) * 10000 // count(*) AS BIGINT) AS dup_bp,
        |  CAST(SUM(n_chars) // count(*) AS BIGINT) AS mean_chars
        |FROM per""".stripMargin,

    "text_langid_eval" ->
      """WITH cells AS (
        |  SELECT lang,
        |    CASE WHEN contains(text, ' the ') THEN 'en'
        |         WHEN contains(text, ' el ') THEN 'es'
        |         WHEN contains(text, ' der ') THEN 'de'
        |         WHEN contains(text, ' le ') THEN 'fr'
        |         WHEN contains(text, '的') THEN 'zh'
        |         ELSE 'unk' END AS guess,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT lang, guess, n,
        |    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS support,
        |    CAST(SUM(n) OVER (PARTITION BY guess) AS BIGINT) AS predicted
        |  FROM cells)
        |SELECT lang, support, predicted,
        |  n AS n_correct,
        |  CAST(n * 10000 // support AS BIGINT) AS recall_bp,
        |  CAST(n * 10000 // predicted AS BIGINT) AS precision_bp
        |FROM m WHERE lang = guess ORDER BY lang""".stripMargin,

    "pack_sft_format" ->
      """WITH per AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |ex AS (
        |  SELECT lang,
        |    least(n, 64) AS p_toks,
        |    least(greatest(n - 64, 0), 192) AS c_toks,
        |    CASE WHEN n > 256 THEN 1 ELSE 0 END AS truncated,
        |    CASE WHEN n <= 64 THEN 1 ELSE 0 END AS empty_completion
        |  FROM per),
        |g AS (
        |  SELECT lang, COUNT(*) AS n_examples,
        |    CAST(SUM(p_toks) AS BIGINT) AS prompt_tokens,
        |    CAST(SUM(c_toks) AS BIGINT) AS completion_tokens,
        |    CAST(SUM(truncated) AS BIGINT) AS n_truncated,
        |    CAST(SUM(empty_completion) AS BIGINT) AS n_empty_completion
        |  FROM ex GROUP BY lang)
        |SELECT lang, n_examples, prompt_tokens, completion_tokens,
        |  n_truncated, n_empty_completion,
        |  n_truncated * 10000 // n_examples AS truncated_bp
        |FROM g ORDER BY lang""".stripMargin,

    "pipe_source_quality" ->
      """WITH per AS (
        |  SELECT source, lang, n_chars, md5(text) AS fp,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |g AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens
        |  FROM per GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  (n_docs - n_unique) * 10000 // n_docs AS dup_bp,
        |  total_chars // n_docs AS mean_chars,
        |  total_tokens // n_docs AS mean_tokens
        |FROM g ORDER BY source""".stripMargin,

    "text_readability_lix" ->
      """WITH counts AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '\S{7,}')) AS BIGINT) AS lw,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sent
        |  FROM documents),
        |banded AS (
        |  SELECT *,
        |    CASE WHEN CAST(w AS DOUBLE)/CAST(sent AS DOUBLE)
        |           + 100.0*CAST(lw AS DOUBLE)/CAST(greatest(w, 1) AS DOUBLE) < 35.0 THEN 'easy'
        |         WHEN CAST(w AS DOUBLE)/CAST(sent AS DOUBLE)
        |           + 100.0*CAST(lw AS DOUBLE)/CAST(greatest(w, 1) AS DOUBLE) < 50.0 THEN 'medium'
        |         ELSE 'hard' END AS band
        |  FROM counts)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS total_words,
        |  CAST(SUM(lw) AS BIGINT) AS total_longwords,
        |  CAST(SUM(sent) AS BIGINT) AS total_sentences,
        |  CAST(SUM(CASE WHEN band = 'easy' THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
        |  CAST(SUM(CASE WHEN band = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        |  CAST(SUM(CASE WHEN band = 'hard' THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
        |  printf('%.4f', CAST(SUM(w) AS DOUBLE)/CAST(SUM(sent) AS DOUBLE)
        |    + 100.0*CAST(SUM(lw) AS DOUBLE)/CAST(SUM(w) AS DOUBLE)) AS lix_corpus
        |FROM banded GROUP BY lang ORDER BY lang""".stripMargin
  )
}
