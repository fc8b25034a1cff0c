package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Text analysis over `documents` (SURVEY.md §2.3 "Text analysis" +
  * the north-star LLM-data operators): token counting, quality scoring,
  * language-ID heuristic, fingerprinting, n-gram stats.
  *
  * All pure Catalyst expressions — each scales as a narrow map over the
  * corpus (no shuffle except the final stats aggregations).
  */
object TextQueries extends graft.QueryModule {
  private val stopList = Seq("the", "a", "of", "and", "to", "in", "is")

  val queries: Map[String, Q] = Map(
    // Per-language lexical-diversity profile: docs, tokens, TYPES
    // (distinct tokens), type-token ratio, mean token length — the
    // corpus-health numbers a curation pass reads before/after dedup
    // (a collapsing TTR is the classic symptom of template spam).
    // One explode + one keyed aggregate; the distinct-token count is
    // the only expensive term and it's a partial+final count_distinct
    // keyed by lang, not a global sort. Integer sums + DIV ⇒ exact.
    "text_lexical_diversity" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      documents(s, d)
        .select($"lang", $"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"lang")
        .agg(count_distinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_tokens"),
          count_distinct($"tok").as("n_types"),
          sum(length($"tok")).as("n_tok_chars"))
        .select($"lang", $"n_docs", $"n_tokens", $"n_types",
          expr("n_types * 10000 DIV n_tokens").as("ttr_bp"),
          expr("n_tok_chars * 10000 DIV n_tokens").as("mean_tok_len_e4"))
        .orderBy($"lang")
    }),

    // Per-document token-distribution Shannon entropy + its normalized
    // form (÷ ln types) — the information-theoretic quality signal that
    // separates template spam (near-0) from natural text, complementing
    // text_lexical_diversity's corpus-level TTR. All probabilities
    // derive from integer counts; the per-doc entropy sum folds over an
    // array SORTED BY TOKEN (aggregate/list_reduce), so both engines
    // add the p·ln p terms in the same order — the same order-killing
    // trick as the ANOVA group fold. The fold array is per-doc
    // vocabulary-sized (bounded by doc length), never corpus-sized, so
    // the shape holds at 100 TB: one explode, two keyed aggregates.
    "text_token_entropy" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val tc = documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      tc.groupBy($"doc_id").agg(
          sum($"cnt").as("n_tokens"),
          count(lit(1)).as("n_types"),
          array_sort(collect_list(struct($"tok", $"cnt"))).as("arr"))
        .withColumn("ent", -aggregate($"arr", lit(0.0),
          (a, x) => a + (x.getField("cnt") * lit(1.0) / $"n_tokens") *
            log(x.getField("cnt") * lit(1.0) / $"n_tokens")))
        .select($"doc_id", $"n_tokens", $"n_types",
          format_string("%.9f", $"ent").as("entropy"),
          format_string("%.9f",
            when($"n_types" > 1, $"ent" / log($"n_types".cast("double")))
              .otherwise(lit(0.0))).as("norm_entropy"))
        .orderBy($"doc_id")
    }),

    // Vocabulary-induction primitive: the FIRST BPE iteration — count
    // every adjacent character pair across the corpus's tokens and
    // rank the top merge candidates. (Real BPE training loops this;
    // the per-iteration workload IS this query, so its plan shape —
    // narrow per-token explode, keyed count, TakeOrdered top-k — is
    // the thing to get right at 100 TB.) Character positions are code
    // points in both engines, so zh/de tokens pair identically.
    "text_bpe_pairs" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      documents(s, d)
        .select(explode(tokens($"text")).as("tok"))
        .filter(length($"tok") >= 2)
        .select(explode(
          expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(30)
    }),

    // ZLIB COMPRESSION-RATIO quality signal — the Gopher/RefinedWeb
    // rule "documents that compress too well are template spam": each
    // doc's UTF-8 bytes run through a REAL java.util.zip Deflater
    // (level 6) in zero-shuffle batched mapPartitions (the multimodal
    // codec contract applied to text). The byte counts aren't SQL-
    // expressible, so this entry is rows-only; the paired
    // text_compression_check twin hash-pins an aggregate invariant of
    // the real codec output.
    "text_compression_ratio" -> ((s, d) => {
      import s.implicits._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_raw",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_deflated",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ratio_bp",
          org.apache.spark.sql.types.LongType)))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema)
      documents(s, d).select($"doc_id", $"text")
        .mapPartitions { rows =>
          rows.grouped(64).flatMap { batch =>
            batch.map { r =>
              val bytes = r.getString(1).getBytes("UTF-8")
              val defl = new java.util.zip.Deflater(6)
              defl.setInput(bytes); defl.finish()
              var total = 0L
              val buf = new Array[Byte](8192)
              while (!defl.finished()) total += defl.deflate(buf)
              defl.end()
              org.apache.spark.sql.Row(r.getLong(0), bytes.length.toLong,
                total, total * 10000L / math.max(bytes.length, 1))
            }
          }
        }(enc)
        .orderBy($"doc_id")
    }),

    // Hash-pinned invariant of the REAL zlib output above: split docs
    // at the median type-token ratio — the repetitive (low-TTR) half
    // MUST compress to a smaller mean ratio than the varied half, or
    // the codec path is broken. Counts are oracle-computable; the
    // boolean is where the Deflater's actual bytes reach the hash.
    "text_compression_check" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val cr = queries("text_compression_ratio")(s, d)
        .select($"doc_id", $"ratio_bp")
      val ttr = documents(s, d).select($"doc_id",
        (size(array_distinct(tokens($"text"))) * 10000L /
          greatest(size(tokens($"text")), lit(1))).as("ttr_bp"))
      val med = ttr.agg(
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ttr_bp)").as("m"))
      val joined = cr.join(ttr, Seq("doc_id")).crossJoin(broadcast(med))
      joined
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"ttr_bp" < $"m", $"ratio_bp")).as("low_sum"),
          sum(when($"ttr_bp" < $"m", 1L).otherwise(0L)).as("low_n"),
          sum(when($"ttr_bp" >= $"m", $"ratio_bp")).as("high_sum"),
          sum(when($"ttr_bp" >= $"m", 1L).otherwise(0L)).as("high_n"))
        .select($"n_docs",
          (($"low_sum" * $"high_n") < ($"high_sum" * $"low_n"))
            .as("repetitive_compresses_better"))
    }),

    // CROSS-DOC repeated-phrase census — the CCNet-style boilerplate
    // detector: long token spans that recur verbatim across many
    // documents (headers, footers, license blurbs) are exactly what
    // line/paragraph-level dedup strips before training. Per-doc
    // phrase presence is array_distinct BEFORE the explode (local
    // dedup, no distinct shuffle — same shape as text_pmi_cooccur);
    // the census is one keyed groupBy on the 8-gram (the NGrams
    // native kernel), top-20 via TakeOrdered. Complements
    // dedup_repeated_ngrams (within-doc) and text_ngram_novelty
    // (per-doc novelty) with the corpus-level "what IS the
    // boilerplate" ranking.
    "text_boilerplate_phrases" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      import graft.functions.GraftExpressions.ngrams
      documents(s, d)
        .select($"doc_id",
          explode(array_distinct(ngrams(tokens($"text"), 8))).as("phrase"))
        .groupBy($"phrase")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("sample_doc"))
        .filter($"n_docs" >= 2)
        .orderBy($"n_docs".desc, $"phrase")
        .limit(20)
    }),

    // PMI keyword association — which terms co-occur in the same
    // document more than chance predicts (topic structure / collocation
    // mining; near-zero PMI everywhere is the template-corpus smell).
    // Scale shape: per-doc presence comes from array_distinct BEFORE
    // the explode (local dedup, no distinct shuffle); the pair space is
    // bounded by restricting to the top-50-df vocabulary (broadcast
    // both ways), so the per-doc self-join emits ≤ C(50,2) pairs —
    // candidate generation stays keyed on doc_id at any corpus size.
    // PMI itself is ln(n_ab·N / n_a·n_b) from exact integer counts
    // through one shared double expression tree.
    "text_pmi_cooccur" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val dt = documents(s, d)
        .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
        .localCheckpoint() // feeds BOTH the df census and the pair join — one tokenize pass, not two
      val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val vocab = dt.groupBy($"tok").agg(count(lit(1)).as("dfc"))
        .orderBy($"dfc".desc, $"tok").limit(50)
      val k = dt.join(broadcast(vocab), Seq("tok"))
      val a = k.select($"doc_id", $"tok".as("tok_a"), $"dfc".as("n_a"))
      val b = k.select($"doc_id", $"tok".as("tok_b"), $"dfc".as("n_b"))
      a.join(b, Seq("doc_id")).filter($"tok_a" < $"tok_b")
        .groupBy($"tok_a", $"tok_b")
        .agg(count(lit(1)).as("n_ab"), max($"n_a").as("n_a"), max($"n_b").as("n_b"))
        .crossJoin(broadcast(nDocs))
        .select($"tok_a", $"tok_b", $"n_ab", $"n_a", $"n_b",
          format_string("%.6f",
            log($"n_ab".cast("double") * $"n_docs" /
              ($"n_a".cast("double") * $"n_b"))).as("pmi"))
        .orderBy($"n_ab".desc, $"tok_a", $"tok_b")
        .limit(20)
    }),

    // Token counting: whitespace tokens + a BPE-ish regex tokenizer
    // (letter runs / digit runs / single symbols).
    "text_token_count" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_calc"),
        size(tokens($"text")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("n_re_tokens"))
        .orderBy($"doc_id")
    }),

    // Quality scoring: length/stopword/word-shape ratios → [0,1] score.
    "text_quality" -> ((s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t.isin(stopList.map(x => lit(x)): _*)))
      val stopRatio = nStop * lit(1.0) / nTok
      documents(s, d).select(
        $"doc_id",
        nTok.cast("long").as("n_tokens"),
        (length(regexp_replace($"text", " ", "")) * lit(1.0) / nTok).as("avg_token_len"),
        stopRatio.as("stop_ratio"),
        (least(nTok, lit(200)) / lit(200.0) * 0.5 +
          when(stopRatio >= 0.05 && stopRatio <= 0.6, 0.5).otherwise(0.0)).as("quality_score"))
        .orderBy($"doc_id")
    }),

    // Language-ID: deterministic stopword-marker heuristic, reported as
    // a (labelled lang × guessed lang) confusion matrix.
    "text_lang_id" -> ((s, d) => {
      import s.implicits._
      val guess = when($"text".contains(" the "), "en")
        .when($"text".contains(" el "), "es")
        .when($"text".contains(" der "), "de")
        .when($"text".contains(" le "), "fr")
        .when($"text".contains("的"), "zh")
        .otherwise("unk")
      documents(s, d)
        .withColumn("guess", guess)
        .groupBy($"lang", $"guess")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"guess")
    }),

    // Vocabulary coverage curve — the tokenizer-sizing question "how
    // many vocabulary entries cover 50/90/99% of corpus tokens". Token
    // counts ride one keyed aggregate; the frequency-ranked cumulative
    // share rides GlobalRank.withPrefixSum over the VOCABULARY (count
    // desc, token), never the corpus; each k_P is then a pure count of
    // vocab rows below the coverage cut — exact integer arithmetic
    // end-to-end, no rank join, no floats anywhere.
    "text_vocab_coverage" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val counts = documents(s, d)
        .select(explode(tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val (cum, total) = GlobalRank.withPrefixSum(
        counts, "_cum", col("cnt"), Seq($"cnt".desc, $"tok"))
      cum.agg(
        sum($"cnt").as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        (sum(when($"_cum" * 100 < lit(total) * 50, 1L).otherwise(0L)) + 1).as("k50"),
        (sum(when($"_cum" * 100 < lit(total) * 90, 1L).otherwise(0L)) + 1).as("k90"),
        (sum(when($"_cum" * 100 < lit(total) * 99, 1L).otherwise(0L)) + 1).as("k99"))
    }),

    // Document fingerprint: md5 of the normalized text (exact-dup key
    // robust to case/whitespace).
    "text_fingerprint" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(
        $"doc_id",
        md5(normalize($"text")).as("fingerprint"))
        .orderBy($"doc_id")
    }),

    // PII scrubbing: mask emails and long digit runs. The corpus itself
    // carries no PII, so a synthetic suffix is appended before the
    // second scrub to prove the masking path end-to-end while `flagged`
    // reports the (deterministic) real-corpus scan result.
    "text_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "[0-9]{3,}"
      def scrub(c: org.apache.spark.sql.Column) =
        regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), numRe, "<NUM>")
      documents(s, d).select(
        $"doc_id",
        (scrub($"text") =!= $"text").as("flagged"),
        md5(scrub(concat($"text", lit(" contact: user@example.com id 12345"))))
          .as("scrubbed_md5"))
        .orderBy($"doc_id")
    }),

    // Corpus-level n-gram stats: top-20 bigrams by frequency.
    "text_top_bigrams" -> ((s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val bigrams = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      documents(s, d)
        .select(explode(bigrams).as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"bigram")
        .limit(20)
    }),

    // Per-doc keyword extraction: top-3 terms by tf-idf. df comes from
    // one aggregation over the exploded (doc, term) pairs, joins back
    // by term (keyed shuffle, partial-agg'd both sides), and the top-3
    // is a per-doc window — no global sort. The score uses a LINEAR
    // idf scaled to basis points and floored (tf·10⁴·N/df): every
    // operand is an exactly-representable integer and one IEEE
    // division is shared by both engines, so the result hash-matches
    // bit-exactly, where log-idf would hinge on libm rounding.
    "text_tfidf_topk" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val nDocs = documents(s, d).count() // model-sized driver scalar
      val terms = documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("term"))
      val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"term")
      tf.join(df_, "term")
        .withColumn("score",
          floor($"tf" * lit(10000.0) * lit(nDocs.toDouble) / $"df"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
        .orderBy($"doc_id", $"rank")
    }),

    // Benchmark decontamination: flag corpus documents sharing any
    // 3-token shingle with a held-out eval set (doc_id < 20 stands in
    // for the benchmark). The benchmark side is tiny by construction,
    // so its exploded shingle set broadcasts — the corpus is never
    // shuffled, only scanned, which is the only shape that works when
    // the corpus is 100 TB and the benchmark is megabytes.
    // Bigram language-model statistics: P(w2 | w1) as integer basis
    // points over corpus bigram counts — the n-gram-LM estimation shape
    // (KenLM-style counting) reduced to two keyed aggregates. The
    // conditioning denominator is derived FROM the bigram counts
    // (Σ counts of bigrams starting at w1), so the whole query is
    // count → re-key → join, all partial-aggregated map-side; raw
    // token streams never shuffle twice. Integer DIV keeps the
    // probabilities exact across engines; (n_bigram DESC, bigram) is a
    // total order for the top-25.
    // Per-document n-gram NOVELTY — the dedup-ROI curve: what fraction
    // of each doc's distinct shingles appear here FIRST (by doc_id
    // order)? A corpus whose late documents score near zero is mostly
    // re-crawl; near 10000 bp means fresh content. Two keyed
    // aggregates (shingle → min doc, then doc → counts) — the same
    // shuffle shape as the dedup family, integer basis points for
    // exact parity.
    "text_ngram_novelty" -> ((s, d) => {
      import s.implicits._
      val ex = documents(s, d)
        .select($"doc_id", explode(shingles3(tokens($"text"))).as("shingle"))
      val first = ex.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
      ex.join(first, Seq("shingle"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
        .select($"doc_id", $"n_shingles", $"n_novel",
          expr("n_novel * 10000 DIV n_shingles").as("novel_bp"))
        .orderBy($"doc_id")
    }),

    // Zipf-law fit of the token frequency distribution — the corpus-
    // health statistic (natural text shows slope ≈ −1 in log-log
    // rank/frequency space; generated or templated text deviates
    // sharply). Least-squares over ln(rank), ln(freq) of the top-1000
    // tokens: the regression sums fold over a RANK-ORDERED collected
    // array (≤1000 elements, one global row), so no order-dependent
    // float sum exists on either engine — same q76 closed-form slope/
    // intercept/r² formulas on bit-identical sums.
    "text_zipf_fit" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val K = 1000
      val freq = documents(s, d)
        .select(explode(tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"tok").limit(K) // TakeOrdered — vocab never sorts
      val w = Window.orderBy($"n".desc, $"tok") // ≤K rows
      val pts = freq.withColumn("r", row_number().over(w))
        .select(struct($"r",
          log($"r".cast("double")).as("lx"),
          log($"n".cast("double")).as("ly")).as("p"))
      val agg0 = pts.agg(collect_list($"p").as("ps"), count(lit(1)).as("k"))
      def fsum(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(array_sort($"ps"), lit(0.0), (a, x) => a + f(x))
      val kd = $"k".cast("double")
      val (sx, sy) = (fsum(_("lx")), fsum(_("ly")))
      val sxx = fsum(x => x("lx") * x("lx"))
      val syy = fsum(x => x("ly") * x("ly"))
      val sxy = fsum(x => x("lx") * x("ly"))
      val slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
      val icept = (sy - slope * sx) / kd
      val r2 = pow(kd * sxy - sx * sy, 2) /
        ((kd * sxx - sx * sx) * (kd * syy - sy * sy))
      agg0.select($"k",
        format_string("%.6f", slope).as("zipf_slope"),
        format_string("%.6f", icept).as("zipf_intercept"),
        format_string("%.6f", r2).as("r2"))
    }),

    // Per-document bigram-LM scoring (the perplexity-filter shape of
    // corpus curation: CCNet/Gopher-style quality ranking by how
    // "surprising" a doc is to a corpus LM): add-one-smoothed
    // P(w2|w1) from corpus counts, scored back over every doc's
    // bigrams, average negative log-likelihood per doc. The counts are
    // two keyed aggregates (the text_bigram_lm shape), scoring is a
    // keyed join — the raw token stream shuffles once. Parity: the
    // per-doc sum folds the per-bigram nll values in POSITION order
    // (collect_list of (pos, nll) → array_sort → sequential double
    // fold), so no order-dependent floating sum exists on either side;
    // ln operands are identical rationals built from exact counts.
    "text_perplexity" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      val vocab = documents(s, d)
        .select(explode(tokens($"text")).as("tok"))
        .agg(countDistinct($"tok")).head().getLong(0) // model-sized scalar
      val pos = documents(s, d)
        .select($"doc_id", posexplode(ngrams(tokens($"text"), 2)).as(Seq("pos", "bigram")))
      val bc = pos.groupBy($"bigram").agg(count(lit(1)).as("n_bigram"))
        .withColumn("w1", split($"bigram", " ")(0))
      val w1c = bc.groupBy($"w1").agg(sum($"n_bigram").as("n_w1"))
      val scored = pos
        .join(bc.select($"bigram", $"n_bigram", $"w1"), Seq("bigram"))
        .join(w1c, Seq("w1"))
        .select($"doc_id", $"pos",
          (-log(($"n_bigram" + lit(1.0)) / ($"n_w1" + lit(vocab.toDouble)))).as("nll"))
      scored.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          aggregate(
            transform(array_sort(collect_list(struct($"pos", $"nll"))), x => x("nll")),
            lit(0.0), (a, x) => a + x).as("sum_nll"))
        .select($"doc_id", $"n_bigrams",
          format_string("%.6f", $"sum_nll" / $"n_bigrams").as("avg_nll"))
        .orderBy($"doc_id")
    }),

    "text_bigram_lm" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftExpressions.ngrams
      val big = documents(s, d)
        .select(explode(ngrams(tokens($"text"), 2)).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("n_bigram"))
        .withColumn("w1", split($"bigram", " ")(0))
        .localCheckpoint() // bigram-TYPE-table sized; feeds w1c AND the output join
      val w1c = big.groupBy($"w1").agg(sum($"n_bigram").as("n_w1"))
      big.join(w1c, Seq("w1"))
        .select($"bigram", $"n_bigram", $"n_w1",
          expr("n_bigram * 10000 DIV n_w1").as("cond_bp"))
        .orderBy($"n_bigram".desc, $"bigram")
        .limit(25)
    }),

    // Inverted index build — the retrieval-side primitive every
    // search/RAG corpus needs: token → document frequency + a bounded
    // posting list (first 20 doc ids, ascending). The explode is
    // per-token distinct WITHIN a doc before the shuffle (array_distinct
    // on the token array), so shuffle volume is bounded by vocabulary ×
    // docs, not raw token count; postings are capped so no group ever
    // materializes an unbounded list — at 100 TB full postings would go
    // to a bucketed sink instead of a query result. (df DESC, token) is
    // a total order → deterministic top-30.
    "text_inverted_index" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id", explode(array_distinct(tokens($"text"))).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(slice(sort_array(collect_set($"doc_id")), 1, 20),
              _.cast("string"))).as("postings"))
        .orderBy($"df".desc, $"token")
        .limit(30)
    }),

    "text_decontaminate" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions._
      val sh = documents(s, d)
        .select($"doc_id", explode(shingles3(tokens($"text"))).as("shingle"))
      val bench = sh.filter($"doc_id" < 20)
        .select($"shingle").distinct()
      sh.filter($"doc_id" >= 20)
        .join(broadcast(bench), Seq("shingle"))
        .groupBy($"doc_id")
        .agg(countDistinct($"shingle").as("n_shared"))
        .orderBy($"doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |idx AS (
        |  SELECT tok, unnest(range(1, length(tok))) AS i
        |  FROM toks WHERE length(tok) >= 2),
        |p AS (SELECT substring(tok, CAST(i AS INTEGER), 2) AS pair FROM idx)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    // text_compression_ratio: rows-only by contract (zlib byte counts
    // are not SQL-expressible); gated by text_compression_check below.
    "text_compression_check" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS repetitive_compresses_better
        |FROM documents""".stripMargin,

    "text_boilerplate_phrases" ->
      """WITH ph AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t) - 6),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
        |         t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]))) AS phrase
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |f AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(min(doc_id) AS BIGINT) AS sample_doc
        |  FROM ph GROUP BY phrase)
        |SELECT phrase, n_docs, sample_doc FROM f WHERE n_docs >= 2
        |ORDER BY n_docs DESC, phrase LIMIT 20""".stripMargin,

    "text_pmi_cooccur" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM dt GROUP BY tok),
        |v AS (SELECT tok, dfc FROM df ORDER BY dfc DESC, tok LIMIT 50),
        |k AS (SELECT dt.doc_id, dt.tok, v.dfc FROM dt JOIN v USING (tok)),
        |p AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b,
        |    CAST(count(*) AS BIGINT) AS n_ab,
        |    max(a.dfc) AS n_a, max(b.dfc) AS n_b
        |  FROM k a JOIN k b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY a.tok, b.tok)
        |SELECT tok_a, tok_b, n_ab, n_a, n_b,
        |  printf('%.6f', ln(CAST(n_ab AS DOUBLE) * n_docs
        |    / (CAST(n_a AS DOUBLE) * n_b))) AS pmi
        |FROM p, n
        |ORDER BY n_ab DESC, tok_a, tok_b LIMIT 20""".stripMargin,

    "text_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_tokens, count(DISTINCT tok) AS n_types,
        |  count(DISTINCT tok) * 10000 // count(*) AS ttr_bp,
        |  CAST(SUM(CAST(length(tok) AS BIGINT)) AS BIGINT) * 10000 // count(*) AS mean_tok_len_e4
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    "text_token_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |tot AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM tc GROUP BY doc_id),
        |term AS (
        |  SELECT tc.doc_id, tok,
        |    (cnt * 1.0 / n_tokens) * ln(cnt * 1.0 / n_tokens) AS tm
        |  FROM tc JOIN tot USING (doc_id)),
        |e AS (
        |  SELECT doc_id,
        |    -list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tm ORDER BY tok)),
        |      (a, x) -> a + x) AS ent
        |  FROM term GROUP BY doc_id)
        |SELECT e.doc_id, n_tokens, n_types,
        |  printf('%.9f', ent) AS entropy,
        |  printf('%.9f', CASE WHEN n_types > 1
        |    THEN ent / ln(CAST(n_types AS DOUBLE)) ELSE 0.0 END) AS norm_entropy
        |FROM e JOIN tot USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_vocab_coverage" ->
      """WITH tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |c AS (
        |  SELECT cnt, SUM(cnt) OVER (ORDER BY cnt DESC, tok
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tc),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tc)
        |SELECT total AS n_tokens,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tc) AS n_vocab,
        |  (SELECT CAST(count(*) + 1 AS BIGINT) FROM c, t WHERE cum * 100 < 50 * total) AS k50,
        |  (SELECT CAST(count(*) + 1 AS BIGINT) FROM c, t WHERE cum * 100 < 90 * total) AS k90,
        |  (SELECT CAST(count(*) + 1 AS BIGINT) FROM c, t WHERE cum * 100 < 99 * total) AS k99
        |FROM t""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        | length(text) AS n_chars_calc,
        | len(string_split(text, ' ')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        | len(t) AS n_tokens,
        | length(replace(text, ' ', '')) * 1.0 / len(t) AS avg_token_len,
        | len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) * 1.0 / len(t) AS stop_ratio,
        | LEAST(len(t), 200) / 200.0 * 0.5 +
        |  CASE WHEN len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) * 1.0 / len(t)
        |            BETWEEN 0.05 AND 0.6 THEN 0.5 ELSE 0.0 END AS quality_score
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_tfidf_topk" ->
      """WITH terms AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  CAST(floor(tf.tf * 10000.0 * n.n_docs / df.df) AS BIGINT) AS score
        | FROM tf JOIN df USING (term), n),
        |ranked AS (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        | FROM scored)
        |SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "text_lang_id" ->
      """SELECT lang,
        | CASE WHEN contains(text, ' the ') THEN 'en'
        |      WHEN contains(text, ' el ') THEN 'es'
        |      WHEN contains(text, ' der ') THEN 'de'
        |      WHEN contains(text, ' le ') THEN 'fr'
        |      WHEN contains(text, '的') THEN 'zh'
        |      ELSE 'unk' END AS guess,
        | COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{3,}', '<NUM>', 'g') != text AS flagged,
        | md5(regexp_replace(regexp_replace(text || ' contact: user@example.com id 12345', '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{3,}', '<NUM>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_top_bigrams" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        | SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        | FROM (SELECT string_split(text, ' ') AS t FROM documents))
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "text_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(t)-1),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
        |    AS novel_bp
        |FROM sh JOIN first USING (shingle)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_zipf_fit" ->
      """WITH f AS (
        |  SELECT tok, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok ORDER BY n DESC, tok LIMIT 1000),
        |r AS (
        |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r FROM f),
        |l AS (
        |  SELECT r, ln(CAST(r AS DOUBLE)) AS lx, ln(CAST(n AS DOUBLE)) AS ly,
        |    ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) AS xx,
        |    ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE)) AS yy,
        |    ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE)) AS xy
        |  FROM r),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lx ORDER BY r)), (a, x) -> a + x) AS sx,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ly ORDER BY r)), (a, x) -> a + x) AS sy,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(xx ORDER BY r)), (a, x) -> a + x) AS sxx,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(yy ORDER BY r)), (a, x) -> a + x) AS syy,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(xy ORDER BY r)), (a, x) -> a + x) AS sxy
        |  FROM l)
        |SELECT k,
        |  printf('%.6f', (k * sxy - sx * sy) / (k * sxx - sx * sx)) AS zipf_slope,
        |  printf('%.6f', (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k) AS zipf_intercept,
        |  printf('%.6f', pow(k * sxy - sx * sy, 2)
        |    / ((k * sxx - sx * sx) * (k * syy - sy * sy))) AS r2
        |FROM s""".stripMargin,

    "text_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, t[i] || ' ' || t[i+1] AS bigram
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t)),
        |bc AS (SELECT bigram, COUNT(*) AS n_bigram FROM g GROUP BY bigram),
        |bw AS (SELECT bigram, n_bigram, string_split(bigram, ' ')[1] AS w1 FROM bc),
        |w1c AS (SELECT w1, SUM(n_bigram) AS n_w1 FROM bw GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |sc AS (
        |  SELECT g.doc_id, g.pos,
        |    -ln((bw.n_bigram + 1.0) / (w1c.n_w1 + CAST(vocab AS DOUBLE))) AS nll
        |  FROM g JOIN bw USING (bigram) JOIN w1c USING (w1) CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  printf('%.6f',
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(nll ORDER BY pos)),
        |      (a, x) -> a + x) / COUNT(*)) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      """WITH g AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents)),
        |bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_bigram FROM g GROUP BY bigram),
        |bw AS (SELECT bigram, n_bigram, string_split(bigram, ' ')[1] AS w1 FROM bc),
        |w1c AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_w1 FROM bw GROUP BY w1)
        |SELECT bigram, n_bigram, n_w1,
        |  CAST(n_bigram * 10000 // n_w1 AS BIGINT) AS cond_bp
        |FROM bw JOIN w1c USING (w1)
        |ORDER BY n_bigram DESC, bigram LIMIT 25""".stripMargin,

    "text_inverted_index" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents))
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM tok GROUP BY token
        |ORDER BY df DESC, token LIMIT 30""".stripMargin,

    "text_decontaminate" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  unnest(list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS shingle
        | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
        |SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
        |FROM sh JOIN bench USING (shingle)
        |WHERE doc_id >= 20
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
