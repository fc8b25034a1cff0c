package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 text-curation additions:
  *
  *  - `text_rake_keywords`  — RAKE keyphrase extraction (stopword-
  *    delimited candidate phrases scored by word degree/frequency);
  *  - `text_gopher_rules`   — the Gopher-style per-rule quality-filter
  *    census a pretraining pipeline publishes per source;
  *  - `pipe_l_diversity`    — l-diversity release audit (the
  *    sensitive-attribute companion to pipe_k_anonymity's class-size
  *    audit).
  *
  * Exactness: token positions come from posexplode/range-unnest, all
  * scores are integer DIV-quantized milli/bp units off exact counts,
  * and phrase reconstruction sorts by position on both engines — no
  * floats anywhere.
  */
object TextQueries4 extends graft.QueryModule {
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopSql = stop.map(s => s"'$s'").mkString(", ")

  val queries: Map[String, Q] = Map(
    // RAKE KEYPHRASES — candidate phrases are maximal stopword-free
    // token runs (phrase id = running stopword count per doc, a KEYED
    // per-doc window); word score = degree/frequency where degree
    // sums the lengths of phrases containing the word; phrase score
    // sums its words' milli-quantized scores. Phrases capped at 4
    // tokens (classic RAKE practice — also bounds phrase_text width).
    // Every stage is a keyed aggregate/join over token- or
    // phrase-sized tables; top-20 via TakeOrdered.
    "text_rake_keywords" -> ((s, d) => {
      import s.implicits._
      val pt = documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "tok")))
        .withColumn("is_stop", $"tok".isin(stop.map(x => lit(x)): _*).cast("long"))
      val wDoc = Window.partitionBy($"doc_id").orderBy($"i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val words = pt.withColumn("pid", sum($"is_stop").over(wDoc))
        .filter($"is_stop" === 0)
        .select($"doc_id", $"pid", $"i", $"tok")
      val plen = words.groupBy($"doc_id", $"pid")
        .agg(count(lit(1)).as("plen"))
        .filter($"plen" <= 4)
      val member = words.join(plen, Seq("doc_id", "pid"))
      val wstat = member.groupBy($"tok")
        .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
        .withColumn("wscore_milli", expr("deg * 1000 DIV freq"))
      val phrases = member
        .join(wstat.select($"tok", $"wscore_milli"), Seq("tok"))
        .groupBy($"doc_id", $"pid")
        .agg(
          array_join(transform(array_sort(collect_list(struct($"i", $"tok"))),
            x => x.getField("tok")), " ").as("phrase"),
          sum($"wscore_milli").as("score_milli"),
          count(lit(1)).as("n_words"))
      phrases.groupBy($"phrase")
        .agg(count(lit(1)).as("n_occurrences"),
          min($"score_milli").as("score_milli"), min($"n_words").as("n_words"))
        .orderBy($"score_milli".desc, $"phrase".asc)
        .limit(20)
        .select($"phrase", $"n_words", $"n_occurrences", $"score_milli")
    }),

    // GOPHER-RULES CENSUS — the per-source pass-rate table for six
    // repro-style quality rules: R1 50≤tokens≤100k, R2 mean word
    // length in [3,10] (cross-multiplied, no division), R3 longest
    // token ≤15, R4 ≥80% alphabetic tokens, R5 ≥2 stopwords, R6 most
    // frequent token ≤20% of the doc. One corpus scan computes R1–R5
    // from the token array; R6 is the only exploded aggregate (doc×
    // token keyed). Per-source rollup in exact integers + bp.
    "text_gopher_rules" -> ((s, d) => {
      import s.implicits._
      val t = split($"text", " ")
      val n = size(t).cast("long")
      val base = documents(s, d).select($"doc_id", $"source",
        n.as("n"),
        length(regexp_replace($"text", " ", "")).cast("long").as("chars"),
        array_max(transform(t, x => length(x))).cast("long").as("max_len"),
        size(filter(t, x => x.rlike("^[a-zA-Z]+$"))).cast("long").as("n_alpha"),
        size(filter(t, x => x.isin(stop.map(v => lit(v)): _*))).cast("long").as("n_stop"))
      val mode = documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("mode_c"))
      base.join(mode, Seq("doc_id"))
        .select($"source",
          ($"n" >= 50 && $"n" <= 100000).cast("long").as("r1"),
          ($"chars" >= $"n" * 3 && $"chars" <= $"n" * 10).cast("long").as("r2"),
          ($"max_len" <= 15).cast("long").as("r3"),
          ($"n_alpha" * 5 >= $"n" * 4).cast("long").as("r4"),
          ($"n_stop" >= 2).cast("long").as("r5"),
          ($"mode_c" * 5 <= $"n").cast("long").as("r6"))
        .withColumn("all6",
          ($"r1" * $"r2" * $"r3" * $"r4" * $"r5" * $"r6" === 1).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"r1").as("pass_len"), sum($"r2").as("pass_word_len"),
          sum($"r3").as("pass_max_word"), sum($"r4").as("pass_alpha"),
          sum($"r5").as("pass_stopwords"), sum($"r6").as("pass_repetition"),
          sum($"all6").as("pass_all"))
        .withColumn("pass_all_bp", expr("pass_all * 10000 DIV n_docs"))
        .orderBy($"source")
    }),

    // χ²-KEYNESS FEATURE SELECTION — which tokens are most
    // language-discriminative? Per-token χ² against the language
    // margins via the zero-cell-free identity χ²_t = N·Σ_obs O²/(n_t·n_l)
    // − n_t (absent cells contribute through the margins, so only
    // OBSERVED (token,lang) cells are ever materialized). Per-cell
    // terms are milli-floored doubles over exact integers (multiply/
    // divide only — libm never runs), so the per-token sum is
    // order-exact. One exploded keyed aggregate + broadcast margins;
    // top-20 via TakeOrdered.
    "text_chi2_keywords" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select($"lang", explode(split($"text", " ")).as("tok"))
      val cells = toks.groupBy($"tok", $"lang").agg(count(lit(1)).as("o"))
      val nt = cells.groupBy($"tok").agg(sum($"o").as("n_t"))
      val nl = cells.groupBy($"lang").agg(sum($"o").as("n_l"))
      val tot = cells.agg(sum($"o").as("n_all"))
      cells
        .join(nt, Seq("tok"))
        .join(broadcast(nl), Seq("lang"))
        .crossJoin(broadcast(tot)) // single-row side
        .selectExpr("tok", "n_t",
          """CAST(FLOOR(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
            | * CAST(n_all AS DOUBLE) * 1000.0
            | / (CAST(n_t AS DOUBLE) * CAST(n_l AS DOUBLE))) AS BIGINT)
            | AS q_cell""".stripMargin)
        .groupBy($"tok", $"n_t")
        .agg(sum($"q_cell").as("sum_q"), count(lit(1)).as("n_langs_seen"))
        .selectExpr("tok", "n_t", "n_langs_seen",
          "sum_q - n_t * 1000 AS chi2_milli")
        .orderBy($"chi2_milli".desc, $"tok".asc)
        .limit(20)
    }),

    // L-DIVERSITY AUDIT — pipe_k_anonymity says how SMALL the
    // (nation × segment) equivalence classes get; this says how
    // HOMOGENEOUS their sensitive attribute (account-balance band)
    // gets: distinct-l histogram over classes, with the global min-l
    // and the rows trapped in l=1 (fully disclosed) classes as
    // repeated scalars. Two keyed aggregates over the dimension
    // table; the rollup is ≤|bands| rows.
    "pipe_l_diversity" -> ((s, d) => {
      import s.implicits._
      val cls = customer(s, d)
        .select($"c_nationkey".as("nat"), $"c_mktsegment".as("seg"),
          when($"c_acctbal" < 0, "neg").when($"c_acctbal" < 5000, "mid")
            .otherwise("high").as("band"))
        .groupBy($"nat", $"seg")
        .agg(count(lit(1)).as("n_rows"), countDistinct($"band").as("l"))
      val wAll = Window.orderBy($"l")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cls.groupBy($"l")
        .agg(count(lit(1)).as("n_classes"), sum($"n_rows").as("n_rows"),
          min($"n_rows").as("min_class_size"))
        .withColumn("min_l", min($"l").over(wAll)) // ≤3-row window
        .withColumn("rows_at_risk",
          coalesce(sum(when($"l" === 1, $"n_rows")).over(wAll), lit(0L)))
        .withColumn("total_rows", sum($"n_rows").over(wAll))
        .withColumn("risk_bp", expr("rows_at_risk * 10000 DIV total_rows"))
        .select($"l", $"n_classes", $"n_rows", $"min_class_size",
          $"min_l", $"rows_at_risk", $"risk_bp")
        .orderBy($"l")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_rake_keywords" ->
      s"""WITH pt0 AS (
         |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |pt AS (
         |  SELECT doc_id, i, t[i] AS tok,
         |    CASE WHEN t[i] IN ($stopSql) THEN 1 ELSE 0 END AS is_stop
         |  FROM pt0),
         |words AS (
         |  SELECT doc_id, i, tok,
         |    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS UNBOUNDED PRECEDING) AS pid
         |  FROM pt QUALIFY is_stop = 0),
         |plen AS (
         |  SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
         |  FROM words GROUP BY doc_id, pid HAVING count(*) <= 4),
         |member AS (
         |  SELECT w.doc_id, w.pid, w.i, w.tok, p.plen
         |  FROM words w JOIN plen p USING (doc_id, pid)),
         |wstat AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(SUM(plen) AS BIGINT) AS deg
         |  FROM member GROUP BY tok),
         |wscore AS (SELECT tok, deg * 1000 // freq AS wscore_milli FROM wstat),
         |phrases AS (
         |  SELECT m.doc_id, m.pid,
         |    string_agg(m.tok, ' ' ORDER BY m.i) AS phrase,
         |    CAST(SUM(s.wscore_milli) AS BIGINT) AS score_milli,
         |    CAST(count(*) AS BIGINT) AS n_words
         |  FROM member m JOIN wscore s USING (tok)
         |  GROUP BY m.doc_id, m.pid)
         |SELECT phrase, CAST(MIN(n_words) AS BIGINT) AS n_words,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(MIN(score_milli) AS BIGINT) AS score_milli
         |FROM phrases GROUP BY phrase
         |ORDER BY score_milli DESC, phrase ASC LIMIT 20""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CAST(len(t) AS BIGINT) AS n,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
         |    CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_len,
         |    CAST(len(list_filter(t, x -> regexp_full_match(x, '[a-zA-Z]+'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(t, x -> x IN ($stopSql))) AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS t
         |        FROM documents)),
         |mode AS (
         |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS mode_c FROM (
         |    SELECT doc_id, tok, count(*) AS c FROM (
         |      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |      FROM documents)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id),
         |rules AS (
         |  SELECT b.source,
         |    CASE WHEN b.n >= 50 AND b.n <= 100000 THEN 1 ELSE 0 END AS r1,
         |    CASE WHEN b.chars >= b.n * 3 AND b.chars <= b.n * 10 THEN 1 ELSE 0 END AS r2,
         |    CASE WHEN b.max_len <= 15 THEN 1 ELSE 0 END AS r3,
         |    CASE WHEN b.n_alpha * 5 >= b.n * 4 THEN 1 ELSE 0 END AS r4,
         |    CASE WHEN b.n_stop >= 2 THEN 1 ELSE 0 END AS r5,
         |    CASE WHEN m.mode_c * 5 <= b.n THEN 1 ELSE 0 END AS r6
         |  FROM base b JOIN mode m USING (doc_id)),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(r1) AS BIGINT) AS pass_len,
         |    CAST(SUM(r2) AS BIGINT) AS pass_word_len,
         |    CAST(SUM(r3) AS BIGINT) AS pass_max_word,
         |    CAST(SUM(r4) AS BIGINT) AS pass_alpha,
         |    CAST(SUM(r5) AS BIGINT) AS pass_stopwords,
         |    CAST(SUM(r6) AS BIGINT) AS pass_repetition,
         |    CAST(SUM(r1 * r2 * r3 * r4 * r5 * r6) AS BIGINT) AS pass_all
         |  FROM rules GROUP BY source)
         |SELECT source, n_docs, pass_len, pass_word_len, pass_max_word,
         |  pass_alpha, pass_stopwords, pass_repetition, pass_all,
         |  pass_all * 10000 // n_docs AS pass_all_bp
         |FROM agg ORDER BY source""".stripMargin,

    "text_chi2_keywords" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cells AS (
        |  SELECT tok, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM toks GROUP BY tok, lang),
        |nt AS (SELECT tok, CAST(SUM(o) AS BIGINT) AS n_t FROM cells GROUP BY tok),
        |nl AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS n_l FROM cells GROUP BY lang),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_all FROM cells),
        |q AS (
        |  SELECT c.tok, t.n_t,
        |    CAST(FLOOR(CAST(c.o AS DOUBLE) * CAST(c.o AS DOUBLE)
        |     * CAST(a.n_all AS DOUBLE) * 1000.0
        |     / (CAST(t.n_t AS DOUBLE) * CAST(l.n_l AS DOUBLE))) AS BIGINT)
        |     AS q_cell
        |  FROM cells c
        |  JOIN nt t ON t.tok = c.tok
        |  JOIN nl l ON l.lang = c.lang
        |  CROSS JOIN tot a),
        |agg AS (
        |  SELECT tok, n_t, CAST(SUM(q_cell) AS BIGINT) AS sum_q,
        |    CAST(count(*) AS BIGINT) AS n_langs_seen
        |  FROM q GROUP BY tok, n_t)
        |SELECT tok, n_t, n_langs_seen, sum_q - n_t * 1000 AS chi2_milli
        |FROM agg ORDER BY chi2_milli DESC, tok ASC LIMIT 20""".stripMargin,

    "pipe_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |      WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END) AS BIGINT) AS l
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |h AS (
        |  SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |    CAST(MIN(n_rows) AS BIGINT) AS min_class_size
        |  FROM cls GROUP BY l),
        |g AS (
        |  SELECT l, n_classes, n_rows, min_class_size,
        |    CAST(MIN(l) OVER () AS BIGINT) AS min_l,
        |    CAST(COALESCE(SUM(CASE WHEN l = 1 THEN n_rows END) OVER (), 0) AS BIGINT)
        |      AS rows_at_risk,
        |    CAST(SUM(n_rows) OVER () AS BIGINT) AS total_rows
        |  FROM h)
        |SELECT l, n_classes, n_rows, min_class_size, min_l, rows_at_risk,
        |  rows_at_risk * 10000 // total_rows AS risk_bp
        |FROM g ORDER BY l""".stripMargin
  )
}
