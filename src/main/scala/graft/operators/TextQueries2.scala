package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions.tokens

/** Round-11 text/curation additions:
  *
  *  - `text_boilerplate_scrub` — the REMOVAL stage that
  *    `text_boilerplate_phrases` (the census) feeds: docs are cut into
  *    8-token chunks, chunks shared by ≥4 documents are dropped, and
  *    each document is re-assembled without them (CCNet's line-level
  *    dedup, expressed at chunk granularity because this corpus has no
  *    newlines);
  *  - `text_bm25` — BM25 ranked retrieval for a fixed query-term set
  *    (the standard IR scoring the tf-idf family approximates);
  *  - `samp_curriculum` — curriculum training order: quality-binned
  *    (type-token-ratio quartiles), hash-shuffled within bins — the
  *    easy-to-hard schedule a curriculum-trained run consumes.
  *
  * Exactness contract as everywhere: integer/bp arithmetic where
  * possible; BM25's doubles are built from exact integers through
  * operand-identical trees on both engines and QUANTIZED to integer
  * micro-units per (doc,term) before any summation, so the score sum
  * is order-independent and map-side combinable at any corpus size.
  */
object TextQueries2 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Chunk-level boilerplate scrub. One token-array scan builds the
    // chunk table WITHOUT a posexplode (transform over an index
    // sequence + slice — narrow, codegen'd); the df census is one
    // keyed aggregate on the chunk HASH (at 100 TB the shuffle carries
    // 16-byte keys, never chunk text); re-assembly is a per-doc keyed
    // collect of its own bounded chunk list. Nothing corpus-sized
    // sorts; dropped-chunk docs re-assemble deterministically via the
    // idx-sorted fold.
    "text_boilerplate_scrub" -> ((s, d) => {
      import s.implicits._
      val ch = documents(s, d)
        .select($"doc_id", tokens($"text").as("tk"))
        .select($"doc_id", explode(expr(
          """transform(sequence(0, (size(tk)+7) DIV 8 - 1),
            |  c -> struct(c AS idx,
            |    array_join(slice(tk, c*8+1, 8), ' ') AS str,
            |    size(slice(tk, c*8+1, 8)) AS ntok))""".stripMargin)).as("ch"))
        .select($"doc_id", $"ch.idx".as("idx"), $"ch.str".as("str"),
          $"ch.ntok".as("ntok"))
      val dfh = ch.groupBy(md5($"str").as("h"))
        .agg(countDistinct($"doc_id").as("df"))
      ch.join(dfh, md5($"str") === $"h")
        .withColumn("keep", $"df" < 4)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(!$"keep", 1L).otherwise(0L)).as("n_removed"),
          sum(when($"keep", $"ntok".cast("long")).otherwise(0L))
            .as("n_tokens_kept"),
          md5(array_join(
            transform(array_sort(collect_list(
              when($"keep", struct($"idx", $"str")))), x => x.getField("str")),
            " ")).as("kept_fp"))
        .orderBy($"doc_id")
    }),

    // BM25 (k1=1.2, b=0.75) over the fixed query {vector, hash,
    // window}. ONE exploded-token scan produces per-doc length AND the
    // three conditional term frequencies (map-side combinable); the
    // 3-row df table and the single-row (N, Σdl) total broadcast back.
    // Per-(doc,term) scores quantize to integer micro-units before the
    // per-doc sum, and the top-20 rides (score DESC, doc_id) through
    // TakeOrderedAndProject — no global sort of the corpus.
    "text_bm25" -> ((s, d) => {
      import s.implicits._
      val per = documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"doc_id").agg(
          count(lit(1)).as("dl"),
          sum(when($"tok" === "vector", 1L).otherwise(0L)).as("tf_vector"),
          sum(when($"tok" === "hash", 1L).otherwise(0L)).as("tf_hash"),
          sum(when($"tok" === "window", 1L).otherwise(0L)).as("tf_window"))
      val tot = per.agg(count(lit(1)).as("n"), sum($"dl").as("s"))
      val tf = per.selectExpr("doc_id", "dl",
        """stack(3, 'vector', tf_vector, 'hash', tf_hash,
          |'window', tf_window) AS (term, tf)""".stripMargin)
        .filter($"tf" > 0)
      val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val j = tf.join(broadcast(dfT), Seq("term")).crossJoin(broadcast(tot))
      val nD = $"n".cast("double")
      val idf = log((nD - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
      val tfn = ($"tf" * lit(2.2)) /
        ($"tf" + lit(1.2) * (lit(0.25) +
          lit(0.75) * ($"dl".cast("double") * nD / $"s".cast("double"))))
      j.withColumn("q", floor(idf * tfn * lit(1e6) + 0.5).cast("long"))
        .groupBy($"doc_id")
        .agg(sum($"q").as("score_e6"), count(lit(1)).as("n_terms"))
        .orderBy($"score_e6".desc, $"doc_id")
        .limit(20)
    }),

    // Curriculum schedule: quality = per-doc type-token ratio (bp,
    // exact integers), quartile-binned on GlobalRank's two-pass exact
    // rank (bin 1 = highest quality), then hash-shuffled WITHIN bins
    // by a second GlobalRank over (bin, md5(doc_id)) — the training
    // order starts clean and ends noisy, deterministic end-to-end.
    // Neither rank pass ever funnels the corpus through one task.
    "samp_curriculum" -> ((s, d) => {
      import s.implicits._
      val t = documents(s, d)
        .select($"doc_id", tokens($"text").as("tk"))
        .select($"doc_id",
          size($"tk").cast("long").as("n_tok"),
          size(array_distinct($"tk")).cast("long").as("n_dist"))
        .select($"doc_id", expr("n_dist * 10000 DIV n_tok").as("ttr_bp"))
      val (r1, n) = GlobalRank.withRank(t, "_r", Seq($"ttr_bp".desc, $"doc_id"))
      val binned = r1
        .withColumn("bin", GlobalRank.ntileFromRank($"_r", n, 4))
        .select($"doc_id", $"ttr_bp", $"bin")
      val (r2, _) = GlobalRank.withRank(binned, "ord",
        Seq($"bin", md5($"doc_id".cast("string").cast("binary")), $"doc_id"))
      r2.filter($"ord" <= 40)
        .select($"ord", $"doc_id", $"bin", $"ttr_bp")
        .orderBy($"ord")
    }))

  val oracles: Map[String, String] = Map(
    "text_boilerplate_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(range(0, (len(t)+7)//8),
        |    c -> {'idx': c,
        |          'str': array_to_string(t[c*8+1 : c*8+8], ' '),
        |          'ntok': len(t[c*8+1 : c*8+8])})) AS ch
        |  FROM d),
        |cc AS (SELECT doc_id, ch.idx AS idx, ch.str AS str, ch.ntok AS ntok
        |       FROM ch),
        |dfh AS (SELECT md5(str) AS h, count(DISTINCT doc_id) AS df
        |        FROM cc GROUP BY 1),
        |fl AS (SELECT cc.doc_id, cc.idx, cc.str, cc.ntok, dfh.df < 4 AS keep
        |       FROM cc JOIN dfh ON md5(cc.str) = dfh.h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT)
        |    AS n_tokens_kept,
        |  md5(coalesce(string_agg(CASE WHEN keep THEN str END, ' '
        |    ORDER BY idx), '')) AS kept_fp
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bm25" ->
      """WITH per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
        |    CAST(sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tf_vector,
        |    CAST(sum(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tf_hash,
        |    CAST(sum(CASE WHEN tok = 'window' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tf_window
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s
        |        FROM per),
        |tf AS (
        |  SELECT doc_id, dl, term, tf FROM (
        |    SELECT doc_id, dl, 'vector' AS term, tf_vector AS tf FROM per
        |    UNION ALL
        |    SELECT doc_id, dl, 'hash', tf_hash FROM per
        |    UNION ALL
        |    SELECT doc_id, dl, 'window', tf_window FROM per)
        |  WHERE tf > 0),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(
        |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 +
        |          0.75 * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
        |                  / CAST(s AS DOUBLE)))))
        |      * 1e6 + 0.5) AS BIGINT) AS q
        |  FROM tf JOIN dft USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(q) AS BIGINT) AS score_e6,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM sc GROUP BY doc_id
        |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin,

    "samp_curriculum" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dist
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(n_dist * 10000 // n_tok AS BIGINT) AS ttr_bp
        |      FROM t),
        |b AS (SELECT doc_id, ttr_bp,
        |        CAST(ntile(4) OVER (ORDER BY ttr_bp DESC, doc_id) AS INTEGER)
        |          AS bin
        |      FROM q),
        |o AS (SELECT doc_id, ttr_bp, bin,
        |        row_number() OVER (ORDER BY bin, md5(CAST(doc_id AS VARCHAR)),
        |          doc_id) AS ord
        |      FROM b)
        |SELECT CAST(ord AS BIGINT) AS ord, doc_id, bin, ttr_bp
        |FROM o WHERE ord <= 40 ORDER BY ord""".stripMargin)
}
