package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions.minhashSignature

/** Round-12 dedup additions:
  *
  *  - `dedup_prefix_trunc`   — TRUNCATION dedup: documents whose full
  *    text is an exact token-boundary prefix of another document (the
  *    crawl pathology exact-hash dedup cannot see: a truncated fetch
  *    or a re-crawl cut mid-page hashes differently but adds no
  *    content). Candidates come from an 8-token ANCHOR equi-join —
  *    if a (≥8-token) doc is a prefix of another, their first 8
  *    tokens agree — verified by exact string prefix match;
  *  - `dedup_source_minhash` — SOURCE-level MinHash overlap matrix:
  *    each source's 64-slot signature is the MIN over its docs'
  *    signatures (min-of-mins == the signature of the unioned shingle
  *    set — the associativity that makes MinHash mergeable), giving
  *    the estimated source×source shingle Jaccard next to the exact
  *    one — the provenance overlap report sketch-merging makes
  *    computable at corpus scale where the exact column no longer is.
  *
  * Scale: the anchor join is df-capped at 64 docs per anchor (the same
  * hot-key guard as the shingle substrate — an SEO boilerplate opening
  * shared by millions of pages must not fan out); the source signature
  * is ONE keyed aggregate over per-doc signatures (64 longs per doc —
  * no re-shingling, no doc×doc work), and the pair matrix rides
  * sources²×64 rows. The exact-Jaccard column's shingle self-join is
  * bounded by sources-per-shingle ≤ |sources| — linear in the shingle
  * universe with a sources² constant — and exists to CALIBRATE the
  * estimate at test scale; at 100 TB a deployment keeps only the
  * sketch side.
  */
object DedupQueries3 extends graft.QueryModule {
  private val AnchorTokens = 8
  private val AnchorDfCap = 64

  val queries: Map[String, Q] = Map(
    "dedup_prefix_trunc" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d)
        .select($"doc_id", $"text",
          array_join(slice(split($"text", " "), 1, AnchorTokens), " ").as("anchor"),
          size(split($"text", " ")).as("ntok"),
          length($"text").cast("long").as("chars"))
        .filter($"ntok" >= AnchorTokens)
      // hot-anchor guard: an anchor shared by more than AnchorDfCap
      // docs (boilerplate opening) is excluded from candidate
      // generation on BOTH engines — candidates stay linear per anchor
      val okAnchors = base.groupBy($"anchor")
        .agg(count(lit(1)).as("adf")).filter($"adf" <= AnchorDfCap)
        .select($"anchor")
      val cand = base.join(okAnchors, Seq("anchor"))
      cand.select($"anchor", $"doc_id".as("trunc_id"),
          $"text".as("t_text"), $"chars".as("trunc_chars"))
        .join(cand.select($"anchor", $"doc_id".as("full_id"),
          $"text".as("f_text"), $"chars".as("full_chars")), Seq("anchor"))
        .filter($"trunc_id" =!= $"full_id" &&
          $"f_text".startsWith(concat($"t_text", lit(" "))))
        .selectExpr("trunc_id", "full_id", "trunc_chars", "full_chars",
          "trunc_chars * 10000 DIV full_chars AS coverage_bp")
        .orderBy($"trunc_id", $"full_id")
    }),

    "dedup_source_minhash" -> ((s, d) => {
      import s.implicits._
      val src = documents(s, d).select($"doc_id", $"source")
      val sh = DedupQueries.docShingles(s, d)
        .filter(size($"sh") > 0).localCheckpoint()
      // per-source signature: min over docs per slot (mergeable sketch)
      val perSrc = sh
        .select($"doc_id", minhashSignature($"sh", 64).as("sig"))
        .join(src, Seq("doc_id"))
        .select($"source", posexplode($"sig").as(Seq("i", "v")))
        .groupBy($"source", $"i").agg(min($"v").as("mv"))
      val agree = perSrc.select($"source".as("s1"), $"i", $"mv".as("m1"))
        .join(perSrc.select($"source".as("s2"), $"i", $"mv".as("m2")), Seq("i"))
        .filter($"s1" < $"s2")
        .groupBy($"s1", $"s2")
        .agg(sum(when($"m1" === $"m2", 1L).otherwise(0L)).as("agree"))
      // exact source-level Jaccard for calibration (test-scale column)
      val ex = sh.join(src, Seq("doc_id"))
        .select($"source", explode($"sh").as("shingle")).distinct()
        .localCheckpoint()
      val sizes = ex.groupBy($"source").agg(count(lit(1)).as("n"))
      val inter = ex.select($"source".as("s1"), $"shingle")
        .join(ex.select($"source".as("s2"), $"shingle"), Seq("shingle"))
        .filter($"s1" < $"s2")
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("inter"))
      agree
        .join(inter, Seq("s1", "s2"), "left")
        .join(sizes.select($"source".as("s1"), $"n".as("n1")), Seq("s1"))
        .join(sizes.select($"source".as("s2"), $"n".as("n2")), Seq("s2"))
        .selectExpr("s1", "s2",
          "agree * 10000 DIV 64 AS est_bp",
          "COALESCE(inter, 0) * 10000 DIV (n1 + n2 - COALESCE(inter, 0)) AS exact_bp",
          "agree * 10000 DIV 64 - COALESCE(inter, 0) * 10000 DIV (n1 + n2 - COALESCE(inter, 0)) AS err_bp")
        .orderBy($"s1", $"s2")
    }),

    // CONTENT-DEFINED CHUNKING dedup census (the FastCDC/rolling-hash
    // idea at token granularity): chunk boundaries fall AFTER any
    // "anchor token" whose portable md5 60-bit hash ≡ 0 (mod 16), so
    // boundaries depend only on LOCAL content — an insertion early in
    // a document shifts fixed-size chunks everywhere but re-aligns
    // content-defined chunks at the next anchor, which is what lets
    // chunk-level dedup find shared spans between shifted revisions
    // that whole-doc hashing and fixed windows both miss. Expected
    // chunk length 16 tokens. Per doc: one posexplode + one keyed
    // window (running anchor count = chunk id); census keyed by the
    // chunk md5. Output: top-10 repeated chunks (count desc, hash) +
    // corpus totals on every row. Fully hash-gated — both engines
    // compute the identical md5-derived boundaries and chunk keys.
    "dedup_cdc_chunks" -> ((s, d) => {
      import s.implicits._
      val chunks = cdcChunks(s, d)
        .localCheckpoint() // chunk-sized; feeds census + totals
      val census = chunks.groupBy($"chash")
        .agg(max($"clen").as("clen"), count(lit(1)).as("n_occ"),
          countDistinct($"doc_id").as("n_docs"))
      val tot = census.agg(sum($"n_occ").cast("long").as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(when($"n_occ" > 1, $"n_occ").otherwise(0L)).cast("long").as("dup_chunk_mass"))
      census.filter($"n_occ" > 1)
        .orderBy($"n_occ".desc, $"chash".asc).limit(10)
        .crossJoin(broadcast(tot))
        .select($"chash", $"clen", $"n_occ", $"n_docs",
          $"total_chunks", $"distinct_chunks", $"dup_chunk_mass")
    })
  )

  /** Pre-checkpoint chunk builder (package-visible so PlanSpec can pin
    * the keyed per-doc window — the query's eager localCheckpoint
    * truncates the plan it would otherwise see): posexplode → running
    * anchor count per doc (chunk id; boundary falls AFTER the anchor,
    * so cid = running count − bnd) → per-(doc, chunk) md5 key. */
  private[graft] def cdcChunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val toks = documents(s, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
      .withColumn("bnd", expr(
        "CASE WHEN CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END"))
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cid", sum($"bnd").over(wd) - $"bnd")
      .groupBy($"doc_id", $"cid")
      .agg(count(lit(1)).cast("long").as("clen"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok), ' '))")
          .as("chash"))
  }

  val oracles: Map[String, String] = Map(
    "dedup_prefix_trunc" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    array_to_string((string_split(text, ' '))[1:$AnchorTokens], ' ') AS anchor,
         |    len(string_split(text, ' ')) AS ntok,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM documents WHERE len(string_split(text, ' ')) >= $AnchorTokens),
         |ok AS (
         |  SELECT anchor FROM base GROUP BY anchor HAVING count(*) <= $AnchorDfCap),
         |cand AS (SELECT b.* FROM base b JOIN ok USING (anchor))
         |SELECT a.doc_id AS trunc_id, b.doc_id AS full_id,
         |  a.chars AS trunc_chars, b.chars AS full_chars,
         |  a.chars * 10000 // b.chars AS coverage_bp
         |FROM cand a JOIN cand b
         |  ON a.anchor = b.anchor AND a.doc_id <> b.doc_id
         |  AND starts_with(b.text, a.text || ' ')
         |ORDER BY trunc_id, full_id""".stripMargin,

    "dedup_source_minhash" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |shl AS (
         |  SELECT doc_id,
         |   list_distinct(list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
         |  FROM tok),
         |shf AS (SELECT doc_id, s FROM shl WHERE len(s) > 0),
         |ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM shf),
         |hx AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h FROM ex0),
         |ab(i, am, bm) AS (VALUES ${DedupQueries.minhashMixerValues}),
         |g AS (
         |  SELECT doc_id, i,
         |    CAST(MIN(CASE WHEN gu >= 9223372036854775808 THEN gu - 18446744073709551616
         |             ELSE gu END) AS BIGINT) AS sig
         |  FROM (SELECT doc_id, i, (am::HUGEINT * h + bm) % 18446744073709551616 AS gu
         |        FROM hx CROSS JOIN ab)
         |  GROUP BY doc_id, i),
         |srcsig AS (
         |  SELECT dd.source, g.i, MIN(g.sig) AS mv
         |  FROM g JOIN documents dd ON dd.doc_id = g.doc_id
         |  GROUP BY dd.source, g.i),
         |agr AS (
         |  SELECT a.source AS s1, b.source AS s2,
         |    CAST(SUM(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT) AS agree
         |  FROM srcsig a JOIN srcsig b ON a.i = b.i AND a.source < b.source
         |  GROUP BY a.source, b.source),
         |exd AS (
         |  SELECT DISTINCT dd.source, e.shingle
         |  FROM ex0 e JOIN documents dd ON dd.doc_id = e.doc_id),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM exd GROUP BY source),
         |inter AS (
         |  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS i
         |  FROM exd a JOIN exd b ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT g.s1, g.s2,
         |  agree * 10000 // 64 AS est_bp,
         |  COALESCE(i.i, 0) * 10000 // (n1.n + n2.n - COALESCE(i.i, 0)) AS exact_bp,
         |  agree * 10000 // 64
         |    - COALESCE(i.i, 0) * 10000 // (n1.n + n2.n - COALESCE(i.i, 0)) AS err_bp
         |FROM agr g
         |LEFT JOIN inter i ON i.s1 = g.s1 AND i.s2 = g.s2
         |JOIN sizes n1 ON n1.source = g.s1
         |JOIN sizes n2 ON n2.source = g.s2
         |ORDER BY g.s1, g.s2""".stripMargin,

    "dedup_cdc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pt AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS tok
        |  FROM tok),
        |b AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN ('0x' || substring(md5(tok), 1, 15))::BIGINT % 16 = 0
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM pt),
        |ch AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - bnd AS cid
        |  FROM b),
        |chunks AS (
        |  SELECT doc_id, cid, CAST(count(*) AS BIGINT) AS clen,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
        |  FROM ch GROUP BY doc_id, cid),
        |census AS (
        |  SELECT chash, CAST(MAX(clen) AS BIGINT) AS clen,
        |    CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM chunks GROUP BY chash),
        |tot AS (
        |  SELECT CAST(SUM(n_occ) AS BIGINT) AS total_chunks,
        |    CAST(count(*) AS BIGINT) AS distinct_chunks,
        |    CAST(SUM(CASE WHEN n_occ > 1 THEN n_occ ELSE 0 END) AS BIGINT) AS dup_chunk_mass
        |  FROM census)
        |SELECT chash, clen, n_occ, n_docs,
        |  total_chunks, distinct_chunks, dup_chunk_mass
        |FROM census CROSS JOIN tot
        |WHERE n_occ > 1
        |ORDER BY n_occ DESC, chash ASC LIMIT 10""".stripMargin
  )
}
