package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-15 text additions — two corpus-health censuses LLM-data
  * curation pipelines run before training:
  *
  *  - `text_fano_factor` — per-term OVER-DISPERSION (Fano factor: variance/
  *    mean of per-document counts, zeros included) for the corpus's
  *    top-20 terms: function words score ≈ Poisson (factor ≈ 1) while
  *    topical/templated terms cluster into few documents (factor ≫ 1)
  *    — the classic content-vs-function discriminator (Church &
  *    Gale). Exact integers: Fano_milli = 1000·(n·Σx² − T²) / (n·T)
  *    with a sign-split floor (over-dispersion can't go negative, but
  *    the quantized numerator can at factor ≈ 1).
  *  - `text_repeated_shingles` — per-document SELF-REPETITION: share
  *    of 3-token shingles that are repeats of an earlier shingle in
  *    the same document. Degenerate/templated/looping documents — the
  *    ones repetition-penalty exists for — surface at the top. All
  *    integer counts over the positional (non-deduped) shingle list.
  *
  * Scale: both are one explode + keyed aggregates (term- and
  * doc-keyed); the top-20 cut is a TakeOrdered, never a global sort.
  */
object TextQueries9 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    "text_fano_factor" -> ((s, d) => {
      import s.implicits._
      val tok = documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .filter(length($"term") > 0)
      val perDoc = tok.groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("x"))
      val perTerm = perDoc.groupBy($"term")
        .agg(count(lit(1)).as("df"),
          sum($"x").as("tf"),
          sum($"x" * $"x").as("sx2"))
      val nDocs = documents(s, d).agg(count(lit(1)).as("n")).localCheckpoint()
      perTerm.crossJoin(broadcast(nDocs)) // 1-row corpus size
        .selectExpr("term", "df", "tf",
          // Fano = Var/Mean over ALL n docs (zeros included):
          // 1000·(n·Σx² − T²)/(n·T), sign-split floor
          """CAST(SIGN(n * sx2 - tf * tf) AS BIGINT)
            | * ((1000 * abs(n * sx2 - tf * tf)) DIV (n * tf)) AS fano_milli""".stripMargin)
        .orderBy($"tf".desc, $"term".asc)
        .limit(20)
    }),

    "text_repeated_shingles" -> ((s, d) => {
      import s.implicits._
      // RAW shingle multiset (the Shingles3 kernel dedupes by design —
      // repetition is exactly the signal it drops, so build the
      // positional list here)
      val sh = documents(s, d)
        .select($"doc_id", split($"text", " ").as("t"))
        .selectExpr("doc_id",
          """explode(CASE WHEN size(t) < 3 THEN array()
            | ELSE transform(sequence(1, size(t) - 2),
            |   i -> concat(element_at(t, i), ' ', element_at(t, i + 1),
            |               ' ', element_at(t, i + 2))) END) AS shingle""".stripMargin)
      val per = sh.groupBy($"doc_id", $"shingle").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").cast("long").as("n_shingles"),
          count(lit(1)).as("n_distinct"))
        .filter($"n_shingles" > 0)
        .selectExpr("doc_id", "n_shingles", "n_distinct",
          "(1000 * (n_shingles - n_distinct)) DIV n_shingles AS repeat_milli")
      per.orderBy($"repeat_milli".desc, $"doc_id".asc).limit(20)
    })
  )

  val oracles: Map[String, String] = Map(
    "text_fano_factor" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |per_doc AS (
        |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM tok WHERE len(term) > 0
        |  GROUP BY term, doc_id),
        |per_term AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(x) AS BIGINT) AS tf,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM per_doc GROUP BY term),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT term, df, tf,
        |  CAST(SIGN(n * sx2 - tf * tf) AS BIGINT)
        |  * ((1000 * abs(n * sx2 - tf * tf)) // (n * tf)) AS fano_milli
        |FROM per_term CROSS JOIN nd
        |ORDER BY tf DESC, term ASC LIMIT 20""".stripMargin,

    "text_repeated_shingles" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |per AS (
        |  SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM sh GROUP BY doc_id, shingle),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, n_shingles, n_distinct,
        |  (1000 * (n_shingles - n_distinct)) // n_shingles AS repeat_milli
        |FROM agg WHERE n_shingles > 0
        |ORDER BY repeat_milli DESC, doc_id ASC LIMIT 20""".stripMargin
  )
}
