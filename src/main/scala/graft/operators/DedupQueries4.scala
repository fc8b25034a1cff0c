package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 batch-8 dedup addition:
  *
  *  - `dedup_edit_verify` — CHARACTER-level verification of the
  *    token-set near-dup candidates: every Jaccard-passing pair
  *    (the `dedup_ngram_jaccard` substrate) is re-scored by exact
  *    Levenshtein distance on capped 160-char prefixes. Token-set
  *    similarity is blind to ORDER — a paragraph-shuffled rewrite
  *    and a verbatim copy can carry the same shingle Jaccard; the
  *    edit-distance pass separates them (copies sit near 0 edits,
  *    reorders pay per moved character). This is the standard
  *    two-tier near-dup design: cheap set-similarity proposes,
  *    expensive sequence-similarity disposes.
  *
  * Exactness: both engines implement classic Levenshtein
  * (insert/delete/substitute, unit costs) over identical prefix
  * strings; the normalized similarity 10000 − 10000·dist ÷ maxlen is
  * a pure integer floor (non-negative operands, Spark DIV == DuckDB
  * //). No floats anywhere.
  *
  * Scale: the candidate list is already df-cap-bounded (the shingle
  * substrate's cap stops quadratic candidate growth at any corpus
  * size); the DP cost per pair is bounded by the 160² prefix cap, so
  * the verify stage is O(pairs)·const forever, and the text prefixes
  * join in by doc key — full documents never ride the pair shuffle.
  */
object DedupQueries4 extends graft.QueryModule {
  /** Prefix cap for the edit-distance DP (chars). */
  private val PrefixChars = 160

  val queries: Map[String, Q] = Map(
    "dedup_edit_verify" -> ((s, d) => {
      import s.implicits._
      val txt = documents(s, d)
        .select($"doc_id", substring($"text", 1, PrefixChars).as("pre"))
      DedupQueries.jaccardPairs(s, d)
        .select($"d1", $"d2")
        .join(txt.select($"doc_id".as("d1"), $"pre".as("p1")), Seq("d1"))
        .join(txt.select($"doc_id".as("d2"), $"pre".as("p2")), Seq("d2"))
        .selectExpr("d1", "d2",
          "CAST(levenshtein(p1, p2) AS BIGINT) AS edit_dist",
          "CAST(GREATEST(length(p1), length(p2)) AS BIGINT) AS max_len")
        .selectExpr("d1", "d2", "edit_dist", "max_len",
          "10000 - (10000 * edit_dist) DIV max_len AS edit_sim_bp")
        .selectExpr("d1", "d2", "edit_dist", "max_len", "edit_sim_bp",
          "CASE WHEN edit_sim_bp >= 8000 THEN 1 ELSE 0 END AS is_char_dup")
        .orderBy($"d1", $"d2")
    })
  )

  val oracles: Map[String, String] = Map(
    "dedup_edit_verify" ->
      s"""WITH ${DedupQueries.pairsCte},
         |pre AS (SELECT doc_id, substring(text, 1, $PrefixChars) AS pre FROM documents),
         |scored AS (
         |  SELECT p.d1, p.d2,
         |    CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist,
         |    CAST(GREATEST(length(a.pre), length(b.pre)) AS BIGINT) AS max_len
         |  FROM pairs p
         |  JOIN pre a ON p.d1 = a.doc_id
         |  JOIN pre b ON p.d2 = b.doc_id)
         |SELECT d1, d2, edit_dist, max_len,
         |  10000 - (10000 * edit_dist) // max_len AS edit_sim_bp,
         |  CASE WHEN 10000 - (10000 * edit_dist) // max_len >= 8000
         |    THEN 1 ELSE 0 END AS is_char_dup
         |FROM scored ORDER BY d1, d2""".stripMargin
  )
}
