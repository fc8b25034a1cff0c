package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Round-11 dedup observability additions:
  *
  *  - `dedup_index_stats` — the shingle-index statistics page every
  *    LSH/dedup system exposes: df distribution buckets and the
  *    candidate-pair mass the df-cap removes (the number that says
  *    WHY the cap is the difference between linear and quadratic);
  *  - `dedup_cross_source` — the source×source near-dup matrix
  *    ("who copies from whom"), the provenance table a curation team
  *    reads before deciding which source to drop.
  *
  * Scale contract: both ride the shared shingle/pair substrates; the
  * df census is one keyed aggregate over the exploded shingle stream,
  * and the cross-source rollup joins pair-sized tables against the
  * doc→source map. Jaccard values are milli-floored per pair (exact,
  * both engines compute identical fold doubles) before any Σ.
  */
object DedupQueries2 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  val queries: Map[String, Q] = Map(
    "dedup_index_stats" -> ((s, d) => {
      import s.implicits._
      // Census groups on the shingle STRING, exactly as the oracle
      // does: the df histogram never feeds a join, so there is no
      // bandwidth reason to hash, and grouping on xxhash64 would
      // extend the substrate's collision-free assumption from the
      // df-capped join universe to the full uncapped shingle universe
      // (a 64-bit collision would silently shift the df buckets).
      val dfs = DedupQueries.docShingles(s, d)
        .select($"doc_id", explode($"sh").as("shingle"))
        .groupBy($"shingle").agg(count(lit(1)).as("df"))
      dfs.selectExpr(
          """CASE WHEN df = 1 THEN 'unique'
            | WHEN df <= 10 THEN 'small' ELSE 'capped' END AS bucket""".stripMargin,
          "df", "LEAST(df, 10) AS dfc")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_shingles"), sum($"df").as("occurrences"),
          sum($"df".cast(D19) * ($"df" - 1).cast(D19) / 2).as("pairs_raw"),
          sum($"dfc".cast(D19) * ($"dfc" - 1).cast(D19) / 2).as("pairs_capped"))
        .selectExpr("bucket", "n_shingles", "occurrences",
          "CAST(pairs_raw AS BIGINT) AS pairs_raw",
          "CAST(pairs_capped AS BIGINT) AS pairs_capped")
        .orderBy($"bucket")
    }),

    "dedup_cross_source" -> ((s, d) => {
      import s.implicits._
      val src = documents(s, d).select($"doc_id", $"source")
      DedupQueries.jaccardPairs(s, d)
        .join(src.select($"doc_id".as("d1"), $"source".as("src1")), Seq("d1"))
        .join(src.select($"doc_id".as("d2"), $"source".as("src2")), Seq("d2"))
        .select(least($"src1", $"src2").as("s1"),
          greatest($"src1", $"src2").as("s2"),
          expr("CAST(FLOOR(jaccard * 1000.0) AS BIGINT)").as("j_milli"))
        .groupBy($"s1", $"s2")
        .agg(count(lit(1)).as("n_pairs"), sum($"j_milli").as("s_j"))
        .selectExpr("s1", "s2", "n_pairs", "s_j DIV n_pairs AS mean_j_milli")
        .orderBy($"n_pairs".desc, $"s1".asc, $"s2".asc)
    })
  )

  val oracles: Map[String, String] = Map(
    "dedup_index_stats" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |   list_distinct(list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |dfs AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY shingle),
        |b AS (
        |  SELECT CASE WHEN df = 1 THEN 'unique'
        |          WHEN df <= 10 THEN 'small' ELSE 'capped' END AS bucket,
        |    df, LEAST(df, 10) AS dfc
        |  FROM dfs)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(df) AS BIGINT) AS occurrences,
        |  CAST(SUM(CAST(df AS DECIMAL(19,0)) * CAST(df - 1 AS DECIMAL(19,0)) / 2) AS BIGINT) AS pairs_raw,
        |  CAST(SUM(CAST(dfc AS DECIMAL(19,0)) * CAST(dfc - 1 AS DECIMAL(19,0)) / 2) AS BIGINT) AS pairs_capped
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "dedup_cross_source" ->
      s"""WITH ${DedupQueries.pairsCte},
         |lab AS (
         |  SELECT p.d1, p.d2, p.jaccard, a.source AS src1, b.source AS src2
         |  FROM pairs p
         |  JOIN documents a ON a.doc_id = p.d1
         |  JOIN documents b ON b.doc_id = p.d2),
         |m AS (
         |  SELECT LEAST(src1, src2) AS s1, GREATEST(src1, src2) AS s2,
         |    CAST(FLOOR(jaccard * 1000.0) AS BIGINT) AS j_milli
         |  FROM lab)
         |SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(j_milli) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_j_milli
         |FROM m GROUP BY s1, s2
         |ORDER BY n_pairs DESC, s1 ASC, s2 ASC""".stripMargin
  )
}
