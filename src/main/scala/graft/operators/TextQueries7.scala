package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 text additions:
  *
  *  - `text_textrank`     — TextRank keyword extraction: PageRank over
  *    the document-co-occurrence word graph (top-50-df vocabulary,
  *    edges = token pairs co-occurring in ≥2 documents). Where
  *    text_rake/llr/chi2 score keywords by frequency contrasts,
  *    TextRank scores by graph CENTRALITY — a term matters because it
  *    co-occurs with other terms that matter (the classic
  *    Mihalcea–Tarau '04 formulation, run here with the repo's
  *    integer-arithmetic PageRank so every round is exact).
  *  - `text_fleiss_kappa` — FLEISS' kappa across THREE raters of each
  *    document's language: the corpus label plus two independent sniff
  *    heuristics. text_langid_kappa is Cohen (2 raters); Fleiss is the
  *    multi-rater generalization a labeling pipeline reports when
  *    several annotators/models vote.
  *
  * Exactness: TextRank ranks live in integer trillionths (SCALE=1e12,
  * r ← 0.15·SCALE + 0.85·Σ⌊r/deg⌋, all operands non-negative so Spark
  * DIV == DuckDB //) — the dedup_graph_pagerank discipline; the DuckDB
  * twin replays the same 4 rounds as unrolled CTEs. Fleiss reduces to
  * two exact integer sums: S2 = Σ_docs Σ_cat n_ij² (per-doc CASE — 3
  * raters give 9/5/3 for unanimous/majority/split) and SC2 = Σ_cat
  * (column total)²; P̄ and P_e render by integer division and κ by one
  * shared double tree (widths: SC2 ≤ 9N² exact to N ≈ 3e9 docs;
  * SC2·10⁴ bounds the pe_bp render at N ≈ 9e6 — the langid_kappa
  * nested-floor note applies beyond that).
  *
  * Scale: one tokenize pass (corpus scan) feeds the vocab census and
  * the pair join; the word graph itself is vocabulary-sized (≤50
  * vertices) so the PageRank loop touches only broadcast-sized state.
  * Fleiss is one corpus scan to a doc-sized 3-label frame, then
  * category-sized aggregates.
  */
object TextQueries7 extends graft.QueryModule {
  private val SCALE = 1000000000000L
  private val ROUNDS = 4
  private val VOCAB = 50

  /** Rater #3: an alternative function-word/char sniff, deliberately
    * different evidence from TextQueries6.guessSql (rater #2). */
  private val Rater3Sql =
    """CASE WHEN contains(text, '的') OR contains(text, '是') THEN 'zh'
      | WHEN contains(text, ' und ') OR contains(text, ' ist ') THEN 'de'
      | WHEN contains(text, ' los ') OR contains(text, ' una ') THEN 'es'
      | WHEN contains(text, ' les ') OR contains(text, ' est ') THEN 'fr'
      | WHEN contains(text, ' and ') OR contains(text, ' of ') THEN 'en'
      | ELSE 'unk' END""".stripMargin

  /** Pre-checkpoint co-occurrence edge builder (package-visible so
    * PlanSpec can pin the vocab broadcast — the eager localCheckpoint
    * in the query truncates the plan it would otherwise see). */
  private[graft] def textrankEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val dt = documents(s, d)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
      .localCheckpoint() // one tokenize pass feeds census + pair join
    val vocab = dt.groupBy($"tok").agg(count(lit(1)).as("dfc"))
      .orderBy($"dfc".desc, $"tok").limit(VOCAB).select($"tok")
    val k = dt.join(broadcast(vocab), Seq("tok"))
    val a = k.select($"doc_id", $"tok".as("tok_a"))
    val b = k.select($"doc_id", $"tok".as("tok_b"))
    val pairs = a.join(b, Seq("doc_id")).filter($"tok_a" < $"tok_b")
      .groupBy($"tok_a", $"tok_b").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 2)
    pairs.select(explode(array(
        struct($"tok_a".as("src"), $"tok_b".as("dst")),
        struct($"tok_b".as("src"), $"tok_a".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
  }

  val queries: Map[String, Q] = Map(
    "text_textrank" -> ((s, d) => {
      import s.implicits._
      val edges = textrankEdges(s, d)
        .localCheckpoint() // vocab²-bounded (≤2·C(50,2) rows)
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      var rank = deg.select($"src".as("tok"), lit(SCALE).as("r"))
        .localCheckpoint()
      for (_ <- 1 to ROUNDS) {
        val recv = edges
          .join(rank.select($"tok".as("src"), $"r"), Seq("src"))
          .join(deg, Seq("src"))
          .select($"dst", expr("r DIV deg").as("c"))
          .groupBy($"dst").agg(sum($"c").as("csum"))
        rank = deg.select($"src".as("tok"))
          .join(recv.select($"dst".as("tok"), $"csum"), Seq("tok"), "left")
          .select($"tok",
            (lit(15L * (SCALE / 100L)) + expr("85 * coalesce(csum, 0L) DIV 100")).as("r"))
          .localCheckpoint()
      }
      deg.select($"src".as("tok"), $"deg").join(rank, Seq("tok"))
        .select($"tok", $"deg", $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"tok").limit(20)
    }),

    "text_fleiss_kappa" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d)
        .selectExpr("doc_id", "lang AS r1",
          s"${TextQueries6.guessSql} AS r2", s"$Rater3Sql AS r3")
        .localCheckpoint() // doc-sized 3-label frame, scanned twice
      val s2 = base.agg(count(lit(1)).as("n_docs"),
        sum(expr(
          """CASE WHEN r1 = r2 AND r2 = r3 THEN 9
            | WHEN r1 = r2 OR r1 = r3 OR r2 = r3 THEN 5
            | ELSE 3 END""".stripMargin)).cast("long").as("s2"))
      val cj = base.select(expr("stack(3, r1, r2, r3) AS cat"))
        .groupBy($"cat").agg(count(lit(1)).as("cn"))
      val sc2 = cj.agg(sum($"cn" * $"cn").cast("long").as("sc2"))
      s2.crossJoin(broadcast(sc2)).selectExpr(
        "n_docs", "s2", "sc2",
        "(s2 - 3 * n_docs) * 10000 DIV (6 * n_docs) AS pbar_bp",
        "(sc2 * 10000 DIV (9 * n_docs)) DIV n_docs AS pe_bp",
        """CAST(FLOOR((3.0 * CAST(n_docs AS DOUBLE) * CAST(s2 - 3 * n_docs AS DOUBLE)
          | - 2.0 * CAST(sc2 AS DOUBLE))
          | / (18.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
          |    - 2.0 * CAST(sc2 AS DOUBLE)) * 1e6) AS BIGINT) AS kappa_micro""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "text_textrank" -> {
      def iter(n: Int): String = {
        val prev = s"r${n - 1}"
        s"""r$n AS (
           |  SELECT d.src AS tok,
           |    CAST(${15L * (SCALE / 100L)} + 85 * COALESCE(c.csum, 0) // 100 AS BIGINT) AS r
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(r.r // g.deg) AS BIGINT) AS csum
           |    FROM edges e JOIN $prev r ON r.tok = e.src
           |    JOIN deg g ON g.src = e.src
           |    GROUP BY e.dst) c ON c.dst = d.src)""".stripMargin
      }
      s"""WITH dt AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM dt GROUP BY tok),
         |v AS (SELECT tok FROM df ORDER BY dfc DESC, tok LIMIT $VOCAB),
         |k AS MATERIALIZED (SELECT dt.doc_id, dt.tok FROM dt JOIN v USING (tok)),
         |p AS (
         |  SELECT a.tok AS tok_a, b.tok AS tok_b
         |  FROM k a JOIN k b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY a.tok, b.tok HAVING count(*) >= 2),
         |edges AS MATERIALIZED (
         |  SELECT tok_a AS src, tok_b AS dst FROM p
         |  UNION ALL SELECT tok_b, tok_a FROM p),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS tok, CAST($SCALE AS BIGINT) AS r FROM deg),
         |${(1 to ROUNDS).map(iter).mkString(",\n")}
         |SELECT d.src AS tok, d.deg, f.r AS rank_scaled
         |FROM deg d JOIN r$ROUNDS f ON f.tok = d.src
         |ORDER BY rank_scaled DESC, tok LIMIT 20""".stripMargin
    },

    "text_fleiss_kappa" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, lang AS r1, ${TextQueries6.guessSql} AS r2,
         |    $Rater3Sql AS r3
         |  FROM documents),
         |s2t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN r1 = r2 AND r2 = r3 THEN 9
         |      WHEN r1 = r2 OR r1 = r3 OR r2 = r3 THEN 5
         |      ELSE 3 END) AS BIGINT) AS s2
         |  FROM base),
         |cj AS (
         |  SELECT cat, CAST(count(*) AS BIGINT) AS cn FROM (
         |    SELECT r1 AS cat FROM base
         |    UNION ALL SELECT r2 FROM base
         |    UNION ALL SELECT r3 FROM base) u
         |  GROUP BY cat),
         |sc2t AS (SELECT CAST(SUM(cn * cn) AS BIGINT) AS sc2 FROM cj)
         |SELECT n_docs, s2, sc2,
         |  (s2 - 3 * n_docs) * 10000 // (6 * n_docs) AS pbar_bp,
         |  (sc2 * 10000 // (9 * n_docs)) // n_docs AS pe_bp,
         |  CAST(FLOOR((3.0 * CAST(n_docs AS DOUBLE) * CAST(s2 - 3 * n_docs AS DOUBLE)
         |    - 2.0 * CAST(sc2 AS DOUBLE))
         |    / (18.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |       - 2.0 * CAST(sc2 AS DOUBLE)) * 1e6) AS BIGINT) AS kappa_micro
         |FROM s2t CROSS JOIN sc2t""".stripMargin
  )
}
