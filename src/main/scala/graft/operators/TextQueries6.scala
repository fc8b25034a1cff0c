package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-12 text additions:
  *
  *  - `text_mattr_window` — MOVING-AVERAGE type-token ratio (MATTR,
  *    window 25): per-doc mean distinct-token share over every sliding
  *    25-token window. Plain TTR (text_lexical_diversity) confounds
  *    vocabulary richness with document LENGTH (longer docs repeat
  *    more); MATTR is the length-invariant richness signal quality
  *    filters actually want;
  *  - `text_langid_kappa` — COHEN'S KAPPA of the heuristic language
  *    identifier against the corpus labels: chance-corrected agreement
  *    from the same confusion matrix text_lang_id reports raw. The
  *    marginal-product expected agreement is exact integer arithmetic;
  *    the classifier sniff rule is ONE shared SQL string on both
  *    engines.
  *
  * Scale: MATTR explodes each token occurrence into ≤W window slots —
  * a bounded ×25 of the token stream, all keyed aggregates after (the
  * distinct is per (doc, window, token), partitioned by doc). Kappa is
  * one corpus scan to a classes² matrix.
  */
object TextQueries6 extends graft.QueryModule {
  private val W = 25

  /** The text_lang_id sniff rule as one shared SQL string (also rater
    * #2 of text_fleiss_kappa in TextQueries7). */
  private[operators] val guessSql =
    """CASE WHEN contains(text, ' the ') THEN 'en'
      | WHEN contains(text, ' el ') THEN 'es'
      | WHEN contains(text, ' der ') THEN 'de'
      | WHEN contains(text, ' le ') THEN 'fr'
      | WHEN contains(text, '的') THEN 'zh'
      | ELSE 'unk' END""".stripMargin

  val queries: Map[String, Q] = Map(
    // The naive plan (explode each occurrence into its ≤W window slots,
    // distinct per (doc, window, token)) is a ×W shuffle. This plan is
    // the EXACT identity rewrite: Σ_w |types(w)| counts each occurrence
    // once per window where it is the FIRST occurrence of its token —
    // i.e. windows w ∈ [max(pos, W−1, prev+W), min(pos+W−1, ntok−1)]
    // where prev is the token's previous position in the doc (lag over
    // (doc, token)). One keyed window pass + one aggregate — no
    // explode, no distinct, linear at any W. TTR rides the same pass
    // (n_types = # first occurrences). The oracle keeps the naive
    // slice formulation as the spec; values are identical by the
    // first-occurrence identity.
    "text_mattr_window" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val toks = documents(s, d)
        .select($"doc_id", size(tokens($"text")).as("ntok"),
          posexplode(tokens($"text")).as(Seq("pos", "tok")))
        .filter($"ntok" >= W) // MATTR undefined below one window
      val wPrev = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id", $"tok").orderBy($"pos")
      val contrib = toks
        .withColumn("prev", lag($"pos", 1).over(wPrev))
        .select($"doc_id", $"ntok",
          greatest($"pos", lit(W - 1), coalesce($"prev" + W, lit(W - 1))).as("lo"),
          least($"pos" + W - 1, $"ntok" - 1).as("hi"),
          $"prev".isNull.cast("long").as("isfirst"))
      contrib.groupBy($"doc_id", $"ntok")
        .agg(sum(greatest(lit(0), $"hi" - $"lo" + 1).cast("long")).as("sum_types"),
          sum($"isfirst").as("n_types"))
        .selectExpr("doc_id", "ntok", s"CAST(ntok - ${W - 1} AS BIGINT) AS n_windows",
          "n_types * 1000 DIV ntok AS ttr_milli",
          s"sum_types * 1000 DIV (CAST(ntok - ${W - 1} AS BIGINT) * $W) AS mattr_milli")
        .orderBy($"doc_id")
    }),

    "text_langid_kappa" -> ((s, d) => {
      import s.implicits._
      val m = documents(s, d)
        .selectExpr("lang", s"$guessSql AS guess")
        .groupBy($"lang", $"guess").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // classes²-sized; feeds 3 marginal consumers
      val tot = m.agg(sum($"cnt").as("n"),
        sum(when($"lang" === $"guess", $"cnt").otherwise(0L)).as("n_agree"))
      val rows = m.groupBy($"lang").agg(sum($"cnt").as("rn"))
      val cols = m.groupBy($"guess").agg(sum($"cnt").as("cn"))
      val pe = rows.join(cols, $"lang" === $"guess")
        .agg(coalesce(sum($"rn" * $"cn"), lit(0L)).as("pe_num"))
      tot.crossJoin(pe) // both single-row
        // pe_bp = ⌊pe_num·10⁴ / n²⌋ computed WITHOUT ever forming
        // pe_num·10⁴ or n² in BIGINT: with pe_num = q·n + r,
        // ⌊pe_num·10⁴/n²⌋ = ⌊(q·10⁴ + ⌊r·10⁴/n⌋)/n⌋ exactly (the
        // standard nested-floor identity ⌊⌊a/b⌋/c⌋ = ⌊a/(b·c)⌋ applied
        // twice). Width: q ≤ n and r < n, so every
        // intermediate is ≤ n·10⁴ — safe to n ≈ 9e14 docs. The one
        // remaining BIGINT bound is pe_num itself (Σ rn·cn ≤ n²),
        // exact to n ≈ 3e9 docs; beyond that the marginal sums rn/cn
        // stay exact and pe should move to DOUBLE fractions (scale
        // note in SURVEY §2.4 width discipline).
        .selectExpr("n", "n_agree",
          "n_agree * 10000 DIV n AS po_bp",
          "((pe_num DIV n) * 10000 + ((pe_num % n) * 10000) DIV n) DIV n AS pe_bp",
          """CAST(FLOOR((CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE)
            | - CAST(pe_num AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(pe_num AS DOUBLE))
            | * 1e6) AS BIGINT) AS kappa_micro""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "text_mattr_window" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS ntok FROM tok WHERE len(t) >= $W),
         |win AS (
         |  SELECT doc_id, ntok, unnest(range($W, ntok + 1)) AS e, t FROM base),
         |ty AS (
         |  SELECT doc_id, ntok, e,
         |    CAST(len(list_distinct(t[e - ${W - 1}:e])) AS BIGINT) AS ty
         |  FROM win),
         |perdoc AS (
         |  SELECT doc_id, CAST(MAX(ntok) AS BIGINT) AS ntok,
         |    CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(SUM(ty) AS BIGINT) AS sum_types
         |  FROM ty GROUP BY doc_id),
         |ttr AS (
         |  SELECT doc_id, CAST(len(list_distinct(t)) AS BIGINT) AS n_types FROM base)
         |SELECT p.doc_id, p.ntok, p.n_windows,
         |  r.n_types * 1000 // p.ntok AS ttr_milli,
         |  p.sum_types * 1000 // (p.n_windows * $W) AS mattr_milli
         |FROM perdoc p JOIN ttr r ON r.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin,

    "text_langid_kappa" ->
      s"""WITH m AS (
         |  SELECT lang, $guessSql AS guess, CAST(count(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY lang, guess),
         |tot AS (
         |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN lang = guess THEN cnt ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM m),
         |r AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS rn FROM m GROUP BY lang),
         |c AS (SELECT guess, CAST(SUM(cnt) AS BIGINT) AS cn FROM m GROUP BY guess),
         |pe AS (
         |  SELECT CAST(COALESCE(SUM(rn * cn), 0) AS BIGINT) AS pe_num
         |  FROM r JOIN c ON c.guess = r.lang)
         |SELECT n, n_agree,
         |  n_agree * 10000 // n AS po_bp,
         |  ((pe_num // n) * 10000 + ((pe_num % n) * 10000) // n) // n AS pe_bp,
         |  CAST(FLOOR((CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE)
         |    - CAST(pe_num AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(pe_num AS DOUBLE))
         |    * 1e6) AS BIGINT) AS kappa_micro
         |FROM tot CROSS JOIN pe""".stripMargin
  )
}
