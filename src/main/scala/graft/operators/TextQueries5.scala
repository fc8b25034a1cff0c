package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Round-11 text-statistics additions:
  *
  *  - `text_heaps_law`     — Heaps'-law vocabulary-growth fit
  *    V(N) ≈ K·N^β over 20 corpus checkpoints;
  *  - `text_burstiness`    — Church–Gale term burstiness (observed df
  *    vs the Poisson-expected df at each term's rate);
  *  - `text_llr_keywords`  — Dunning log-likelihood-ratio keyness of
  *    English-document tokens vs the rest of the corpus (the
  *    chi-square-free G² alternative to text_chi2_keywords).
  *
  * Exactness: every statistic derives from exact integer token
  * counts; doubles appear once per output column in expression trees
  * shared verbatim with the DuckDB oracles (ln/exp are identical
  * correctly-rounded-enough libm calls on identical operands), and
  * regression coordinates are floor-quantized to nano-integers before
  * the decimal OLS sums.
  */
object TextQueries5 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)

  /** x·ln(x) with the 0·ln0 = 0 convention — shared text so Spark and
    * DuckDB evaluate identical double trees. */
  private def xlx(x: String): String =
    s"(CASE WHEN $x = 0 THEN 0.0 ELSE CAST($x AS DOUBLE) * ln(CAST($x AS DOUBLE)) END)"

  /** OLS slope over nano-quantized (x,y) sums — shared text. */
  private val slopeD =
    """(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      | / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""".stripMargin

  private val Checkpoints = 20

  val queries: Map[String, Q] = Map(
    // HEAPS' LAW: vocabulary size V vs corpus size N follows V≈K·N^β.
    // Growth is sampled at 20 doc-id checkpoints: N(t)=Σ tokens of
    // docs ≤ t (doc-count-sized ×20 fan-out, NOT token-sized), and
    // V(t)=#terms first seen ≤ t (vocabulary-sized ×20) — first
    // occurrence is min(doc_id) per term, a keyed aggregate, so there
    // is NO corpus-ordered window anywhere. The log–log OLS runs on
    // 20 nano-quantized points.
    "text_heaps_law" -> ((s, d) => {
      import s.implicits._
      val td = documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("ntok"))
      val firstDoc = documents(s, d)
        .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
        .groupBy($"tok").agg(min($"doc_id").as("first_doc"))
      val maxDoc = td.agg(max($"doc_id").as("max_doc"))
      val ks = s.range(1, Checkpoints + 1).select($"id".as("k"))
        .crossJoin(broadcast(maxDoc))
        .selectExpr("k", s"k * max_doc DIV $Checkpoints AS thr")
      val nAt = td.crossJoin(broadcast(ks))
        .filter($"doc_id" <= $"thr")
        .groupBy($"k").agg(sum($"ntok").as("n_tokens"))
      val vAt = firstDoc.crossJoin(broadcast(ks))
        .filter($"first_doc" <= $"thr")
        .groupBy($"k").agg(count(lit(1)).as("v_types"))
      val pts = nAt.join(vAt, Seq("k"))
        .selectExpr(
          "CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano",
          "CAST(FLOOR(ln(CAST(v_types AS DOUBLE)) * 1e9) AS BIGINT) AS y_nano")
      val g = pts.agg(count(lit(1)).as("m"),
        sum($"x_nano").as("sx"), sum($"y_nano").as("sy"),
        sum($"x_nano".cast(D19) * $"x_nano".cast(D19)).as("sxx"),
        sum($"x_nano".cast(D19) * $"y_nano".cast(D19)).as("sxy"),
        sum($"y_nano".cast(D19) * $"y_nano".cast(D19)).as("syy"))
      g.selectExpr("m",
        s"CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS beta_milli",
        s"""CAST(FLOOR(exp(
           | (CAST(sy AS DOUBLE) - ($slopeD) * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE)
           | / 1e9) * 1000.0) AS BIGINT) AS k_milli""".stripMargin,
        """CAST(FLOOR(
          | (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          | * 1000.0) AS BIGINT) AS r2_milli""".stripMargin)
    }),

    // CHURCH–GALE BURSTINESS: a term occurring tf times in an N-doc
    // corpus would, under Poisson mixing, appear in N·(1−e^(−tf/N))
    // docs; bursty terms (topical, content-bearing) concentrate in
    // far fewer. One token-census aggregate (tf, df per term — both
    // exact longs); the Poisson expectation and the burst ratio are
    // one shared double tree. Top-20 by tf with term tiebreak.
    "text_burstiness" -> ((s, d) => {
      import s.implicits._
      val census = documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
      census.crossJoin(broadcast(nDocs))
        .orderBy($"tf".desc, $"tok".asc).limit(20)
        .selectExpr("tok", "tf", "df", "n_docs",
          "tf * 1000 DIV df AS rate_milli",
          """CAST(FLOOR(CAST(n_docs AS DOUBLE)
            | * (1.0 - exp(-(CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))))
            | * 1000.0) AS BIGINT) AS expected_df_milli""".stripMargin,
          """CAST(FLOOR(CAST(n_docs AS DOUBLE)
            | * (1.0 - exp(-(CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))))
            | / CAST(df AS DOUBLE) * 1000.0) AS BIGINT)
            | AS burst_milli""".stripMargin)
        .orderBy($"tf".desc, $"tok".asc)
    }),

    // DUNNING LLR KEYNESS: which tokens characterize English docs vs
    // the rest? G² = 2·(Σ xlx(cells) + xlx(N) − Σ xlx(margins)) over
    // the exact 2×2 token counts — the sparse-safe alternative to the
    // χ² keyness query, with the 0·ln0=0 guard making absent cells
    // exact. One (token, is_en) census (vocab-sized output), margins
    // broadcast; tokens below tf 10 dropped (df-cap idiom). Top-20 by
    // G² with token tiebreak.
    "text_llr_keywords" -> ((s, d) => {
      import s.implicits._
      val cells = documents(s, d)
        .select(($"lang" === "en").as("is_en"),
          explode(split($"text", " ")).as("tok"))
        .groupBy($"tok")
        .agg(sum(when($"is_en", 1L).otherwise(0L)).as("k11"),
          sum(when(!$"is_en", 1L).otherwise(0L)).as("k12"))
        .filter($"k11" + $"k12" >= 10)
      val marg = documents(s, d)
        .select(($"lang" === "en").as("is_en"),
          size(split($"text", " ")).cast("long").as("ntok"))
        .agg(sum(when($"is_en", $"ntok").otherwise(0L)).as("n_en"),
          sum(when(!$"is_en", $"ntok").otherwise(0L)).as("n_rest"))
      val llr =
        s"""CAST(FLOOR(2.0 * (${xlx("k11")} + ${xlx("k12")}
           | + ${xlx("(n_en - k11)")} + ${xlx("(n_rest - k12)")}
           | + ${xlx("(n_en + n_rest)")}
           | - ${xlx("(k11 + k12)")} - ${xlx("n_en")} - ${xlx("n_rest")}
           | - ${xlx("(n_en + n_rest - k11 - k12)")}) * 1000.0) AS BIGINT)""".stripMargin
      cells.crossJoin(broadcast(marg))
        .selectExpr("tok", "k11", "k12", s"$llr AS llr_milli",
          // enrichment direction: cross-multiplied exact integers
          "k11 * n_rest > k12 * n_en AS en_enriched")
        .orderBy($"llr_milli".desc, $"tok".asc).limit(20)
        .orderBy($"llr_milli".desc, $"tok".asc)
    }),

    // QUALITY-GATE RETENTION SWEEP: the doc/token survival curve over
    // ten minimum-length gates (the "what does each threshold cost
    // us?" table a curation team reads before fixing a filter). One
    // corpus scan fans out ×10 against a broadcast threshold grid —
    // doc-count-sized, never token-sized — and every share is an
    // exact integer basis-point.
    "pipe_quality_gate_sweep" -> ((s, d) => {
      import s.implicits._
      val td = documents(s, d)
        .select($"n_chars".cast("long").as("nc"),
          size(split($"text", " ")).cast("long").as("ntok"))
      val tot = td.agg(count(lit(1)).as("n_all"), sum($"ntok").as("tok_all"))
      val thr = s.range(1, 11).select(($"id" * 100).as("thr"))
      td.crossJoin(broadcast(thr))
        .filter($"nc" >= $"thr")
        .groupBy($"thr")
        .agg(count(lit(1)).as("n_docs_kept"), sum($"ntok").as("n_tokens_kept"))
        .crossJoin(broadcast(tot))
        .selectExpr("thr", "n_docs_kept",
          "n_docs_kept * 10000 DIV n_all AS doc_share_bp",
          "n_tokens_kept",
          "n_tokens_kept * 10000 DIV tok_all AS token_share_bp")
        .orderBy($"thr")
    }),

    // TOKEN-BUDGET WATERFILL: allocate a 50%-of-corpus token budget
    // across sources — equal shares, capped at each source's
    // availability, with one redistribution round of the capped
    // surplus to the uncapped sources (the two-round unrolled
    // waterfill every mixture planner runs). Per-source aggregate is
    // the only corpus-sized work; the allocation arithmetic is exact
    // integer DIV on dimension-sized rows.
    "pipe_token_budget" -> ((s, d) => {
      import s.implicits._
      val per = documents(s, d)
        .select($"source", size(split($"text", " ")).cast("long").as("ntok"))
        .groupBy($"source").agg(sum($"ntok").as("avail"))
      val tot = per.agg(sum($"avail").as("total"), count(lit(1)).as("k"))
      val p1 = per.crossJoin(broadcast(tot))
        .selectExpr("source", "avail", "total DIV 2 AS b", "k")
        .selectExpr("source", "avail", "b", "b DIV k AS base")
        .selectExpr("source", "avail", "b",
          "LEAST(base, avail) AS a1", "avail > base AS uncapped")
      val l1 = p1.agg(max($"b").as("b"), sum($"a1").as("s_a1"),
          sum(when($"uncapped", 1L).otherwise(0L)).as("m"))
        .selectExpr("b - s_a1 AS leftover", "m")
      p1.crossJoin(broadcast(l1))
        .selectExpr("source", "avail",
          """CASE WHEN uncapped AND m > 0
            | THEN LEAST(a1 + leftover DIV m, avail) ELSE a1 END
            | AS alloc""".stripMargin,
          "uncapped = FALSE AS capped_round1")
        .selectExpr("source", "avail", "alloc",
          "alloc * 10000 DIV avail AS fill_bp", "capped_round1")
        .orderBy($"source")
    }),

    // POSITIONAL BIAS: do the corpus's heaviest terms front-load
    // (lead-paragraph bias) or spread evenly? Each occurrence gets an
    // exact basis-point relative position i·10⁴ DIV (len−1); per-term
    // means are integer DIVs of exact sums, so the census is
    // order-free. One posexplode scan → token-keyed aggregate; top-20
    // by tf under a (tf desc, tok) total order.
    "text_position_bias" -> ((s, d) => {
      import s.implicits._
      val pt = documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "tok")))
        .withColumn("len", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
        .filter($"len" >= 2)
        .selectExpr("tok", "CAST(i AS BIGINT) * 10000 DIV (len - 1) AS rel_bp")
      pt.groupBy($"tok")
        .agg(count(lit(1)).as("tf"), sum($"rel_bp").as("s_rel"))
        .selectExpr("tok", "tf", "s_rel DIV tf AS mean_pos_bp",
          "s_rel DIV tf < 4500 AS front_biased")
        .orderBy($"tf".desc, $"tok".asc).limit(20)
        .orderBy($"tf".desc, $"tok".asc)
    })
  )

  val oracles: Map[String, String] = Map(
    "text_heaps_law" ->
      s"""WITH td AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
         |  FROM documents),
         |firstdoc AS (
         |  SELECT tok, MIN(doc_id) AS first_doc FROM (
         |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents)
         |  GROUP BY tok),
         |ks AS (
         |  SELECT CAST(range AS BIGINT) AS k,
         |    CAST(range AS BIGINT) * (SELECT MAX(doc_id) FROM td) // $Checkpoints AS thr
         |  FROM range(1, ${Checkpoints + 1})),
         |nat AS (
         |  SELECT k, CAST(SUM(ntok) AS BIGINT) AS n_tokens
         |  FROM td CROSS JOIN ks WHERE doc_id <= thr GROUP BY k),
         |vat AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS v_types
         |  FROM firstdoc CROSS JOIN ks WHERE first_doc <= thr GROUP BY k),
         |pts AS (
         |  SELECT
         |    CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT) AS x_nano,
         |    CAST(FLOOR(ln(CAST(v_types AS DOUBLE)) * 1e9) AS BIGINT) AS y_nano
         |  FROM nat JOIN vat USING (k)),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(SUM(x_nano) AS BIGINT) AS sx, CAST(SUM(y_nano) AS BIGINT) AS sy,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(x_nano AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(x_nano AS DECIMAL(19,0)) * CAST(y_nano AS DECIMAL(19,0))) AS sxy,
         |    SUM(CAST(y_nano AS DECIMAL(19,0)) * CAST(y_nano AS DECIMAL(19,0))) AS syy
         |  FROM pts)
         |SELECT m,
         |  CAST(FLOOR(($slopeD) * 1000.0) AS BIGINT) AS beta_milli,
         |  CAST(FLOOR(exp(
         |   (CAST(sy AS DOUBLE) - ($slopeD) * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE)
         |   / 1e9) * 1000.0) AS BIGINT) AS k_milli,
         |  CAST(FLOOR(
         |   (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |   * 1000.0) AS BIGINT) AS r2_milli
         |FROM g""".stripMargin,

    "text_burstiness" ->
      """WITH census AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY tok),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |top AS (
        |  SELECT tok, tf, df, n_docs FROM census CROSS JOIN nd
        |  ORDER BY tf DESC, tok ASC LIMIT 20)
        |SELECT tok, tf, df, n_docs,
        |  tf * 1000 // df AS rate_milli,
        |  CAST(FLOOR(CAST(n_docs AS DOUBLE)
        |   * (1.0 - exp(-(CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |   * 1000.0) AS BIGINT) AS expected_df_milli,
        |  CAST(FLOOR(CAST(n_docs AS DOUBLE)
        |   * (1.0 - exp(-(CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |   / CAST(df AS DOUBLE) * 1000.0) AS BIGINT) AS burst_milli
        |FROM top ORDER BY tf DESC, tok ASC""".stripMargin,

    "text_llr_keywords" -> {
      val llr =
        s"""CAST(FLOOR(2.0 * (${xlx("k11")} + ${xlx("k12")}
           | + ${xlx("(n_en - k11)")} + ${xlx("(n_rest - k12)")}
           | + ${xlx("(n_en + n_rest)")}
           | - ${xlx("(k11 + k12)")} - ${xlx("n_en")} - ${xlx("n_rest")}
           | - ${xlx("(n_en + n_rest - k11 - k12)")}) * 1000.0) AS BIGINT)""".stripMargin
      s"""WITH cells AS (
         |  SELECT tok,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k11,
         |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k12
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY tok
         |  HAVING CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |       + CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) >= 10),
         |marg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN lang = 'en'
         |      THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS n_en,
         |    CAST(SUM(CASE WHEN lang <> 'en'
         |      THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS n_rest
         |  FROM documents)
         |SELECT tok, k11, k12, $llr AS llr_milli,
         |  k11 * n_rest > k12 * n_en AS en_enriched
         |FROM cells CROSS JOIN marg
         |ORDER BY llr_milli DESC, tok ASC LIMIT 20""".stripMargin
    },

    "pipe_quality_gate_sweep" ->
      """WITH td AS (
        |  SELECT CAST(n_chars AS BIGINT) AS nc,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all,
        |    CAST(SUM(ntok) AS BIGINT) AS tok_all FROM td),
        |thr AS (SELECT CAST(range AS BIGINT) * 100 AS thr FROM range(1, 11)),
        |kept AS (
        |  SELECT thr, CAST(count(*) AS BIGINT) AS n_docs_kept,
        |    CAST(SUM(ntok) AS BIGINT) AS n_tokens_kept
        |  FROM td CROSS JOIN thr WHERE nc >= thr GROUP BY thr)
        |SELECT thr, n_docs_kept,
        |  n_docs_kept * 10000 // n_all AS doc_share_bp,
        |  n_tokens_kept,
        |  n_tokens_kept * 10000 // tok_all AS token_share_bp
        |FROM kept CROSS JOIN tot ORDER BY thr""".stripMargin,

    "pipe_token_budget" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(avail) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS k FROM per),
        |p1 AS (
        |  SELECT source, avail, b, LEAST(b // k, avail) AS a1,
        |    avail > b // k AS uncapped
        |  FROM (SELECT source, avail, total // 2 AS b, k
        |        FROM per CROSS JOIN tot)),
        |l1 AS (
        |  SELECT CAST(MAX(b) AS BIGINT) - CAST(SUM(a1) AS BIGINT) AS leftover,
        |    CAST(SUM(CASE WHEN uncapped THEN 1 ELSE 0 END) AS BIGINT) AS m
        |  FROM p1),
        |fin AS (
        |  SELECT source, avail,
        |    CASE WHEN uncapped AND m > 0
        |      THEN LEAST(a1 + leftover // m, avail) ELSE a1 END AS alloc,
        |    uncapped = FALSE AS capped_round1
        |  FROM p1 CROSS JOIN l1)
        |SELECT source, avail, alloc,
        |  alloc * 10000 // avail AS fill_bp, capped_round1
        |FROM fin ORDER BY source""".stripMargin,

    "text_position_bias" ->
      """WITH pt AS (
        |  SELECT tok, CAST(i - 1 AS BIGINT) * 10000 // (len - 1) AS rel_bp
        |  FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok,
        |      generate_subscripts(string_split(text, ' '), 1) AS i,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |    FROM documents)
        |  WHERE len >= 2),
        |census AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(SUM(rel_bp) AS BIGINT) AS s_rel
        |  FROM pt GROUP BY tok)
        |SELECT tok, tf, s_rel // tf AS mean_pos_bp,
        |  s_rel // tf < 4500 AS front_biased
        |FROM census ORDER BY tf DESC, tok ASC LIMIT 20""".stripMargin
  )
}
