package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions.tokens

/** Round-14 batch-8 vocabulary-spectrum statistics — both queries ride
  * ONE substrate, the token FREQUENCY SPECTRUM (m, v(m)) = "how many
  * distinct tokens occur exactly m times", the classic object of
  * lexical statistics that `text_zipf_fit` (rank side) and
  * `text_heaps_law` (growth side) approach from other angles:
  *
  *  - `text_yule_k`       — Yule's K vocabulary-concentration
  *    characteristic K = 10⁴·(Σm²v(m) − N)/N², plus Simpson's D
  *    (repeat-rate), the hapax/dis-legomena census and Herdan's C
  *    (lnV/lnN) — the corpus-health panel that separates natural text
  *    (K ≈ 60–200) from templated or generated text (K explodes when
  *    a few tokens dominate);
  *  - `text_good_turing`  — the Good–Turing frequency re-estimation
  *    table r* = (r+1)·v(r+1)/v(r) for r = 1..5 and the leave-one-out
  *    unseen-mass estimate P₀ = v(1)/N — THE classical smoothing
  *    quantity under every held-out LM estimate (`text_kneser_ney`'s
  *    absolute discount approximates exactly this table).
  *
  * Exactness: the spectrum is pure integer counting; N, V, Σm²v(m),
  * Σm(m−1)v(m) are exact BIGINTs (Σm²v ≤ N·max-freq stays far inside
  * int64 and below 2⁵³ at any tested scale), so K/D/r* evaluate as
  * single floors over identical integers; Herdan's C is two
  * single-value libm lns, milli-floored. Good–Turing's v(r) = 0 edge
  * guards to NULL on both engines.
  *
  * Scale: one token explode → (token, m) keyed aggregate →
  * spectrum-sized (≤ max-frequency rows) second aggregate; nothing
  * downstream of the first aggregate depends on corpus size — the
  * spectrum frame is bounded by the most frequent token's count, and
  * the statistics are single partial+final sums over it.
  */
object TextQueries8 extends graft.QueryModule {
  /** Spark-side spectrum (m, v) builder shared by both queries. */
  private def spectrum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(explode(tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("m"))
      .groupBy($"m").agg(count(lit(1)).as("v"))
  }

  /** DuckDB twin of [[spectrum]] (shared CTE text). */
  private val spectrumCte =
    """spec AS MATERIALIZED (
      |  SELECT m, CAST(COUNT(*) AS BIGINT) AS v FROM (
      |    SELECT tok, CAST(COUNT(*) AS BIGINT) AS m
      |    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |    GROUP BY tok)
      |  GROUP BY m)""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_yule_k" -> ((s, d) => {
      import s.implicits._
      spectrum(s, d)
        .agg(sum($"m" * $"v").as("n_tokens"),
          sum($"v").as("vocab"),
          sum($"m" * $"m" * $"v").as("s2"),
          sum($"m" * ($"m" - 1L) * $"v").as("srr"),
          sum(when($"m" === 1L, $"v").otherwise(0L)).as("hapax"),
          sum(when($"m" === 2L, $"v").otherwise(0L)).as("dis_legomena"))
        .selectExpr("n_tokens", "vocab", "hapax", "dis_legomena",
          "(10000 * hapax) DIV vocab AS hapax_bp",
          // K = 10⁴(S2 − N)/N², milli: one double tree over exact ints
          """CAST(FLOOR(1.0e7 * CAST(s2 - n_tokens AS DOUBLE)
            | / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))) AS BIGINT)
            | AS yule_k_milli""".stripMargin,
          // Simpson repeat-rate D = Σm(m−1)v / (N(N−1)), micro
          """CAST(FLOOR(1.0e6 * CAST(srr AS DOUBLE)
            | / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))) AS BIGINT)
            | AS simpson_micro""".stripMargin,
          // Herdan's C = lnV/lnN, milli (two single-value libm calls)
          """CAST(FLOOR(1000.0 * ln(CAST(vocab AS DOUBLE))
            | / ln(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS herdan_c_milli""".stripMargin)
    }),

    // BURROWS' DELTA stylometric distance between sources: z-score
    // each source's usage rate of the top-30 corpus tokens (function
    // words dominate that set — the classical authorship signal),
    // then Delta(s1, s2) = mean |z1 − z2|. The "do these crawl
    // sources write alike?" panel next to text_source_drift's
    // distribution shift. Exactness: per-source micro rates are
    // integer floors; cross-source z-scores floor to milli PER
    // (source, token) CELL (30·|sources| cells — the bartlett
    // discipline) with the zero-variance token guarded to 0; Delta is
    // an integer mean. Scale: one token explode → two keyed
    // aggregates; everything downstream is (sources × 30)-sized.
    "text_burrows_delta" -> ((s, d) => {
      import s.implicits._
      val tok = documents(s, d)
        .select($"source", explode(tokens($"text")).as("t"))
      val perST = tok.groupBy($"source", $"t").agg(count(lit(1)).as("c"))
      val perS = tok.groupBy($"source").agg(count(lit(1)).as("ns"))
      val top = tok.groupBy($"t").agg(count(lit(1)).as("ct"))
        .orderBy($"ct".desc, $"t".asc).limit(30) // TakeOrdered — vocab never sorts
      val dense = perS.crossJoin(broadcast(top.select($"t")))
        .join(perST, Seq("source", "t"), "left")
        .selectExpr("source", "t", "(1000000 * COALESCE(c, 0)) DIV ns AS r")
      val wt = Window.partitionBy($"t") // 30-token partitions
      val z = dense
        .withColumn("k", count(lit(1)).over(wt))
        .withColumn("sr", sum($"r").over(wt))
        .withColumn("srr", sum($"r" * $"r").over(wt))
        .selectExpr("source", "t",
          """CASE WHEN k * srr - sr * sr = 0 THEN 0
            | ELSE CAST(FLOOR(1000.0 * CAST(k * r - sr AS DOUBLE)
            |   / sqrt(CAST(k * srr - sr * sr AS DOUBLE))) AS BIGINT)
            | END AS z_milli""".stripMargin)
      z.as("a").join(z.as("b"),
          $"a.t" === $"b.t" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("s1"), $"b.source".as("s2"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(abs($"a.z_milli" - $"b.z_milli")).as("sad"))
        .selectExpr("s1", "s2", "n_tokens", "sad DIV n_tokens AS delta_milli")
        .orderBy($"s1", $"s2")
    }),

    "text_good_turing" -> ((s, d) => {
      import s.implicits._
      val spec = spectrum(s, d).localCheckpoint() // spectrum-sized, read 3×
      val tot = spec.agg(sum($"m" * $"v").as("n_tokens"),
        sum(when($"m" === 1L, $"v").otherwise(0L)).as("v1"))
        .selectExpr("n_tokens", "v1", "(10000 * v1) DIV n_tokens AS p_unseen_bp")
      val grid = (1L to 5L).toDF("r")
      grid
        .join(spec.selectExpr("m AS r", "v AS v_r"), Seq("r"), "left")
        .join(spec.selectExpr("m - 1 AS r", "v AS v_r1"), Seq("r"), "left")
        .selectExpr("r", "COALESCE(v_r, 0) AS v_r", "COALESCE(v_r1, 0) AS v_r1")
        .selectExpr("r", "v_r", "v_r1",
          // r* = (r+1)v(r+1)/v(r), milli; v(r) = 0 guards to NULL
          """CASE WHEN v_r = 0 THEN CAST(NULL AS BIGINT)
            | ELSE (1000 * (r + 1) * v_r1) DIV v_r END AS rstar_milli""".stripMargin)
        .crossJoin(broadcast(tot))
        .select($"r", $"v_r", $"v_r1", $"rstar_milli",
          $"n_tokens", $"p_unseen_bp")
        .orderBy($"r")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_yule_k" ->
      s"""WITH $spectrumCte,
         |t AS (
         |  SELECT CAST(SUM(m * v) AS BIGINT) AS n_tokens,
         |    CAST(SUM(v) AS BIGINT) AS vocab,
         |    CAST(SUM(m * m * v) AS BIGINT) AS s2,
         |    CAST(SUM(m * (m - 1) * v) AS BIGINT) AS srr,
         |    CAST(SUM(CASE WHEN m = 1 THEN v ELSE 0 END) AS BIGINT) AS hapax,
         |    CAST(SUM(CASE WHEN m = 2 THEN v ELSE 0 END) AS BIGINT) AS dis_legomena
         |  FROM spec)
         |SELECT n_tokens, vocab, hapax, dis_legomena,
         |  (10000 * hapax) // vocab AS hapax_bp,
         |  CAST(FLOOR(1.0e7 * CAST(s2 - n_tokens AS DOUBLE)
         |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))) AS BIGINT)
         |    AS yule_k_milli,
         |  CAST(FLOOR(1.0e6 * CAST(srr AS DOUBLE)
         |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))) AS BIGINT)
         |    AS simpson_micro,
         |  CAST(FLOOR(1000.0 * ln(CAST(vocab AS DOUBLE))
         |    / ln(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS herdan_c_milli
         |FROM t""".stripMargin,

    "text_burrows_delta" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |per_st AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM tok GROUP BY source, t),
        |per_s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM tok GROUP BY source),
        |top AS (SELECT t FROM (
        |  SELECT t, COUNT(*) AS ct FROM tok GROUP BY t
        |  ORDER BY ct DESC, t ASC LIMIT 30)),
        |dense AS (
        |  SELECT s.source, top.t,
        |    (1000000 * COALESCE(p.c, 0)) // s.ns AS r
        |  FROM per_s s CROSS JOIN top
        |  LEFT JOIN per_st p ON p.source = s.source AND p.t = top.t),
        |z AS MATERIALIZED (
        |  SELECT source, t,
        |    CASE WHEN k * srr - sr * sr = 0 THEN 0
        |      ELSE CAST(FLOOR(1000.0 * CAST(k * r - sr AS DOUBLE)
        |        / sqrt(CAST(k * srr - sr * sr AS DOUBLE))) AS BIGINT)
        |      END AS z_milli
        |  FROM (
        |    SELECT source, t, r,
        |      CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS k,
        |      CAST(SUM(r) OVER (PARTITION BY t) AS BIGINT) AS sr,
        |      CAST(SUM(r * r) OVER (PARTITION BY t) AS BIGINT) AS srr
        |    FROM dense))
        |SELECT a.source AS s1, b.source AS s2,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(abs(a.z_milli - b.z_milli)) AS BIGINT)
        |    // CAST(COUNT(*) AS BIGINT) AS delta_milli
        |FROM z a JOIN z b ON a.t = b.t AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY s1, s2""".stripMargin,

    "text_good_turing" ->
      s"""WITH $spectrumCte,
         |tot AS (
         |  SELECT CAST(SUM(m * v) AS BIGINT) AS n_tokens,
         |    (10000 * CAST(SUM(CASE WHEN m = 1 THEN v ELSE 0 END) AS BIGINT))
         |      // CAST(SUM(m * v) AS BIGINT) AS p_unseen_bp
         |  FROM spec),
         |grid AS (SELECT unnest(range(1, 6)) AS r),
         |j AS (
         |  SELECT g.r,
         |    COALESCE(s1.v, 0) AS v_r,
         |    COALESCE(s2.v, 0) AS v_r1
         |  FROM grid g
         |  LEFT JOIN spec s1 ON s1.m = g.r
         |  LEFT JOIN spec s2 ON s2.m = g.r + 1)
         |SELECT CAST(r AS BIGINT) AS r, v_r, v_r1,
         |  CASE WHEN v_r = 0 THEN CAST(NULL AS BIGINT)
         |    ELSE (1000 * (CAST(r AS BIGINT) + 1) * v_r1) // v_r END AS rstar_milli,
         |  n_tokens, p_unseen_bp
         |FROM j CROSS JOIN tot
         |ORDER BY r""".stripMargin
  )
}
