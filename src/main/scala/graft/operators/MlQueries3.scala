package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-12 ML addition: LOGISTIC REGRESSION by two exact Newton–Raphson
  * (IRLS) steps over the return-flag target — the classifier family the
  * repo's GD hinge (ml_svm_gd) and closed-form ridge (ml_ridge_closed)
  * don't cover: a probabilistic linear model fit by second-order
  * iteration, distributed the way 100 TB logistic regressions actually
  * are (per-partition sufficient-statistic sums → a 3×3 driver-side
  * solve → broadcast weights back).
  *
  * Exactness (the pNano discipline at per-row granularity): weights are
  * INTEGER micro-units, so z = (w·x)/1e6 is an identical double on both
  * engines; each row's gradient residual (y−σ) and Hessian weight
  * σ(1−σ) are floor-quantized to micro BEFORE the Σ — the corpus sums
  * are exact integers at any aggregation order — and the Newton solve
  * (Cramer on the 3×3) is a single-row double tree shared verbatim with
  * the oracle. Step 1 from w=0 has σ=0.5 EXACTLY (exp(0)=1 on any
  * libm), so no special-casing: both steps run the same generic pass.
  *
  * Scale: each Newton step is ONE corpus aggregate with map-side
  * partial sums (9 sufficient statistics); the weight row broadcasts.
  * Nothing else exists — no per-row state, no driver data.
  */
object MlQueries3 extends graft.QueryModule {
  /** z and σ over integer micro-weights w1/w2/b — shared text. */
  private val zE =
    "((CAST(w1 AS DOUBLE) * x1 + CAST(w2 AS DOUBLE) * x2 + CAST(b AS DOUBLE)) / 1e6)"
  private val sigE = s"(1.0 / (1.0 + exp(-$zE)))"

  /** The 9 sufficient-statistic aggregates over per-row micro-quantized
    * residual r and Hessian weight h (shared column text). */
  private val suffE = Seq(
    "SUM(r)            AS g0", "SUM(r * x1)       AS g1", "SUM(r * x2)       AS g2",
    "SUM(h)            AS h00", "SUM(h * x1)       AS h01", "SUM(h * x2)       AS h02",
    "SUM(h * x1 * x1)  AS h11", "SUM(h * x1 * x2)  AS h12", "SUM(h * x2 * x2)  AS h22")

  /** Cramer solve + weight update, all doubles from exact integer sums
    * (micro scales cancel: H and g are both ×1e6). Shared text. */
  private val newtonE = {
    val det =
      """(CAST(h00 AS DOUBLE) * (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE))
        | - CAST(h01 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h02 AS DOUBLE))
        | + CAST(h02 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(h12 AS DOUBLE) - CAST(h11 AS DOUBLE) * CAST(h02 AS DOUBLE)))""".stripMargin
    val detB =
      """(CAST(g0 AS DOUBLE) * (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE))
        | - CAST(h01 AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(g2 AS DOUBLE))
        | + CAST(h02 AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(h12 AS DOUBLE) - CAST(h11 AS DOUBLE) * CAST(g2 AS DOUBLE)))""".stripMargin
    val detW1 =
      """(CAST(h00 AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(g2 AS DOUBLE) * CAST(h12 AS DOUBLE))
        | - CAST(g0 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h02 AS DOUBLE))
        | + CAST(h02 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(h02 AS DOUBLE)))""".stripMargin
    val detW2 =
      """(CAST(h00 AS DOUBLE) * (CAST(h11 AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(h12 AS DOUBLE))
        | - CAST(h01 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(h02 AS DOUBLE))
        | + CAST(g0 AS DOUBLE) * (CAST(h01 AS DOUBLE) * CAST(h12 AS DOUBLE) - CAST(h11 AS DOUBLE) * CAST(h02 AS DOUBLE)))""".stripMargin
    Seq(
      s"w1 + CAST(FLOOR($detW1 / $det * 1e6) AS BIGINT) AS w1",
      s"w2 + CAST(FLOOR($detW2 / $det * 1e6) AS BIGINT) AS w2",
      s"b + CAST(FLOOR($detB / $det * 1e6) AS BIGINT) AS b")
  }

  /** The (x1, x2, y) feature frame, checkpointed so the Newton passes
    * and downstream evaluations share one scan. */
  private def features(s: SparkSession, d: String): DataFrame =
    // r20: fanOutScan before the checkpoint — the single-row-group scan
    // otherwise pins every Newton/score pass to ONE task (the q113
    // seam); all consumers aggregate exact integers (order-independent)
    // or re-rank through GlobalRank, so the results are bit-identical.
    graft.Tables.fanOutScan(s, lineitem(s, d).selectExpr(
      "concat(CAST(l_orderkey AS STRING), '#', CAST(l_linenumber AS STRING)) AS rkey",
      "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
      "CAST(l_quantity AS BIGINT) - 25 AS x2",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y"),
      org.apache.spark.sql.functions.col("rkey"))
      .localCheckpoint()

  /** Two Newton-IRLS steps from w = 0; returns the single-row
    * (w1, w2, b) micro-weight frame. */
  private def fit2(s: SparkSession, t: DataFrame): DataFrame = {
    import t.sparkSession.implicits._
    def step(w: DataFrame): DataFrame =
      t.crossJoin(broadcast(w)) // single-row weight side
        .selectExpr("x1", "x2", "w1", "w2", "b",
          s"CAST(FLOOR((CAST(y AS DOUBLE) - $sigE) * 1e6) AS BIGINT) AS r",
          s"CAST(FLOOR($sigE * (1.0 - $sigE) * 1e6) AS BIGINT) AS h")
        .groupBy($"w1", $"w2", $"b")
        .agg(expr(suffE.head), suffE.tail.map(expr): _*)
        .selectExpr(newtonE: _*)
    val w0 = s.range(1).selectExpr(
      "CAST(0 AS BIGINT) AS w1", "CAST(0 AS BIGINT) AS w2", "CAST(0 AS BIGINT) AS b")
    step(step(w0))
  }

  val queries: Map[String, Q] = Map(
    "ml_logreg_newton" -> ((s, d) => {
      import s.implicits._
      val t = features(s, d)
      val w2s = fit2(s, t)
      t.crossJoin(broadcast(w2s))
        .groupBy($"w1", $"w2", $"b")
        .agg(
          count(lit(1)).as("n"),
          sum(expr(s"CASE WHEN ($zE > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("n_correct"),
          sum($"y").as("n_pos"),
          sum(expr(
            s"""CAST(FLOOR(-(CAST(y AS DOUBLE) * ln($sigE)
               | + (1.0 - CAST(y AS DOUBLE)) * ln(1.0 - $sigE)) * 1e6) AS BIGINT)""".stripMargin))
            .as("nll_sum"))
        .selectExpr("w1 AS w1_micro", "w2 AS w2_micro", "b AS b_micro", "n",
          "n_correct", "n_correct * 10000 DIV n AS acc_bp",
          "n_pos * 10000 DIV n AS base_rate_bp",
          "nll_sum DIV n AS nll_micro_mean")
    }),

    // PERMUTATION FEATURE IMPORTANCE for the fitted logreg: break the
    // feature↔label link by a DETERMINISTIC md5-order pair-swap
    // permutation (rank every row by md5(key) with GlobalRank, swap
    // feature values between xor-adjacent ranks — a product of random
    // transpositions that preserves each feature's multiset exactly,
    // reproducible on both engines), then re-score accuracy with each
    // feature swapped in turn. importance = acc drop in bp. The swap
    // partner join fetches BOTH features at once, so the three
    // accuracies (base, x1-swapped, x2-swapped) ride ONE final
    // aggregate — fit (2 passes) + rank (2-pass GlobalRank) + one
    // rank-keyed self-join + one scan, at any corpus size.
    "ml_permutation_importance" -> ((s, d) => {
      import s.implicits._
      val t = features(s, d)
      val w2s = fit2(s, t)
      val (ranked, n) = GlobalRank.withRank(
        t.withColumn("hk", md5($"rkey".cast("binary"))),
        "rk", Seq($"hk".asc, $"rkey".asc))
      val partnered = ranked
        .withColumn("pr", expr(s"CASE WHEN ((rk - 1) ^ 1) + 1 > ${n}L THEN rk" +
          " ELSE ((rk - 1) ^ 1) + 1 END"))
        .select($"rk", $"pr", $"x1", $"x2", $"y")
      val swapped = partnered
        .join(partnered.select($"rk".as("pr"), $"x1".as("x1p"), $"x2".as("x2p")),
          Seq("pr"))
      val zb = zE
      val z1 = zE.replace("x1", "x1p")
      val z2 = zE.replace("x2", "x2p")
      swapped.crossJoin(broadcast(w2s))
        .groupBy($"w1", $"w2", $"b")
        .agg(count(lit(1)).as("n"),
          sum(expr(s"CASE WHEN ($zb > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("c0"),
          sum(expr(s"CASE WHEN ($z1 > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("c1"),
          sum(expr(s"CASE WHEN ($z2 > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("c2"))
        .selectExpr("n",
          "c0 * 10000 DIV n AS acc_base_bp",
          "c1 * 10000 DIV n AS acc_permx1_bp",
          "c2 * 10000 DIV n AS acc_permx2_bp",
          // difference of the two already-floored bp values — a swap
          // that improves accuracy yields a negative importance with
          // NO negative division (DIV/"//" agree only on non-negatives)
          "c0 * 10000 DIV n - c1 * 10000 DIV n AS imp_x1_bp",
          "c0 * 10000 DIV n - c2 * 10000 DIV n AS imp_x2_bp")
    })
  )

  /** One Newton step as a pair of oracle CTEs over the `t` frame. */
  private def stepCte(prev: String, sums: String, next: String): String =
        s"""$sums AS (
           |  SELECT w1, w2, b,
           |    ${Seq(
               s"CAST(SUM(r) AS BIGINT) AS g0",
               s"CAST(SUM(r * x1) AS BIGINT) AS g1",
               s"CAST(SUM(r * x2) AS BIGINT) AS g2",
               s"CAST(SUM(h) AS BIGINT) AS h00",
               s"CAST(SUM(h * x1) AS BIGINT) AS h01",
               s"CAST(SUM(h * x2) AS BIGINT) AS h02",
               s"CAST(SUM(h * x1 * x1) AS BIGINT) AS h11",
               s"CAST(SUM(h * x1 * x2) AS BIGINT) AS h12",
               s"CAST(SUM(h * x2 * x2) AS BIGINT) AS h22").mkString(",\n    ")}
           |  FROM (
           |    SELECT x1, x2, w.w1, w.w2, w.b,
           |      CAST(FLOOR((CAST(y AS DOUBLE) - $sigE) * 1e6) AS BIGINT) AS r,
           |      CAST(FLOOR($sigE * (1.0 - $sigE) * 1e6) AS BIGINT) AS h
           |    FROM t CROSS JOIN $prev w) q
           |  GROUP BY w1, w2, b),
           |$next AS (
           |  SELECT ${newtonE.mkString(",\n    ")} FROM $sums)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_logreg_newton" ->
      s"""WITH t AS (
         |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
         |    CAST(l_quantity AS BIGINT) - 25 AS x2,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
         |       CAST(0 AS BIGINT) AS b),
         |${stepCte("w0", "s1", "w1s")},
         |${stepCte("w1s", "s2", "w2s")},
         |f AS (
         |  SELECT w.w1, w.w2, w.b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN ($zE > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(SUM(CAST(FLOOR(-(CAST(y AS DOUBLE) * ln($sigE)
         |      + (1.0 - CAST(y AS DOUBLE)) * ln(1.0 - $sigE)) * 1e6) AS BIGINT)) AS BIGINT) AS nll_sum
         |  FROM t CROSS JOIN w2s w GROUP BY w.w1, w.w2, w.b)
         |SELECT w1 AS w1_micro, w2 AS w2_micro, b AS b_micro, n, n_correct,
         |  n_correct * 10000 // n AS acc_bp,
         |  n_pos * 10000 // n AS base_rate_bp,
         |  nll_sum // n AS nll_micro_mean
         |FROM f""".stripMargin,

    "ml_permutation_importance" ->
      s"""WITH t AS (
         |  SELECT CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR) AS rkey,
         |    CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
         |    CAST(l_quantity AS BIGINT) - 25 AS x2,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
         |       CAST(0 AS BIGINT) AS b),
         |${stepCte("w0", "s1", "w1s")},
         |${stepCte("w1s", "s2", "w2s")},
         |ranked AS (
         |  SELECT x1, x2, y,
         |    CAST(row_number() OVER (ORDER BY md5(rkey), rkey) AS BIGINT) AS rk
         |  FROM t),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         |part AS (
         |  SELECT rk,
         |    CASE WHEN xor(rk - 1, 1) + 1 > n THEN rk ELSE xor(rk - 1, 1) + 1 END AS pr,
         |    x1, x2, y
         |  FROM ranked CROSS JOIN nn),
         |sw AS (
         |  SELECT a.rk, a.x1, a.x2, a.y, bb.x1 AS x1p, bb.x2 AS x2p
         |  FROM part a JOIN part bb ON bb.rk = a.pr),
         |f AS (
         |  SELECT w.w1, w.w2, w.b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN ($zE > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(SUM(CASE WHEN (${zE.replace("x1", "x1p")} > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN (${zE.replace("x2", "x2p")} > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM sw CROSS JOIN w2s w GROUP BY w.w1, w.w2, w.b)
         |SELECT n,
         |  c0 * 10000 // n AS acc_base_bp,
         |  c1 * 10000 // n AS acc_permx1_bp,
         |  c2 * 10000 // n AS acc_permx2_bp,
         |  c0 * 10000 // n - c1 * 10000 // n AS imp_x1_bp,
         |  c0 * 10000 // n - c2 * 10000 // n AS imp_x2_bp
         |FROM f""".stripMargin
  )
}
