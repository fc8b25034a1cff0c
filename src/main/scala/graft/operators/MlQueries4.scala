package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-13 ML additions over the (x1, x2, y) return-flag frame of
  * MlQueries3 — two classifier families the repo doesn't cover yet:
  *
  *  - `ml_gaussian_nb`     — Gaussian naive Bayes: class-conditional
  *    mean/variance per feature (one partial+final stats aggregate),
  *    then a broadcast scoring pass. The GENERATIVE counterpart of the
  *    discriminative logreg on the same features — text_nb_langid is
  *    multinomial NB over token counts; this is the continuous-feature
  *    variant a tabular pipeline runs.
  *  - `ml_adaboost_stumps` — two rounds of AdaBoost over a fixed
  *    decision-stump grid, EXACT END TO END: round-1 weighted error is
  *    a count ratio k/n, and the standard reweighting (correct rows
  *    ∝ ε, wrong rows ∝ 1−ε) makes every round-2 weighted error a
  *    ratio of BIGINT sums m / 2k(n−k) — no exp/ln ever materializes,
  *    the α₁ vs α₂ vote reduces to comparing ε/(1−ε) odds, and the
  *    final train accuracy is an exact integer count. Boosting as
  *    pure relational algebra.
  *
  * Exactness: ml_gaussian_nb broadcasts MICRO-QUANTIZED class stats
  * (floor of mean/variance/log-prior/log-variance ×1e6 — the only libm
  * terms, quantized once on 4 single-row values), so the per-row score
  * is a deterministic IEEE add/multiply/divide tree over identical integers on both
  * engines. ml_adaboost_stumps needs no quantization at all: the one
  * cross-engine-sensitive compare (α₁ > α₂) is two double divisions of
  * exact BIGINTs.
  *
  * Scale: stats/error aggregates are partial+final over the corpus
  * scan; the 28-row stump grid and single-row stats frames broadcast.
  * The grid cross-join expands rows ×28 BEFORE the map-side partial
  * aggregate reduces each task to 28 rows — the same shape at any
  * corpus size, no keyed shuffle of the fact table anywhere.
  */
object MlQueries4 extends graft.QueryModule {
  /** The (x1, x2, y) feature frame (MlQueries3's features, local copy —
    * discount cents −5 ∈ [−5,5], quantity −25 ∈ [−24,25], y = returned). */
  private def features(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).selectExpr(
      "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
      "CAST(l_quantity AS BIGINT) - 25 AS x2",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")

  /** [[features]] fanned across the session's cores (Tables.fanOutScan,
    * keyed on ROW IDENTITY — never a feature key, the PlanSpec
    * no-feature-key-shuffle contract): for the multi-pass grid-
    * expansion consumers (adaboost), whose ×28 per-row work otherwise
    * serializes on the gate's single-row-group scan task. The cheap
    * one-pass consumers (gaussian_nb) keep the plain scan — measured:
    * the added exchange costs more than it saves there. */
  private def featuresFanned(s: SparkSession, d: String): DataFrame =
    graft.Tables.fanOutScan(s, lineitem(s, d).selectExpr(
      "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
      "CAST(l_quantity AS BIGINT) - 25 AS x2",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
      "l_orderkey", "l_linenumber"),
      org.apache.spark.sql.functions.col("l_orderkey"),
      org.apache.spark.sql.functions.col("l_linenumber"))
      .select("x1", "x2", "y")

  /** Shared feature-frame SQL (oracle twin of `features`). */
  private val featSql =
    """SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
      |  CAST(l_quantity AS BIGINT) - 25 AS x2,
      |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |FROM lineitem""".stripMargin

  /** Per-class Gaussian stats, micro-quantized (shared column text):
    * sample variance via exact centered sums n·Σx² − (Σx)².
    * Degenerate-input guards (identical in both engine texts, since
    * this IS the shared text): the quantized variance is clamped to
    * ≥1 micro-unit and the (n−1) Bessel denominator to ≥1, so a class
    * with n≤1 rows or a constant feature feeds ln(1e-6) and a nonzero
    * score denominator instead of ln(0)/0-div — Spark would emit
    * NULL/NaN there while DuckDB raises on ln(0), crashing the oracle
    * rather than failing parity gracefully. Same for the prior's n. */
  private def nbStatsE(c: Int): Seq[String] = {
    val n = s"n$c"
    def m(f: Int) = s"CAST(FLOOR(CAST(s$c$f AS DOUBLE) / CAST(GREATEST($n, 1) AS DOUBLE) * 1e6) AS BIGINT) AS mu$c$f"
    def v(f: Int) =
      s"""GREATEST(CAST(FLOOR((CAST($n AS DOUBLE) * CAST(q$c$f AS DOUBLE)
         | - CAST(s$c$f AS DOUBLE) * CAST(s$c$f AS DOUBLE))
         | / (CAST(GREATEST($n, 1) AS DOUBLE) * CAST(GREATEST($n - 1, 1) AS DOUBLE)) * 1e6) AS BIGINT), 1) AS var$c$f""".stripMargin
    Seq(m(1), v(1), m(2), v(2),
      s"CAST(FLOOR(ln(CAST(GREATEST($n, 1) AS DOUBLE) / CAST(GREATEST(n0 + n1, 1) AS DOUBLE)) * 1e6) AS BIGINT) AS lp$c")
  }

  /** Class-c log-score over the quantized stats (shared text): log-prior
    * − ½ln var (quantized) − (x−μ)²/(2σ²) per feature, all arithmetic
    * on doubles built from identical integers. */
  private def scoreE(c: Int): String = {
    def term(f: Int) =
      s"""(CAST(x$f AS DOUBLE) - CAST(mu$c$f AS DOUBLE) / 1e6)
         | * (CAST(x$f AS DOUBLE) - CAST(mu$c$f AS DOUBLE) / 1e6)
         | / (2.0 * CAST(var$c$f AS DOUBLE) / 1e6)""".stripMargin
    s"""(CAST(lp$c AS DOUBLE) / 1e6
       | - CAST(lv${c}1 AS DOUBLE) / 2e6 - CAST(lv${c}2 AS DOUBLE) / 2e6
       | - ${term(1)} - ${term(2)})""".stripMargin
  }

  /** The 28-candidate stump grid: feature (1|2) × 7 thresholds ×
    * polarity (+1: predict y=1 when x > θ; −1: predict y=1 when
    * x ≤ θ). Thresholds span each feature's small integer range. */
  private val stumpGrid: Seq[(Int, Long, Int)] = for {
    f <- Seq(1, 2)
    t <- Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L)
    p <- Seq(1, -1)
  } yield (f, if (f == 1) t else t * 5, p) // x1 thresholds −3..3; x2 −15..15 step 5

  /** Stump prediction text over (x1, x2) given grid columns f/thr/pol. */
  private val stumpPredE =
    """(CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) > thr
      |  THEN pol ELSE -pol END)""".stripMargin // ∈ {−1, +1}

  /** Grid VALUES list (shared text: Spark and DuckDB both accept it). */
  private val gridSql = stumpGrid
    .map { case (f, t, p) => s"($f, CAST($t AS BIGINT), $p)" }
    .mkString("(VALUES ", ", ", ") grid(f, thr, pol)")

  val queries: Map[String, Q] = Map(
    // GAUSSIAN NAIVE BAYES: one stats pass (exact BIGINT sums — the
    // features are small integers, so Σx² fits at any corpus size that
    // fits a BIGINT row count), micro-quantize the 10 per-class
    // numbers once, broadcast, score+confuse in one final pass.
    "ml_gaussian_nb" -> ((s, d) => {
      import s.implicits._
      val t = features(s, d).localCheckpoint() // stats + scoring share the scan
      val st = t.groupBy()
        .agg(sum(when($"y" === 0, 1L).otherwise(0L)).as("n0"),
          sum(when($"y" === 1, 1L).otherwise(0L)).as("n1"),
          sum(when($"y" === 0, $"x1").otherwise(0L)).as("s01"),
          sum(when($"y" === 0, $"x1" * $"x1").otherwise(0L)).as("q01"),
          sum(when($"y" === 0, $"x2").otherwise(0L)).as("s02"),
          sum(when($"y" === 0, $"x2" * $"x2").otherwise(0L)).as("q02"),
          sum(when($"y" === 1, $"x1").otherwise(0L)).as("s11"),
          sum(when($"y" === 1, $"x1" * $"x1").otherwise(0L)).as("q11"),
          sum(when($"y" === 1, $"x2").otherwise(0L)).as("s12"),
          sum(when($"y" === 1, $"x2" * $"x2").otherwise(0L)).as("q12"))
        .selectExpr(Seq("n0", "n1") ++ nbStatsE(0) ++ nbStatsE(1): _*)
        .selectExpr("n0", "n1",
          "mu01", "var01", "mu02", "var02", "lp0",
          "mu11", "var11", "mu12", "var12", "lp1",
          "CAST(FLOOR(ln(CAST(var01 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv01",
          "CAST(FLOOR(ln(CAST(var02 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv02",
          "CAST(FLOOR(ln(CAST(var11 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv11",
          "CAST(FLOOR(ln(CAST(var12 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv12")
      t.crossJoin(broadcast(st)) // single-row stats side
        .selectExpr("y", s"CASE WHEN ${scoreE(1)} > ${scoreE(0)} THEN 1 ELSE 0 END AS yhat")
        .groupBy()
        .agg(count(lit(1)).as("n"),
          sum(when($"y" === $"yhat", 1L).otherwise(0L)).as("n_correct"),
          sum(when($"y" === 1 && $"yhat" === 1, 1L).otherwise(0L)).as("tp"),
          sum(when($"y" === 0 && $"yhat" === 1, 1L).otherwise(0L)).as("fp"),
          sum(when($"y" === 1 && $"yhat" === 0, 1L).otherwise(0L)).as("fn"))
        .selectExpr("n", "n_correct", "tp", "fp", "fn",
          "n_correct * 10000 DIV n AS acc_bp",
          "CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 10000 DIV (tp + fp) END AS precision_bp",
          "CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 10000 DIV (tp + fn) END AS recall_bp")
    }),

    // ADABOOST, TWO ROUNDS, EXACT: round 1 counts each stump's errors
    // (uniform weights); with k = best error count, round-2 weights
    // are wrong→(n−k), correct→k (the exp(±α) ratio (1−ε)/ε in
    // integers), so round-2 weighted error = m / 2k(n−k) in BIGINTs.
    // The final vote uses α₁ > α₂ ⟺ k/(n−k) < m/(D−m) (odds compare,
    // two exact-int double divisions). Selection tie-break is the
    // total (err, f, thr, pol) order on a 28-row frame.
    "ml_adaboost_stumps" -> ((s, d) => {
      import s.implicits._
      val t = featuresFanned(s, d).localCheckpoint()
      val grid = stumpGrid.toDF("f", "thr", "pol")
      val nRow = t.groupBy().agg(count(lit(1)).as("n"))
      // round 1: error count per candidate (ysgn ∈ {−1,+1})
      val r1 = t.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "pol",
          s"CASE WHEN $stumpPredE = (CASE WHEN y = 1 THEN 1 ELSE -1 END) THEN 0 ELSE 1 END AS wrong")
        .groupBy($"f", $"thr", $"pol")
        .agg(sum($"wrong").cast("long").as("k"))
      val h1 = r1.orderBy($"k".asc, $"f".asc, $"thr".asc, $"pol".asc).limit(1)
        .crossJoin(broadcast(nRow))
        .selectExpr("f AS f1", "thr AS thr1", "pol AS pol1", "k", "n")
      // round 2: weight wrong-under-h1 rows (n−k), correct rows k
      val h1p = stumpPredE.replace("f =", "f1 =")
        .replace("thr", "thr1").replace("pol", "pol1")
      val weighted = t.crossJoin(broadcast(h1))
        .selectExpr("x1", "x2", "y", "f1", "thr1", "pol1", "k", "n",
          s"""CASE WHEN $h1p = (CASE WHEN y = 1 THEN 1 ELSE -1 END)
             | THEN k ELSE n - k END AS w""".stripMargin)
      val r2 = weighted.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "pol", "f1", "thr1", "pol1", "k", "n",
          s"CASE WHEN $stumpPredE = (CASE WHEN y = 1 THEN 1 ELSE -1 END) THEN CAST(0 AS BIGINT) ELSE w END AS werr")
        .groupBy($"f", $"thr", $"pol", $"f1", $"thr1", $"pol1", $"k", $"n")
        .agg(sum($"werr").cast("long").as("m"))
      val h2 = r2.orderBy($"m".asc, $"f".asc, $"thr".asc, $"pol".asc).limit(1)
        .selectExpr("f1", "thr1", "pol1", "k", "n",
          "f AS f2", "thr AS thr2", "pol AS pol2", "m",
          "2 * k * (n - k) AS dd",
          // α₁ > α₂ ⟺ odds₁ = k/(n−k) < odds₂ = m/(D−m). Degenerate
          // round 1 short-circuits BEFORE the odds ratio forms: k=0
          // (h1 perfect) → all round-2 weights are zero, m = dd = 0,
          // and the compare is 0/0 vs 0/0 — NaN, whose ordering/raise
          // semantics differ across engines. Perfect h1 wins by
          // definition (α₁ = +∞); all-wrong h1 (k=n) loses the same way.
          """CASE WHEN k = 0 THEN TRUE WHEN k = n THEN FALSE
            | ELSE CAST(k AS DOUBLE) / CAST(n - k AS DOUBLE)
            |  < CAST(m AS DOUBLE) / CAST(2 * k * (n - k) - m AS DOUBLE) END
            | AS h1_wins""".stripMargin)
      val h2p = stumpPredE.replace("f =", "f2 =")
        .replace("thr", "thr2").replace("pol", "pol2")
      t.crossJoin(broadcast(h2)) // single-row model side
        .selectExpr("y", "f1", "thr1", "pol1", "f2", "thr2", "pol2",
          "k", "n", "m", "dd", "h1_wins",
          s"$h1p AS p1", s"$h2p AS p2")
        .selectExpr("y", "f1", "thr1", "pol1", "f2", "thr2", "pol2",
          "k", "n", "m", "dd",
          """CASE WHEN p1 = p2 THEN p1
            | WHEN h1_wins THEN p1 ELSE p2 END AS ph""".stripMargin)
        .groupBy($"f1", $"thr1", $"pol1", $"f2", $"thr2", $"pol2",
          $"k", $"n", $"m", $"dd")
        .agg(sum(when(($"ph" === 1 && $"y" === 1) || ($"ph" === -1 && $"y" === 0), 1L)
          .otherwise(0L)).cast("long").as("n_correct"))
        .selectExpr("f1", "thr1", "pol1", "k AS eps1_num", "n AS eps1_den",
          "f2", "thr2", "pol2", "m AS eps2_num", "dd AS eps2_den",
          "n_correct", "n_correct * 10000 DIV n AS acc_bp")
    })
  )

  val oracles: Map[String, String] = Map(
    "ml_gaussian_nb" ->
      s"""WITH t AS ($featSql),
         |raw AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN y = 0 THEN x1 ELSE 0 END) AS BIGINT) AS s01,
         |    CAST(SUM(CASE WHEN y = 0 THEN x1 * x1 ELSE 0 END) AS BIGINT) AS q01,
         |    CAST(SUM(CASE WHEN y = 0 THEN x2 ELSE 0 END) AS BIGINT) AS s02,
         |    CAST(SUM(CASE WHEN y = 0 THEN x2 * x2 ELSE 0 END) AS BIGINT) AS q02,
         |    CAST(SUM(CASE WHEN y = 1 THEN x1 ELSE 0 END) AS BIGINT) AS s11,
         |    CAST(SUM(CASE WHEN y = 1 THEN x1 * x1 ELSE 0 END) AS BIGINT) AS q11,
         |    CAST(SUM(CASE WHEN y = 1 THEN x2 ELSE 0 END) AS BIGINT) AS s12,
         |    CAST(SUM(CASE WHEN y = 1 THEN x2 * x2 ELSE 0 END) AS BIGINT) AS q12
         |  FROM t),
         |st0 AS (
         |  SELECT n0, n1, ${nbStatsE(0).mkString(",\n    ")},
         |    ${nbStatsE(1).mkString(",\n    ")}
         |  FROM raw),
         |st AS (
         |  SELECT n0, n1, mu01, var01, mu02, var02, lp0,
         |    mu11, var11, mu12, var12, lp1,
         |    CAST(FLOOR(ln(CAST(var01 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv01,
         |    CAST(FLOOR(ln(CAST(var02 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv02,
         |    CAST(FLOOR(ln(CAST(var11 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv11,
         |    CAST(FLOOR(ln(CAST(var12 AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lv12
         |  FROM st0),
         |scored AS (
         |  SELECT y,
         |    CASE WHEN ${scoreE(1)} > ${scoreE(0)} THEN 1 ELSE 0 END AS yhat
         |  FROM t CROSS JOIN st),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN y = yhat THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM scored)
         |SELECT n, n_correct, tp, fp, fn,
         |  n_correct * 10000 // n AS acc_bp,
         |  CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 10000 // (tp + fp) END AS precision_bp,
         |  CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 10000 // (tp + fn) END AS recall_bp
         |FROM agg""".stripMargin,

    "ml_adaboost_stumps" ->
      s"""WITH t AS ($featSql),
         |nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         |r1 AS (
         |  SELECT f, thr, pol,
         |    CAST(SUM(CASE WHEN $stumpPredE = (CASE WHEN y = 1 THEN 1 ELSE -1 END)
         |      THEN 0 ELSE 1 END) AS BIGINT) AS k
         |  FROM t CROSS JOIN $gridSql
         |  GROUP BY f, thr, pol),
         |h1 AS (
         |  SELECT f AS f1, thr AS thr1, pol AS pol1, k, n
         |  FROM r1 CROSS JOIN nrow
         |  ORDER BY k ASC, f ASC, thr ASC, pol ASC LIMIT 1),
         |weighted AS (
         |  SELECT x1, x2, y, f1, thr1, pol1, k, n,
         |    CASE WHEN ${stumpPredE.replace("f =", "f1 =").replace("thr", "thr1").replace("pol", "pol1")}
         |      = (CASE WHEN y = 1 THEN 1 ELSE -1 END)
         |      THEN k ELSE n - k END AS w
         |  FROM t CROSS JOIN h1),
         |r2 AS (
         |  SELECT f, thr, pol, f1, thr1, pol1, k, n,
         |    CAST(SUM(CASE WHEN $stumpPredE = (CASE WHEN y = 1 THEN 1 ELSE -1 END)
         |      THEN CAST(0 AS BIGINT) ELSE w END) AS BIGINT) AS m
         |  FROM weighted CROSS JOIN $gridSql
         |  GROUP BY f, thr, pol, f1, thr1, pol1, k, n),
         |h2 AS (
         |  SELECT f1, thr1, pol1, k, n,
         |    f AS f2, thr AS thr2, pol AS pol2, m,
         |    2 * k * (n - k) AS dd,
         |    CASE WHEN k = 0 THEN TRUE WHEN k = n THEN FALSE
         |      ELSE CAST(k AS DOUBLE) / CAST(n - k AS DOUBLE)
         |       < CAST(m AS DOUBLE) / CAST(2 * k * (n - k) - m AS DOUBLE) END AS h1_wins
         |  FROM r2
         |  ORDER BY m ASC, f ASC, thr ASC, pol ASC LIMIT 1),
         |voted AS (
         |  SELECT y, f1, thr1, pol1, f2, thr2, pol2, k, n, m, dd,
         |    CASE WHEN p1 = p2 THEN p1 WHEN h1_wins THEN p1 ELSE p2 END AS ph
         |  FROM (
         |    SELECT y, f1, thr1, pol1, f2, thr2, pol2, k, n, m, dd, h1_wins,
         |      ${stumpPredE.replace("f =", "f1 =").replace("thr", "thr1").replace("pol", "pol1")} AS p1,
         |      ${stumpPredE.replace("f =", "f2 =").replace("thr", "thr2").replace("pol", "pol2")} AS p2
         |    FROM t CROSS JOIN h2) q),
         |agg AS (
         |  SELECT f1, thr1, pol1, f2, thr2, pol2, k, n, m, dd,
         |    CAST(SUM(CASE WHEN (ph = 1 AND y = 1) OR (ph = -1 AND y = 0)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM voted
         |  GROUP BY f1, thr1, pol1, f2, thr2, pol2, k, n, m, dd)
         |SELECT f1, thr1, pol1, k AS eps1_num, n AS eps1_den,
         |  f2, thr2, pol2, m AS eps2_num, dd AS eps2_den,
         |  n_correct, n_correct * 10000 // n AS acc_bp
         |FROM agg""".stripMargin
  )
}
