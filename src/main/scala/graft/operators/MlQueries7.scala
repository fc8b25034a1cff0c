package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Round-15 batch 3 — ML-adjacent operators the eval stack lacked:
  *
  *  - `ml_lof_cells` — LOCAL OUTLIER FACTOR (k = 3) over the distinct
  *    (discount-bucket, quantity) feature cells: the density-ratio
  *    anomaly score (Breunig 2000) next to the battery's global
  *    z/MAD/isolation detectors — it flags cells that are sparse
  *    RELATIVE TO THEIR NEIGHBORHOOD, which a global threshold can't.
  *    Distances are exact integer squared Euclidean on the cell grid;
  *    k-distance ties break by (x1, x2) total order; lrd is micro-
  *    quantized by integer division, LOF milli-quantized — the whole
  *    pipeline is integer and hash-gated.
  *  - `ml_model_agreement` — Cohen's κ between the two best SINGLE-
  *    FEATURE stumps (best Gini split on discount alone vs quantity
  *    alone): the standard inter-model agreement readout ("do the two
  *    features' best rules classify the same rows the same way, beyond
  *    chance?"). Exact integer confusion counts; κ as a sign-split
  *    milli ratio of integer products.
  *  - `samp_bandit_replay` — OFFLINE REPLAY of an ε-greedy bandit over
  *    the daily event-type "which type wins the day" stream: the
  *    standard counterfactual policy-evaluation harness (arms = event
  *    types, reward = arm topped that day's revenue, ε = 0.2 with
  *    md5-derived exploration). The sequential fold carries per-arm
  *    (plays, wins) integer arrays over the calendar — replayable as
  *    a recursive CTE, same als the EWMA/Elo folds.
  *
  * Scale: the LOF/stump substrates collapse the corpus to ≤ ~600
  * sufficient cells in ONE keyed aggregate (the ml_decision_stump
  * trick) — every later stage is cell-grid-sized; the bandit folds a
  * calendar-sized array after one keyed daily aggregate.
  */
object MlQueries7 extends graft.QueryModule {
  /** LOF neighborhood size. */
  private val LofK = 3

  /** Shared (x1, x2, y) cell census of lineitem — integer features:
    * x1 = discount cents − 5 (−5..5), x2 = quantity − 25 (−24..25),
    * y = 1 ⟺ returned. */
  private def cells(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d).selectExpr(
        "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
        "CAST(l_quantity AS BIGINT) - 25 AS x2",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
      .groupBy($"x1", $"x2", $"y")
      .agg(count(lit(1)).as("cnt"))
  }

  /** The cell CTE shared by the oracles below. */
  private val cellsCte =
    """cells AS MATERIALIZED (
      |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
      |    CAST(l_quantity AS BIGINT) - 25 AS x2,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2, 3)""".stripMargin

  val queries: Map[String, Q] = Map(
    "ml_lof_cells" -> ((s, d) => {
      import s.implicits._
      // geometry cells (y folded away): ≤ ~600 points, broadcastable
      val pts = cells(s, d)
        .groupBy($"x1", $"x2").agg(sum($"cnt").as("cnt"))
        .localCheckpoint()
      val pairs = pts.select($"x1".as("ax1"), $"x2".as("ax2"))
        .crossJoin(broadcast(pts.select($"x1".as("bx1"), $"x2".as("bx2"))))
        .filter($"ax1" =!= $"bx1" || $"ax2" =!= $"bx2")
        .withColumn("d2",
          ($"ax1" - $"bx1") * ($"ax1" - $"bx1") +
            ($"ax2" - $"bx2") * ($"ax2" - $"bx2"))
      val wNn = Window.partitionBy($"ax1", $"ax2")
        .orderBy($"d2".asc, $"bx1".asc, $"bx2".asc)
      val nbrs = pairs.withColumn("rn", row_number().over(wNn))
        .filter($"rn" <= LofK)
        .select($"ax1", $"ax2", $"bx1", $"bx2", $"d2")
        .localCheckpoint() // 3 rows per cell
      // k-distance of a cell = the d2 of its k-th neighbor under the
      // (d2, x1, x2) total order = max d2 among its kept neighbors
      val kdist = nbrs.groupBy($"ax1".as("kx1"), $"ax2".as("kx2"))
        .agg(max($"d2").as("kdist"))
      val reach = nbrs
        .join(kdist, $"bx1" === $"kx1" && $"bx2" === $"kx2")
        .select($"ax1", $"ax2", $"bx1", $"bx2",
          greatest($"kdist", $"d2").as("reach"))
      val lrd = reach.groupBy($"ax1", $"ax2")
        .agg(sum($"reach").as("sreach"))
        .selectExpr("ax1", "ax2",
          s"(1000000 * $LofK) DIV sreach AS lrd_micro")
        .localCheckpoint()
      val lof = nbrs
        .join(lrd.select($"ax1".as("bx1"), $"ax2".as("bx2"),
          $"lrd_micro".as("lrd_b")), Seq("bx1", "bx2"))
        .groupBy($"ax1", $"ax2").agg(sum($"lrd_b").as("slrd"))
        .join(lrd, Seq("ax1", "ax2"))
        .selectExpr("ax1 AS x1", "ax2 AS x2",
          s"(1000 * slrd) DIV ($LofK * lrd_micro) AS lof_milli")
      lof.join(pts, Seq("x1", "x2"))
        .select($"x1", $"x2", $"cnt", $"lof_milli")
        .orderBy($"lof_milli".desc, $"x1".asc, $"x2".asc)
        .limit(15)
    }),

    "ml_model_agreement" -> ((s, d) => {
      import s.implicits._
      val c = cells(s, d).localCheckpoint() // feeds both stump searches
      val grid = (Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).map(t => (1, t)) ++
        Seq(-15L, -10L, -5L, 0L, 5L, 10L, 15L).map(t => (2, t))).toDF("f", "thr")
      val cand = c.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "cnt", "y",
          "CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) <= thr THEN 1 ELSE 0 END AS isl")
        .groupBy($"f", $"thr")
        .agg(sum($"cnt").as("n"), sum($"cnt" * $"y").as("p"),
          sum($"cnt" * $"isl").as("nl"),
          sum($"cnt" * $"isl" * $"y").as("pl"))
        .withColumn("nr", $"n" - $"nl").withColumn("pr", $"p" - $"pl")
        .filter($"nl" > 0 && $"nr" > 0)
        .withColumn("score",
          expr("""(CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
            | + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE)) / CAST(nl AS DOUBLE)
            | + (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
            | + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE)) / CAST(nr AS DOUBLE)""".stripMargin))
      val wF = Window.partitionBy($"f").orderBy($"score".desc, $"thr".asc)
      val best = cand.withColumn("rn", row_number().over(wF))
        .filter($"rn" === 1)
        .selectExpr("f", "thr",
          "CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END AS pred_l",
          "CASE WHEN 2 * pr > nr THEN 1 ELSE 0 END AS pred_r")
      val model = best.groupBy().agg(
        max(when($"f" === 1, $"thr")).as("thr1"),
        max(when($"f" === 1, $"pred_l")).as("pl1"),
        max(when($"f" === 1, $"pred_r")).as("pr1"),
        max(when($"f" === 2, $"thr")).as("thr2"),
        max(when($"f" === 2, $"pred_l")).as("pl2"),
        max(when($"f" === 2, $"pred_r")).as("pr2"))
        .localCheckpoint() // 1-row two-stump model
      val agg = c.crossJoin(broadcast(model))
        .selectExpr("cnt", "thr1", "thr2", "pl1", "pr1", "pl2", "pr2",
          "CASE WHEN x1 <= thr1 THEN pl1 ELSE pr1 END AS ya",
          "CASE WHEN x2 <= thr2 THEN pl2 ELSE pr2 END AS yb")
        .groupBy($"thr1", $"thr2")
        .agg(sum($"cnt").as("n"),
          sum(when($"ya" === 1 && $"yb" === 1, $"cnt").otherwise(0L)).as("n11"),
          sum(when($"ya" === 1 && $"yb" === 0, $"cnt").otherwise(0L)).as("n10"),
          sum(when($"ya" === 0 && $"yb" === 1, $"cnt").otherwise(0L)).as("n01"),
          sum(when($"ya" === 0 && $"yb" === 0, $"cnt").otherwise(0L)).as("n00"))
      // κ = (n·agree − Σ marginal products) / (n² − Σ marginal
      // products) — integer numerator/denominator, sign-split milli
      agg.selectExpr("thr1", "thr2", "n", "n11", "n10", "n01", "n00",
          "(1000 * (n11 + n00)) DIV n AS po_milli",
          """CASE WHEN n * n = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) THEN CAST(0 AS BIGINT)
            | ELSE CAST(SIGN(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) AS BIGINT)
            | * ((1000 * abs(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
            |    DIV (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))) END AS kappa_milli""".stripMargin)
    }),

    "samp_bandit_replay" -> ((s, d) => {
      import s.implicits._
      val Eps = 200L // exploration mass, ‰
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("rev"))
        .localCheckpoint()
      val types = daily.select($"event_type").distinct()
        .withColumn("idx", row_number().over(Window.orderBy($"event_type")))
        .localCheckpoint() // tiny type dimension
      val wDay = Window.partitionBy($"day").orderBy($"rev".desc, $"event_type".asc)
      // per-day decision inputs: the day's winning arm + two md5
      // lanes (explore coin ‰, uniform arm pick)
      val days = daily.withColumn("rn", row_number().over(wDay))
        .filter($"rn" === 1)
        .join(broadcast(types.select($"event_type", $"idx".as("top_idx"))),
          Seq("event_type"))
        .selectExpr("day", "top_idx",
          "CAST(conv(substring(md5(CAST(day AS STRING)), 1, 3), 16, 10) AS BIGINT) % 1000 AS h1",
          "CAST(conv(substring(md5(CAST(day AS STRING)), 4, 3), 16, 10) AS BIGINT) AS h2")
      val nt = types.agg(count(lit(1)).cast("int").as("nt"))
      // ε-greedy fold: state = (plays[], wins[]); exploit picks the
      // FIRST max-mean arm (array_position returns the first match —
      // the deterministic smallest-index tie-break)
      val pick =
        s"""IF(m.h1 < $Eps,
           |   CAST(1 + m.h2 % nt AS INT),
           |   CAST(array_position(
           |     transform(sequence(1, nt),
           |       j -> (1000 * element_at(st.w, j))
           |            DIV GREATEST(element_at(st.n, j), 1)),
           |     array_max(transform(sequence(1, nt),
           |       j -> (1000 * element_at(st.w, j))
           |            DIV GREATEST(element_at(st.n, j), 1)))) AS INT))""".stripMargin
      val folded = days.groupBy()
        .agg(array_sort(collect_list(struct($"day", $"top_idx", $"h1", $"h2"))).as("arr"),
          count(lit(1)).as("n_days"),
          sum(when($"h1" < Eps, 1L).otherwise(0L)).as("n_explore"))
        .crossJoin(broadcast(nt))
        .selectExpr("n_days", "n_explore", "nt",
          s"""aggregate(
             |  arr,
             |  named_struct(
             |    'n', array_repeat(CAST(0 AS BIGINT), nt),
             |    'w', array_repeat(CAST(0 AS BIGINT), nt)),
             |  (st, m) -> named_struct(
             |    'n', transform(sequence(1, nt),
             |           j -> element_at(st.n, j) + IF(j = $pick, 1, 0)),
             |    'w', transform(sequence(1, nt),
             |           j -> element_at(st.w, j)
             |                + IF(j = $pick AND j = m.top_idx, 1, 0)))
             |) AS st""".stripMargin)
        .selectExpr("n_days", "n_explore",
          """explode(transform(sequence(1, nt),
            |  j -> named_struct('idx', j,
            |    'n', element_at(st.n, j), 'w', element_at(st.w, j)))) AS a""".stripMargin)
        .selectExpr("a.idx AS idx", "a.n AS n_plays", "a.w AS n_wins",
          "n_days", "n_explore")
      folded.join(broadcast(types), Seq("idx"))
        .selectExpr("event_type", "n_plays", "n_wins",
          "(1000 * n_wins) DIV GREATEST(n_plays, 1) AS mean_milli",
          "n_days", "n_explore")
        .orderBy($"event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "ml_lof_cells" ->
      s"""WITH $cellsCte,
         |pts AS MATERIALIZED (
         |  SELECT x1, x2, CAST(SUM(cnt) AS BIGINT) AS cnt
         |  FROM cells GROUP BY x1, x2),
         |pairs AS (
         |  SELECT a.x1 AS ax1, a.x2 AS ax2, b.x1 AS bx1, b.x2 AS bx2,
         |    (a.x1 - b.x1) * (a.x1 - b.x1) + (a.x2 - b.x2) * (a.x2 - b.x2) AS d2
         |  FROM pts a JOIN pts b ON (a.x1 <> b.x1 OR a.x2 <> b.x2)),
         |nbrs AS MATERIALIZED (
         |  SELECT ax1, ax2, bx1, bx2, d2 FROM (
         |    SELECT ax1, ax2, bx1, bx2, d2,
         |      row_number() OVER (PARTITION BY ax1, ax2
         |        ORDER BY d2 ASC, bx1 ASC, bx2 ASC) AS rn
         |    FROM pairs) q WHERE rn <= $LofK),
         |kdist AS (
         |  SELECT ax1 AS kx1, ax2 AS kx2, CAST(MAX(d2) AS BIGINT) AS kdist
         |  FROM nbrs GROUP BY ax1, ax2),
         |reach AS (
         |  SELECT n.ax1, n.ax2,
         |    GREATEST(k.kdist, n.d2) AS reach
         |  FROM nbrs n JOIN kdist k ON n.bx1 = k.kx1 AND n.bx2 = k.kx2),
         |lrd AS MATERIALIZED (
         |  SELECT ax1, ax2,
         |    (1000000 * $LofK) // CAST(SUM(reach) AS BIGINT) AS lrd_micro
         |  FROM reach GROUP BY ax1, ax2),
         |lof AS (
         |  SELECT n.ax1 AS x1, n.ax2 AS x2,
         |    (1000 * CAST(SUM(lb.lrd_micro) AS BIGINT))
         |      // ($LofK * MAX(la.lrd_micro)) AS lof_milli
         |  FROM nbrs n
         |  JOIN lrd lb ON n.bx1 = lb.ax1 AND n.bx2 = lb.ax2
         |  JOIN lrd la ON n.ax1 = la.ax1 AND n.ax2 = la.ax2
         |  GROUP BY n.ax1, n.ax2)
         |SELECT l.x1, l.x2, p.cnt, l.lof_milli
         |FROM lof l JOIN pts p ON l.x1 = p.x1 AND l.x2 = p.x2
         |ORDER BY l.lof_milli DESC, l.x1 ASC, l.x2 ASC LIMIT 15""".stripMargin,

    "ml_model_agreement" ->
      s"""WITH $cellsCte,
         |grid AS (
         |  SELECT 1 AS f, CAST(t AS BIGINT) AS thr
         |  FROM (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS t)
         |  UNION ALL
         |  SELECT 2, CAST(t AS BIGINT)
         |  FROM (SELECT unnest([-15, -10, -5, 0, 5, 10, 15]) AS t)),
         |cand AS (
         |  SELECT f, thr,
         |    CAST(SUM(cnt) AS BIGINT) AS n,
         |    CAST(SUM(cnt * y) AS BIGINT) AS p,
         |    CAST(SUM(cnt * CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) <= thr
         |                        THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(SUM(cnt * y * CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) <= thr
         |                           THEN 1 ELSE 0 END) AS BIGINT) AS pl
         |  FROM cells CROSS JOIN grid
         |  GROUP BY f, thr),
         |cand2 AS (
         |  SELECT f, thr, n, p, nl, pl, n - nl AS nr, p - pl AS pr FROM cand
         |  WHERE nl > 0 AND n - nl > 0),
         |best AS MATERIALIZED (
         |  SELECT f, thr,
         |    CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END AS pred_l,
         |    CASE WHEN 2 * pr > nr THEN 1 ELSE 0 END AS pred_r
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY f ORDER BY
         |      (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
         |       + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE)) / CAST(nl AS DOUBLE)
         |      + (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
         |       + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE)) / CAST(nr AS DOUBLE)
         |      DESC, thr ASC) AS rn
         |    FROM cand2) q WHERE rn = 1),
         |model AS (
         |  SELECT
         |    MAX(CASE WHEN f = 1 THEN thr END) AS thr1,
         |    MAX(CASE WHEN f = 1 THEN pred_l END) AS pl1,
         |    MAX(CASE WHEN f = 1 THEN pred_r END) AS pr1,
         |    MAX(CASE WHEN f = 2 THEN thr END) AS thr2,
         |    MAX(CASE WHEN f = 2 THEN pred_l END) AS pl2,
         |    MAX(CASE WHEN f = 2 THEN pred_r END) AS pr2
         |  FROM best),
         |agg AS (
         |  SELECT thr1, thr2,
         |    CAST(SUM(cnt) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN ya = 1 AND yb = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(SUM(CASE WHEN ya = 1 AND yb = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(SUM(CASE WHEN ya = 0 AND yb = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(SUM(CASE WHEN ya = 0 AND yb = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n00
         |  FROM (
         |    SELECT cnt, thr1, thr2,
         |      CASE WHEN x1 <= thr1 THEN pl1 ELSE pr1 END AS ya,
         |      CASE WHEN x2 <= thr2 THEN pl2 ELSE pr2 END AS yb
         |    FROM cells CROSS JOIN model) q
         |  GROUP BY thr1, thr2)
         |SELECT thr1, thr2, n, n11, n10, n01, n00,
         |  (1000 * (n11 + n00)) // n AS po_milli,
         |  CASE WHEN n * n = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) THEN CAST(0 AS BIGINT)
         |  ELSE CAST(SIGN(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) AS BIGINT)
         |  * ((1000 * abs(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
         |     // (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))) END AS kappa_milli
         |FROM agg""".stripMargin,

    "samp_bandit_replay" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
         |  FROM events GROUP BY 1, 2),
         |types AS MATERIALIZED (
         |  SELECT event_type,
         |    CAST(row_number() OVER (ORDER BY event_type) AS INT) AS idx
         |  FROM (SELECT DISTINCT event_type FROM daily)),
         |nt AS (SELECT CAST(COUNT(*) AS INT) AS nt FROM types),
         |days AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY q.day) AS BIGINT) AS i,
         |    (SELECT nt FROM nt) AS nt,
         |    t.idx AS top_idx,
         |    ('0x' || substring(md5(CAST(q.day AS VARCHAR)), 1, 3))::BIGINT % 1000 AS h1,
         |    ('0x' || substring(md5(CAST(q.day AS VARCHAR)), 4, 3))::BIGINT AS h2
         |  FROM (
         |    SELECT day, event_type,
         |      row_number() OVER (PARTITION BY day ORDER BY rev DESC, event_type ASC) AS rn
         |    FROM daily) q JOIN types t ON q.event_type = t.event_type
         |  WHERE q.rn = 1),
         |sim(i, sn, sw) AS (
         |  SELECT CAST(0 AS BIGINT),
         |    list_transform(range(0, (SELECT nt FROM nt)), j -> CAST(0 AS BIGINT)),
         |    list_transform(range(0, (SELECT nt FROM nt)), j -> CAST(0 AS BIGINT))
         |  UNION ALL
         |  SELECT m.i,
         |    list_transform(range(1, m.nt + 1),
         |      j -> f.sn[j] + CASE WHEN j = (CASE WHEN m.h1 < 200
         |             THEN 1 + m.h2 % m.nt
         |             ELSE list_position(
         |               list_transform(range(1, m.nt + 1),
         |                 k -> (1000 * f.sw[CAST(k AS INT)]) // GREATEST(f.sn[CAST(k AS INT)], 1)),
         |               list_max(list_transform(range(1, m.nt + 1),
         |                 k -> (1000 * f.sw[CAST(k AS INT)]) // GREATEST(f.sn[CAST(k AS INT)], 1))))
         |           END) THEN 1 ELSE 0 END),
         |    list_transform(range(1, m.nt + 1),
         |      j -> f.sw[j] + CASE WHEN j = m.top_idx AND j = (CASE WHEN m.h1 < 200
         |             THEN 1 + m.h2 % m.nt
         |             ELSE list_position(
         |               list_transform(range(1, m.nt + 1),
         |                 k -> (1000 * f.sw[CAST(k AS INT)]) // GREATEST(f.sn[CAST(k AS INT)], 1)),
         |               list_max(list_transform(range(1, m.nt + 1),
         |                 k -> (1000 * f.sw[CAST(k AS INT)]) // GREATEST(f.sn[CAST(k AS INT)], 1))))
         |           END) THEN 1 ELSE 0 END)
         |  FROM sim f JOIN days m ON m.i = f.i + 1),
         |final AS (SELECT sn, sw FROM sim ORDER BY i DESC LIMIT 1),
         |meta AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(CASE WHEN h1 < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_explore
         |  FROM days),
         |perarm AS (
         |  SELECT CAST(j AS INT) + 1 AS idx,
         |    sn[CAST(j AS INT) + 1] AS n_plays, sw[CAST(j AS INT) + 1] AS n_wins
         |  FROM final, LATERAL (SELECT unnest(range(0, (SELECT nt FROM nt))) AS j))
         |SELECT t.event_type, p.n_plays, p.n_wins,
         |  (1000 * p.n_wins) // GREATEST(p.n_plays, 1) AS mean_milli,
         |  meta.n_days, meta.n_explore
         |FROM perarm p JOIN types t ON p.idx = t.idx CROSS JOIN meta
         |ORDER BY t.event_type""".stripMargin
  )
}
