package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Round-15 batch 7 (ML-eval / curation side):
  *
  *  - `samp_borda_fusion` — BORDA-COUNT rank aggregation of three part
  *    rankings (revenue, quantity, order count) with a Condorcet audit
  *    of the top-10: the positional rank-fusion family member next to
  *    text_rrf_fusion's reciprocal-rank variant — Borda rewards
  *    consistent mid-pack strength where RRF over-weights single #1s.
  *    Ranks are exact distributed GlobalRanks; the Condorcet check
  *    runs on the top-10 × top-10 pair grid only (documented scope —
  *    full pairwise is quadratic in the catalog for no extra signal).
  *  - `ml_youden_j` — Youden's J threshold sweep over the shared
  *    14-candidate stump grid (predict-positive = feature above
  *    threshold): per candidate TPR/FPR in exact basis points,
  *    J = TPR − FPR, best row flagged — the standard "where do I cut
  *    the score?" companion to the ROC/PR curves.
  *
  * Scale: three GlobalRank passes over the catalog-sized part
  * aggregate + a 100-pair audit; the J sweep is one cell-census
  * aggregate ×14 (the decision-stump collapse).
  */
object MlQueries8 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    "samp_borda_fusion" -> ((s, d) => {
      import s.implicits._
      val per = lineitem(s, d).groupBy($"l_partkey")
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("rev"),
          sum($"l_quantity".cast("long")).as("qty"),
          countDistinct($"l_orderkey").as("cnt"))
        .localCheckpoint() // catalog-sized metric frame, ranked 3×
      def ranked(metric: String): DataFrame = {
        val (r, _) = GlobalRank.withRank(per.select($"l_partkey", col(metric)),
          s"r_$metric", Seq(col(metric).desc, $"l_partkey".asc))
        r.select($"l_partkey", col(s"r_$metric"))
      }
      // r20 (guide §2.6 overlap independent jobs): the three ballot
      // rank passes and the row count all read the SAME pinned metric
      // frame and depend only on it — submit them from a thread pool
      // so each pass's range-partition/checkpoint/offset jobs back-fill
      // the others' stragglers instead of running strictly serially.
      // r21: DriverPool (per-call pool spawned by the calling thread)
      // so Spark job-group/description properties propagate — the
      // global EC's workers could carry stale or missing attribution.
      val results = DriverPool.parallel[Any](Seq(
        () => ranked("rev"), () => ranked("qty"), () => ranked("cnt"),
        () => per.count()))
      val Seq(rRev, rQty, rCnt) = results.take(3).map(_.asInstanceOf[DataFrame])
      val n = results(3).asInstanceOf[Long]
      val joined = rRev
        .join(rQty, Seq("l_partkey"))
        .join(rCnt, Seq("l_partkey"))
        .withColumn("borda",
          lit(3L * n) - $"r_rev" - $"r_qty" - $"r_cnt")
      val top = joined.orderBy($"borda".desc, $"l_partkey".asc).limit(10)
        .localCheckpoint() // 10-row audit frame
      // Condorcet audit among the top-10: a beats b ⟺ a ranks better
      // on ≥2 of the 3 ballots
      val beats = top.as("a").crossJoin(broadcast(top.as("b")))
        .filter($"a.l_partkey" =!= $"b.l_partkey")
        .select($"a.l_partkey".as("l_partkey"),
          (when($"a.r_rev" < $"b.r_rev", 1).otherwise(0) +
            when($"a.r_qty" < $"b.r_qty", 1).otherwise(0) +
            when($"a.r_cnt" < $"b.r_cnt", 1).otherwise(0)).as("wins3"))
        .groupBy($"l_partkey")
        .agg(sum(when($"wins3" >= 2, 1L).otherwise(0L)).as("n_beaten"))
      top.join(beats, Seq("l_partkey"))
        .selectExpr("l_partkey", "borda", "r_rev", "r_qty", "r_cnt",
          "CAST(CASE WHEN n_beaten = 9 THEN 1 ELSE 0 END AS BIGINT) AS condorcet_top10")
        .orderBy($"borda".desc, $"l_partkey".asc)
    }),

    "ml_youden_j" -> ((s, d) => {
      import s.implicits._
      // (r20 note: a fanOutScan was measured here and REVERTED — the
      // one-pass census is already ~0.34 s; the added exchange cost
      // more than the widened census saved.)
      val cells = lineitem(s, d).selectExpr(
          "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1",
          "CAST(l_quantity AS BIGINT) - 25 AS x2",
          "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
        .groupBy($"x1", $"x2", $"y").agg(count(lit(1)).as("cnt"))
      val grid = (Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).map(t => (1, t)) ++
        Seq(-15L, -10L, -5L, 0L, 5L, 10L, 15L).map(t => (2, t))).toDF("f", "thr")
      val sweep = cells.crossJoin(broadcast(grid))
        .selectExpr("f", "thr", "cnt", "y",
          "CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) > thr THEN 1 ELSE 0 END AS yh")
        .groupBy($"f", $"thr")
        .agg(sum($"cnt").as("n"), sum($"cnt" * $"y").as("p"),
          sum($"cnt" * $"yh" * $"y").as("tp"),
          sum($"cnt" * $"yh" * (lit(1) - $"y")).as("fp"))
        .selectExpr("f", "thr", "n", "p", "tp", "fp",
          "(10000 * tp) DIV p AS tpr_bp",
          "(10000 * fp) DIV (n - p) AS fpr_bp")
        .withColumn("j_bp", $"tpr_bp" - $"fpr_bp")
      val best = sweep
        .orderBy($"j_bp".desc, $"f".asc, $"thr".asc).limit(1)
        .select($"f".as("bf"), $"thr".as("bthr"))
      sweep.crossJoin(broadcast(best))
        .selectExpr("f", "thr", "tpr_bp", "fpr_bp", "j_bp",
          "CAST(CASE WHEN f = bf AND thr = bthr THEN 1 ELSE 0 END AS BIGINT) AS is_best")
        .orderBy($"f", $"thr")
    })
  )

  val oracles: Map[String, String] = Map(
    "samp_borda_fusion" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_partkey),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
        |r AS (
        |  SELECT l_partkey,
        |    CAST(row_number() OVER (ORDER BY rev DESC, l_partkey ASC) AS BIGINT) AS r_rev,
        |    CAST(row_number() OVER (ORDER BY qty DESC, l_partkey ASC) AS BIGINT) AS r_qty,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, l_partkey ASC) AS BIGINT) AS r_cnt
        |  FROM per),
        |b AS (
        |  SELECT l_partkey, r_rev, r_qty, r_cnt,
        |    3 * (SELECT n FROM n) - r_rev - r_qty - r_cnt AS borda
        |  FROM r),
        |top AS MATERIALIZED (
        |  SELECT * FROM b ORDER BY borda DESC, l_partkey ASC LIMIT 10),
        |beats AS (
        |  SELECT a.l_partkey,
        |    CAST(SUM(CASE WHEN
        |      (CASE WHEN a.r_rev < b.r_rev THEN 1 ELSE 0 END
        |       + CASE WHEN a.r_qty < b.r_qty THEN 1 ELSE 0 END
        |       + CASE WHEN a.r_cnt < b.r_cnt THEN 1 ELSE 0 END) >= 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_beaten
        |  FROM top a JOIN top b ON a.l_partkey <> b.l_partkey
        |  GROUP BY a.l_partkey)
        |SELECT t.l_partkey, t.borda, t.r_rev, t.r_qty, t.r_cnt,
        |  CAST(CASE WHEN n_beaten = 9 THEN 1 ELSE 0 END AS BIGINT) AS condorcet_top10
        |FROM top t JOIN beats USING (l_partkey)
        |ORDER BY t.borda DESC, t.l_partkey ASC""".stripMargin,

    "ml_youden_j" ->
      """WITH cells AS (
        |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) - 5 AS x1,
        |    CAST(l_quantity AS BIGINT) - 25 AS x2,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT 1 AS f, CAST(t AS BIGINT) AS thr
        |  FROM (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS t)
        |  UNION ALL
        |  SELECT 2, CAST(t AS BIGINT)
        |  FROM (SELECT unnest([-15, -10, -5, 0, 5, 10, 15]) AS t)),
        |sweep AS (
        |  SELECT f, thr,
        |    CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(cnt * y) AS BIGINT) AS p,
        |    CAST(SUM(cnt * y * CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) > thr
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(cnt * (1 - y) * CASE WHEN (CASE WHEN f = 1 THEN x1 ELSE x2 END) > thr
        |                                  THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM cells CROSS JOIN grid
        |  GROUP BY f, thr),
        |rated AS (
        |  SELECT f, thr,
        |    (10000 * tp) // p AS tpr_bp,
        |    (10000 * fp) // (n - p) AS fpr_bp
        |  FROM sweep),
        |j AS (SELECT f, thr, tpr_bp, fpr_bp, tpr_bp - fpr_bp AS j_bp FROM rated),
        |best AS (SELECT f AS bf, thr AS bthr FROM j
        |         ORDER BY j_bp DESC, f ASC, thr ASC LIMIT 1)
        |SELECT f, thr, tpr_bp, fpr_bp, j_bp,
        |  CAST(CASE WHEN f = bf AND thr = bthr THEN 1 ELSE 0 END AS BIGINT) AS is_best
        |FROM j CROSS JOIN best
        |ORDER BY f, thr""".stripMargin
  )
}
