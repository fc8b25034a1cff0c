package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 continuation: cross-series diagnostics.
  *
  *  - `q190_crosscorr_leadlag` — lead/lag cross-correlation between
  *    the daily order-intake series and the daily shipped-revenue
  *    series (the "how many days does demand lead fulfilment?"
  *    question every ops dashboard answers with exactly this scan).
  *
  * Exactness: both series collapse to calendar-day aggregates first
  * (dimension-sized — ≤ a few thousand rows at ANY corpus size), so
  * the per-lag Pearson runs over exact integer day-sums with
  * D19-factor decimal products, and r renders once through an
  * operand-identical double tree (the graph_assortativity idiom).
  */
object RelationalQueries12 extends graft.QueryModule {
  private val D19 = DecimalType(19, 0)
  private val LAG = 7

  val queries: Map[String, Q] = Map(
    // CROSS-CORRELATION AT LAGS −7…+7: r(lag) = corr(orders(day),
    // revenue(day+lag)). Two one-pass keyed day-aggregates (the only
    // corpus-sized work), then a 15-way lag expansion of the ~2400-row
    // day table joined day-to-day — everything after the first two
    // aggregates is calendar-sized. is_peak marks the |r|-argmax lag
    // (IEEE-deterministic double compare, lag-asc tiebreak).
    "q190_crosscorr_leadlag" -> ((s, d) => {
      import s.implicits._
      val x = orders(s, d).groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("x"))
      val y = lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(sum((dec($"l_extendedprice") * 100).cast("long")).as("y"))
      val lags = s.range(-LAG, LAG + 1).select($"id".cast("int").as("lag"))
      val xy = x.crossJoin(broadcast(lags))
        .withColumn("yday", date_add($"day", $"lag"))
        .join(y.select($"day".as("yday"), $"y"), Seq("yday"))
      val g = xy.groupBy($"lag").agg(
        count(lit(1)).as("n_days"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast(D19) * $"x".cast(D19)).as("sxx"),
        sum($"y".cast(D19) * $"y".cast(D19)).as("syy"),
        sum($"x".cast(D19) * $"y".cast(D19)).as("sxy"))
      val nD = $"n_days".cast("double")
      def dc(c: org.apache.spark.sql.Column) = c.cast("double")
      val scored = g.withColumn("r_d",
        (nD * dc($"sxy") - dc($"sx") * dc($"sy")) /
          (sqrt(nD * dc($"sxx") - dc($"sx") * dc($"sx")) *
           sqrt(nD * dc($"syy") - dc($"sy") * dc($"sy"))))
      scored // 15 rows: dimension-sized window
        .withColumn("rk",
          row_number().over(Window.orderBy(abs($"r_d").desc, $"lag".asc)))
        .select($"lag", $"n_days",
          format_string("%.9f", $"r_d").as("r"),
          ($"rk" === 1).as("is_peak"))
        .orderBy($"lag")
    }),

    // CAPTURE–RECAPTURE population estimate (Chapman estimator) — the
    // "how many active customers exist that we never see?" audit: the
    // 1995 orderers are the first capture, the 1996 orderers the
    // second, the overlap the recapture. N̂ = (n1+1)(n2+1)/(m+1) − 1,
    // graded against the directly-counted 1995–96 orderer universe.
    // ONE per-customer flag aggregate (keyed) + a one-row rollup; the
    // standard error is a single operand-identical double tree.
    "q191_capture_recapture" -> ((s, d) => {
      import s.implicits._
      val flags = orders(s, d)
        .select($"o_custkey", year($"o_orderdate").as("yr"))
        .filter($"yr".isin(1995, 1996))
        .groupBy($"o_custkey")
        .agg(max(($"yr" === 1995).cast("long")).as("y95"),
          max(($"yr" === 1996).cast("long")).as("y96"))
      flags.agg(
          sum($"y95").as("n1"), sum($"y96").as("n2"),
          sum($"y95" * $"y96").as("m"), count(lit(1)).as("true_n"))
        .selectExpr("n1", "n2", "m", "true_n",
          "(n1 + 1) * (n2 + 1) DIV (m + 1) - 1 AS n_hat",
          """CASE WHEN m < 1 THEN NULL ELSE format_string('%.3f', sqrt(
            |  CAST((n1 + 1) AS DOUBLE) * CAST((n2 + 1) AS DOUBLE)
            |  * CAST((n1 - m) AS DOUBLE) * CAST((n2 - m) AS DOUBLE)
            |  / (CAST((m + 1) AS DOUBLE) * CAST((m + 1) AS DOUBLE)
            |     * CAST((m + 2) AS DOUBLE)))) END AS se_hat""".stripMargin,
          """abs((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 - true_n) * 10000
            | DIV true_n AS err_bp""".stripMargin)
    }),

    // TWO-WAY ANOVA (segment × region, with interaction) — q188's
    // factorial extension: one (seg,region) cell aggregate over the
    // orders⋈customer⋈nation join carries ALL sufficient statistics;
    // margin and cell S²/n terms are kilo-cents²-floored before their
    // ≤25-row sums (the q188 idiom), and the three F statistics are
    // operand-identical double trees over those exact scalars. The
    // only corpus-sized work is the first keyed aggregate.
    "q192_twoway_anova" -> ((s, d) => {
      import s.implicits._
      val base = orders(s, d)
        .join(customer(s, d).select($"c_custkey".as("o_custkey"),
          $"c_mktsegment".as("seg"), $"c_nationkey"), Seq("o_custkey"))
        .join(broadcast(nation(s, d)
          .select($"n_nationkey".as("c_nationkey"), $"n_regionkey".as("reg"))),
          Seq("c_nationkey"))
        .select($"seg", $"reg", (dec($"o_totalprice") * 100).cast("long").as("v"))
      val cells = base.groupBy($"seg", $"reg")
        .agg(count(lit(1)).as("n_c"), sum($"v").as("s_c"),
          sum($"v".cast(D19) * $"v".cast(D19)).as("q_c"))
        .localCheckpoint() // 25 rows; feeds four rollups
      val termExpr = (s: String, n: String) =>
        s"CAST(FLOOR(CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE) / 1000.0) AS BIGINT)"
      val segT = cells.groupBy($"seg")
        .agg(sum($"n_c").as("n_a"), sum($"s_c").as("s_a"))
        .selectExpr(s"${termExpr("s_a", "n_a")} AS t_a")
        .agg(count(lit(1)).as("k_a"), sum($"t_a").as("sum_t_a"))
      val regT = cells.groupBy($"reg")
        .agg(sum($"n_c").as("n_b"), sum($"s_c").as("s_b"))
        .selectExpr(s"${termExpr("s_b", "n_b")} AS t_b")
        .agg(count(lit(1)).as("k_b"), sum($"t_b").as("sum_t_b"))
      val cellT = cells
        .selectExpr("n_c", "s_c", "q_c", s"${termExpr("s_c", "n_c")} AS t_c")
        .agg(count(lit(1)).as("k_cells"), sum($"n_c").as("n_total"),
          sum($"s_c").as("s_all"),
          sum($"q_c").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("q_all"),
          sum($"t_c").as("sum_t_c"))
      val fTree = (ssNum: String, dfNum: String) =>
        s"""CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_t_c AS DOUBLE) * 1000.0 <= 0.0
           |  OR n_total <= k_cells THEN NULL ELSE
           |CAST(FLOOR(($ssNum) / ($dfNum)
           |  / ((CAST(q_all AS DOUBLE) - CAST(sum_t_c AS DOUBLE) * 1000.0)
           |     / CAST(n_total - k_cells AS DOUBLE))
           |  * 1000.0) AS BIGINT) END""".stripMargin
      val grand = "CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE)"
      val ssa = s"(CAST(sum_t_a AS DOUBLE) * 1000.0 - $grand)"
      val ssb = s"(CAST(sum_t_b AS DOUBLE) * 1000.0 - $grand)"
      val ssc = s"(CAST(sum_t_c AS DOUBLE) * 1000.0 - $grand)"
      cellT.crossJoin(broadcast(segT)).crossJoin(broadcast(regT)) // 1-row sides
        .selectExpr("k_a", "k_b", "k_cells", "n_total",
          s"${fTree(ssa, "CAST(k_a - 1 AS DOUBLE)")} AS f_seg_milli",
          s"${fTree(ssb, "CAST(k_b - 1 AS DOUBLE)")} AS f_reg_milli",
          s"${fTree(s"($ssc - $ssa - $ssb)",
            "CAST((k_a - 1) * (k_b - 1) AS DOUBLE)")} AS f_inter_milli")
        .withColumn("seg_sig", $"f_seg_milli" >= 2372L)
        .withColumn("reg_sig", $"f_reg_milli" >= 2372L)
        .withColumn("inter_sig", $"f_inter_milli" >= 1644L)
    }),

    // PAIRED t-TEST — did per-part unit prices MOVE between 1995 and
    // 1996? Pairs are each part's integer-floor mean shipped price in
    // the two years (parts present in both); the t statistic runs on
    // exact Σd / Σd² sums through one operand-identical double tree
    // (q140's idiom, paired edition). Corpus-sized work = one keyed
    // (part, year) aggregate; the pair join is catalog-sized.
    "q193_paired_ttest" -> ((s, d) => {
      import s.implicits._
      val py = lineitem(s, d)
        .select($"l_partkey", year($"l_shipdate").as("yr"),
          (dec($"l_extendedprice") * 100).cast("long").as("c"))
        .filter($"yr".isin(1995, 1996))
        .groupBy($"l_partkey", $"yr")
        .agg(expr("sum(c) DIV count(1)").as("m"))
      val pairs = py.filter($"yr" === 1995).select($"l_partkey", $"m".as("m95"))
        .join(py.filter($"yr" === 1996).select($"l_partkey", $"m".as("m96")),
          Seq("l_partkey"))
        .select(($"m95" - $"m96").as("dv"))
      val sums = pairs.agg(count(lit(1)).as("n"), sum($"dv").as("sd"),
        sum($"dv".cast(D19) * $"dv".cast(D19)).as("sdd"))
      sums.selectExpr("n", "sd",
        "(CASE WHEN sd < 0 THEN -((-sd) DIV n) ELSE sd DIV n END) AS mean_d_cents",
        """CASE WHEN n < 2 OR CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
          |  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) <= 0.0 THEN NULL ELSE
          |CAST(FLOOR(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
          |  * CAST(n - 1 AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
          |     - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
          |  * 1000.0) AS BIGINT) END AS t2_milli""".stripMargin)
        .withColumn("significant", $"t2_milli" >= 3841L)
    }),

    // McNEMAR'S TEST — did individual customers SWITCH activity
    // between 1995 and 1996? Only the discordant cells matter:
    // b = active-then-quiet, c = quiet-then-active; continuity-
    // corrected χ² = (|b−c|−1)²/(b+c) in exact integer milli. Same
    // per-customer flag substrate as q191 — one keyed aggregate, one
    // rollup row.
    "q194_mcnemar" -> ((s, d) => {
      import s.implicits._
      val flags = orders(s, d)
        .select($"o_custkey", year($"o_orderdate").as("yr"))
        .filter($"yr".isin(1995, 1996))
        .groupBy($"o_custkey")
        .agg(max(($"yr" === 1995).cast("long")).as("y95"),
          max(($"yr" === 1996).cast("long")).as("y96"))
      flags.agg(
          sum(when($"y95" === 1 && $"y96" === 1, 1L).otherwise(0L)).as("n_both"),
          sum(when($"y95" === 1 && $"y96" === 0, 1L).otherwise(0L)).as("b"),
          sum(when($"y95" === 0 && $"y96" === 1, 1L).otherwise(0L)).as("c"))
        .selectExpr("n_both", "b", "c",
          """CASE WHEN b + c = 0 THEN NULL ELSE
            |(abs(b - c) - 1) * (abs(b - c) - 1) * 1000 DIV (b + c)
            |END AS chi2_milli""".stripMargin)
        .withColumn("significant", $"chi2_milli" >= 3841L)
    }),

    // ATTRIBUTE p-CHART — the SPC companion to q151's XmR chart for
    // RATES: daily return-flag share against p̄ ± 3√(p̄(1−p̄)/n_day)
    // limits, rolled to per-year out-of-control counts. The day table
    // is calendar-sized; the global p̄ rides a single-row broadcast;
    // limit compares are identical double trees (sqrt is correctly
    // rounded on both engines).
    "q195_p_chart" -> ((s, d) => {
      import s.implicits._
      val day = lineitem(s, d)
        .groupBy(to_date($"l_shipdate").as("day"))
        .agg(count(lit(1)).as("n_day"),
          sum(($"l_returnflag" === "R").cast("long")).as("x_day"))
      val tot = day.agg(sum($"n_day").as("n_all"), sum($"x_day").as("x_all"))
      val pbar = "CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE)"
      val lim = s"3.0 * sqrt(($pbar) * (1.0 - ($pbar)) / CAST(n_day AS DOUBLE))"
      val pday = "CAST(x_day AS DOUBLE) / CAST(n_day AS DOUBLE)"
      day.crossJoin(broadcast(tot)) // single-row side
        .selectExpr("CAST(year(day) AS BIGINT) AS yr", "n_day", "x_day",
          s"CASE WHEN $pday > ($pbar) + ($lim) THEN 1 ELSE 0 END AS hi",
          s"CASE WHEN $pday < ($pbar) - ($lim) THEN 1 ELSE 0 END AS lo",
          "x_all * 10000 DIV n_all AS pbar_bp")
        .groupBy($"yr", $"pbar_bp")
        .agg(count(lit(1)).as("n_days"), sum($"hi").as("n_ooc_hi"),
          sum($"lo").as("n_ooc_lo"))
        .select($"yr", $"n_days", $"n_ooc_hi", $"n_ooc_lo", $"pbar_bp")
        .orderBy($"yr")
    }),

    // COCHRAN'S Q — McNemar's k-sample generalization: did customer
    // activity shift across 1995/1996/1997 as matched binary
    // treatments? Q = (k−1)[kΣC_j² − T²] / [kT − ΣR_i²] entirely from
    // exact integers off ONE per-customer flag aggregate; the ratio
    // evaluates once through an identical double tree (χ²₂ cut 5.991).
    "q196_cochran_q" -> ((s, d) => {
      import s.implicits._
      val flags = orders(s, d)
        .select($"o_custkey", year($"o_orderdate").as("yr"))
        .filter($"yr".isin(1995, 1996, 1997))
        .groupBy($"o_custkey")
        .agg(max(($"yr" === 1995).cast("long")).as("y95"),
          max(($"yr" === 1996).cast("long")).as("y96"),
          max(($"yr" === 1997).cast("long")).as("y97"))
      flags.agg(count(lit(1)).as("n"),
          sum($"y95").as("c95"), sum($"y96").as("c96"), sum($"y97").as("c97"),
          sum(($"y95" + $"y96" + $"y97") * ($"y95" + $"y96" + $"y97")).as("sum_r2"))
        .selectExpr("n", "c95", "c96", "c97",
          "c95 + c96 + c97 AS t", "sum_r2",
          """CASE WHEN 3 * (c95 + c96 + c97) - sum_r2 = 0 THEN NULL ELSE
            |CAST(FLOOR(2.0
            |  * (3.0 * (CAST(c95 AS DOUBLE) * CAST(c95 AS DOUBLE)
            |     + CAST(c96 AS DOUBLE) * CAST(c96 AS DOUBLE)
            |     + CAST(c97 AS DOUBLE) * CAST(c97 AS DOUBLE))
            |     - CAST(c95 + c96 + c97 AS DOUBLE) * CAST(c95 + c96 + c97 AS DOUBLE))
            |  / (3.0 * CAST(c95 + c96 + c97 AS DOUBLE) - CAST(sum_r2 AS DOUBLE))
            |  * 1000.0) AS BIGINT) END AS q_milli""".stripMargin)
        .withColumn("significant", $"q_milli" >= 5991L)
    }),

    // GINI–SIMPSON DIVERSITY of the corpus mix — the "is this dataset
    // dangerously concentrated?" dial for both the language and the
    // source axes: 1 − Σp² in exact bp plus the effective number of
    // categories 1/Σp² (what "20 sources" really means when two
    // dominate). Two dimension-sized rollups over one documents scan
    // each; Σn² rides D19 products, ratios are multiply/divide-only
    // double trees floored to integers.
    "pipe_simpson_diversity" -> ((s, d) => {
      import s.implicits._
      def axis(dim: String): DataFrame = {
        val counts = documents(s, d).groupBy(col(dim).as("category"))
          .agg(count(lit(1)).as("n_i"))
        counts.agg(count(lit(1)).as("k"), sum($"n_i").as("n_docs"),
            sum($"n_i".cast(D19) * $"n_i".cast(D19)).as("snn"))
          .selectExpr(s"'$dim' AS dim", "k", "n_docs",
            """CAST(FLOOR((1.0 - CAST(snn AS DOUBLE)
              | / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
              | * 10000.0) AS BIGINT) AS gini_simpson_bp""".stripMargin,
            """CAST(FLOOR(CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
              | / CAST(snn AS DOUBLE) * 1000.0) AS BIGINT) AS effective_k_milli""".stripMargin)
      }
      axis("lang").unionByName(axis("source")).orderBy($"dim")
    })
  )

  val oracles: Map[String, String] = Map(
    "q191_capture_recapture" ->
      """WITH flags AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS y95,
        |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY o_custkey),
        |g AS (
        |  SELECT CAST(SUM(y95) AS BIGINT) AS n1, CAST(SUM(y96) AS BIGINT) AS n2,
        |    CAST(SUM(y95 * y96) AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM flags)
        |SELECT n1, n2, m, true_n,
        |  (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS n_hat,
        |  CASE WHEN m < 1 THEN NULL ELSE printf('%.3f', sqrt(
        |    CAST((n1 + 1) AS DOUBLE) * CAST((n2 + 1) AS DOUBLE)
        |    * CAST((n1 - m) AS DOUBLE) * CAST((n2 - m) AS DOUBLE)
        |    / (CAST((m + 1) AS DOUBLE) * CAST((m + 1) AS DOUBLE)
        |       * CAST((m + 2) AS DOUBLE)))) END AS se_hat,
        |  abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - true_n) * 10000
        |   // true_n AS err_bp
        |FROM g""".stripMargin,

    "q192_twoway_anova" -> {
      def term(s: String, n: String) =
        s"CAST(FLOOR(CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE) / 1000.0) AS BIGINT)"
      def fTree(ssNum: String, dfNum: String) =
        s"""CASE WHEN CAST(q_all AS DOUBLE) - CAST(sum_t_c AS DOUBLE) * 1000.0 <= 0.0
           |  OR n_total <= k_cells THEN NULL ELSE
           |CAST(FLOOR(($ssNum) / ($dfNum)
           |  / ((CAST(q_all AS DOUBLE) - CAST(sum_t_c AS DOUBLE) * 1000.0)
           |     / CAST(n_total - k_cells AS DOUBLE))
           |  * 1000.0) AS BIGINT) END""".stripMargin
      val grand = "CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE)"
      val ssa = s"(CAST(sum_t_a AS DOUBLE) * 1000.0 - $grand)"
      val ssb = s"(CAST(sum_t_b AS DOUBLE) * 1000.0 - $grand)"
      val ssc = s"(CAST(sum_t_c AS DOUBLE) * 1000.0 - $grand)"
      s"""WITH base AS (
         |  SELECT c.c_mktsegment AS seg, na.n_regionkey AS reg,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders o
         |  JOIN customer c ON c.c_custkey = o.o_custkey
         |  JOIN nation na ON na.n_nationkey = c.c_nationkey),
         |cells AS (
         |  SELECT seg, reg, CAST(count(*) AS BIGINT) AS n_c,
         |    CAST(SUM(v) AS BIGINT) AS s_c,
         |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS q_c
         |  FROM base GROUP BY seg, reg),
         |segt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_a,
         |    CAST(SUM(t_a) AS BIGINT) AS sum_t_a FROM (
         |    SELECT ${term("s_a", "n_a")} AS t_a FROM (
         |      SELECT CAST(SUM(n_c) AS BIGINT) AS n_a,
         |        CAST(SUM(s_c) AS BIGINT) AS s_a
         |      FROM cells GROUP BY seg))),
         |regt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_b,
         |    CAST(SUM(t_b) AS BIGINT) AS sum_t_b FROM (
         |    SELECT ${term("s_b", "n_b")} AS t_b FROM (
         |      SELECT CAST(SUM(n_c) AS BIGINT) AS n_b,
         |        CAST(SUM(s_c) AS BIGINT) AS s_b
         |      FROM cells GROUP BY reg))),
         |cellt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_cells,
         |    CAST(SUM(n_c) AS BIGINT) AS n_total,
         |    CAST(SUM(s_c) AS BIGINT) AS s_all,
         |    CAST(SUM(q_c) AS DECIMAL(38,0)) AS q_all,
         |    CAST(SUM(${term("s_c", "n_c")}) AS BIGINT) AS sum_t_c
         |  FROM cells),
         |f AS (SELECT * FROM cellt CROSS JOIN segt CROSS JOIN regt)
         |SELECT k_a, k_b, k_cells, n_total,
         |  ${fTree(ssa, "CAST(k_a - 1 AS DOUBLE)")} AS f_seg_milli,
         |  ${fTree(ssb, "CAST(k_b - 1 AS DOUBLE)")} AS f_reg_milli,
         |  ${fTree(s"($ssc - $ssa - $ssb)",
             "CAST((k_a - 1) * (k_b - 1) AS DOUBLE)")} AS f_inter_milli,
         |  ${fTree(ssa, "CAST(k_a - 1 AS DOUBLE)")} >= 2372 AS seg_sig,
         |  ${fTree(ssb, "CAST(k_b - 1 AS DOUBLE)")} >= 2372 AS reg_sig,
         |  ${fTree(s"($ssc - $ssa - $ssb)",
             "CAST((k_a - 1) * (k_b - 1) AS DOUBLE)")} >= 1644 AS inter_sig
         |FROM f""".stripMargin
    },

    "q193_paired_ttest" ->
      """WITH py AS (
        |  SELECT l_partkey, year(l_shipdate) AS yr,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      // CAST(count(*) AS BIGINT) AS m
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY l_partkey, year(l_shipdate)),
        |pairs AS (
        |  SELECT a.m - b.m AS dv
        |  FROM py a JOIN py b ON a.l_partkey = b.l_partkey
        |  WHERE a.yr = 1995 AND b.yr = 1996),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dv) AS BIGINT) AS sd,
        |    SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS sdd
        |  FROM pairs)
        |SELECT n, sd,
        |  (CASE WHEN sd < 0 THEN -((-sd) // n) ELSE sd // n END) AS mean_d_cents,
        |  CASE WHEN n < 2 OR CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) <= 0.0 THEN NULL ELSE
        |  CAST(FLOOR(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |    * CAST(n - 1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |       - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
        |    * 1000.0) AS BIGINT) END AS t2_milli,
        |  CASE WHEN n < 2 OR CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) <= 0.0 THEN NULL ELSE
        |  CAST(FLOOR(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |    * CAST(n - 1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |       - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
        |    * 1000.0) AS BIGINT) END >= 3841 AS significant
        |FROM g""".stripMargin,

    "q194_mcnemar" ->
      """WITH flags AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS y95,
        |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY o_custkey),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN y95 = 1 AND y96 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(SUM(CASE WHEN y95 = 1 AND y96 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN y95 = 0 AND y96 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM flags)
        |SELECT n_both, b, c,
        |  CASE WHEN b + c = 0 THEN NULL ELSE
        |  (abs(b - c) - 1) * (abs(b - c) - 1) * 1000 // (b + c)
        |  END AS chi2_milli,
        |  CASE WHEN b + c = 0 THEN NULL ELSE
        |  (abs(b - c) - 1) * (abs(b - c) - 1) * 1000 // (b + c)
        |  END >= 3841 AS significant
        |FROM g""".stripMargin,

    "q195_p_chart" ->
      """WITH day AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_day,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x_day
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_day) AS BIGINT) AS n_all,
        |               CAST(SUM(x_day) AS BIGINT) AS x_all FROM day),
        |j AS (
        |  SELECT year(day) AS yr, n_day, x_day,
        |    CASE WHEN CAST(x_day AS DOUBLE) / CAST(n_day AS DOUBLE)
        |      > CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE)
        |        + 3.0 * sqrt((CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE))
        |          * (1.0 - (CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
        |          / CAST(n_day AS DOUBLE)) THEN 1 ELSE 0 END AS hi,
        |    CASE WHEN CAST(x_day AS DOUBLE) / CAST(n_day AS DOUBLE)
        |      < CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE)
        |        - 3.0 * sqrt((CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE))
        |          * (1.0 - (CAST(x_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
        |          / CAST(n_day AS DOUBLE)) THEN 1 ELSE 0 END AS lo,
        |    x_all * 10000 // n_all AS pbar_bp
        |  FROM day CROSS JOIN tot)
        |SELECT CAST(yr AS BIGINT) AS yr, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(SUM(hi) AS BIGINT) AS n_ooc_hi, CAST(SUM(lo) AS BIGINT) AS n_ooc_lo,
        |  pbar_bp
        |FROM j GROUP BY yr, pbar_bp ORDER BY yr""".stripMargin,

    "q196_cochran_q" ->
      """WITH flags AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS y95,
        |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96,
        |    MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997)
        |  GROUP BY o_custkey),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(y95) AS BIGINT) AS c95, CAST(SUM(y96) AS BIGINT) AS c96,
        |    CAST(SUM(y97) AS BIGINT) AS c97,
        |    CAST(SUM((y95 + y96 + y97) * (y95 + y96 + y97)) AS BIGINT) AS sum_r2
        |  FROM flags),
        |f AS (
        |  SELECT n, c95, c96, c97, c95 + c96 + c97 AS t, sum_r2,
        |    CASE WHEN 3 * (c95 + c96 + c97) - sum_r2 = 0 THEN NULL ELSE
        |    CAST(FLOOR(2.0
        |      * (3.0 * (CAST(c95 AS DOUBLE) * CAST(c95 AS DOUBLE)
        |         + CAST(c96 AS DOUBLE) * CAST(c96 AS DOUBLE)
        |         + CAST(c97 AS DOUBLE) * CAST(c97 AS DOUBLE))
        |         - CAST(c95 + c96 + c97 AS DOUBLE) * CAST(c95 + c96 + c97 AS DOUBLE))
        |      / (3.0 * CAST(c95 + c96 + c97 AS DOUBLE) - CAST(sum_r2 AS DOUBLE))
        |      * 1000.0) AS BIGINT) END AS q_milli
        |  FROM g)
        |SELECT n, c95, c96, c97, t, sum_r2, q_milli,
        |  q_milli >= 5991 AS significant
        |FROM f""".stripMargin,

    "pipe_simpson_diversity" -> {
      def axis(dim: String) =
        s"""SELECT '$dim' AS dim, CAST(count(*) AS BIGINT) AS k,
           |  CAST(SUM(n_i) AS BIGINT) AS n_docs,
           |  CAST(FLOOR((1.0 - CAST(SUM(CAST(n_i AS DECIMAL(19,0)) * CAST(n_i AS DECIMAL(19,0))) AS DOUBLE)
           |   / (CAST(SUM(n_i) AS DOUBLE) * CAST(SUM(n_i) AS DOUBLE)))
           |   * 10000.0) AS BIGINT) AS gini_simpson_bp,
           |  CAST(FLOOR(CAST(SUM(n_i) AS DOUBLE) * CAST(SUM(n_i) AS DOUBLE)
           |   / CAST(SUM(CAST(n_i AS DECIMAL(19,0)) * CAST(n_i AS DECIMAL(19,0))) AS DOUBLE) * 1000.0) AS BIGINT)
           |   AS effective_k_milli
           |FROM (SELECT $dim AS category, CAST(count(*) AS BIGINT) AS n_i
           |      FROM documents GROUP BY $dim)""".stripMargin
      s"""${axis("lang")}
         |UNION ALL
         |${axis("source")}
         |ORDER BY dim""".stripMargin
    },

    "q190_crosscorr_leadlag" ->
      s"""WITH x AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |y AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
         |  FROM lineitem GROUP BY 1),
         |lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-$LAG, ${LAG + 1})),
         |xy AS (
         |  SELECT l.lag, x.x, y.y
         |  FROM x CROSS JOIN lags l
         |  JOIN y ON y.day = x.day + l.lag),
         |g AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
         |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
         |  FROM xy GROUP BY lag),
         |scored AS (
         |  SELECT lag, n_days,
         |    (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r_d
         |  FROM g),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY abs(r_d) DESC, lag ASC) AS rk
         |  FROM scored)
         |SELECT lag, n_days, printf('%.9f', r_d) AS r, rk = 1 AS is_peak
         |FROM ranked ORDER BY lag""".stripMargin
  )
}
