package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity.dec

/** Round-16 statistics batch — four classical tests the battery still
  * lacked, each in the house exact-arithmetic contract:
  *
  *  - `q287_mood_median`   — Mood's median test: does l_quantity's
  *    location differ across return flags? Grand median from the
  *    ≤50-row value census, 2×k above/≤ counts, χ² with per-cell
  *    micro-quantization before the cross-cell sum.
  *  - `q288_quade_test`    — Quade's blocked rank test, the
  *    range-weighted upgrade of Friedman (q158): block weights =
  *    rank of the block's revenue range, so wide-spread weeks count
  *    more. Doubled tie-averaged ranks keep every sum integer; the
  *    F statistic is an exact integer rational.
  *  - `q289_siegel_tukey`  — Siegel–Tukey dispersion test between
  *    urgent and low order priorities: alternating extreme ranks
  *    (closed form over the global ascending rank) fed through the
  *    Wilcoxon machinery. Global rank rides GlobalRank's two-pass
  *    range-partitioned prefix sum.
  *  - `q290_smr_indirect`  — indirectly standardized completion ratio
  *    (the SMR of epidemiology): the urgent-priority cohort's observed
  *    finalized orders vs the expectation under per-month reference
  *    rates, expectation milli-quantized per stratum before the
  *    cross-stratum sum.
  */
object RelationalQueries22 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)

  /** Money column as exact integer cents, decimal-38 typed. */
  private def cents38(c: Column) = (dec(c) * 100).cast(D38)

  /** (priority score, quantity) census — the ≤ 5×50-row sufficient
    * statistic behind the ordered-alternative tests (q291/q293): one
    * keyed fact-fact join + one keyed aggregate; every rank moment
    * derives from it in exact integers. Priorities are '1-URGENT' …
    * '5-LOW', so the leading character IS the trend score. */
  private def prioQty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
      .join(orders(s, d).select($"o_orderkey".as("l_orderkey"),
        substring($"o_orderpriority", 1, 1).cast("long").as("g")),
        Seq("l_orderkey"))
      .groupBy($"g", $"qty").agg(count(lit(1)).as("c"))
  }

  val queries: Map[String, Q] = Map(
    // MOOD'S MEDIAN TEST — the coarsest, most outlier-proof k-group
    // location test (the rank-free sibling of Kruskal–Wallis q152):
    // classify every line as above / at-or-below the GRAND median of
    // l_quantity, then χ² on the 2×k table. The grand median comes
    // from the ≤50-row quantity census (value-domain-sized at any
    // corpus scale — one keyed aggregate + a 50-row running sum);
    // each of the 2k χ² cells is (O·N − r·c)²/(r·c·N) from exact
    // integers, micro-floored PER CELL before the cross-cell sum
    // (the bartlett/tukey quantize-before-Σ idiom).
    "q287_mood_median" -> ((s, d) => {
      import s.implicits._
      val wCum = Window.orderBy($"qty") // ≤50 rows: the value census
      val census = lineitem(s, d)
        .groupBy($"l_quantity".cast("long").as("qty"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(wCum))
      val med = census
        .crossJoin(broadcast(census.agg(sum($"c").as("n_tot"))))
        .filter($"cum" * 2 >= $"n_tot")
        .agg(min($"qty").as("median"), min($"n_tot").as("n_tot"))
      val grp = lineitem(s, d)
        .crossJoin(broadcast(med))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when($"l_quantity" > $"median", 1L).otherwise(0L)).as("n_above"),
          min($"median").as("median"), min($"n_tot").as("n_tot"))
      val wAll = Window.partitionBy() // k = 3 rows
      grp
        .withColumn("tot_above", sum($"n_above").over(wAll))
        // per-cell χ² term (O·N − r·c)²/(r·c·N), micro-floored per
        // cell; both engines build the identical double tree from
        // exact sub-2^53 integers
        // libm pow is not correctly rounded — square via d*d (exact
        // IEEE multiply of an exactly-representable integer diff)
        .withColumn("da", ($"n_above" * $"n_tot" - $"n" * $"tot_above")
          .cast("double"))
        .withColumn("db", (($"n" - $"n_above") * $"n_tot"
          - $"n" * ($"n_tot" - $"tot_above")).cast("double"))
        // GREATEST(…, 1) guards the degenerate corpus where every
        // quantity is above (or at-or-below) the grand median:
        // tot_above ∈ {0, n_tot} makes a denominator 0, and
        // floor(NaN) is engine-divergent (Spark casts to 0L, DuckDB
        // NULLs). In that corner the numerator da/db is also 0, so
        // the guarded term is exactly 0 in both engines; on any
        // non-degenerate corpus the guard is the identity (the q294
        // det-guard idiom, r16 ADVICE).
        .withColumn("chi2_above_micro", floor(lit(1000000.0) * $"da" * $"da"
          / greatest($"n" * $"tot_above", lit(1L)).cast("double")
          / $"n_tot".cast("double")).cast("long"))
        .withColumn("chi2_below_micro", floor(lit(1000000.0) * $"db" * $"db"
          / greatest($"n" * ($"n_tot" - $"tot_above"), lit(1L)).cast("double")
          / $"n_tot".cast("double")).cast("long"))
        .withColumn("chi2_micro",
          sum($"chi2_above_micro" + $"chi2_below_micro").over(wAll))
        .select($"l_returnflag", $"n", $"n_above", $"median",
          $"chi2_micro", lit(2L).as("df"))
        .orderBy($"l_returnflag")
    }),

    // QUADE TEST — Friedman (q158) with blocks weighted by their
    // response RANGE: weeks where priority moves revenue a lot count
    // more than flat weeks. Within-block doubled tie-averaged ranks
    // r2 = 2r̄ and doubled block-range ranks Q2 = 2·rank(range) keep
    // S4_ij = Q2_i·(r2_ij − (k+1)) exactly 4·Q_i·(r_ij − (k+1)/2) —
    // pure integers, so A = ΣS4², S_j = Σ_i S4_ij, and the statistic
    // F = (n−1)·ΣS_j² / (n·A − ΣS_j²) are exact integer rationals.
    // One (week, priority) exchange; everything after runs on n·k
    // aggregated rows.
    "q288_quade_test" -> ((s, d) => {
      import s.implicits._
      val k = 5
      val cell = orders(s, d)
        .groupBy(
          floor(datediff(to_date($"o_orderdate"), lit("1970-01-05")) / 7).as("wk"),
          $"o_orderpriority".as("priority"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
      val wBlk = Window.partitionBy($"wk")
      val complete = cell
        .withColumn("n_in_block", count(lit(1)).over(wBlk))
        .filter($"n_in_block" === k)
        .withColumn("rng", max($"rev").over(wBlk) - min($"rev").over(wBlk))
      val wRank = Window.partitionBy($"wk").orderBy($"rev")
      val wTies = Window.partitionBy($"wk", $"rev")
      // block-weight rank: over the n-block range table (n-sized,
      // aggregate-scale — at 100 TB this window rides GlobalRank)
      val wQ = Window.orderBy($"rng")
      val wQt = Window.partitionBy($"rng")
      val blkW = complete.select($"wk", $"rng").distinct()
        .withColumn("q2", lit(2) * rank().over(wQ) + count(lit(1)).over(wQt) - 1)
      val ranked = complete
        .withColumn("r2", lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
        .join(blkW.select($"wk", $"q2"), Seq("wk"))
        .withColumn("s4", $"q2" * ($"r2" - (k + 1)))
      val perTreat = ranked.groupBy($"priority")
        .agg(count(lit(1)).as("n_blocks"), sum($"s4").cast("long").as("s_stat"))
      val aTot = ranked.agg(sum($"s4" * $"s4").cast("long").as("a_tot"))
      val wAll = Window.partitionBy() // k rows
      perTreat.crossJoin(broadcast(aTot))
        .withColumn("sum_s2", sum($"s_stat" * $"s_stat").over(wAll))
        .withColumn("f_stat", format_string("%.6f",
          (($"n_blocks" - 1) * $"sum_s2").cast("double")
            / ($"n_blocks" * $"a_tot" - $"sum_s2").cast("double")))
        .select($"priority", $"n_blocks", $"s_stat", $"f_stat",
          lit(k - 1).cast("long").as("df1"),
          (($"n_blocks" - 1) * (k - 1)).cast("long").as("df2"))
        .orderBy($"priority")
    }),

    // SIEGEL–TUKEY DISPERSION TEST — are urgent orders more spread in
    // value than low-priority ones? Alternating extreme ranks (1 to
    // the minimum, 2–3 to the two maxima, 4–5 to the next two minima,
    // …) have a closed form over the global ascending rank r:
    // b = r from below, t = n+1−r from above; the lower half takes
    // 2b−1 / 2b (b odd/even), the upper half 2t / 2t−1 (t odd/even).
    // Wilcoxon machinery on those ranks gives U and an exact-integer
    // z numerator; ties in cents break by o_orderkey so the rank
    // assignment is a total order on both engines. For an odd pooled
    // count the midpoint (b = t) takes the from-below value 2b — one
    // unit above n, where the textbook drops the observation: a
    // deterministic, engine-portable total rule with the same
    // asymptotics (the BPE self-pair convention's spirit). The ascending rank
    // is GlobalRank's two-pass range-partitioned prefix sum — no
    // single-partition sort at any scale.
    "q289_siegel_tukey" -> ((s, d) => {
      import s.implicits._
      val pool = orders(s, d)
        .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .select($"o_orderkey", $"o_orderpriority".as("grp"),
          cents38($"o_totalprice").cast("long").as("cents"))
      val (ranked, n) = GlobalRank.withRank(pool, "r",
        Seq($"cents".asc, $"o_orderkey".asc))
      val st = ranked
        .withColumn("b", $"r")
        .withColumn("t", lit(n) + 1 - $"r")
        .withColumn("st_rank",
          when($"b" <= $"t",
            when($"b" % 2 === 1, $"b" * 2 - 1).otherwise($"b" * 2))
            .otherwise(
              when($"t" % 2 === 1, $"t" * 2).otherwise($"t" * 2 - 1)))
      st.groupBy($"grp")
        .agg(count(lit(1)).as("n_grp"), sum($"st_rank").as("w_sum"))
        .withColumn("n_other", lit(n) - $"n_grp")
        .withColumn("u_stat", expr("w_sum - n_grp * (n_grp + 1) DIV 2"))
        .withColumn("z", format_string("%.6f",
          ($"u_stat".cast("double")
            - ($"n_grp" * $"n_other").cast("double") / 2.0)
            / sqrt(($"n_grp" * $"n_other" * (lit(n) + 1)).cast("double") / 12.0)))
        .select($"grp", $"n_grp", $"w_sum", $"u_stat", $"z")
        .orderBy($"grp")
    }),

    // INDIRECTLY STANDARDIZED COMPLETION RATIO — epidemiology's SMR
    // applied to order flow: does the URGENT cohort finalize more
    // often than its calendar mix predicts? Reference finalize rates
    // come from the whole corpus per order-month stratum; the
    // cohort's expected count is Σ_strata n_s·rate_s, milli-quantized
    // PER STRATUM (integer DIV) before the cross-stratum sum, so the
    // SMR is an exact integer ratio in basis points. Two keyed
    // aggregates over the fact table; the stratum table is
    // calendar-sized (~80 months), as is the final window.
    "q290_smr_indirect" -> ((s, d) => {
      import s.implicits._
      val fin = when($"o_orderstatus" === "F", 1L).otherwise(0L)
      val month = date_format(to_date($"o_orderdate"), "yyyy-MM").as("month")
      val ref = orders(s, d)
        .groupBy(month)
        .agg(count(lit(1)).as("ref_n"), sum(fin).as("ref_f"))
      val tgt = orders(s, d)
        .filter($"o_orderpriority" === "1-URGENT")
        .groupBy(month)
        .agg(count(lit(1)).as("n_target"), sum(fin).as("obs_f"))
      val wAll = Window.partitionBy() // calendar-sized (~80 months)
      tgt.join(ref, Seq("month"))
        .withColumn("e_milli", expr("n_target * ref_f * 1000 DIV ref_n"))
        .withColumn("obs_tot", sum($"obs_f").over(wAll))
        .withColumn("e_tot_milli", sum($"e_milli").over(wAll))
        .select($"month", $"n_target", $"obs_f", $"e_milli",
          expr("obs_tot * 10000000 DIV e_tot_milli").as("smr_bp"))
        .orderBy($"month")
    }),

    // JONCKHEERE–TERPSTRA ordered-alternative test — does line
    // quantity trend monotonically across the FIVE ORDERED priorities
    // (the ordered upgrade of Kruskal–Wallis q152, as Page q292 is of
    // Friedman)? All pairwise Mann–Whitney mass comes from the
    // (priority, quantity) CENSUS — ≤ 5×50 rows at any corpus scale —
    // so the i<j "pair enumeration" is a census self-join, never
    // row-level. Doubled counts (2·#greater + #ties) keep U exact;
    // the z uses the untied variance (conservative under ties,
    // documented). One fact-fact keyed join builds the census.
    "q291_jonckheere" -> ((s, d) => {
      import s.implicits._
      val cen = prioQty(s, d).localCheckpoint() // ≤ 250 rows
      val a = cen.select($"g".as("gi"), $"qty".as("va"), $"c".as("ca"))
      val b = cen.select($"g".as("gj"), $"qty".as("vb"), $"c".as("cb"))
      // theta self-join of a checkpointed frame plans a CartesianProduct
      // unless one side broadcasts (the r11 PlanSpec lesson) — the
      // census is ≤250 rows, so the broadcast is free
      val pairU = a.join(broadcast(b), $"gi" < $"gj")
        .withColumn("contrib",
          when($"vb" > $"va", $"ca" * $"cb" * 2)
            .when($"vb" === $"va", $"ca" * $"cb").otherwise(lit(0L)))
        .groupBy($"gi", $"gj").agg(sum($"contrib").as("u2_pair"))
      val tot = cen.groupBy($"g").agg(sum($"c").as("n_g"))
        .agg(sum($"n_g").as("nn"), sum($"n_g" * $"n_g").as("sn2"),
          sum($"n_g" * $"n_g" * ($"n_g" * 2 + 3)).as("sn23"))
      val wAll = Window.partitionBy() // 10 pair rows
      pairU.crossJoin(broadcast(tot))
        .withColumn("j2", sum($"u2_pair").over(wAll))
        .withColumn("z", format_string("%.6f",
          (($"j2".cast("double")
            - ($"nn" * $"nn" - $"sn2").cast("double") / 2.0) / 2.0)
            / sqrt(($"nn".cast("double") * $"nn".cast("double")
              * ($"nn".cast("double") * 2.0 + 3.0)
              - $"sn23".cast("double")) / 72.0)))
        .select($"gi", $"gj", $"u2_pair", $"j2", $"z")
        .orderBy($"gi", $"gj")
    }),

    // PAGE'S TREND TEST — the ordered-alternative Friedman (q158's
    // machinery, scored): within complete weekly blocks, L = Σ_j w_j·R_j
    // with w_j the priority's numeric score. Doubled tie-averaged
    // ranks keep L2 integer; for k=5 the null closed forms are
    // E[L] = 45n and Var[L] = 25n, so z = (L2 − 90n)/2 / (5√n) is one
    // exact double tree. Same (week, priority) exchange as q158.
    "q292_page_trend" -> ((s, d) => {
      import s.implicits._
      val k = 5
      val cell = orders(s, d)
        .groupBy(
          floor(datediff(to_date($"o_orderdate"), lit("1970-01-05")) / 7).as("wk"),
          $"o_orderpriority".as("priority"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
      val wBlk = Window.partitionBy($"wk")
      val complete = cell
        .withColumn("n_in_block", count(lit(1)).over(wBlk))
        .filter($"n_in_block" === k)
      val wRank = Window.partitionBy($"wk").orderBy($"rev")
      val wTies = Window.partitionBy($"wk", $"rev")
      val ranked = complete
        .withColumn("r2", lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
      val perTreat = ranked.groupBy($"priority")
        .agg(count(lit(1)).as("n_blocks"), sum($"r2").cast("long").as("rank2_sum"))
        .withColumn("score", substring($"priority", 1, 1).cast("long"))
      val wAll = Window.partitionBy() // k rows
      perTreat
        .withColumn("l2_stat", sum($"score" * $"rank2_sum").over(wAll))
        .withColumn("z", format_string("%.6f",
          ($"l2_stat" - $"n_blocks" * 90).cast("double") / 2.0
            / (sqrt($"n_blocks".cast("double")) * 5.0)))
        .select($"priority", $"score", $"n_blocks", $"rank2_sum",
          $"l2_stat", $"z")
        .orderBy($"priority")
    }),

    // CUZICK'S TREND TEST — the rank-sum trend across ordered groups
    // (the two-group Wilcoxon generalized by scores): T = Σ_g s_g·W_g
    // over POOLED midranks, tie-corrected variance. Midranks and all
    // moments come from the same ≤5×50 census as q291 (doubled
    // midranks R2 = 2·cum_before + t + 1 stay integer); the tie term
    // Σ(t³−t) is exact BIGINT (largest census cell ³ ≪ 2^63 at any
    // tested SF — the value domain has 50 cells). One double tree for
    // the z on both engines.
    "q293_cuzick_trend" -> ((s, d) => {
      import s.implicits._
      val cen = prioQty(s, d).localCheckpoint() // ≤ 250 rows
      val wCumB = Window.orderBy($"qty")
        .rowsBetween(Window.unboundedPreceding, -1) // ≤50-row census
      val pooled = cen.groupBy($"qty").agg(sum($"c").as("t"))
        .withColumn("cum_before", coalesce(sum($"t").over(wCumB), lit(0L)))
        .withColumn("r2", $"cum_before" * 2 + $"t" + 1)
      val wg = cen.join(pooled.select($"qty", $"r2"), Seq("qty"))
        .groupBy($"g")
        .agg(sum($"c").as("n_g"), sum($"c" * $"r2").as("w2_g"))
      val moments = wg
        .agg(sum($"n_g").as("nn"), sum($"g" * $"n_g").as("sn"),
          sum($"g" * $"g" * $"n_g").as("ssn"))
        .crossJoin(broadcast(
          pooled.agg(sum($"t" * $"t" * $"t" - $"t").as("tie_num"))))
      val wAll = Window.partitionBy() // 5 rows
      wg.crossJoin(broadcast(moments))
        .withColumn("t2_stat", sum($"g" * $"w2_g").over(wAll))
        .withColumn("z", format_string("%.6f",
          (($"t2_stat" - ($"nn" + 1) * $"sn").cast("double") / 2.0)
            / sqrt(($"nn" + 1).cast("double") / 12.0
              * ($"nn" * $"ssn" - $"sn" * $"sn").cast("double")
              * (lit(1.0) - $"tie_num".cast("double")
                / ($"nn".cast("double") * $"nn".cast("double")
                  * $"nn".cast("double") - $"nn".cast("double"))))))
        .select($"g", $"n_g", $"w2_g", $"t2_stat", $"z")
        .orderBy($"g")
    }),

    // STUART–MAXWELL MARGINAL HOMOGENEITY — McNemar (q194)
    // generalized to k=3 categories: did the customer spend-tercile
    // DISTRIBUTION shift between 1995 and 1996, beyond individual
    // churn? Terciles come from per-year NTILE over exact cents under
    // a (cents, custkey) total order (at 100 TB the tertile boundary
    // rides GlobalRank, as in text_ccnet_buckets); the 3×3 transition
    // table is one keyed aggregate; χ² = d'V⁻¹d with the 2×2
    // covariance inverted in closed form — every term an exact BIGINT
    // until the final ratio (det guarded at ≥1: a singular V means a
    // degenerate table and reports the raw numerator scale).
    "q294_stuart_maxwell" -> ((s, d) => {
      import s.implicits._
      def spend(yy: Int) = orders(s, d)
        .filter(year(to_date($"o_orderdate")) === yy)
        .groupBy($"o_custkey")
        .agg(sum(cents38($"o_totalprice")).cast("long").as(s"c$yy"))
      val j = spend(1995).join(spend(1996), Seq("o_custkey"))
      val w95 = Window.orderBy($"c1995", $"o_custkey") // customer-frame
      val w96 = Window.orderBy($"c1996", $"o_custkey")
      val cont = j
        .withColumn("t95", ntile(3).over(w95))
        .withColumn("t96", ntile(3).over(w96))
        .groupBy($"t95", $"t96").agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy() // ≤9 rows
      def marg(c: org.apache.spark.sql.Column, t: Int) =
        sum(when(c === t, $"n").otherwise(0L)).over(wAll)
      def cell(a: Int, b: Int) =
        sum(when($"t95" === a && $"t96" === b, $"n").otherwise(0L)).over(wAll)
      cont
        .withColumn("d1", marg($"t95", 1) - marg($"t96", 1))
        .withColumn("d2", marg($"t95", 2) - marg($"t96", 2))
        .withColumn("v11", marg($"t95", 1) + marg($"t96", 1) - cell(1, 1) * 2)
        .withColumn("v22", marg($"t95", 2) + marg($"t96", 2) - cell(2, 2) * 2)
        .withColumn("v12", -(cell(1, 2) + cell(2, 1)))
        .withColumn("num",
          $"v22" * $"d1" * $"d1" - $"v12" * $"d1" * $"d2" * 2
            + $"v11" * $"d2" * $"d2")
        .withColumn("det",
          greatest($"v11" * $"v22" - $"v12" * $"v12", lit(1L)))
        .select($"t95", $"t96", $"n",
          format_string("%.6f", $"num".cast("double") / $"det".cast("double"))
            .as("chi2"),
          lit(2L).as("df"))
        .orderBy($"t95", $"t96")
    })
  )

  val oracles: Map[String, String] = Map(
    "q287_mood_median" ->
      """WITH census AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT qty, CAST(SUM(c) OVER (ORDER BY qty) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n_tot
        |  FROM census),
        |med AS (
        |  SELECT MIN(qty) AS median, MIN(n_tot) AS n_tot
        |  FROM cum WHERE cum * 2 >= n_tot),
        |grp AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_quantity > median THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_above,
        |    MIN(median) AS median, MIN(n_tot) AS n_tot
        |  FROM lineitem CROSS JOIN med
        |  GROUP BY l_returnflag),
        |g2 AS (
        |  SELECT *, CAST(SUM(n_above) OVER () AS BIGINT) AS tot_above
        |  FROM grp),
        |g3 AS (
        |  SELECT *,
        |    CAST(FLOOR(1000000.0
        |      * CAST(n_above * n_tot - n * tot_above AS DOUBLE)
        |      * CAST(n_above * n_tot - n * tot_above AS DOUBLE)
        |      / CAST(GREATEST(n * tot_above, 1) AS DOUBLE)
        |      / CAST(n_tot AS DOUBLE))
        |      AS BIGINT) AS ca,
        |    CAST(FLOOR(1000000.0
        |      * CAST((n - n_above) * n_tot - n * (n_tot - tot_above) AS DOUBLE)
        |      * CAST((n - n_above) * n_tot - n * (n_tot - tot_above) AS DOUBLE)
        |      / CAST(GREATEST(n * (n_tot - tot_above), 1) AS DOUBLE)
        |      / CAST(n_tot AS DOUBLE)) AS BIGINT) AS cb
        |  FROM g2)
        |SELECT l_returnflag, n, n_above, median,
        |  CAST(SUM(ca + cb) OVER () AS BIGINT) AS chi2_micro,
        |  CAST(2 AS BIGINT) AS df
        |FROM g3 ORDER BY l_returnflag""".stripMargin,

    "q288_quade_test" ->
      """WITH cell AS (
        |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') // 7 AS wk,
        |    o_orderpriority AS priority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1, 2),
        |complete AS (
        |  SELECT *, MAX(rev) OVER (PARTITION BY wk)
        |    - MIN(rev) OVER (PARTITION BY wk) AS rng
        |  FROM (SELECT *, COUNT(*) OVER (PARTITION BY wk) AS nb FROM cell)
        |  WHERE nb = 5),
        |blkw AS (
        |  SELECT wk,
        |    2 * rank() OVER (ORDER BY rng)
        |      + COUNT(*) OVER (PARTITION BY rng) - 1 AS q2
        |  FROM (SELECT DISTINCT wk, rng FROM complete)),
        |ranked AS (
        |  SELECT c.priority,
        |    (2 * rank() OVER (PARTITION BY c.wk ORDER BY c.rev)
        |      + COUNT(*) OVER (PARTITION BY c.wk, c.rev) - 1 - 6) * b.q2 AS s4
        |  FROM complete c JOIN blkw b USING (wk)),
        |pt AS (
        |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(s4) AS BIGINT) AS s_stat
        |  FROM ranked GROUP BY priority),
        |tot AS (SELECT CAST(SUM(s4 * s4) AS BIGINT) AS a_tot FROM ranked),
        |fin AS (
        |  SELECT priority, n_blocks, s_stat,
        |    CAST(SUM(s_stat * s_stat) OVER () AS BIGINT) AS sum_s2, a_tot
        |  FROM pt CROSS JOIN tot)
        |SELECT priority, n_blocks, s_stat,
        |  printf('%.6f', CAST((n_blocks - 1) * sum_s2 AS DOUBLE)
        |    / CAST(n_blocks * a_tot - sum_s2 AS DOUBLE)) AS f_stat,
        |  CAST(4 AS BIGINT) AS df1,
        |  CAST((n_blocks - 1) * 4 AS BIGINT) AS df2
        |FROM fin ORDER BY priority""".stripMargin,

    "q289_siegel_tukey" ->
      """WITH pool AS (
        |  SELECT o_orderkey, o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |rk AS (
        |  SELECT grp,
        |    row_number() OVER (ORDER BY cents, o_orderkey) AS r,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM pool),
        |st AS (
        |  SELECT grp, n,
        |    CASE WHEN r <= n + 1 - r
        |      THEN CASE WHEN r % 2 = 1 THEN 2 * r - 1 ELSE 2 * r END
        |      ELSE CASE WHEN (n + 1 - r) % 2 = 1 THEN 2 * (n + 1 - r)
        |        ELSE 2 * (n + 1 - r) - 1 END
        |      END AS st_rank
        |  FROM rk),
        |g AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_grp,
        |    CAST(SUM(st_rank) AS BIGINT) AS w_sum, MIN(n) AS n
        |  FROM st GROUP BY grp),
        |u AS (
        |  SELECT grp, n_grp, w_sum, n, n - n_grp AS n_other,
        |    w_sum - n_grp * (n_grp + 1) // 2 AS u_stat
        |  FROM g)
        |SELECT grp, n_grp, w_sum, CAST(u_stat AS BIGINT) AS u_stat,
        |  printf('%.6f', (CAST(u_stat AS DOUBLE)
        |      - CAST(n_grp * n_other AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n_grp * n_other * (n + 1) AS DOUBLE) / 12.0)) AS z
        |FROM u ORDER BY grp""".stripMargin,

    "q290_smr_indirect" ->
      """WITH ref AS (
        |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(COUNT(*) AS BIGINT) AS ref_n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ref_f
        |  FROM orders GROUP BY 1),
        |tgt AS (
        |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(COUNT(*) AS BIGINT) AS n_target,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS obs_f
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  GROUP BY 1),
        |j AS (
        |  SELECT t.month, t.n_target, t.obs_f,
        |    t.n_target * r.ref_f * 1000 // r.ref_n AS e_milli
        |  FROM tgt t JOIN ref r USING (month)),
        |w AS (
        |  SELECT *, CAST(SUM(obs_f) OVER () AS BIGINT) AS obs_tot,
        |    CAST(SUM(e_milli) OVER () AS BIGINT) AS e_tot_milli
        |  FROM j)
        |SELECT month, n_target, obs_f,
        |  CAST(e_milli AS BIGINT) AS e_milli,
        |  CAST(obs_tot * 10000000 // e_tot_milli AS BIGINT) AS smr_bp
        |FROM w ORDER BY month""".stripMargin,

    "q291_jonckheere" ->
      """WITH cen AS (
        |  SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS g,
        |    CAST(l.l_quantity AS BIGINT) AS qty, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |pairu AS (
        |  SELECT a.g AS gi, b.g AS gj,
        |    CAST(SUM(CASE WHEN b.qty > a.qty THEN a.c * b.c * 2
        |      WHEN b.qty = a.qty THEN a.c * b.c ELSE 0 END) AS BIGINT) AS u2_pair
        |  FROM cen a JOIN cen b ON a.g < b.g
        |  GROUP BY 1, 2),
        |szs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cen GROUP BY g),
        |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
        |  CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
        |  CAST(SUM(n_g * n_g * (n_g * 2 + 3)) AS BIGINT) AS sn23 FROM szs),
        |fin AS (
        |  SELECT gi, gj, u2_pair,
        |    CAST(SUM(u2_pair) OVER () AS BIGINT) AS j2, nn, sn2, sn23
        |  FROM pairu CROSS JOIN tot)
        |SELECT gi, gj, u2_pair, j2,
        |  printf('%.6f',
        |    ((CAST(j2 AS DOUBLE) - CAST(nn * nn - sn2 AS DOUBLE) / 2.0) / 2.0)
        |    / sqrt((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * (CAST(nn AS DOUBLE) * 2.0 + 3.0)
        |        - CAST(sn23 AS DOUBLE)) / 72.0)) AS z
        |FROM fin ORDER BY gi, gj""".stripMargin,

    "q292_page_trend" ->
      """WITH cell AS (
        |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') // 7 AS wk,
        |    o_orderpriority AS priority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1, 2),
        |complete AS (
        |  SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY wk) AS nb FROM cell)
        |  WHERE nb = 5),
        |ranked AS (
        |  SELECT priority,
        |    2 * rank() OVER (PARTITION BY wk ORDER BY rev)
        |      + COUNT(*) OVER (PARTITION BY wk, rev) - 1 AS r2
        |  FROM complete),
        |pt AS (
        |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(r2) AS BIGINT) AS rank2_sum,
        |    CAST(substring(priority, 1, 1) AS BIGINT) AS score
        |  FROM ranked GROUP BY priority),
        |fin AS (
        |  SELECT *, CAST(SUM(score * rank2_sum) OVER () AS BIGINT) AS l2_stat
        |  FROM pt)
        |SELECT priority, score, n_blocks, rank2_sum, l2_stat,
        |  printf('%.6f', CAST(l2_stat - n_blocks * 90 AS DOUBLE) / 2.0
        |    / (sqrt(CAST(n_blocks AS DOUBLE)) * 5.0)) AS z
        |FROM fin ORDER BY priority""".stripMargin,

    "q293_cuzick_trend" ->
      """WITH cen AS (
        |  SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS g,
        |    CAST(l.l_quantity AS BIGINT) AS qty, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |pooled AS (
        |  SELECT qty, CAST(SUM(c) AS BIGINT) AS t FROM cen GROUP BY qty),
        |p2 AS (
        |  SELECT qty, t,
        |    COALESCE(CAST(SUM(t) OVER (ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      AS cum_before
        |  FROM pooled),
        |p3 AS (SELECT qty, t, cum_before * 2 + t + 1 AS r2 FROM p2),
        |wg AS (
        |  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
        |    CAST(SUM(c * r2) AS BIGINT) AS w2_g
        |  FROM cen JOIN p3 USING (qty) GROUP BY g),
        |mom AS (
        |  SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
        |    CAST(SUM(g * n_g) AS BIGINT) AS sn,
        |    CAST(SUM(g * g * n_g) AS BIGINT) AS ssn
        |  FROM wg),
        |tie AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_num
        |        FROM pooled),
        |fin AS (
        |  SELECT g, n_g, w2_g,
        |    CAST(SUM(g * w2_g) OVER () AS BIGINT) AS t2_stat,
        |    nn, sn, ssn, tie_num
        |  FROM wg CROSS JOIN mom CROSS JOIN tie)
        |SELECT g, n_g, w2_g, t2_stat,
        |  printf('%.6f',
        |    (CAST(t2_stat - (nn + 1) * sn AS DOUBLE) / 2.0)
        |    / sqrt(CAST(nn + 1 AS DOUBLE) / 12.0
        |      * CAST(nn * ssn - sn * sn AS DOUBLE)
        |      * (1.0 - CAST(tie_num AS DOUBLE)
        |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |          * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))))) AS z
        |FROM fin ORDER BY g""".stripMargin,

    "q294_stuart_maxwell" ->
      """WITH s95 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS c1995
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |  GROUP BY 1),
        |s96 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS c1996
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
        |  GROUP BY 1),
        |j AS (
        |  SELECT s95.o_custkey, c1995, c1996,
        |    ntile(3) OVER (ORDER BY c1995, s95.o_custkey) AS t95,
        |    ntile(3) OVER (ORDER BY c1996, s95.o_custkey) AS t96
        |  FROM s95 JOIN s96 USING (o_custkey)),
        |cont AS (
        |  SELECT t95, t96, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j GROUP BY t95, t96),
        |m AS (
        |  SELECT *,
        |    CAST(SUM(CASE WHEN t95 = 1 THEN n ELSE 0 END) OVER ()
        |      - SUM(CASE WHEN t96 = 1 THEN n ELSE 0 END) OVER () AS BIGINT)
        |      AS d1,
        |    CAST(SUM(CASE WHEN t95 = 2 THEN n ELSE 0 END) OVER ()
        |      - SUM(CASE WHEN t96 = 2 THEN n ELSE 0 END) OVER () AS BIGINT)
        |      AS d2,
        |    CAST(SUM(CASE WHEN t95 = 1 THEN n ELSE 0 END) OVER ()
        |      + SUM(CASE WHEN t96 = 1 THEN n ELSE 0 END) OVER ()
        |      - SUM(CASE WHEN t95 = 1 AND t96 = 1 THEN n ELSE 0 END) OVER ()
        |        * 2 AS BIGINT) AS v11,
        |    CAST(SUM(CASE WHEN t95 = 2 THEN n ELSE 0 END) OVER ()
        |      + SUM(CASE WHEN t96 = 2 THEN n ELSE 0 END) OVER ()
        |      - SUM(CASE WHEN t95 = 2 AND t96 = 2 THEN n ELSE 0 END) OVER ()
        |        * 2 AS BIGINT) AS v22,
        |    CAST(-(SUM(CASE WHEN t95 = 1 AND t96 = 2 THEN n ELSE 0 END) OVER ()
        |      + SUM(CASE WHEN t95 = 2 AND t96 = 1 THEN n ELSE 0 END) OVER ())
        |      AS BIGINT) AS v12
        |  FROM cont),
        |f AS (
        |  SELECT t95, t96, n,
        |    v22 * d1 * d1 - v12 * d1 * d2 * 2 + v11 * d2 * d2 AS num,
        |    GREATEST(v11 * v22 - v12 * v12, 1) AS det
        |  FROM m)
        |SELECT t95, t96, n,
        |  printf('%.6f', CAST(num AS DOUBLE) / CAST(det AS DOUBLE)) AS chi2,
        |  CAST(2 AS BIGINT) AS df
        |FROM f ORDER BY t95, t96""".stripMargin
  )
}
