package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Round-9 additions (q113–q118): regression-as-aggregation (OLS),
  * Benford data-quality screening, multi-step funnel conversion,
  * column-level table profiling, incremental materialized-view
  * maintenance, and an exact distributed weighted median on the
  * GlobalRank prefix machinery — the remaining statistics / BI /
  * warehouse-maintenance shapes the suite didn't yet cover.
  */
object RelationalQueries7 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // MULTIPLE linear regression (price ~ quantity + discount) per
    // returnflag — two regressors via the 2×2 normal equations in
    // closed form, where q76_regr_stats stops at the single-feature
    // regr_* aggregates. Ten order-independent DECIMAL sums in ONE
    // partial+final aggregate, then coefficients/R² from Cramer's rule
    // in DOUBLE: both engines see identical decimal sums, cast to
    // identical doubles, and evaluate the same expression tree, so
    // %.9f prints the same bits. This is the regression shape that
    // scales — no per-group iteration, no matrix library, map-side
    // combinable at any row count.
    "q113_ols_multiple" -> ((s, d) => {
      import s.implicits._
      // r20: the 10 DECIMAL multiply-sums fuse into the scan, and the
      // gate's single-row-group lineitem file makes that ONE task —
      // ~1.5 s of serialized BigDecimal math (ProfDesc: job 6, 3
      // tasks). Fan the projected columns out first (Tables.fanOutScan
      // — a no-op once the scan itself splits); the decimal sums are
      // order-independent, so the result is bit-identical.
      val li = graft.Tables.fanOutScan(s, lineitem(s, d)
        .select($"l_returnflag", $"l_quantity", $"l_discount", $"l_extendedprice"),
        $"l_extendedprice", $"l_quantity")
      val agg = li.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast("double").as("s1"),
        sum(dec($"l_discount")).cast("double").as("s2"),
        sum(dec($"l_extendedprice")).cast("double").as("sy"),
        sum(dec($"l_quantity") * dec($"l_quantity")).cast("double").as("s11"),
        sum(dec($"l_discount") * dec($"l_discount")).cast("double").as("s22"),
        sum(dec($"l_quantity") * dec($"l_discount")).cast("double").as("s12"),
        sum(dec($"l_quantity") * dec($"l_extendedprice")).cast("double").as("s1y"),
        sum(dec($"l_discount") * dec($"l_extendedprice")).cast("double").as("s2y"),
        sum(dec($"l_extendedprice") * dec($"l_extendedprice")).cast("double").as("syy"))
      val c = agg.select($"l_returnflag", $"n", $"s1", $"s2", $"sy",
        ($"s11" - $"s1" * $"s1" / $"n").as("c11"),
        ($"s22" - $"s2" * $"s2" / $"n").as("c22"),
        ($"s12" - $"s1" * $"s2" / $"n").as("c12"),
        ($"s1y" - $"s1" * $"sy" / $"n").as("c1y"),
        ($"s2y" - $"s2" * $"sy" / $"n").as("c2y"),
        ($"syy" - $"sy" * $"sy" / $"n").as("cyy"))
      val den = $"c11" * $"c22" - $"c12" * $"c12"
      val b1 = ($"c22" * $"c1y" - $"c12" * $"c2y") / den
      val b2 = ($"c11" * $"c2y" - $"c12" * $"c1y") / den
      c.select($"l_returnflag", $"n",
        format_string("%.9f", b1).as("b_quantity"),
        format_string("%.9f", b2).as("b_discount"),
        format_string("%.9f", ($"sy" - b1 * $"s1" - b2 * $"s2") / $"n").as("intercept"),
        format_string("%.9f", (b1 * $"c1y" + b2 * $"c2y") / $"cyy").as("r2"))
        .orderBy($"l_returnflag")
    }),

    // Two-sample Kolmogorov–Smirnov test: does the order-value
    // DISTRIBUTION differ between finalized ('F') and open ('O')
    // orders? D = max over pooled sample points of |ECDF₁ − ECDF₂| —
    // the distribution-shift detector that complements q105's rank-sum
    // (Mann–Whitney moves with location; KS sees any shape change).
    // Exact and distributed: both cumulative counts ride ONE
    // GlobalRank prefix pass with the group indicator packed into the
    // weight (w = is_F·2³¹ + 1, so cum DIV 2³¹ = cum_F and cum mod 2³¹
    // = pooled rank — one checkpoint, not two), and the max |·| is an
    // exact integer cross-multiplication, no float until the final
    // division. Never a single-partition window. Packing bound: the
    // pooled sample must stay under 2³¹ rows (and cum_F·2³¹ under
    // 2⁶³) — two billion rows per test; a 100 TB deployment either
    // samples per-test (KS converges at ~10⁶ rows anyway) or widens
    // the radix and drops to two prefix passes.
    "q114_ks_test" -> ((s, d) => {
      import s.implicits._
      val P = 2147483648L // 2^31
      val base = orders(s, d).filter($"o_orderstatus".isin("F", "O"))
        .select($"o_totalprice", $"o_orderkey",
          when($"o_orderstatus" === "F", 1L).otherwise(0L).as("w1"))
        .withColumn("wpack", $"w1" * P + 1L)
      val (cum, total) = GlobalRank.withPrefixSum(base, "_cp", col("wpack"),
        Seq($"o_totalprice", $"o_orderkey"))
      val n1 = total / P
      val n2 = total % P - n1
      cum
        .withColumn("cum1", expr(s"_cp DIV ${P}L"))
        .withColumn("cum2", expr(s"_cp % ${P}L") - $"cum1")
        .withColumn("dnum", abs($"cum1" * n2 - $"cum2" * n1))
        .orderBy($"dnum".desc, $"o_totalprice".desc, $"o_orderkey".desc)
        .limit(1)
        .select(lit(n1).as("n1"), lit(n2).as("n2"),
          format_string("%.9f", $"dnum".cast("double") / lit(n1 * n2)).as("ks_d"),
          format_string("%.2f", $"o_totalprice").as("ks_at"))
    }),

    // Multi-step ORDERED funnel (view → click-after-view → purchase-
    // after-click) rolled up to CONVERSION RATES — the aggregate twin
    // of q67_funnel_steps (which emits per-user stage timestamps via
    // chained keyed joins). This variant instead chains three window
    // passes over ONE user_id shuffle (each stage's anchor is the
    // previous window's result, same partition key, so EnsureRequirements
    // reuses the exchange), then a keyed per-user collapse and one
    // global roll-up — fewer shuffles than the join chain when the
    // deliverable is rates, not rows. Counts and DIV only — exact.
    "q115_funnel_conversion" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
      val staged = events(s, d)
        .select($"user_id", $"event_type", $"ts")
        .withColumn("t1", min(when($"event_type" === "view", $"ts")).over(w))
        .withColumn("t2", min(when($"event_type" === "click" && $"ts" >= $"t1", $"ts")).over(w))
        .withColumn("t3", min(when($"event_type" === "purchase" && $"ts" >= $"t2", $"ts")).over(w))
      staged.groupBy($"user_id")
        .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
        .agg(count($"t1").as("n_view"),
          count($"t2").as("n_click_after_view"),
          count($"t3").as("n_purchase_after_click"))
        .select($"n_view", $"n_click_after_view", $"n_purchase_after_click",
          expr("n_click_after_view * 10000 DIV n_view").as("click_conv_bp"),
          expr("n_purchase_after_click * 10000 DIV n_view").as("purchase_conv_bp"))
    }),

    // Column-level table profile of `orders` — the warehouse
    // "describe my table" operator (null counts, exact NDV, typed
    // min/max rendered with explicit per-type formatting so both
    // engines print identical strings). One single-column scan per
    // row: at 100 TB each profile row reads exactly one column's
    // pages (columnar pruning is the whole economics of profiling),
    // and each aggregate is partial+final.
    "q116_column_profile" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
      def prof(name: String, c: Column, fmt: Column => Column): DataFrame =
        o.agg(
          sum(when(c.isNull, 1L).otherwise(0L)).as("n_nulls"),
          count_distinct(c).as("n_distinct"),
          fmt(min(c)).as("min_str"), fmt(max(c)).as("max_str"))
          .select(lit(name).as("col_name"), $"n_nulls", $"n_distinct",
            $"min_str", $"max_str")
      val asStr = (c: Column) => c.cast("string")
      val asMoney = (c: Column) => format_string("%.2f", c)
      Seq(
        prof("o_orderkey", $"o_orderkey", asStr),
        prof("o_custkey", $"o_custkey", asStr),
        prof("o_orderstatus", $"o_orderstatus", asStr),
        prof("o_totalprice", $"o_totalprice", asMoney),
        prof("o_orderdate", $"o_orderdate", fmtTs),
        prof("o_orderpriority", $"o_orderpriority", asStr))
        .reduce(_ unionByName _)
        .orderBy($"col_name")
    }),

    // Incremental materialized-view maintenance: the monthly-revenue
    // MV is kept as snapshot ⊎ delta — the snapshot aggregate (orders
    // before the cutoff) is MERGED with the delta month's aggregate by
    // re-aggregating the two PARTIAL aggregates, never rescanning the
    // snapshot's fact rows. That merge being exactly the full
    // recompute (the oracle) is the algebraic property (sum/count are
    // commutative monoids) that makes incremental pipelines sound.
    // DECIMAL partials, so associativity is exact, not approximate.
    "q117_mv_incremental" -> ((s, d) => {
      import s.implicits._
      val cutoff = to_timestamp(lit("1997-01-01"))
      def monthly(df: DataFrame): DataFrame = df
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
        .agg(sum(dec($"o_totalprice")).as("rev"), count(lit(1)).as("n_orders"))
      val snapshot = monthly(orders(s, d).filter($"o_orderdate" < cutoff))
      val delta = monthly(orders(s, d).filter($"o_orderdate" >= cutoff))
      snapshot.unionByName(delta)
        .groupBy($"month")
        .agg(sum($"rev").cast("double").as("revenue"),
          sum($"n_orders").as("n_orders"))
        .orderBy($"month")
    }),

    // Exact WEIGHTED median of l_extendedprice (weight = quantity) via
    // GlobalRank's distributed prefix-sum machinery: range-partition
    // by price, per-partition weight totals to the driver, partition-
    // local cumulative + offset — the weighted twin of the q85 rank,
    // and the same reason it scales: no single-partition window, the
    // driver sees one row per partition. The median is the smallest
    // price whose doubled cumulative weight reaches the total (integer
    // weights, so the comparison is exact in both engines).
    "q118_weighted_median" -> ((s, d) => {
      import s.implicits._
      val base = lineitem(s, d).select($"l_extendedprice", $"l_orderkey",
        $"l_linenumber", $"l_quantity".cast("long").as("w"))
      val (cum, total) = GlobalRank.withPrefixSum(base, "_cw", col("w"),
        Seq($"l_extendedprice", $"l_orderkey", $"l_linenumber"))
      cum.filter($"_cw" * 2 >= total)
        .agg(min($"l_extendedprice").as("m"))
        .select(format_string("%.2f", $"m").as("weighted_median"),
          lit(total).as("total_weight"))
    }),

    // Market-basket association rules over order lines: top-20 part
    // pairs by co-occurrence, with support / confidence / lift in
    // exact integer basis points. The pair join is keyed by orderkey
    // and quadratic only WITHIN an order (≤7 lines in TPC-H shape), so
    // candidate volume is lines·(avg basket −1), linear in the fact
    // table — the same bounded-blowup argument as the df-capped
    // shingle join. Top-k rides a total order (count desc, pair), so
    // the cut is deterministic; everything after is integer DIV.
    "q119_market_basket" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d).select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val nOrd = li.select($"ok").distinct().agg(count(lit(1)).as("n_ord"))
      val partN = li.groupBy($"pk").agg(count(lit(1)).as("n_part"))
      val pairs = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("p1"), $"b.pk".as("p2"))
        .agg(count(lit(1)).as("n_both"))
        .orderBy($"n_both".desc, $"p1", $"p2")
        .limit(20)
      pairs
        .join(partN.select($"pk".as("p1"), $"n_part".as("n1")), Seq("p1"))
        .join(partN.select($"pk".as("p2"), $"n_part".as("n2")), Seq("p2"))
        .crossJoin(broadcast(nOrd))
        .select($"p1", $"p2", $"n_both",
          expr("n_both * 10000 DIV n_ord").as("support_bp"),
          expr("n_both * 10000 DIV n1").as("confidence_bp"),
          expr("n_both * n_ord * 10000 DIV (n1 * n2)").as("lift_e4"))
        .orderBy($"n_both".desc, $"p1", $"p2")
    }),

    // Slowly-changing-dimension TYPE 2 build with RUN COLLAPSE: each
    // customer's o_orderpriority history becomes validity intervals
    // [valid_from, valid_to) per maximal run of the SAME value — the
    // change-data-compaction q66_scd2_intervals deliberately skips
    // (q66 versions every change row; this op suppresses no-op
    // "changes", the dimension-maintenance semantics). Runs fall out
    // of the rn − rn_per_value gaps-islands trick (two row_numbers
    // over the same keyed sort → one shuffle), and valid_to is the
    // next run's start via lead(). All windows keyed by customer.
    "q120_scd2_dimension" -> ((s, d) => {
      import s.implicits._
      val wAll = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wVal = Window.partitionBy($"o_custkey", $"o_orderpriority")
        .orderBy($"o_orderdate", $"o_orderkey")
      val runs = orders(s, d)
        .select($"o_custkey", $"o_orderpriority", $"o_orderdate", $"o_orderkey")
        .withColumn("grp", row_number().over(wAll) - row_number().over(wVal))
        .groupBy($"o_custkey", $"o_orderpriority", $"grp")
        .agg(min($"o_orderdate").as("from_ts"), count(lit(1)).as("n_orders"),
          min($"o_orderkey").as("run_key"))
      // run_key (the run's first orderkey) makes the sequence order
      // TOTAL: (from_ts, o_orderpriority) alone can tie when >=3
      // same-date orders of one customer interleave priorities, which
      // would leave lead() and the output order engine-dependent.
      val wSeq = Window.partitionBy($"o_custkey").orderBy($"from_ts", $"run_key")
      runs
        .withColumn("to_ts", lead($"from_ts", 1).over(wSeq))
        .orderBy($"o_custkey", $"from_ts", $"run_key")
        .select($"o_custkey", $"o_orderpriority",
          fmtTs($"from_ts").as("valid_from"),
          coalesce(fmtTs($"to_ts"), lit("9999-12-31 00:00:00")).as("valid_to"),
          $"n_orders")
    }),

    // Cumulative audience reach: per day, first-time users and the
    // running distinct-user total. Exact distinct-over-growing-window
    // without any distinct-window state: a user contributes to the
    // cumulative count exactly on their FIRST day (keyed min), so the
    // running total is a prefix sum over the per-day AGGREGATE — the
    // window input is calendar-bounded (one row per day), the q86/q105
    // bounded-global-window class, not a data-sized sort.
    "q121_cumulative_reach" -> ((s, d) => {
      import s.implicits._
      val firstDay = events(s, d).groupBy($"user_id")
        .agg(min(to_date($"ts")).as("day"))
      val perDay = firstDay.groupBy($"day").agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay
        .withColumn("cum_users", sum($"new_users").over(w))
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"new_users", $"cum_users")
        .orderBy($"day")
    }),

    // Inter-arrival-time profile per event type — the stream-health
    // stats (rate, burstiness) an ops dashboard reads. Gaps are exact
    // integer micros from one keyed lag window; mean is an exact
    // integer-sum division; p50/p95 ride percentile_cont WITHIN GROUP
    // on both engines (the q90/q107 interpolation-parity idiom),
    // printed at %.4f to sit far above ulp noise on micro-second
    // magnitudes. One shuffle, aggregate output.
    "q123_interarrival_stats" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"us", $"event_id")
      events(s, d)
        .select($"event_type", micros($"ts").as("us"), $"event_id")
        .withColumn("gap", $"us" - lag($"us", 1).over(w))
        .filter($"gap".isNotNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_gaps"),
          min($"gap").as("min_gap_us"),
          max($"gap").as("max_gap_us"),
          sum($"gap").as("sum_gap"),
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)").as("p50"),
          expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY gap)").as("p95"))
        .select($"event_type", $"n_gaps", $"min_gap_us", $"max_gap_us",
          expr("sum_gap * 10000 DIV n_gaps").as("mean_gap_e4"),
          format_string("%.4f", $"p50").as("p50_gap_us"),
          format_string("%.4f", $"p95").as("p95_gap_us"))
        .orderBy($"event_type")
    }),

    // NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the missing-
    // key dimension lookup where NULL is a legitimate bucket (here:
    // urgent orders are keyed NULL and must land on the dimension's
    // NULL row, which a plain equi-join silently drops). Spark plans
    // <=> as a hash join on a null-safe key — still a keyed shuffle,
    // NOT a nested loop — which is the property worth pinning against
    // the SQL-standard IS NOT DISTINCT FROM.
    "q124_null_safe_join" -> ((s, d) => {
      import s.implicits._
      val fact = orders(s, d)
        .select(nullif($"o_orderpriority", lit("1-URGENT")).as("k"), $"o_totalprice")
      val dim = orders(s, d).select($"o_orderpriority").distinct()
        .select(nullif($"o_orderpriority", lit("1-URGENT")).as("dk"))
      fact.join(dim, $"k" <=> $"dk")
        .groupBy($"dk")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
        .select(coalesce($"dk", lit("(null=urgent)")).as("priority_key"),
          $"n_orders", $"revenue")
        .orderBy($"priority_key")
    }),

    // Time-series RESAMPLING with LINEAR interpolation: each event
    // type's irregular readings are sampled onto an hourly grid, value
    // at each grid instant interpolated between the surrounding
    // readings — the numeric upgrade of q57's LOCF gap-fill. Same
    // union-merge machinery as the q109 bidirectional as-of: grid rows
    // and readings share ONE user-keyed sort, LOCF backward + first-
    // forward fill both neighbors, and the interpolation is double
    // math over exact integer micros, identical operands both engines.
    // Interior grid points only (both neighbors exist) — extrapolation
    // is a modeling choice, not a resampling one.
    "q125_linear_interp" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"event_type", micros($"ts").as("us"), $"value")
      val hourUs = 3600L * 1000000L
      val bounds = ev.groupBy($"event_type")
        .agg(min($"us").as("lo"), max($"us").as("hi"))
        .withColumn("gstart", $"lo" - ($"lo" % hourUs) + hourUs)
        .filter($"gstart" <= $"hi") // a type inside one hour has no grid
      val grid = bounds.select($"event_type",
        explode(sequence($"gstart", $"hi", lit(hourUs))).as("us"))
        .withColumn("is_grid", lit(1))
      val u = ev.withColumn("is_grid", lit(0))
        .unionByName(grid.withColumn("value", lit(null).cast("double")),
          allowMissingColumns = true)
        .repartition($"event_type")
      // Forward fill runs as a running last() over the REVERSED sort,
      // not a currentRow..unboundedFollowing frame: Spark evaluates
      // unbounded-FOLLOWING frames by rescanning the partition tail
      // per row — O(rows²) per partition, a 174 s melt on the 5 fat
      // event_type partitions at sf0.1 — while unboundedPreceding
      // frames stream in O(rows). Same semantics (the is_grid desc
      // tiebreak keeps same-instant readings out of their grid row's
      // forward frame, exactly as the asc formulation did).
      val wB = Window.partitionBy($"event_type").orderBy($"us".asc, $"is_grid".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy($"event_type").orderBy($"us".desc, $"is_grid".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u
        .withColumn("p_us", last(when($"is_grid" === 0, $"us"), ignoreNulls = true).over(wB))
        .withColumn("p_v", last(when($"is_grid" === 0, $"value"), ignoreNulls = true).over(wB))
        .withColumn("n_us", last(when($"is_grid" === 0, $"us"), ignoreNulls = true).over(wF))
        .withColumn("n_v", last(when($"is_grid" === 0, $"value"), ignoreNulls = true).over(wF))
        .filter($"is_grid" === 1 && $"p_us".isNotNull && $"n_us".isNotNull)
        .select($"event_type", $"us".as("grid_us"),
          format_string("%.9f",
            when($"n_us" === $"p_us", $"p_v")
              .otherwise($"p_v" + ($"n_v" - $"p_v") *
                (($"us" - $"p_us").cast("double") / ($"n_us" - $"p_us").cast("double"))))
            .as("interp_value"))
        .orderBy($"event_type", $"grid_us")
    }),

    // SEASONALITY-CORRECTED anomaly detection: each reading is z-scored
    // against its own (event_type, hour-of-day) cell's mean/stddev —
    // the baseline-subtraction upgrade of q83's rolling window (q83
    // catches "unusual vs recent"; this catches "unusual for 3 AM").
    // Cell stats are one aggregate (type×24 cells — broadcast-sized at
    // any corpus scale) joined back to the stream; variance from exact
    // decimal sums, double math over identical operands both engines.
    "q126_seasonal_residuals" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"event_type", hour($"ts").as("hr"), $"event_id",
          micros($"ts").as("ts_us"), $"value")
      val cells = ev.groupBy($"event_type", $"hr")
        .agg(count(lit(1)).as("n"),
          sum(dec($"value")).cast("double").as("sx"),
          sum(dec($"value") * dec($"value")).cast("double").as("sxx"))
        .withColumn("mean", $"sx" / $"n")
        .withColumn("variance", ($"sxx" - $"sx" * $"sx" / $"n") / $"n")
        .filter($"n" >= 10 && $"variance" > 0)
      ev.join(broadcast(cells), Seq("event_type", "hr"))
        .withColumn("z", ($"value" - $"mean") / sqrt($"variance"))
        .filter(abs($"z") > 3.0)
        .select($"event_type", $"event_id", $"ts_us", $"value",
          format_string("%.9f", $"z").as("seasonal_z"))
        .orderBy($"event_type", $"event_id")
    }),

    // CUSUM changepoint detection per event-type series: the running
    // sum of deviations from the series mean peaks where the level
    // shifts — the classic drift detector. EXACT arithmetic throughout:
    // deviations are scaled to integers (value_cents·n − sum_cents, so
    // the mean subtraction never divides), the cumulative sum is a
    // keyed integer prefix, and the argmax is a deterministic top-1
    // per key. No floats until nothing is left to compute.
    "q127_cusum_changepoint" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"event_type", $"event_id", micros($"ts").as("us"),
          (dec($"value") * 100).cast("long").as("cents"))
      val tot = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      val w = Window.partitionBy($"event_type").orderBy($"us", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy($"event_type")
        .orderBy(abs($"cusum").desc, $"us", $"event_id")
      ev.join(broadcast(tot), Seq("event_type"))
        .withColumn("cusum", sum($"cents" * $"n" - $"sum_cents").over(w))
        .withColumn("rn", row_number().over(wPick))
        .filter($"rn" === 1)
        .select($"event_type", $"n".as("n_events"),
          $"us".as("cp_ts_us"), $"event_id".as("cp_event_id"),
          abs($"cusum").as("max_abs_cusum"))
        .orderBy($"event_type")
    }),

    // ABC inventory classification — the Pareto workhorse: parts
    // ranked by revenue, class A = first 80% of cumulative revenue,
    // B = next 15%, C = the tail. The cumulative share over the
    // corpus-cardinality part table rides GlobalRank's prefix-sum
    // machinery (weights = exact revenue cents), so the classification
    // is exact at any part count with no single-partition window —
    // the q110 decile pattern generalized to value-share cuts.
    "q128_abc_classification" -> ((s, d) => {
      import s.implicits._
      val parts = lineitem(s, d).groupBy($"l_partkey")
        .agg(sum(dec($"l_extendedprice") * 100).cast("long").as("cents"))
      val (cum, total) = GlobalRank.withPrefixSum(parts, "_cw", col("cents"),
        Seq($"cents".desc, $"l_partkey"))
      cum
        .withColumn("abc_class",
          when($"_cw" * 100 <= total * 80L, "A")
            .when($"_cw" * 100 <= total * 95L, "B")
            .otherwise("C"))
        .groupBy($"abc_class")
        .agg(count(lit(1)).as("n_parts"),
          sum($"cents").as("class_cents"))
        .select($"abc_class", $"n_parts",
          ($"class_cents".cast("double") / 100).as("class_revenue"),
          expr(s"class_cents * 10000 DIV ${total}L").as("share_bp"))
        .orderBy($"abc_class")
    }),

    // Day-of-week × hour seasonality profile of the event stream (the
    // ops-dashboard heatmap): counts and exact-decimal value sums per
    // (dow, hour) cell. Pure keyed aggregation; the dow numbering is
    // pinned to DuckDB's 0=Sunday convention explicitly rather than
    // trusting either engine's locale default.
    "q122_hourly_seasonality" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy((dayofweek($"ts") - 1).as("dow"), hour($"ts").as("hour"))
        .agg(count(lit(1)).as("n_events"),
          dsum($"value").as("sum_value"),
          format_string("%.6f", sum(dec($"value")).cast("double") / count(lit(1)))
            .as("mean_value"))
        .orderBy($"dow", $"hour")
    })
  )

  val oracles: Map[String, String] = Map(
    "q113_ols_multiple" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n, s1, s2, sy,
        |    s11 - s1*s1/n AS c11, s22 - s2*s2/n AS c22, s12 - s1*s2/n AS c12,
        |    s1y - s1*sy/n AS c1y, s2y - s2*sy/n AS c2y, syy - sy*sy/n AS cyy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  printf('%.9f', (c22*c1y - c12*c2y) / (c11*c22 - c12*c12)) AS b_quantity,
        |  printf('%.9f', (c11*c2y - c12*c1y) / (c11*c22 - c12*c12)) AS b_discount,
        |  printf('%.9f', (sy - (c22*c1y - c12*c2y) / (c11*c22 - c12*c12) * s1
        |    - (c11*c2y - c12*c1y) / (c11*c22 - c12*c12) * s2) / n) AS intercept,
        |  printf('%.9f', ((c22*c1y - c12*c2y) / (c11*c22 - c12*c12) * c1y
        |    + (c11*c2y - c12*c1y) / (c11*c22 - c12*c12) * c2y) / cyy) AS r2
        |FROM c ORDER BY l_returnflag""".stripMargin,

    "q114_ks_test" ->
      """WITH b AS (
        |  SELECT o_totalprice AS x, o_orderkey AS ok,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS w1
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |n AS (SELECT CAST(SUM(w1) AS BIGINT) AS n1,
        |  CAST(COUNT(*) AS BIGINT) - CAST(SUM(w1) AS BIGINT) AS n2 FROM b),
        |c AS (
        |  SELECT x, ok,
        |    CAST(SUM(w1) OVER w AS BIGINT) AS cum1,
        |    CAST(row_number() OVER w AS BIGINT) - CAST(SUM(w1) OVER w AS BIGINT) AS cum2
        |  FROM b WINDOW w AS (ORDER BY x, ok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2,
        |  printf('%.9f', CAST(dnum AS DOUBLE) / ((SELECT n1 FROM n) * (SELECT n2 FROM n))) AS ks_d,
        |  printf('%.2f', x) AS ks_at
        |FROM (
        |  SELECT x, ok, abs(cum1 * (SELECT n2 FROM n) - cum2 * (SELECT n1 FROM n)) AS dnum
        |  FROM c ORDER BY dnum DESC, x DESC, ok DESC LIMIT 1)""".stripMargin,

    "q115_funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
        |  FROM events GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id),
        |agg AS (
        |  SELECT (SELECT count(t1) FROM s1) AS n_view,
        |    (SELECT count(*) FROM s2) AS n_click_after_view,
        |    (SELECT count(*) FROM s3) AS n_purchase_after_click)
        |SELECT n_view, n_click_after_view, n_purchase_after_click,
        |  n_click_after_view * 10000 // n_view AS click_conv_bp,
        |  n_purchase_after_click * 10000 // n_view AS purchase_conv_bp
        |FROM agg""".stripMargin,

    "q116_column_profile" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_str, CAST(max(o_orderkey) AS VARCHAR) AS max_str
        |  FROM orders
        |  UNION ALL SELECT 'o_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL SELECT 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |  UNION ALL SELECT 'o_totalprice',
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_totalprice),
        |    printf('%.2f', min(o_totalprice)), printf('%.2f', max(o_totalprice))
        |  FROM orders
        |  UNION ALL SELECT 'o_orderdate',
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderdate),
        |    strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders
        |  UNION ALL SELECT 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority)
        |  FROM orders)
        |ORDER BY col_name""".stripMargin,

    "q117_mv_incremental" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q118_weighted_median" ->
      """WITH c AS (
        |  SELECT l_extendedprice AS x,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |  FROM lineitem),
        |t AS (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tw FROM lineitem)
        |SELECT printf('%.2f', min(x)) AS weighted_median,
        |  (SELECT tw FROM t) AS total_weight
        |FROM c WHERE 2 * cw >= (SELECT tw FROM t)""".stripMargin,

    "q119_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_ord FROM li),
        |pn AS (SELECT pk, count(*) AS n_part FROM li GROUP BY pk),
        |pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk
        |  ORDER BY n_both DESC, p1, p2 LIMIT 20)
        |SELECT p1, p2, n_both,
        |  n_both * 10000 // (SELECT n_ord FROM n) AS support_bp,
        |  n_both * 10000 // n1.n_part AS confidence_bp,
        |  n_both * (SELECT n_ord FROM n) * 10000 // (n1.n_part * n2.n_part) AS lift_e4
        |FROM pairs
        |JOIN pn n1 ON n1.pk = p1
        |JOIN pn n2 ON n2.pk = p2
        |ORDER BY n_both DESC, p1, p2""".stripMargin,

    "q120_scd2_dimension" ->
      """WITH runs AS (
        |  SELECT o_custkey, o_orderpriority,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |      - row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |                           ORDER BY o_orderdate, o_orderkey) AS grp,
        |    o_orderdate, o_orderkey
        |  FROM orders),
        |agg AS (
        |  SELECT o_custkey, o_orderpriority, grp,
        |    min(o_orderdate) AS from_ts, count(*) AS n_orders,
        |    min(o_orderkey) AS run_key
        |  FROM runs GROUP BY o_custkey, o_orderpriority, grp)
        |SELECT o_custkey, o_orderpriority,
        |  strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(lead(from_ts) OVER (PARTITION BY o_custkey
        |      ORDER BY from_ts, run_key), '%Y-%m-%d %H:%M:%S'),
        |    '9999-12-31 00:00:00') AS valid_to,
        |  n_orders
        |FROM agg
        |ORDER BY o_custkey, from_ts, run_key""".stripMargin,

    "q121_cumulative_reach" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
        |p AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM p ORDER BY day""".stripMargin,

    "q123_interarrival_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us,
        |  CAST(SUM(gap) AS BIGINT) * 10000 // count(*) AS mean_gap_e4,
        |  printf('%.4f', quantile_cont(gap, 0.5)) AS p50_gap_us,
        |  printf('%.4f', quantile_cont(gap, 0.95)) AS p95_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q124_null_safe_join" ->
      """WITH fact AS (
        |  SELECT nullif(o_orderpriority, '1-URGENT') AS k, o_totalprice FROM orders),
        |dim AS (
        |  SELECT nullif(o_orderpriority, '1-URGENT') AS dk
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders))
        |SELECT coalesce(dk, '(null=urgent)') AS priority_key,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM fact JOIN dim ON fact.k IS NOT DISTINCT FROM dim.dk
        |GROUP BY dk ORDER BY priority_key""".stripMargin,

    "q125_linear_interp" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
        |b AS (
        |  SELECT event_type, min(us) AS lo, max(us) AS hi,
        |    min(us) - (min(us) % 3600000000) + 3600000000 AS gstart
        |  FROM ev GROUP BY event_type),
        |g AS (
        |  SELECT event_type, unnest(range(gstart, hi + 1, 3600000000)) AS us
        |  FROM b WHERE gstart <= hi),
        |u AS (
        |  SELECT event_type, us, value, 0 AS is_grid FROM ev
        |  UNION ALL SELECT event_type, us, NULL, 1 FROM g),
        |f AS (
        |  SELECT event_type, us, is_grid,
        |    last_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS) OVER wb AS p_us,
        |    last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER wb AS p_v,
        |    first_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS) OVER wf AS n_us,
        |    first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER wf AS n_v
        |  FROM u WINDOW
        |    wb AS (PARTITION BY event_type ORDER BY us, is_grid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY event_type ORDER BY us, is_grid
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, us AS grid_us,
        |  printf('%.9f', CASE WHEN n_us = p_us THEN p_v
        |    ELSE p_v + (n_v - p_v) * (CAST(us - p_us AS DOUBLE) / CAST(n_us - p_us AS DOUBLE)) END)
        |    AS interp_value
        |FROM f WHERE is_grid = 1 AND p_us IS NOT NULL AND n_us IS NOT NULL
        |ORDER BY event_type, grid_us""".stripMargin,

    "q126_seasonal_residuals" ->
      """WITH ev AS (
        |  SELECT event_type, hour(ts) AS hr, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |c AS (
        |  SELECT event_type, hr, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM ev GROUP BY 1, 2),
        |cc AS (
        |  SELECT event_type, hr, sx / n AS mean, (sxx - sx*sx/n) / n AS variance
        |  FROM c WHERE n >= 10 AND (sxx - sx*sx/n) / n > 0)
        |SELECT ev.event_type, ev.event_id, ev.ts_us, ev.value,
        |  printf('%.9f', (ev.value - mean) / sqrt(variance)) AS seasonal_z
        |FROM ev JOIN cc ON ev.event_type = cc.event_type AND ev.hr = cc.hr
        |WHERE abs((ev.value - mean) / sqrt(variance)) > 3.0
        |ORDER BY ev.event_type, ev.event_id""".stripMargin,

    "q127_cusum_changepoint" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |t AS (SELECT event_type, count(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM ev GROUP BY 1),
        |c AS (
        |  SELECT ev.event_type, ev.event_id, ev.us, t.n,
        |    SUM(ev.cents * t.n - t.sum_cents) OVER (
        |      PARTITION BY ev.event_type ORDER BY ev.us, ev.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM ev JOIN t USING (event_type)),
        |p AS (
        |  SELECT event_type, n, us, event_id, CAST(abs(cusum) AS BIGINT) AS a,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum) DESC, us, event_id) AS rn
        |  FROM c)
        |SELECT event_type, n AS n_events, us AS cp_ts_us,
        |  event_id AS cp_event_id, a AS max_abs_cusum
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q128_abc_classification" ->
      """WITH p AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM p),
        |c AS (
        |  SELECT l_partkey, cents,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
        |  FROM p),
        |k AS (
        |  SELECT CASE WHEN cw * 100 <= (SELECT total FROM t) * 80 THEN 'A'
        |              WHEN cw * 100 <= (SELECT total FROM t) * 95 THEN 'B'
        |              ELSE 'C' END AS abc_class, cents
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(SUM(cents) AS DOUBLE) / 100 AS class_revenue,
        |  CAST(SUM(cents) AS BIGINT) * 10000 // (SELECT total FROM t) AS share_bp
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q122_hourly_seasonality" ->
      """SELECT dayofweek(ts) AS dow, hour(ts) AS hour,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  printf('%.6f', CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)) AS mean_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
