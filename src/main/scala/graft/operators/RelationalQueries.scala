package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.OracleParity._

/** Relational operator library (SURVEY.md §2.3): scans, projections,
  * filters, scalar function families, aggregations, joins of every
  * flavor, windows, sorts/limits, set ops — each as a `queries` entry
  * with a DuckDB oracle twin.
  *
  * Every query carries a deterministic total ORDER BY on a unique key
  * (both sides) so the driver's hash compare is order-proof, and money
  * aggregates go through DECIMAL for bit-exact parity (see
  * [[graft.OracleParity]]).
  *
  * Scale design notes are on each query: what shuffles, what broadcasts,
  * what pushes down.
  */
object RelationalQueries extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // q01: TPC-H Q1-style pricing summary. One shuffle (partial+final
    // hash agg on 6 groups); filter + 7-column projection pushed to scan.
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsumExpr(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount"))).as("sum_disc_price"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // q02: predicate + projection — entirely pushed to the parquet scan
    // (PushedFilters on shipdate/discount/quantity, 5-column ReadSchema).
    "q02_filter_project" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
          $"l_discount" > 0.03 && $"l_quantity" < 25.0)
        .select($"l_orderkey", $"l_linenumber",
          (dec($"l_extendedprice") * dec($"l_discount")).cast("double").as("disc_amount"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // q03: global top-k — Spark plans TakeOrderedAndProject (per-partition
    // heap + single driver merge of k rows; no full sort at 100 TB).
    "q03_topk_orders" -> ((s, d) => {
      import s.implicits._
      orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          fmtTs($"o_orderdate").as("o_date"))
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
    }),

    // q04: dimension enrichment via broadcast hash join (customer is the
    // small side) then hash agg — no shuffle of the fact table for the
    // join, one shuffle for the 5-group agg.
    "q04_broadcast_join_agg" -> ((s, d) => {
      import s.implicits._
      orders(s, d)
        .join(broadcast(customer(s, d)), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"c_mktsegment")
    }),

    // q05: TPC-H Q5-style multi-join: lineitem⋈orders shuffle join on
    // orderkey; customer/nation/region are broadcast dims. Revenue per
    // nation, exact decimal.
    "q05_revenue_by_nation" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .join(orders(s, d).filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(customer(s, d)), $"o_custkey" === $"c_custkey")
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(dsumExpr(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    }),

    // q06: left-semi join (EXISTS) — no payload from the right side is
    // shuffled, only the join key.
    "q06_semi_join" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .join(orders(s, d).filter($"o_totalprice" > 150000.0),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    }),

    // q07: left-anti join (NOT EXISTS): customers with no 1995 orders.
    "q07_anti_join" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .join(orders(s, d).filter($"o_orderdate" < lit("1996-01-01").cast("timestamp")),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // q08: DISTINCT = shuffle on the two low-cardinality columns; Catalyst
    // rewrites to partial-distinct + exchange + final (map-side combine).
    "q08_distinct" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).select($"l_returnflag", $"l_linestatus")
        .distinct()
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // q09: exact COUNT(DISTINCT) — Catalyst expands to a two-phase agg.
    "q09_count_distinct" -> ((s, d) => {
      import s.implicits._
      orders(s, d).groupBy($"o_orderstatus")
        .agg(countDistinct($"o_custkey").as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy($"o_orderstatus")
    }),

    // q10: ROLLUP — Catalyst Expand + single agg (one shuffle); the NULL
    // grouping rows sort NULLS FIRST on both engines by explicit request.
    "q10_rollup" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),

    // q11: CUBE over orders dimensions.
    "q11_cube" -> ((s, d) => {
      import s.implicits._
      orders(s, d).cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }),

    // q12: ranking windows — one shuffle on o_custkey, in-partition sort.
    // rank/dense_rank are tie-deterministic; row_number gets a unique
    // tiebreak.
    "q12_window_rank" -> ((s, d) => {
      import s.implicits._
      val byPrice = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      orders(s, d)
        .withColumn("rn", row_number().over(byPrice))
        .withColumn("rk", rank().over(Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)))
        .withColumn("drk", dense_rank().over(Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn", $"rk", $"drk")
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // q13: running-sum frame (ROWS UNBOUNDED PRECEDING..CURRENT) over an
    // exact decimal — order-exact on both engines given the unique sort key.
    "q13_window_running" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, d)
        .filter($"l_quantity" >= 45.0)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          sum(dec($"l_quantity")).over(w).cast("double").as("running_qty"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    }),

    // q14: analytic lag/lead over an event stream keyed by user.
    "q14_window_lag" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .select($"user_id", $"event_id", $"value",
          lag($"value", 1).over(w).as("prev_value"),
          lead($"value", 1).over(w).as("next_value"))
        .orderBy($"user_id", $"event_id")
    }),

    // q15: set ops — three disjoint provenance classes via EXCEPT /
    // INTERSECT / UNION ALL (EXCEPT and INTERSECT plan as left-anti /
    // left-semi after aggregate).
    "q15_set_ops" -> ((s, d) => {
      import s.implicits._
      val auto = customer(s, d).filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey")
      val big = orders(s, d).filter($"o_totalprice" > 200000.0)
        .select($"o_custkey".as("c_custkey")).distinct()
      auto.except(big).withColumn("side", lit("auto_only"))
        .unionAll(big.except(auto).withColumn("side", lit("big_only")))
        .unionAll(auto.intersect(big).withColumn("side", lit("both")))
        .orderBy($"c_custkey", $"side")
    }),

    // q16: string-function gallery — all codegen'd built-ins, no UDFs.
    "q16_string_funcs" -> ((s, d) => {
      import s.implicits._
      part(s, d).select(
        $"p_partkey",
        lower($"p_name").as("name_lc"),
        upper($"p_brand").as("brand_uc"),
        substring($"p_type", 1, 5).as("type5"),
        length($"p_name").as("name_len"),
        element_at(split($"p_name", " "), 1).as("first_word"),
        concat($"p_brand", lit("#"), $"p_size".cast("string")).as("brand_size"),
        regexp_extract($"p_type", "^(\\w+)", 1).as("type_head"),
        replace($"p_name", lit(" "), lit("_")).as("name_snake"),
        trim(lpad($"p_brand", 12, "*")).as("brand_pad"))
        .orderBy($"p_partkey")
    }),

    // q17: date/time family — month bucketing via date_trunc; group agg.
    "q17_date_trunc_agg" -> ((s, d) => {
      import s.implicits._
      orders(s, d)
        .groupBy(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM-dd").as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"month")
    }),

    // q18: JSON extraction from the events.props payload (schema-on-read).
    "q18_json_extract" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"),
          max($"k").as("max_k"),
          min($"k").as("min_k"))
        .orderBy($"event_type")
    }),

    // q19: conditional projection (the reference's °C→°F operator family,
    // O6/O7/D1 semantics: derive, band, keep-on-null).
    "q19_conditional_project" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"event_id", $"value",
          ($"value" * 9.0 / 5.0 + 32.0).as("value_fahrenheit"),
          when($"value" > 100.0, "high").when($"value" > 50.0, "mid")
            .otherwise("low").as("band"))
        .orderBy($"event_id")
    }),

    // q20: equi + range join lineitem⋈part: price within ±20% of retail.
    // Equi key keeps it a hash join; range predicate applied post-probe.
    "q20_range_join" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .join(broadcast(part(s, d)),
          $"l_partkey" === $"p_partkey" &&
            $"l_extendedprice" >= $"p_retailprice" * 0.8 &&
            $"l_extendedprice" <= $"p_retailprice" * 1.2)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"p_brand")
    }),

    // q21: as-of lookup — most recent prior 'error' event per user, as a
    // conditional-MAX window (MAX ignores NULLs; ascending ts makes MAX of
    // prior error timestamps = the as-of match). Single shuffle on user_id.
    "q21_asof_join" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select($"user_id", $"event_id", $"event_type", micros($"ts").as("ts_us"),
          max(when($"event_type" === "error", micros($"ts"))).over(w).as("prev_error_us"))
        .orderBy($"user_id", $"event_id")
    }),

    // q22: gap-based sessionization (30-min inactivity): lag → boundary
    // flag → running count = session id → per-session agg. Two window
    // passes over the same user_id partitioning (one exchange, reused).
    "q22_sessionize" -> ((s, d) => {
      import s.implicits._
      val byTs = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .withColumn("prev_us", lag(micros($"ts"), 1).over(byTs))
        .withColumn("boundary",
          when($"prev_us".isNull || micros($"ts") - $"prev_us" > 30L * 60 * 1000000, 1L).otherwise(0L))
        .withColumn("session_id", sum($"boundary").over(
          byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min(micros($"ts")).as("session_start_us"),
          max(micros($"ts")).as("session_end_us"),
          dsum($"value").as("sum_value"))
        .orderBy($"user_id", $"session_id")
    }),

    // q23: tumbling 1-hour event-time window (batch twin of the streaming
    // agg) — window() aligns to epoch, i.e. date_trunc('hour').
    "q23_tumbling_window_agg" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(fmtTs($"window.start").as("hour_start"), $"event_type", $"n", $"sum_value")
        .orderBy($"hour_start", $"event_type")
    }),

    // q24: skew-resistant two-stage aggregation (salting demo): partial
    // agg on (key, salt) then final on key. Same result as a direct
    // groupBy; at 100 TB the salt spreads a hot user across 8 reducers.
    "q24_salted_agg" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("salt", pmod($"event_id", lit(8L)))
        .groupBy($"user_id", $"salt")
        .agg(count(lit(1)).as("pn"), sum(dec($"value")).as("psum"))
        .groupBy($"user_id")
        .agg(sum($"pn").as("n_events"), sum($"psum").cast("double").as("sum_value"))
        .orderBy($"user_id")
    }),

    // q25: top-N per group via ranking window: top-3 customers by balance
    // per nation (nation broadcast).
    "q25_topn_per_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey".asc)
      customer(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .select($"n_name", $"rn", $"c_custkey", $"c_acctbal")
        .orderBy($"n_name", $"rn")
    }),

    // q26: scalar-aggregate comparison (orders above global mean) — the
    // single-row aggregate is broadcast, not recomputed per row.
    "q26_above_avg" -> ((s, d) => {
      import s.implicits._
      val stats = orders(s, d).agg(davg($"o_totalprice").as("avg_price"))
      orders(s, d).crossJoin(broadcast(stats))
        .filter($"o_totalprice" > $"avg_price")
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // q27: pivot (event_type → columns) with explicit value list so the
    // plan is a single pass (no distinct-values pre-query).
    "q27_pivot" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"user_id")
    }),

    // q28: HLL approximate distinct. The estimate is engine-specific, so
    // the emitted row carries the exact side plus an error-bound flag
    // the oracle pins as TRUE (default rsd = 5%; 15% is 3σ) — a broken
    // sketch fails the hash compare instead of passing a rows-only check.
    "q28_approx_distinct" -> ((s, d) => {
      import s.implicits._
      events(s, d).groupBy($"event_type")
        .agg(approx_count_distinct($"user_id").as("approx_users"),
          countDistinct($"user_id").as("exact_users"),
          count(lit(1)).as("n"))
        .select($"event_type", $"exact_users", $"n",
          ($"approx_users" >= $"exact_users" * 0.85 &&
            $"approx_users" <= $"exact_users" * 1.15).as("approx_ok"))
        .orderBy($"event_type")
    }),

    // q29: typed Aggregator UDAF (partial+final merge like a built-in);
    // sums in integer cents so the mean is order-independent → exact
    // DuckDB twin.
    "q29_typed_agg" -> ((s, d) => {
      import s.implicits._
      val centsAvg = udaf(graft.functions.TypedAggregators.CentsAvg)
      events(s, d).groupBy($"event_type")
        .agg(centsAvg($"value").as("avg_value"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    }),

    // q30: top-k sketch Aggregator — O(k) state per group regardless of
    // group size. Output flattened to scalar columns (the driver's
    // comparator can't hash array cells). Oracle via DuckDB's ordered
    // list indexing; out-of-range index → NULL on both engines.
    "q30_topk_agg" -> ((s, d) => {
      import s.implicits._
      val top3 = udaf(new graft.functions.TypedAggregators.TopK(3))
      events(s, d).groupBy($"user_id")
        .agg(top3($"value").as("tv"))
        .select($"user_id",
          element_at($"tv", 1).as("top1"),
          element_at($"tv", 2).as("top2"),
          element_at($"tv", 3).as("top3"))
        .orderBy($"user_id")
    }),

    // q31: GROUPING SETS through the SQL entry point (the engine's full
    // SQL surface — temp view + spark.sql — with grouping_id to
    // disambiguate the null grouping rows). Same Expand+agg plan as
    // rollup/cube.
    "q31_grouping_sets" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // q32: scalar math function family — all codegen'd built-ins; IEEE
    // doubles are deterministic across both engines.
    "q32_math_funcs" -> ((s, d) => {
      import s.implicits._
      part(s, d).select(
        $"p_partkey",
        round($"p_retailprice" * 1.1, 2).as("marked_up"),
        abs($"p_size" - 25).as("size_dev"),
        floor($"p_retailprice").cast("long").as("price_floor"),
        ceil($"p_retailprice").cast("long").as("price_ceil"),
        sqrt($"p_retailprice").as("price_sqrt"),
        radians($"p_size".cast("double")).as("size_rad"),
        pow($"p_size".cast("double"), 2.0).as("size_sq"),
        pmod($"p_partkey", lit(7L)).as("bucket7"),
        signum($"p_retailprice" - 1000.0).as("above_1k"))
        .orderBy($"p_partkey")
    }),

    // q33: null-handling family — coalesce/nullif/least/greatest with a
    // manufactured null (nullif) so the semantics actually fire.
    "q33_null_funcs" -> ((s, d) => {
      import s.implicits._
      val bal0 = nullif($"c_acctbal", lit(0.0))
      customer(s, d).select(
        $"c_custkey",
        coalesce(bal0, lit(-1.0)).as("bal_or_default"),
        bal0.isNull.as("was_zero"),
        least($"c_acctbal", lit(5000.0)).as("bal_capped"),
        greatest($"c_acctbal", lit(0.0)).as("bal_floored"),
        when($"c_acctbal" > 0, "credit").when($"c_acctbal" < 0, "debit")
          .otherwise("zero").as("bal_class"))
        .orderBy($"c_custkey")
    }),

    // q34: map functions over the schema-on-read props payload:
    // from_json → map<string,bigint>, then key/value extraction.
    "q34_map_funcs" -> ((s, d) => {
      import s.implicits._
      val m = from_json($"props", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
      events(s, d).select(
        $"event_id",
        size(map_keys(m)).cast("long").as("n_keys"),
        array_join(array_sort(map_keys(m)), ",").as("keys_sorted"),
        element_at(m, "k").as("k_val"),
        map_contains_key(m, "missing").as("has_missing"))
        .orderBy($"event_id")
    }),

    // q35: date/time arithmetic family (all integer-exact: no
    // months_between float semantics).
    "q35_date_arith" -> ((s, d) => {
      import s.implicits._
      orders(s, d).select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("y"),
        quarter($"o_orderdate").cast("long").as("q"),
        month($"o_orderdate").cast("long").as("m"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        date_format(date_add($"o_orderdate", 30), "yyyy-MM-dd").as("due_date"),
        datediff(lit("2002-01-01").cast("date"), $"o_orderdate").cast("long").as("days_to_2002"),
        date_format(last_day($"o_orderdate"), "yyyy-MM-dd").as("month_end"))
        .orderBy($"o_orderkey")
    }),

    // q36: TPC-H Q3-style shipping priority: segment filter on the
    // broadcast dim, date filters pushed into both fact scans, revenue
    // per order, global top-10 (TakeOrderedAndProject).
    "q36_shipping_priority" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).filter($"l_shipdate" > lit("1996-07-01").cast("timestamp"))
        .join(orders(s, d).filter($"o_orderdate" < lit("1996-07-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(customer(s, d).filter($"c_mktsegment" === "BUILDING")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(dsumExpr(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
          .as("revenue"))
        .select($"l_orderkey", fmtTs($"o_orderdate").as("o_date"), $"o_orderpriority", $"revenue")
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
    }),

    // q37: correlated scalar subquery (parts above their brand's mean
    // price) — Catalyst decorrelates it into an aggregate + join; the
    // mean is decimal-exact on both engines.
    "q37_corr_subquery" -> ((s, d) => {
      part(s, d).createOrReplaceTempView("part_v")
      s.sql("""
        SELECT p_partkey, p_brand, p_retailprice FROM part_v p
        WHERE p_retailprice > (
          SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM part_v p2 WHERE p2.p_brand = p.p_brand)
        ORDER BY p_partkey""")
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS disc_amount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_discount > 0.03 AND l_quantity < 25.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q04_broadcast_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q05_revenue_by_nation" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q06_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q08_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q09_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q10_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q11_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q12_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drk
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q13_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_quantity >= 45.0
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q14_window_lag" ->
      """SELECT user_id, event_id, value,
        | LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        | LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q15_set_ops" ->
      """WITH auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
        | big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000.0)
        |SELECT c_custkey, 'auto_only' AS side FROM (SELECT c_custkey FROM auto EXCEPT SELECT c_custkey FROM big)
        |UNION ALL
        |SELECT c_custkey, 'big_only' AS side FROM (SELECT c_custkey FROM big EXCEPT SELECT c_custkey FROM auto)
        |UNION ALL
        |SELECT c_custkey, 'both' AS side FROM (SELECT c_custkey FROM auto INTERSECT SELECT c_custkey FROM big)
        |ORDER BY c_custkey, side""".stripMargin,

    "q16_string_funcs" ->
      """SELECT p_partkey,
        | lower(p_name) AS name_lc,
        | upper(p_brand) AS brand_uc,
        | substring(p_type, 1, 5) AS type5,
        | CAST(length(p_name) AS INT) AS name_len,
        | string_split(p_name, ' ')[1] AS first_word,
        | p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size,
        | regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        | replace(p_name, ' ', '_') AS name_snake,
        | trim(lpad(p_brand, 12, '*')) AS brand_pad
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q17_date_trunc_agg" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "q18_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        | MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q19_conditional_project" ->
      """SELECT event_id, value,
        | value * 9.0 / 5.0 + 32.0 AS value_fahrenheit,
        | CASE WHEN value > 100.0 THEN 'high' WHEN value > 50.0 THEN 'mid' ELSE 'low' END AS band
        |FROM events ORDER BY event_id""".stripMargin,

    "q20_range_join" ->
      """SELECT p_brand, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | AND l_extendedprice >= p_retailprice * 0.8
        | AND l_extendedprice <= p_retailprice * 1.2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q21_asof_join" ->
      """SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        | MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_error_us
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q22_sessionize" ->
      """WITH flagged AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS boundary
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        | SELECT user_id, ts, value,
        |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | MIN(epoch_us(ts)) AS session_start_us, MAX(epoch_us(ts)) AS session_end_us,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q23_tumbling_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q24_salted_agg" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q25_topn_per_group" ->
      """SELECT n_name, rn, c_custkey, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        | FROM customer) t
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn <= 3 ORDER BY n_name, rn""".stripMargin,

    "q26_above_avg" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q27_pivot" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q28_approx_distinct" ->
      """SELECT event_type,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        | COUNT(*) AS n,
        | TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q29_typed_agg" ->
      """SELECT event_type,
        | (CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*) AS avg_value,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q30_topk_agg" ->
      """SELECT user_id,
        | (list_sort(list(value), 'DESC'))[1] AS top1,
        | (list_sort(list(value), 'DESC'))[2] AS top2,
        | (list_sort(list(value), 'DESC'))[3] AS top3
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q31_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q32_math_funcs" ->
      """SELECT p_partkey,
        | round(p_retailprice * 1.1, 2) AS marked_up,
        | abs(p_size - 25) AS size_dev,
        | CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        | CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        | sqrt(p_retailprice) AS price_sqrt,
        | radians(CAST(p_size AS DOUBLE)) AS size_rad,
        | pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        | p_partkey % 7 AS bucket7,
        | CAST(sign(p_retailprice - 1000.0) AS DOUBLE) AS above_1k
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q33_null_funcs" ->
      """SELECT c_custkey,
        | COALESCE(NULLIF(c_acctbal, 0.0), -1.0) AS bal_or_default,
        | NULLIF(c_acctbal, 0.0) IS NULL AS was_zero,
        | LEAST(c_acctbal, 5000.0) AS bal_capped,
        | GREATEST(c_acctbal, 0.0) AS bal_floored,
        | CASE WHEN c_acctbal > 0 THEN 'credit' WHEN c_acctbal < 0 THEN 'debit'
        |      ELSE 'zero' END AS bal_class
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q34_map_funcs" ->
      """SELECT event_id,
        | CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        | array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        | list_contains(json_keys(props), 'missing') AS has_missing
        |FROM events ORDER BY event_id""".stripMargin,

    "q35_date_arith" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(quarter(o_orderdate) AS BIGINT) AS q,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS dom,
        | strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q36_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date, o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q37_corr_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part p
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin
  )
}
