package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.OracleParity._

/** Round-4 warehouse/product-analytics additions: SCD2 history build
  * and ordered funnel analysis — the two operator shapes CDC and
  * product pipelines run constantly on event streams.
  */
object RelationalQueries3 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // SCD TYPE-2 dimension history: each user's purchase stream becomes
    // versioned validity intervals — version = rank of the change row,
    // valid_to = next change's timestamp (null while current). One
    // keyed shuffle (the per-user window); lead() makes the interval
    // close a narrow in-partition lookup, not a self-join. The change
    // stream is tie-free on (user_id, ts, event_id), so versions are
    // total-ordered and deterministic.
    "q66_scd2_intervals" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d).filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value")
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to", lead($"ts", 1).over(w))
        .select($"user_id", $"version",
          micros($"ts").as("valid_from_us"),
          micros($"valid_to").as("valid_to_us"),
          $"value")
        .orderBy($"user_id", $"version")
    }),

    // TPC-H Q21 shape (adapted: "late" = shipped >60 days after the
    // order date, since the trimmed schema has no commit/receipt
    // dates): suppliers who were the SOLE late supplier on a
    // multi-supplier finalized order. The hardest classic join shape —
    // one semi join (another supplier exists on the order) and one anti
    // join (no OTHER supplier was late) over the same derived set, all
    // keyed on l_orderkey: three shuffles, no payload wider than
    // (orderkey, suppkey) ever moves.
    "q68_sole_late_suppliers" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d)
        .join(orders(s, d).filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"), $"l_orderkey" === $"o_orderkey")
      // r20: `late` feeds BOTH the semi and the anti side — checkpoint
      // it once (was 2 full lineitem⋈orders passes); keying both
      // distincts by l_orderkey (HashPartitioning(ok) satisfies the
      // (ok, sk) aggregate) leaves every orderkey-equi join below
      // co-partitioned — plan audit: 12 parquet scans → 5, and the
      // semi/anti joins plan no exchanges of their own.
      val p = s.sparkContext.defaultParallelism
      val late = li
        .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .select($"l_orderkey", $"l_suppkey")
        .repartition(p, $"l_orderkey").distinct()
        .localCheckpoint()
      val allSup = lineitem(s, d).select($"l_orderkey", $"l_suppkey")
        .repartition(p, $"l_orderkey").distinct()
      val sole = late.as("a")
        .join(allSup.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" =!= $"b.l_suppkey",
          "left_semi")
        .join(late.as("c"),
          col("a.l_orderkey") === col("c.l_orderkey") &&
            col("a.l_suppkey") =!= col("c.l_suppkey"),
          "left_anti")
      sole.join(supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
    }),

    // Ordered string aggregation (LISTAGG semantics): deterministic by
    // sorting the collected set before joining — collect_list order is
    // partition-arrival nondeterministic, sort_array repairs it, which
    // is the only way a distributed string_agg can hash-match a serial
    // engine.
    "q73_string_agg" -> ((s, d) => {
      import s.implicits._
      nation(s, d)
        .groupBy($"n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list($"n_name"))).as("nations"),
          count(lit(1)).as("n"))
        .orderBy($"n_regionkey")
    }),

    // Error-safe TRY family — the declarative twin of the reference's
    // keep-the-record-on-bad-value semantics (app.py suppresses the
    // derived column on type mismatch instead of dropping the row):
    // try_cast/try_divide/try_element_at turn failures into nulls so
    // one bad cell can't fail a 100 TB job.
    "q74_try_funcs" -> ((s, d) => {
      import s.implicits._
      events(s, d).select($"event_id",
        expr("try_cast(event_type AS DOUBLE)").as("as_num"),
        expr("try_divide(value, 0.0)").as("div0"),
        expr("try_divide(value, 2.0)").as("half"),
        expr("try_element_at(split(event_type, 'x'), 9)").as("oob"))
        .orderBy($"event_id")
    }),

    // Bitwise aggregates — order-independent by construction (AND/OR/
    // XOR are commutative+associative), so partial+final aggregation
    // is exact at any parallelism; the category's absence elsewhere in
    // the suite is why it gets its own row.
    "q71_bitwise_agg" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"event_type")
        .agg(bit_or($"user_id").as("or_users"),
          bit_and($"user_id").as("and_users"),
          bit_xor($"event_id").as("xor_events"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    }),

    // Mergeable-sketch profiling (Spark 4 DataSketches HLL): per-day
    // user sketches unioned into a whole-corpus estimate — the ONLY
    // shape that lets 100 TB distinct-count dashboards incrementally
    // fold new partitions into old (re-aggregating raw data each run
    // doesn't scale; sketch union is a few KB per day). The sketch
    // estimate itself is engine-specific, so the oracle checks the
    // INVARIANT instead: the unioned estimate must land within the HLL
    // error bound of the exact distinct count (lgK=12 → RSE ≈ 1.6%;
    // 5% is >3σ), plus the exact side columns DuckDB can recompute.
    "q72_hll_sketch_union" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy(date_trunc("day", $"ts").as("day"))
        .agg(hll_sketch_agg($"user_id").as("sk"),
          count(lit(1)).as("n_events"))
      val unioned = daily.agg(
        hll_sketch_estimate(hll_union_agg($"sk")).as("est"),
        sum($"n_events").as("n_events_total"),
        count(lit(1)).as("n_days"))
      val exact = events(s, d)
        .agg(countDistinct($"user_id").as("exact_users"))
      unioned.crossJoin(exact) // both sides are single rows
        .select($"n_days", $"n_events_total", $"exact_users",
          ($"est" >= $"exact_users" * 0.95 &&
            $"est" <= $"exact_users" * 1.05).as("est_within_5pct"))
    }),

    // Spark 4 VARIANT path for semi-structured data: parse once into
    // the binary variant encoding, extract typed fields with
    // variant_get — the shredding-friendly replacement for repeated
    // get_json_object string re-parsing (q18 pins the classic path; at
    // 100 TB the variant encoding is parsed once per row, not once per
    // extraction).
    "q70_variant_json" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"event_type",
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    }),

    // The spark.sql(...) entry path: the same engine surface users hit
    // from SQL notebooks/BI — temp views over the tables, the query
    // text identical to the DuckDB oracle modulo dialect. Catalyst
    // plans SQL and DataFrame identically, and this entry pins that
    // the SQL front door (including the extension-registered session)
    // stays wired.
    "q69_sql_entry" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("v_events")
      customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c.c_mktsegment AS segment, e.event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM v_events e JOIN v_customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
        ORDER BY segment, event_type""")
    }),

    // Ordered funnel: first click → first view AFTER that click →
    // first purchase AFTER that view, per user. Three partial-agg'd
    // min-aggregations chained by keyed left joins on user_id — the
    // standard scalable funnel shape (no per-user event sorting, no
    // window over the raw stream; each stage only carries one row per
    // user forward).
    "q67_funnel_steps" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", $"event_type", micros($"ts").as("us"))
      val c = ev.filter($"event_type" === "click")
        .groupBy($"user_id").agg(min($"us").as("s1_us"))
      val v = ev.filter($"event_type" === "view")
        .join(c, "user_id").filter($"us" > $"s1_us")
        .groupBy($"user_id").agg(min($"us").as("s2_us"))
      val p = ev.filter($"event_type" === "purchase")
        .join(v, "user_id").filter($"us" > $"s2_us")
        .groupBy($"user_id").agg(min($"us").as("s3_us"))
      c.join(v, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select($"user_id", $"s1_us", $"s2_us", $"s3_us")
        .orderBy($"user_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "q66_scd2_intervals" ->
      """SELECT user_id,
        | ROW_NUMBER() OVER w AS version,
        | epoch_us(ts) AS valid_from_us,
        | epoch_us(LEAD(ts) OVER w) AS valid_to_us,
        | value
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "q68_sole_late_suppliers" ->
      """WITH li AS (
        | SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        | WHERE o.o_orderstatus = 'F'),
        |late AS (
        | SELECT DISTINCT l_orderkey, l_suppkey FROM li
        | WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |cand AS (
        | SELECT a.l_orderkey, a.l_suppkey FROM late a
        | WHERE EXISTS (SELECT 1 FROM allsup b
        |               WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM late c
        |               WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey))
        |SELECT s.s_name, COUNT(*) AS numwait
        |FROM cand JOIN supplier s ON cand.l_suppkey = s.s_suppkey
        |GROUP BY s.s_name ORDER BY numwait DESC, s.s_name""".stripMargin,

    "q73_string_agg" ->
      """SELECT n_regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q74_try_funcs" ->
      """SELECT event_id,
        | TRY_CAST(event_type AS DOUBLE) AS as_num,
        | value / NULLIF(0.0, 0.0) AS div0,
        | value / 2.0 AS half,
        | string_split(event_type, 'x')[9] AS oob
        |FROM events ORDER BY event_id""".stripMargin,

    "q71_bitwise_agg" ->
      """SELECT event_type,
        | bit_or(user_id) AS or_users,
        | bit_and(user_id) AS and_users,
        | bit_xor(event_id) AS xor_events,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q72_hll_sketch_union: the sketch estimate is engine-specific, so
    // the oracle recomputes the exact columns and pins the error-bound
    // invariant as a literal TRUE — a broken sketch union now fails the
    // hash compare instead of passing silently.
    "q72_hll_sketch_union" ->
      """SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        | CAST(COUNT(*) AS BIGINT) AS n_events_total,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS est_within_5pct
        |FROM events""".stripMargin,

    "q70_variant_json" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q69_sql_entry" ->
      """SELECT c.c_mktsegment AS segment, e.event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY segment, event_type""".stripMargin,

    "q67_funnel_steps" ->
      """WITH c AS (
        | SELECT user_id, MIN(epoch_us(ts)) AS s1_us FROM events
        | WHERE event_type = 'click' GROUP BY user_id),
        |v AS (
        | SELECT e.user_id, MIN(epoch_us(e.ts)) AS s2_us
        | FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.s1_us
        | WHERE e.event_type = 'view' GROUP BY e.user_id),
        |p AS (
        | SELECT e.user_id, MIN(epoch_us(e.ts)) AS s3_us
        | FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.s2_us
        | WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT c.user_id, c.s1_us, v.s2_us, p.s3_us
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        |        LEFT JOIN p ON c.user_id = p.user_id
        |ORDER BY c.user_id""".stripMargin
  )
}
