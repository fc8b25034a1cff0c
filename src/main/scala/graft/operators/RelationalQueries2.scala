package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.OracleParity._

/** Second relational batch (SURVEY.md §2.3 rows not yet exercised by
  * RelationalQueries): outer/cross joins, IN-subqueries, union-by-name,
  * exact percentiles, moment statistics via exact sums, arg-min/max,
  * array/struct/JSON function families, unpivot, batch session/sliding
  * windows, LIKE/regex predicates, hash/encoding functions, edit
  * distance, and a composite training-data cleaning pipeline.
  *
  * Same parity discipline as RelationalQueries: deterministic total
  * ORDER BY, identical column aliases on both sides, DECIMAL for money
  * sums, micros/fmtTs for timestamps, no order-dependent double
  * aggregation.
  */
object RelationalQueries2 extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // q38: FULL OUTER join of two pre-aggregated sides with genuinely
    // disjoint key coverage (narrow filters). Aggregate-before-join keeps
    // the shuffled sides tiny at scale.
    "q38_full_outer_join" -> ((s, d) => {
      import s.implicits._
      val c = customer(s, d).filter($"c_acctbal" < -700.0)
        .groupBy($"c_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = supplier(s, d).filter($"s_acctbal" > 5000.0)
        .groupBy($"s_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select($"nationkey", $"n_cust", $"n_supp")
        .orderBy($"nationkey")
    }),

    // q39: explicit cartesian product (tiny × tiny — the only scale at
    // which a cross join is ever acceptable; Spark plans it broadcast).
    "q39_cross_join" -> ((s, d) => {
      import s.implicits._
      region(s, d)
        .crossJoin(orders(s, d).select($"o_orderstatus").distinct())
        .select($"r_name", $"o_orderstatus")
        .orderBy($"r_name", $"o_orderstatus")
    }),

    // q40: IN / NOT IN subqueries through the SQL surface — Catalyst
    // rewrites to left-semi / null-aware anti join (keys are non-null
    // here, so NOT IN stays sane).
    "q40_in_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v40")
      customer(s, d).createOrReplaceTempView("customer_v40")
      s.sql("""
        SELECT o_orderkey, o_custkey,
               o_custkey IN (SELECT c_custkey FROM customer_v40 WHERE c_acctbal < 0) AS negative_cust
        FROM orders_v40
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer_v40 WHERE c_mktsegment = 'BUILDING')
        ORDER BY o_orderkey""")
    }),

    // q41: unionByName — schema-aligned union across differently-ordered
    // projections (the lakehouse multi-source append pattern).
    "q41_union_by_name" -> ((s, d) => {
      import s.implicits._
      val a = customer(s, d).select($"c_custkey".as("id"),
        lit("customer").as("kind"), $"c_acctbal".as("bal"))
      val b = supplier(s, d).select(lit("supplier").as("kind"),
        $"s_acctbal".as("bal"), $"s_suppkey".as("id"))
      a.unionByName(b).orderBy($"kind", $"id")
    }),

    // q42: exact linear-interpolated percentiles (Spark `percentile` =
    // DuckDB `quantile_cont`). Exact percentile needs the group's values
    // gathered — at 100 TB swap in approx_percentile (t-digest) and drop
    // the oracle; this entry pins the exact semantics.
    "q42_percentiles" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          percentile($"l_quantity", lit(0.25)).as("p25"),
          percentile($"l_quantity", lit(0.5)).as("p50"),
          percentile($"l_quantity", lit(0.75)).as("p75"),
          percentile($"l_quantity", lit(0.95)).as("p95"))
        .orderBy($"l_returnflag")
    }),

    // q43: moment statistics (variance / stddev / correlation) computed
    // from exact decimal sums, then identical double expressions on both
    // engines — order-independent, unlike streaming variance over
    // doubles. The sums do partial+final agg like any other; this IS the
    // scalable shape.
    "q43_moment_stats" -> ((s, d) => {
      import s.implicits._
      // r20: fan the single-row-group scan out before the fused DECIMAL
      // multiply-sums (the q113 seam — one task did all the BigDecimal
      // math); order-independent sums keep the result bit-identical.
      graft.Tables.fanOutScan(s, lineitem(s, d)
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice"),
          $"l_extendedprice", $"l_quantity")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec($"l_quantity")).cast("double").as("sx"),
          sum(dec($"l_quantity") * dec($"l_quantity")).cast("double").as("sxx"),
          sum(dec($"l_extendedprice")).cast("double").as("sy"),
          sum(dec($"l_extendedprice") * dec($"l_extendedprice")).cast("double").as("syy"),
          sum(dec($"l_quantity") * dec($"l_extendedprice")).cast("double").as("sxy"))
        .select($"l_returnflag", $"n",
          // derived stats leave as %.9f strings: the DECIMAL→DOUBLE cast
          // of the big sums rounds differently at the last ulp across
          // engines, and 9 fixed decimals is beneath that noise floor
          format_string("%.9f", ($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("var_qty"),
          format_string("%.9f", sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1))).as("stddev_qty"),
          format_string("%.9f", ($"n" * $"sxy" - $"sx" * $"sy") /
            (sqrt($"n" * $"sxx" - $"sx" * $"sx") * sqrt($"n" * $"syy" - $"sy" * $"sy")))
            .as("corr_qty_price"))
        .orderBy($"l_returnflag")
    }),

    // q44: arg-min/arg-max (max_by/min_by) — single-pass, O(1) state per
    // group. Ties on value DO occur at sf0.1 (e.g. two events at the
    // group minimum), so the ordering key is the value rendered
    // fixed-width (values are non-negative 2-decimal doubles) plus the
    // unique event_id — lexicographic order == (value, event_id) order,
    // deterministic on both engines.
    "q44_argminmax" -> ((s, d) => {
      import s.implicits._
      val key = format_string("%012.2f|%010d", $"value", $"event_id")
      events(s, d).groupBy($"event_type")
        .agg(
          max_by($"event_id", key).as("max_value_event"),
          min_by($"event_id", key).as("min_value_event"),
          max($"value").as("max_value"),
          min($"value").as("min_value"))
        .orderBy($"event_type")
    }),

    // q45: array function family over tokenized names — all outputs
    // scalar/string (the driver's comparator can't hash array cells).
    "q45_array_funcs" -> ((s, d) => {
      import s.implicits._
      val words = split($"p_name", " ")
      part(s, d).select(
        $"p_partkey",
        array_join(array_sort(words), ",").as("words_sorted"),
        array_contains(words, "green").as("has_green"),
        size(array_distinct(words)).cast("long").as("n_uniq_words"),
        array_join(slice(words, 1, 2), " ").as("first_two"),
        array_position(words, "green").as("green_pos"))
        .orderBy($"p_partkey")
    }),

    // q46: struct construction + JSON serialization (nested types on the
    // wire as canonical strings).
    "q46_struct_json" -> ((s, d) => {
      import s.implicits._
      orders(s, d).select(
        $"o_orderkey",
        to_json(struct($"o_orderkey".as("k"), $"o_orderstatus".as("st"),
          $"o_orderpriority".as("pri"))).as("js"))
        .orderBy($"o_orderkey")
    }),

    // q47: unpivot/melt — wide metric columns to long (metric, val) rows;
    // a narrow, shuffle-free Expand at any scale.
    "q47_unpivot" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount", $"l_tax")
        .unpivot(
          Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_discount", $"l_tax"),
          "metric", "val")
        .orderBy($"l_orderkey", $"l_linenumber", $"metric")
    }),

    // q48: session_window in BATCH (the same operator Structured
    // Streaming uses, Streams.sessionizedEvents) — gap-merged sessions
    // per user; end = last event + gap by definition.
    "q48_session_window_batch" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
        .select($"user_id",
          micros($"session_window.start").as("start_us"),
          micros($"session_window.end").as("end_us"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"start_us")
    }),

    // q49: sliding event-time window in batch (1 h window, 30 min slide
    // → every event lands in exactly 2 windows; Expand ×2, bounded).
    "q49_sliding_window_batch" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(fmtTs($"window.start").as("win_start"), $"event_type", $"n")
        .orderBy($"win_start", $"event_type")
    }),

    // q50: LIKE / prefix / suffix / regex predicate family (all pushable
    // scan predicates when used in WHERE).
    "q50_like_regex" -> ((s, d) => {
      import s.implicits._
      part(s, d).select(
        $"p_partkey",
        $"p_name".like("%green%").as("has_green"),
        $"p_type".startsWith("STANDARD").as("is_std"),
        $"p_type".endsWith("STEEL").as("is_steel"),
        $"p_name".rlike("^[a-z]+ [a-z]+$").as("two_words"),
        $"p_brand".like("Brand#1_").as("brand1x"))
        .orderBy($"p_partkey")
    }),

    // q51: cryptographic hash / encoding family (content addressing for
    // dedup and provenance: sha256, base64, hex).
    "q51_hash_encode" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(
        $"doc_id",
        sha2($"text", 256).as("sha256_hex"),
        base64(substring($"text", 1, 48).cast("binary")).as("b64_head"),
        hex(substring($"text", 1, 8).cast("binary")).as("hex_head"))
        .orderBy($"doc_id")
    }),

    // q52: edit distance (fuzzy matching primitive for entity
    // resolution) — O(len²) per row, embarrassingly parallel.
    "q52_levenshtein" -> ((s, d) => {
      import s.implicits._
      customer(s, d).select(
        $"c_custkey",
        levenshtein($"c_name", reverse($"c_name")).as("lev_rev"),
        levenshtein($"c_name", $"c_mktsegment").as("lev_seg"))
        .orderBy($"c_custkey")
    }),

    // q53: time-RANGE window frame — per-user count/sum over the
    // trailing 10 minutes, ordered by epoch micros. RANGE frames
    // include all peers of the current row, so the result is
    // deterministic even under timestamp ties; the decimal window sum
    // is order-independent.
    "q53_range_frame" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy(micros($"ts"))
        .rangeBetween(-600000000L, 0L) // 10 min in µs
      events(s, d)
        .select($"event_id", $"user_id", micros($"ts").as("ts_us"),
          count(lit(1)).over(w).as("n_10min"),
          sum(dec($"value")).over(w).cast("double").as("sum_10min"))
        .orderBy($"event_id")
    }),

    // q54: merge/upsert resolved as a FULL OUTER join + coalesce — the
    // engine-level shape of MERGE INTO on immutable files (join on the
    // key shuffles both sides by o_orderkey; at scale the delta side is
    // usually small enough to broadcast instead).
    "q54_merge_upsert" -> ((s, d) => {
      import s.implicits._
      val base = orders(s, d).filter($"o_orderkey" % 10 =!= 0)
        .select($"o_orderkey", $"o_orderstatus", dec($"o_totalprice").as("price"))
      val delta = orders(s, d).filter($"o_orderkey" % 5 === 0)
        .select($"o_orderkey", lit("U").as("d_status"),
          (dec($"o_totalprice") * dec(lit(1.10))).as("d_price"))
      base.join(delta, Seq("o_orderkey"), "full_outer")
        .select($"o_orderkey",
          coalesce($"d_status", $"o_orderstatus").as("status"),
          coalesce($"d_price", $"price").cast("double").as("price"),
          when($"d_status".isNotNull && $"o_orderstatus".isNotNull, "updated")
            .when($"d_status".isNotNull, "inserted").otherwise("kept").as("action"))
        .orderBy($"o_orderkey")
    }),

    // q58: EXISTS / NOT EXISTS correlated predicates — Catalyst
    // decorrelates both into semi / anti joins (no per-row subquery
    // execution, unlike the reference's would-be loop).
    "q58_exists" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v58")
      customer(s, d).createOrReplaceTempView("customer_v58")
      s.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer_v58 c
        WHERE EXISTS (SELECT 1 FROM orders_v58 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
          AND NOT EXISTS (SELECT 1 FROM orders_v58 o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        ORDER BY c_custkey""")
    }),

    // q59: LATERAL correlated subquery with LIMIT — per-order top-2
    // line items by quantity; Catalyst decorrelates the limit into a
    // ranked window, so it runs as one pass, not a loop.
    "q59_lateral_topk" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v59")
      lineitem(s, d).createOrReplaceTempView("lineitem_v59")
      s.sql("""
        SELECT o.o_orderkey, l.ln, l.qty
        FROM orders_v59 o, LATERAL (
          SELECT l_linenumber AS ln, l_quantity AS qty
          FROM lineitem_v59
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        WHERE o.o_orderkey < 2000
        ORDER BY o.o_orderkey, l.qty DESC, l.ln""")
    }),

    // q60: multiset set ops (EXCEPT ALL / INTERSECT ALL) — duplicates
    // preserved per multiset semantics, aggregated to counts for a
    // deterministic comparison surface.
    "q60_set_ops_all" -> ((s, d) => {
      import s.implicits._
      val a = orders(s, d).filter($"o_orderstatus" === "F").select($"o_orderpriority")
      val b = orders(s, d).filter($"o_totalprice" > 200000.0).select($"o_orderpriority")
      a.exceptAll(b).groupBy($"o_orderpriority").agg(count(lit(1)).as("n_except"))
        .join(
          a.intersectAll(b).groupBy($"o_orderpriority").agg(count(lit(1)).as("n_intersect")),
          Seq("o_orderpriority"), "full_outer")
        .orderBy($"o_orderpriority")
    }),

    // q62: fixed-width histogram — the profiling primitive: one
    // partial+final aggregate over bin ids, never a sort.
    "q62_histogram" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .select(least(floor($"l_quantity" / 5.0), lit(9L)).as("bin"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"))
        // fraction as floored basis points: %.4f formatting hits
        // rounding-mode ties (Java HALF_UP vs C printf) on exact
        // ratios like 5907/60000; floor of an exact integer ratio
        // can't disagree
        .select($"bin", $"n",
          floor($"n" * 10000 / sum($"n").over(Window.partitionBy())).as("frac_bp"))
        .orderBy($"bin")
    }),

    // q63: per-stratum corpus profile (docs, distinct fingerprints,
    // token/char stats) — the data-profiling pass every curation
    // pipeline starts with; exact-sum means per OracleParity.
    "q63_profile_summary" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions._
      documents(s, d)
        .select($"lang", md5(normalize($"text")).as("fp"),
          size(tokens($"text")).cast("long").as("n_toks"), $"n_chars")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"fp").as("n_uniq"),
          sum($"n_toks").as("sum_toks"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"))
        // mean as floored basis points (tokens×10⁴ per doc): %.4f
        // formatting hits the Java-HALF_UP-vs-C-printf rounding-tie
        // hazard on .xxxx5 ratios (see q62); floor of an exact integer
        // ratio can't disagree between engines
        .select($"lang", $"n_docs", $"n_uniq",
          floor($"sum_toks" * 10000 / $"n_docs".cast("double")).as("avg_toks_bp"),
          $"min_chars", $"max_chars")
        .orderBy($"lang")
    }),

    // q61: window distribution functions — ntile / percent_rank /
    // cume_dist plus first/nth value over the default running frame.
    // The (value, event_id) ordering key is unique, so RANGE-frame peer
    // groups are singletons and every output is deterministic.
    "q61_window_distribution" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
      events(s, d).select(
        $"event_id", $"event_type",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first($"event_id").over(w).as("first_in_frame"),
        nth_value($"event_id", 2).over(w).as("second_in_frame"))
        .orderBy($"event_id")
    }),

    // q56: nested-type aggregation — order lines collected into a
    // sorted array<struct>, serialized to canonical JSON (collect_list
    // order is nondeterministic; sort_array pins it by the unique line
    // number). Shuffle rows carry the struct pairs, bounded by lines
    // per order.
    "q56_nested_collect" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).groupBy($"l_orderkey")
        .agg(
          to_json(sort_array(collect_list(
            struct($"l_linenumber".as("ln"), $"l_quantity".as("q"))))).as("lines_js"),
          count(lit(1)).as("n_lines"))
        .orderBy($"l_orderkey")
    }),

    // q57: time-series gap filling — per-user hourly grid from the
    // observed bounds (sequence + explode, bounded by the span), left
    // join of observed sums, then last-observation-carried-forward via
    // last(ignoreNulls) over an unbounded-preceding frame. The grid
    // explode is narrow; the only shuffle is the hourly pre-aggregation.
    "q57_gap_fill_locf" -> ((s, d) => {
      import s.implicits._
      val hourly = events(s, d)
        .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
        .agg(dsum($"value").as("v"))
        .localCheckpoint() // r20: feeds bounds AND the grid join — one event pass
      val bounds = hourly.groupBy($"user_id")
        .agg(min($"hour").as("lo"), max($"hour").as("hi"))
      val grid = bounds.select($"user_id",
        explode(sequence($"lo", $"hi", expr("INTERVAL 1 HOUR"))).as("hour"))
      val w = Window.partitionBy($"user_id").orderBy($"hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .select($"user_id", fmtTs($"hour").as("hour_s"),
          $"v".isNotNull.as("observed"),
          last($"v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy($"user_id", $"hour_s")
    }),

    // q55: approx_percentile (mergeable quantile sketch) — the 100 TB
    // path that q42's exact percentiles pin the semantics for:
    // fixed-size mergeable sketch per group, partial+final like any
    // aggregate. The approximate values are engine-specific, so the
    // emitted row checks the sketch's own CONTRACT instead: the
    // returned p-quantile's true rank must sit within ±1% of p·N
    // (accuracy=1000 guarantees ±0.1%; 10× margin), and the HLL distinct
    // within ±15% of exact (3σ). The oracle recomputes the exact
    // columns and pins the flags as TRUE.
    "q55_approx_quantiles" -> ((s, d) => {
      import s.implicits._
      val ap = lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          approx_percentile($"l_quantity", lit(0.5), lit(1000)).as("p50q"),
          approx_percentile($"l_extendedprice", lit(0.95), lit(1000)).as("p95p"),
          approx_count_distinct($"l_partkey").as("nd_parts"),
          countDistinct($"l_partkey").as("exact_parts"),
          count(lit(1)).as("n"))
      // true rank of each returned quantile value, one extra pass
      val ranks = lineitem(s, d)
        .join(ap.select($"l_returnflag", $"p50q", $"p95p"), Seq("l_returnflag"))
        .groupBy($"l_returnflag").agg(
          sum(when($"l_quantity" < $"p50q", 1L).otherwise(0L)).as("lt_p50"),
          sum(when($"l_quantity" <= $"p50q", 1L).otherwise(0L)).as("le_p50"),
          sum(when($"l_extendedprice" < $"p95p", 1L).otherwise(0L)).as("lt_p95"),
          sum(when($"l_extendedprice" <= $"p95p", 1L).otherwise(0L)).as("le_p95"))
      ap.join(ranks, Seq("l_returnflag"))
        .select($"l_returnflag", $"n", $"exact_parts",
          ($"lt_p50" <= $"n" * 0.51 && $"le_p50" >= $"n" * 0.49).as("p50_rank_ok"),
          ($"lt_p95" <= $"n" * 0.96 && $"le_p95" >= $"n" * 0.94).as("p95_rank_ok"),
          ($"nd_parts" >= $"exact_parts" * 0.85 &&
            $"nd_parts" <= $"exact_parts" * 1.15).as("nd_ok"))
        .orderBy($"l_returnflag")
    }),

    // pipe_clean_corpus: the composite training-data pipeline — quality
    // gate → normalized exact dedup (keep lowest doc_id) → PII scrub →
    // per-doc stats. One shuffle (dedup window); everything else narrow.
    "pipe_clean_corpus" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions._
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "[0-9]{3,}"
      def scrub(c: org.apache.spark.sql.Column) =
        regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), numRe, "<NUM>")
      val scored = documents(s, d)
        .select($"doc_id", $"text", $"lang",
          size(tokens($"text")).cast("long").as("n_tokens"))
        .filter($"n_tokens" >= 5)
        .withColumn("fp", md5(normalize($"text")))
      val w = Window.partitionBy($"fp").orderBy($"doc_id")
      scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"lang", $"n_tokens", md5(scrub($"text")).as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // pipe_pretrain_mix: the downstream half of the pretraining data
    // pipeline — quality gate → normalized exact dedup → TEMPERATURE-
    // MIXED language sampling (keep-rate (n_min/n_l)^0.5, the sqrt
    // rebalancing that upweights tail languages) — composed as one
    // DAG and summarized per language. The keep decision is
    // deterministic md5 arithmetic (no RNG), the per-lang rates are
    // an aggregate-sized broadcast, and the doc-level path is one
    // dedup shuffle + one broadcast join — the whole mixture plan
    // stays two shuffles at any corpus size. Exact integers
    // everywhere except the rate itself (floor to basis points
    // through one shared double tree).
    "pipe_pretrain_mix" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextFunctions._
      val cleaned = documents(s, d)
        .select($"doc_id", $"lang",
          size(tokens($"text")).cast("long").as("n_tokens"),
          md5(normalize($"text")).as("fp"))
        .filter($"n_tokens" >= 5)
      val w = Window.partitionBy($"fp").orderBy($"doc_id")
      val deduped = cleaned.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn", "fp")
        .localCheckpoint() // feeds the lang census AND the kept-doc filter
      val langN = deduped.groupBy($"lang").agg(count(lit(1)).as("n_before"))
      val nMin = langN.agg(min($"n_before").as("n_min"))
      val rates = langN.crossJoin(broadcast(nMin)) // single-row side
        .select($"lang", $"n_before",
          floor(lit(10000.0) *
            sqrt($"n_min".cast("double") / $"n_before".cast("double")))
            .cast("long").as("rate_bp"))
      val u = pmod(conv(substring(
        md5($"doc_id".cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long"), lit(10000L))
      val kept = deduped.join(broadcast(rates.select($"lang", $"rate_bp")), Seq("lang"))
        .filter(u < $"rate_bp")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("n_tokens_kept"))
      rates.join(kept, Seq("lang"), "left")
        .select($"lang", $"n_before", $"rate_bp",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"n_tokens_kept", lit(0L)).as("n_tokens_kept"))
        .withColumn("share_bp", // lang table: aggregate-sized window
          expr("n_tokens_kept * 10000 DIV sum(n_tokens_kept) OVER ()"))
        .orderBy($"lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "q38_full_outer_join" ->
      """SELECT nationkey, n_cust, n_supp
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |      FROM customer WHERE c_acctbal < -700.0 GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |           FROM supplier WHERE s_acctbal > 5000.0 GROUP BY 1) s
        |USING (nationkey)
        |ORDER BY nationkey""".stripMargin,

    "q39_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "q40_in_subquery" ->
      """SELECT o_orderkey, o_custkey,
        |       o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) AS negative_cust
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "q41_union_by_name" ->
      """SELECT c_custkey AS id, 'customer' AS kind, c_acctbal AS bal FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS kind, s_acctbal AS bal FROM supplier
        |ORDER BY kind, id""".stripMargin,

    "q42_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS p25,
        | quantile_cont(l_quantity, 0.5)  AS p50,
        | quantile_cont(l_quantity, 0.75) AS p75,
        | quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q43_moment_stats" ->
      """SELECT l_returnflag, n,
        | printf('%.9f', (sxx - sx*sx/n) / (n-1)) AS var_qty,
        | printf('%.9f', sqrt((sxx - sx*sx/n) / (n-1))) AS stddev_qty,
        | printf('%.9f', (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))) AS corr_qty_price
        |FROM (
        | SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q44_argminmax" ->
      """SELECT event_type,
        | arg_max(event_id, printf('%012.2f|%010d', value, event_id)) AS max_value_event,
        | arg_min(event_id, printf('%012.2f|%010d', value, event_id)) AS min_value_event,
        | MAX(value) AS max_value,
        | MIN(value) AS min_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q45_array_funcs" ->
      """SELECT p_partkey,
        | array_to_string(list_sort(string_split(p_name, ' ')), ',') AS words_sorted,
        | list_contains(string_split(p_name, ' '), 'green') AS has_green,
        | len(list_distinct(string_split(p_name, ' '))) AS n_uniq_words,
        | array_to_string(string_split(p_name, ' ')[1:2], ' ') AS first_two,
        | CAST(COALESCE(list_position(string_split(p_name, ' '), 'green'), 0) AS BIGINT) AS green_pos
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q46_struct_json" ->
      """SELECT o_orderkey,
        | to_json(struct_pack(k := o_orderkey, st := o_orderstatus, pri := o_orderpriority)) AS js
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q47_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        | SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q48_session_window_batch" ->
      """WITH flagged AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS boundary
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        | SELECT user_id, ts, value,
        |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM flagged)
        |SELECT user_id,
        | MIN(epoch_us(ts)) AS start_us,
        | MAX(epoch_us(ts)) + 30*60*1000000 AS end_us,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q49_sliding_window_batch" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, COUNT(*) AS n
        |FROM (SELECT event_type,
        |       unnest([time_bucket(INTERVAL '30 minutes', ts),
        |               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    "q50_like_regex" ->
      """SELECT p_partkey,
        | p_name LIKE '%green%' AS has_green,
        | starts_with(p_type, 'STANDARD') AS is_std,
        | ends_with(p_type, 'STEEL') AS is_steel,
        | regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS two_words,
        | p_brand LIKE 'Brand#1_' AS brand1x
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q51_hash_encode" ->
      """SELECT doc_id,
        | sha256(text) AS sha256_hex,
        | to_base64(CAST(substring(text, 1, 48) AS BLOB)) AS b64_head,
        | hex(CAST(substring(text, 1, 8) AS BLOB)) AS hex_head
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q52_levenshtein" ->
      """SELECT c_custkey,
        | CAST(levenshtein(c_name, reverse(c_name)) AS INT) AS lev_rev,
        | CAST(levenshtein(c_name, c_mktsegment) AS INT) AS lev_seg
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q53_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | COUNT(*) OVER w AS n_10min,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q54_merge_upsert" ->
      """SELECT o_orderkey,
        | COALESCE(d_status, o_orderstatus) AS status,
        | CAST(COALESCE(d_price, price) AS DOUBLE) AS price,
        | CASE WHEN d_status IS NOT NULL AND o_orderstatus IS NOT NULL THEN 'updated'
        |      WHEN d_status IS NOT NULL THEN 'inserted' ELSE 'kept' END AS action
        |FROM (SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |      FROM orders WHERE o_orderkey % 10 != 0) b
        |FULL JOIN (SELECT o_orderkey, 'U' AS d_status,
        |             CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(18,2)) AS d_price
        |           FROM orders WHERE o_orderkey % 5 = 0) x
        |USING (o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // q55: the approximate values are engine-specific; the oracle pins
    // the exact columns and the sketch-contract flags (literal TRUE).
    "q55_approx_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | TRUE AS p50_rank_ok, TRUE AS p95_rank_ok, TRUE AS nd_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q58_exists" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q59_lateral_topk" ->
      """SELECT o.o_orderkey, l.ln, l.qty
        |FROM orders o, LATERAL (
        |  SELECT l_linenumber AS ln, l_quantity AS qty
        |  FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        |WHERE o.o_orderkey < 2000
        |ORDER BY o.o_orderkey, l.qty DESC, l.ln""".stripMargin,

    "q60_set_ops_all" ->
      """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
        | b AS (SELECT o_orderpriority FROM orders WHERE o_totalprice > 200000.0),
        | e AS (SELECT o_orderpriority, COUNT(*) AS n_except
        |       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
        | i AS (SELECT o_orderpriority, COUNT(*) AS n_intersect
        |       FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT o_orderpriority, n_except, n_intersect
        |FROM e FULL JOIN i USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    "q62_histogram" ->
      """SELECT bin, n, CAST(floor(n * 10000 / CAST(total AS DOUBLE)) AS BIGINT) AS frac_bp
        |FROM (
        | SELECT bin, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
        | FROM (SELECT least(CAST(floor(l_quantity / 5.0) AS BIGINT), 9) AS bin FROM lineitem)
        | GROUP BY bin)
        |ORDER BY bin""".stripMargin,

    "q63_profile_summary" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_uniq,
        | CAST(floor(CAST(SUM(len(string_split(text, ' '))) AS BIGINT) * 10000 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_toks_bp,
        | MIN(n_chars) AS min_chars,
        | MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q61_window_distribution" ->
      """SELECT event_id, event_type,
        | ntile(4) OVER w AS quartile,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume,
        | first_value(event_id) OVER w AS first_in_frame,
        | nth_value(event_id, 2) OVER w AS second_in_frame
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,

    "q56_nested_collect" ->
      """SELECT l_orderkey,
        | to_json(list_sort(list(struct_pack(ln := l_linenumber, q := l_quantity)))) AS lines_js,
        | COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q57_gap_fill_locf" ->
      """WITH hourly AS (
        | SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        | FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(hour) AS lo, MAX(hour) AS hi FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds)
        |SELECT g.user_id, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
        | h.v IS NOT NULL AS observed,
        | last_value(h.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM grid g LEFT JOIN hourly h USING (user_id, hour)
        |ORDER BY user_id, hour_s""".stripMargin,

    "pipe_clean_corpus" ->
      """WITH scored AS (
        | SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_tokens,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        | FROM documents
        | WHERE len(string_split(text, ' ')) >= 5),
        |ranked AS (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM scored)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        | md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{3,}', '<NUM>', 'g')) AS clean_md5
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "pipe_pretrain_mix" ->
      """WITH cleaned AS (
        | SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        | FROM documents
        | WHERE len(string_split(text, ' ')) >= 5),
        |dd AS (
        | SELECT doc_id, lang, n_tokens FROM (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM cleaned) WHERE rn = 1),
        |ln AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM dd GROUP BY lang),
        |mn AS (SELECT min(n_before) AS n_min FROM ln),
        |rates AS (
        | SELECT lang, n_before,
        |  CAST(floor(10000.0 *
        |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_before AS DOUBLE))) AS BIGINT)
        |    AS rate_bp
        | FROM ln, mn),
        |kept AS (
        | SELECT dd.lang, CAST(count(*) AS BIGINT) AS n_kept,
        |   CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
        | FROM dd JOIN rates USING (lang)
        | WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |   % 10000 < rate_bp
        | GROUP BY dd.lang)
        |SELECT lang, n_before, rate_bp,
        | coalesce(n_kept, 0) AS n_kept,
        | coalesce(n_tokens_kept, 0) AS n_tokens_kept,
        | CAST(coalesce(n_tokens_kept, 0) * 10000
        |   // sum(coalesce(n_tokens_kept, 0)) OVER () AS BIGINT) AS share_bp
        |FROM rates LEFT JOIN kept USING (lang)
        |ORDER BY lang""".stripMargin
  )
}
