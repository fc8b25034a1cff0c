package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FormattedMode, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.functions.ParseJsonLine
import graft.operators.IotPipeline

/** Physical-plan shape assertions: the scale story is only real if the
  * optimizer actually produces the plans the design assumes. These pin
  * pushdown, broadcast choice, top-k planning, and the absence of
  * cartesian products so a refactor can't silently regress them. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  test("q02: filters are pushed into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(l_discount,0.03)"))
    assert(p.contains("LessThan(l_quantity,25.0)"))
  }

  test("q02: scan reads only the referenced columns") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("l_partkey"), "column pruning failed")
    assert(!readSchema.contains("l_returnflag"))
  }

  test("q04/q05: dimension joins broadcast (no fact-side shuffle for the join)") {
    assert(plan("q04_broadcast_join_agg").contains("BroadcastHashJoin"))
    val p5 = plan("q05_revenue_by_nation")
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("q03: global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q03_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q06/q07: semi and anti joins plan as such") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    assert(plan("q01_pricing_summary").contains("partial_sum"))
  }

  test("pack_token_chunks: prefix sum is distributed (no single-partition window)") {
    val p = plan("pack_token_chunks")
    assert(!p.contains("SinglePartition"),
      "global offset fell back to a one-task window")
  }

  test("src_parquet_partitioned: status filter prunes partitions at the scan") {
    val p = plan("src_parquet_partitioned")
    val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters:")).get
    assert(pf.contains("o_orderstatus"), s"no partition pruning: $pf")
  }

  test("q64: as-of join is one shuffle keyed by the join key, no nested loop") {
    val p = plan("q64_asof_join2")
    assert(!p.contains("BroadcastNestedLoopJoin"), "as-of fell back to a nested loop")
    assert(p.contains("Window"), "union-merge LOCF window missing")
  }

  test("q65: interval overlap plans as a broadcast equi-join, not a nested loop") {
    val p = plan("q65_interval_join")
    assert(p.contains("BroadcastHashJoin"), "incident join not broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin"), "overlap fell back to a theta join")
  }

  test("dedup_repeated_ngrams: top-k rides TakeOrdered over a partial+final agg") {
    val p = plan("dedup_repeated_ngrams")
    assert(p.contains("TakeOrderedAndProject"), "top-20 planned as a full sort")
    assert(p.contains("partial_count") || p.contains("partial"), "no map-side combine")
  }

  test("text_chunk_stride: only the corpus fan-out shuffle before the output sort") {
    val p = plan("text_chunk_stride")
    // r21 ADVICE fix: the old `trim.startsWith("Exchange")` matched
    // NOTHING in FormattedMode output (tree nodes print as
    // "+- Exchange (n)", detail lines as "(n) Exchange"), so the
    // assertion was vacuous. Count with the robust regex used across
    // this suite. Since r20, Tables.documents carries fanOutScan's
    // hashpartitioning(doc_id) exchange at gate file layout (a no-op
    // at real file parallelism), so the budget is 2: the fan-out plus
    // the final range partitioning for ORDER BY — and any exchange
    // beyond the sort must be that doc_id fan-out, nothing else.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"chunking shuffled $exchanges times:\n${p.take(1500)}")
    val hashKeys = "hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(hashKeys.subsetOf(Set("doc_id")),
      s"unexpected hash-exchange keys beyond the doc_id fan-out: $hashKeys")
  }

  test("q75: recursion plans as UnionLoop with the monthly agg broadcast to it") {
    val p = plan("q75_recursive_cte")
    assert(p.contains("UnionLoop"), "recursive CTE should plan as UnionLoop")
    assert(p.contains("BroadcastHashJoin"),
      "the month grid should broadcast-join the aggregate, not shuffle it")
  }

  test("q78: groupBy reuses the window's hash partitioning (one keyed shuffle)") {
    val p = plan("q78_time_weighted_avg")
    // exactly 2 exchanges: the keyed window shuffle + the 5-row final sort
    val exchanges = p.linesIterator.count(_.trim.stripPrefix(":- ").stripPrefix("+- ")
      .startsWith("Exchange"))
    assert(exchanges <= 2,
      s"time-weighted avg shuffled $exchanges times (window partitioning not reused)")
  }

  test("q86: skyline is prefix-max + join-back, never a dominance nested loop") {
    val p = plan("q86_skyline")
    assert(p.contains("Window"), "per-price prefix-max window missing")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "skyline fell back to a quadratic dominance join")
  }

  test("q87: bloom prefilter probes a scalar-subquery sketch in the scan filter") {
    val p = plan("q87_bloom_prefilter")
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    assert(p.toLowerCase.contains("subquery"),
      "bloom sketch should be built once as a scalar subquery")
  }

  test("q91/q83: sequence windows stay keyed (no single-partition window)") {
    assert(!plan("q91_markov_transitions").contains("SinglePartition"),
      "markov lead() window collapsed to one task")
    assert(!plan("q83_rolling_anomaly").contains("SinglePartition"),
      "rolling anomaly window collapsed to one task")
  }

  test("join strategy hints are honored (broadcast / merge / shuffle_hash)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey")
    def planOf(j: org.apache.spark.sql.DataFrame) =
      j.queryExecution.sparkPlan.toString
    assert(planOf(li.join(org.apache.spark.sql.functions.broadcast(o),
      li("l_orderkey") === o("o_orderkey"))).contains("BroadcastHashJoin"))
    assert(planOf(li.join(o.hint("merge"),
      li("l_orderkey") === o("o_orderkey"))).contains("SortMergeJoin"))
    assert(planOf(li.join(o.hint("shuffle_hash"),
      li("l_orderkey") === o("o_orderkey"))).contains("ShuffledHashJoin"))
  }

  test("q109/q103: bidirectional as-of and EWMA cost one data shuffle each") {
    // the union-merge shape's whole point: every window pass (q109:
    // tie collapse + backward LOCF + reversed-scan forward lookup)
    // rides ONE keyed exchange — the second exchange is the output
    // ORDER BY, not a data shuffle. The forward pass deliberately
    // re-sorts descending instead of using an unbounded-FOLLOWING
    // frame (which Spark evaluates by rescanning the partition tail
    // per row — quadratic on a hot key), so q109 carries 3 keyed
    // Window ops but still exactly 2 exchanges.
    for ((q, maxWindows) <- Seq("q109_asof_nearest" -> 3, "q103_ewma_smooth" -> 1)) {
      val p = plan(q)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      val windows = "\\(\\d+\\) Window".r.findAllIn(p).length
      assert(exchanges <= 2, s"$q plans $exchanges exchanges (expected key + output sort):\n$p")
      assert(windows <= maxWindows, s"$q did not fuse its window passes ($windows Window ops)")
    }
  }

  test("q103/dedup_incremental: keyed EWMA window; anti-join ingest dedup") {
    assert(!plan("q103_ewma_smooth").contains("SinglePartition"),
      "EWMA window collapsed to one task")
    assert(plan("dedup_incremental").contains("LeftAnti"),
      "incremental dedup should plan the corpus probe as an anti-join")
  }

  test("catalog column stats drive the dim-join broadcast decision (CBO)") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    val dims = Seq("c_custkey", "c_nationkey", "c_mktsegment")
    // two child sessions over the same data: path-based (no stats) vs
    // catalog tables with ANALYZE ... FOR ALL COLUMNS under CBO
    val sNo = spark.newSession()
    val sCbo = graft.sources.CatalogTables.cboSession(spark)
    val db = graft.sources.CatalogTables.ensure(sCbo, sf)
    def filteredDim(s: SparkSession, useCatalog: Boolean) = {
      val cust = if (useCatalog) s.table(s"$db.customer")
        else s.read.parquet(s"$sf/customer.parquet")
      cust.select(dims.map(col): _*).filter(col("c_mktsegment") === "BUILDING")
    }
    // with column stats, the filter's estimate carries a rowCount
    // shrunk by NDV-based selectivity (~1/5); the size-only estimator
    // cannot shrink a filter at all. (plan.stats reads the THREAD's
    // active SQLConf, so each session must be active while its stats
    // are computed — queryExecution itself self-manages this, .stats
    // does not)
    def statsIn(s: SparkSession, useCatalog: Boolean) = {
      SparkSession.setActiveSession(s)
      try filteredDim(s, useCatalog).queryExecution.optimizedPlan.stats
      finally SparkSession.setActiveSession(spark)
    }
    val statsCbo = statsIn(sCbo, useCatalog = true)
    val statsNo = statsIn(sNo, useCatalog = false)
    assert(statsCbo.rowCount.isDefined, "ANALYZE stats did not reach the plan")
    assert(statsCbo.rowCount.get > 0 && statsCbo.rowCount.get < 150,
      s"expected NDV-selectivity-shrunk rowCount, got ${statsCbo.rowCount}")
    assert(statsCbo.sizeInBytes < statsNo.sizeInBytes,
      s"CBO estimate (${statsCbo.sizeInBytes}) should undercut the size-only " +
        s"estimate (${statsNo.sizeInBytes})")
    // a broadcast threshold BETWEEN the two estimates: only the
    // stats-aware session may broadcast the dim — the strategy decision
    // itself now comes from the catalog stats, not the file size
    val t = (statsCbo.sizeInBytes + statsNo.sizeInBytes) / 2
    def joinPlan(s: SparkSession, useCatalog: Boolean) = {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", t.toString)
      val ord = (if (useCatalog) s.table(s"$db.orders")
        else s.read.parquet(s"$sf/orders.parquet")).select("o_orderkey", "o_custkey")
      ord.join(filteredDim(s, useCatalog), col("o_custkey") === col("c_custkey"))
        .queryExecution.sparkPlan.toString
    }
    assert(joinPlan(sCbo, useCatalog = true).contains("BroadcastHashJoin"),
      "stats-based estimate under the threshold must broadcast the dim")
    assert(!joinPlan(sNo, useCatalog = false).contains("BroadcastHashJoin"),
      "size-only estimate over the threshold must not broadcast")
  }

  test("dedup_prefix_trunc: anchor candidate generation is a hash join, never a nested loop") {
    // the truncation-dedup contract: candidates come from the 8-token
    // anchor EQUI-join (hash-joinable key), and the exact string-prefix
    // verify is a post-join filter — a plan that degrades to a nested
    // loop would be all-pairs at corpus scale.
    val p = plan("dedup_prefix_trunc")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"anchor join fell off the hash-join path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"prefix-trunc planned a nested loop:\n$p")
  }

  test("ml_logreg_newton: each Newton pass is ONE partial+final corpus aggregate") {
    // the distributed-logreg contract: sufficient statistics reduce
    // map-side (partial_sum) and the single-row weight frame broadcasts
    // back — the fact table must never shuffle on a key.
    val p = plan("ml_logreg_newton")
    // partial_sum alone: FormattedMode prints partial aggregate
    // functions by name, so any plan that demoted the map-side combine
    // to a final-only aggregate fails here (the old
    // `|| p.contains("HashAggregate")` alternative passed for ANY
    // hash aggregate and pinned nothing).
    assert(p.contains("partial_sum"),
      s"Newton sums lost map-side partial aggregation:\n$p")
    assert(!"hashpartitioning\\((x1|x2|y)".r.findFirstIn(p).isDefined,
      s"logreg shuffled the fact table on a feature key:\n$p")
  }

  test("ml_gaussian_nb: stats pass is partial+final; the stats row broadcasts back") {
    // generative-classifier contract: ONE corpus aggregate reduces
    // map-side to the 10 sufficient statistics, the quantized
    // single-row stats frame broadcasts into the scoring scan — the
    // fact table never shuffles on a key.
    val p = plan("ml_gaussian_nb")
    assert(p.contains("partial_sum"), s"NB stats lost map-side combine:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"NB stats row did not broadcast:\n$p")
    assert(!"hashpartitioning\\((x1|x2|y)".r.findFirstIn(p).isDefined,
      s"NB shuffled the fact table on a feature key:\n$p")
  }

  test("ml_adaboost_stumps: the candidate grid broadcasts; error counts reduce map-side") {
    // boosting contract: the 28-row stump grid expands rows BEFORE the
    // partial aggregate, so each task emits 28 rows — never a keyed
    // shuffle of the fact table (the global no-cartesian test covers
    // the join type).
    val p = plan("ml_adaboost_stumps")
    assert(p.contains("partial_sum"), s"stump error counts lost map-side combine:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"stump grid did not broadcast:\n$p")
    assert(!"hashpartitioning\\((x1|x2|y)".r.findFirstIn(p).isDefined,
      s"adaboost shuffled the fact table on a feature key:\n$p")
  }

  test("feat_standardize: group stats broadcast back onto the document scan") {
    val p = plan("feat_standardize")
    assert(p.contains("BroadcastHashJoin"),
      s"lang stats did not broadcast into the scan:\n$p")
    // r20: Tables.documents carries a scale-adaptive fanOutScan
    // (hashpartitioning(doc_id) — input-skew relief for the gate's
    // single-row-group corpus file, a no-op at real file parallelism),
    // so the old blanket !hashpartitioning(doc_id) text match would
    // trip on it. What this test actually pins is the JOIN strategy:
    // the stats side must come back as a broadcast, never by
    // re-shuffling documents against it.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"standardize shuffled documents to join the stats side:\n$p")
  }

  test("q241_periodogram: per-period sums are partial+final over one scan") {
    val p = plan("q241_periodogram")
    assert(p.contains("partial_sum"), s"periodogram sums lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"periodogram planned a cartesian:\n$p")
  }

  test("sim_mutual_knn: the bounded panel broadcasts into the scoring join") {
    val p = plan("sim_mutual_knn")
    assert(p.contains("BroadcastExchange"),
      s"panel side did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"mutual-knn planned a cartesian:\n$p")
  }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("q115: three funnel stages ride ONE user_id exchange (windows chain, no re-shuffle)") {
    val p = plan("q115_funnel_conversion")
    val keyedExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(keyedExchanges <= 1,
      s"funnel stages re-shuffled ($keyedExchanges user_id exchanges):\n$p")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).length
    assert(windows === 3, s"expected 3 chained window stages, got $windows")
  }

  test("q124: null-safe equality (<=>) still plans a hash join, not a nested loop") {
    val p = plan("q124_null_safe_join")
    // <=> is a valid equi-join key, so the planner must produce a
    // hash join (broadcast or shuffled) and NO nested-loop node may
    // appear anywhere in the plan — the old disjunctive form passed
    // whenever any broadcast hash join coexisted with a nested loop.
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"null-safe join fell off the hash-join path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe join planned a nested loop:\n$p")
  }

  test("q130/q135: reused intermediates are pinned — exactly one parquet scan each") {
    // without the localCheckpoint, q130's day spine + DAU + two rolling
    // explodes would re-scan orders four times (and q135's two-lag
    // self-join twice each) — at 100 TB that's the dominant cost
    for (q <- Seq("q130_active_user_ratios", "q135_autocorr_daily")) {
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans <= 2, // FormattedMode lists each node in tree + detail
        s"$q re-scans its fact table ($scans 'Scan parquet' mentions):\n$p")
    }
  }

  test("exact global ranks (q85/q95/q99/q110/samp_shuffle) never window over a single partition") {
    // The scale-killer shape is a logical Window with an EMPTY
    // partition spec — physical planning turns that into Exchange
    // SinglePartition + one task holding every row. All five exact-
    // rank queries must run GlobalRank's range-partitioned two-pass
    // instead: every Window node in their optimized plans is keyed.
    for (q <- Seq("q85_equidepth_bins", "q95_rfm_segments",
        "q99_gini_concentration", "q110_decile_lift", "samp_shuffle",
        "q114_ks_test", "q118_weighted_median", "q86_skyline",
        "q129_spearman_corr", "q132_winsorized_mean",
        "q133_hhi_concentration", "q153_tukey_fences", "samp_curriculum")) {
      val wins = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty, s"$q: expected the keyed rank window to survive optimization")
      wins.foreach { w =>
        assert(w.partitionSpec.nonEmpty, s"$q has a global (single-partition) window")
      }
    }
  }

  test("q139: growth-accounting joins stay on the hash-join path; churn window is month-sized") {
    val p = plan("q139_growth_accounting")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"customer-month joins fell off the keyed path:\n$p")
    // exactly one Window — the lag over the aggregate-sized month table;
    // classification itself must never window
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).length
    assert(windows === 1, s"expected only the month-table lag window, got $windows")
  }

  test("text_pmi_cooccur: vocab rides broadcast joins, top-20 is TakeOrdered") {
    val p = plan("text_pmi_cooccur")
    assert(p.contains("BroadcastHashJoin"),
      s"df-capped vocabulary must broadcast, not shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 pairs must plan as TakeOrdered, not a full sort:\n$p")
    // the only nested-loop node allowed is the single-row n_docs join
    // (FormattedMode mentions each node twice: tree + detail section)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"pair generation planned a nested loop:\n$p")
  }

  test("q144: the FK audit scans each child table once (both lineitem edges share one pass)") {
    val p = plan("q144_fk_audit")
    // FormattedMode mentions each node twice (tree + detail): one
    // lineitem scan node = 2 mentions; the per-edge count+anti shape
    // this pin guards against would show 4 nodes = 8
    val liScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(p).length
    assert(liScans <= 2, s"lineitem scanned ${liScans / 2} times:\n$p")
  }

  test("q142: salting really produces two keyed exchange stages (salted partial, keyed final)") {
    val p = plan("q142_salted_agg")
    assert("hashpartitioning\\(user_id#\\d+L?, _salt".r.findAllIn(p).nonEmpty,
      s"salted stage-1 exchange missing — hot keys would hit one reducer:\n$p")
    assert("hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r.findAllIn(p).nonEmpty,
      s"keyed final-merge exchange missing:\n$p")
  }

  test("text_bm25: top-20 rides TakeOrdered; df/total tables broadcast back") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k must not globally sort the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"3-row df table should broadcast, not shuffle the tf table:\n$p")
  }

  test("cf_item_neighbors: per-item neighbor rank is a keyed window; top rows via TakeOrdered") {
    // The only window is the per-item neighbor rank — it must carry a
    // partition spec, or one task would hold the whole pair table.
    // Pinned on the raw substrate builder: the session-memoized
    // checkpoint truncates the plan the query itself shows (pcaGram
    // lesson).
    val wins = graft.operators.GraphQueries.itemNbrsPlan(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty, "cf_item_neighbors: expected the keyed rank window")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "cf_item_neighbors has a global (single-partition) window")
    }
  }

  test("graph_label_prop: community census is a partial+final agg over TakeOrdered top-20") {
    // The loop windows run keyed inside the pointer-checkpointed
    // rounds (materialized before the final plan); the returned plan
    // is the census — pin its top-k + combine shape.
    val p = plan("graph_label_prop")
    assert(p.contains("TakeOrderedAndProject"),
      s"community top-20 must plan as TakeOrdered, not a global sort:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"census must map-side combine:\n$p")
  }

  test("q156: the 2048-cell sketch broadcasts to the estimate probe (fact side never re-shuffles on cell)") {
    val p = plan("q156_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch-probe join must broadcast the sketch:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 estimates must plan as TakeOrdered, not a global sort:\n$p")
  }

  test("graph_adamic_adar: top-20 rides TakeOrdered; no nested-loop join anywhere") {
    val p = plan("graph_adamic_adar")
    assert(p.contains("TakeOrderedAndProject"),
      s"AA top-20 must plan as TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"wedge enumeration fell off the hash-join path:\n$p")
  }

  test("ml_kmeans_lloyd: the k*d centroid table broadcasts to the assignment join") {
    // The corpus side must never shuffle on dim — assignment is a
    // broadcast join of the 512-row centroid table against the
    // exploded corpus, then one keyed (vec_id, cluster) aggregate.
    val p = plan("ml_kmeans_lloyd")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids must broadcast into the assignment join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"assignment must not plan a cartesian product:\n$p")
  }

  test("sim_mips_topk: queries broadcast; per-query rank window is keyed") {
    val p = plan("sim_mips_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 5-query side must broadcast against the corpus:\n$p")
    val wins = SparkEntry.queries("sim_mips_topk")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "per-query top-k must window per q_id, never over a single partition")
  }

  test("q158: Friedman ranks window per week block, never over a single partition") {
    val wins = SparkEntry.queries("q158_friedman_test")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    // the k-row final stats window is aggregate-sized by construction;
    // the per-block rank windows must all carry a partition spec
    assert(wins.count(_.partitionSpec.nonEmpty) >= 2,
      "expected the per-block rank + tie windows to be keyed")
  }

  test("ml_pca_power: the Gram self-join reuses the substrate's vec_id partitioning (no join shuffle)") {
    // quantized() repartitions by vec_id and localCheckpoints; both
    // join sides read that same materialization, so the n·d² outer
    // product must flow join→partial-agg with only the 4096-cell
    // final exchange — no corpus-sized exchange may follow the scan.
    // Pin the Gram FRAGMENT: ml_pca_power's own final plan starts at
    // the eager 4096-row localCheckpoint, which truncates the join out.
    val p = graft.operators.MlQueries.pcaGram(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"Gram build fell off the hash/merge-join path:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"Gram build must never plan a cartesian product:\n$p")
  }

  test("ml_knn_classifier: eval sample broadcasts; vote windows stay keyed") {
    val p = plan("ml_knn_classifier")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the eval sample must broadcast against the corpus:\n$p")
    val wins = SparkEntry.queries("ml_knn_classifier")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "top-5 and majority-vote windows must be per-query, never single-partition")
  }

  test("samp_kfold/text_charset_profile: one exchange each — a keyed partial+final aggregate") {
    for (q <- Seq("samp_kfold", "text_charset_profile")) {
      val p = plan(q)
      // unique Exchange nodes (formatted mode prints tree + details):
      // keyed agg (+ distinct expand), the 5-row window, the output sort
      val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
      assert(p.contains("HashAggregate"), s"$q must hash-aggregate:\n$p")
      assert(exchanges <= 4,
        s"$q grew corpus-sized extra shuffles:\n$p")
    }
  }

  test("q169: Theil-Sen median pick rides GlobalRank — every window is keyed") {
    // the ~3M-pair slope table must never funnel through a single-
    // partition global window; GlobalRank's pass-2 window partitions
    // by _gr_pid (already dropped from the final plan, so inspect the
    // logical windows of the built frame)
    val wins = SparkEntry.queries("q169_theil_sen")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "median rank must come from the partitioned two-pass rank, not a global window")
  }

  test("q170/q171: mean joins and the part dimension broadcast (no fact-side shuffle)") {
    assert(plan("q170_chow_break").contains("BroadcastHashJoin"),
      "per-segment mean join must broadcast the 2-row sums table")
    assert(plan("q171_price_volume_mix").contains("BroadcastHashJoin"),
      "part dimension must broadcast against lineitem")
  }

  test("sim_range_search: queries broadcast against one corpus pass, no cartesian") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast (corpus scanned once)")
    assert(!p.contains("CartesianProduct"),
      "range search must never plan a partitioned cartesian")
  }

  test("cf_user_recs: candidate fan-out is keyed — no nested-loop join, anti-join plans as LeftAnti") {
    // raw builder, not the memoized checkpoint (pcaGram lesson)
    val p = graft.operators.GraphQueries.userRecsPlan(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "all CF joins must be equi-joins")
    assert(p.contains("LeftAnti"), "owned-item exclusion must plan as an anti-join")
  }

  test("q204: the order→ship delay join is an equi-join on orderkey; ranks stay distinct-value-sized") {
    val p = plan("q204_weibull_fit")
    // the only nested-loop allowed is the single-row broadcast total
    // (crossJoin(broadcast(count))) — a partitioned cartesian never is
    assert(!p.contains("CartesianProduct"),
      "fact-fact delay join must shuffle both sides on the same key")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "the orderkey join must be an equi-join")
  }

  test("q200: AUC rank window rides the distinct-score table (partial+final census agg)") {
    val p = plan("q200_auc_roc")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-score census must map-side combine")
  }

  test("q210: per-nation aggregate is partial+final; nation name join broadcasts") {
    val p = plan("q210_benjamini_hochberg")
    assert(p.contains("BroadcastHashJoin"), "25-row nation dim must broadcast")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the per-nation moment aggregate must map-side combine")
  }

  test("ml_decision_tree/ml_gbt_stumps: grid+model frames broadcast; stats map-side combine") {
    for (q <- Seq("ml_decision_tree", "ml_gbt_stumps")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: the 1-row model frame must ride a broadcast cross join")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian leaked")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q: final scoring aggregate must map-side combine")
    }
  }

  test("q242: the calendar-pair theta join broadcasts one day frame (no cartesian)") {
    val p = plan("q242_isotonic_pav")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the j<=k day-pair join must broadcast the day frame")
    assert(!p.contains("CartesianProduct"))
  }

  test("q243/q244: day/user aggregates are partial+final; no cartesian anywhere") {
    for (q <- Seq("q243_sprt_ab", "q244_shapley_attribution")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: corpus aggregate must map-side combine")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian leaked")
    }
  }

  test("text_textrank: vocabulary broadcasts onto the token stream (pre-checkpoint fragment)") {
    // the query's eager localCheckpoint truncates the final plan (the
    // pcaGram lesson), so pin the package-visible substrate builder
    val p = graft.operators.TextQueries7.textrankEdges(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      "the 50-token vocab must broadcast against the (doc, tok) stream")
    assert(!p.contains("CartesianProduct"))
  }

  test("q248/cf_als_rank1: corpus aggregates map-side combine; no cartesian in the ALS chain") {
    for (q <- Seq("q248_ewma_chart", "cf_als_rank1", "q250_cuped_adjust",
        "ml_pr_curve", "q251_partial_corr", "q252_logrank_test",
        "q253_hotelling_t2", "ml_confusion_metrics")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: corpus aggregate must map-side combine")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian leaked")
    }
    // platt's corpus aggregate hides behind the cells checkpoint; the
    // visible plan is cell-sized — just pin the no-cartesian rule
    assert(!plan("ml_platt_scaling").contains("CartesianProduct"))
  }

  test("batch-8: keyed joins stay hash joins; the SampEn pair frame broadcasts") {
    // corpus aggregates map-side combine (partial agg before exchange)
    for (q <- Seq("ml_fisher_lda", "text_yule_k", "cf_slope_one")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: corpus aggregate must map-side combine")
    }
    // the edit-distance verify stage joins candidates and prefixes by
    // doc key only — a nested loop here would be a pairs×docs scan
    assert(!plan("dedup_edit_verify").contains("BroadcastNestedLoopJoin"),
      "dedup_edit_verify: verify joins must stay keyed hash joins")
    // the calendar²-bounded template pair join must BROADCAST its day
    // frame (a checkpointed self-theta-join without the hint planned a
    // CartesianProduct — the r11 lesson; the global test is the net)
    assert(plan("q255_sample_entropy").contains("BroadcastNestedLoopJoin"),
      "q255: the day-pair theta join must ride a broadcast")
  }

  test("batch-9: corpus aggregates map-side combine; the trig lookup broadcasts") {
    for (q <- Seq("q257_poisson_gof", "q258_bass_diffusion")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: corpus aggregate must map-side combine")
    }
    // the 457-row literal trig table joins the day×period frame by
    // (p, r) — a broadcast HASH join, never a nested loop over days
    assert(plan("q256_spectral_entropy").contains("BroadcastHashJoin"),
      "q256: trig lookup must be a broadcast hash join")
  }

  test("batch-10: the Greenwood curve shares q98's window exchange; coverage aggregates combine") {
    val p = plan("q259_greenwood_bands")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-user firsts must map-side combine before the duration windows")
    val c = plan("cf_rec_coverage")
    assert(c.contains("partial_count") || c.contains("partial_sum"),
      "the per-item census must map-side combine")
  }

  test("ml_bagging_stumps: bag/grid frames broadcast; 112-group aggregate map-side combines") {
    val p = plan("ml_bagging_stumps")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "bags/grid/model frames must ride broadcast cross joins")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("feat_cyclical_encode: the 12-row trig literal table broadcasts") {
    val p = plan("feat_cyclical_encode")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_count"), "month census must map-side combine")
  }

  test("q245/q246/q247: day/value aggregates map-side combine; segment probes broadcast") {
    for (q <- Seq("q245_anderson_darling", "q246_kpss_level")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: corpus aggregate must map-side combine")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian leaked")
    }
    val p = plan("q247_binseg_changepoints")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the segment-bounds probe must ride a broadcast theta join")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_cdc_chunks: the chunk-id window is keyed by doc (never a single partition)") {
    // the query's eager localCheckpoint truncates the final plan, so
    // pin the package-visible pre-checkpoint fragment
    val p = graft.operators.DedupQueries3.cdcChunks(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("SinglePartition"),
      "per-doc running anchor count fell back to a one-task window")
    assert(!p.contains("CartesianProduct"))
  }

  test("ml_mutual_info_rank/text_fleiss_kappa: one corpus scan through a generator/stacked labels") {
    val p = plan("ml_mutual_info_rank")
    assert(p.contains("Generate"), "the 4-way feature stack must be one Generate pass")
    assert(p.contains("partial_count"), "cell census must map-side combine")
    val p2 = plan("text_fleiss_kappa")
    assert(p2.contains("partial_sum") || p2.contains("partial_count"),
      "fleiss S2 aggregate must map-side combine")
  }

  test("ml_lof_cells: no cartesian anywhere; the final cnt join broadcasts") {
    // the pairwise BNLJ sits behind the nbrs localCheckpoint (the
    // pcaGram lesson) — what the visible plan must still show is a
    // broadcast for the tiny pts side and zero cartesians
    val p = plan("ml_lof_cells")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the lrd/lof aggregates must map-side combine")
  }

  test("q264_seq_contain: the extrema frame map-side combines; the type census broadcasts") {
    val p = plan("q264_seq_contain")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "per-(user,type) extrema must map-side combine")
    assert(p.contains("BroadcastHashJoin"),
      "the type-count-sized na side must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("samp_borda_fusion: the top-10 Condorcet audit broadcasts") {
    val p = plan("samp_borda_fusion")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("iot ingest: each job parses a line once — one parse_json_line Generate, no from_json") {
    // a filter on a from_json column is pushed below the projection as
    // another parse; the Generate keeps is_object and the threshold above
    object aqe extends AdaptiveSparkPlanHelper
    import spark.implicits._
    val raw = IotPipeline.readSensors(spark, IotPipeline.materializeFixtures())
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    val dim = Seq(("sensor-alpha", 101), ("sensor-001", 1)).toDF("device_id", "location_id")
    val goodPath = IotPipeline.enrichLocation(
      IotPipeline.thresholdFilter(IotPipeline.transform(good)), dim)
    def check(name: String, df: DataFrame): Unit = {
      val p = df.queryExecution.executedPlan
      val gens = aqe.collect(p) { case g: GenerateExec if g.generator.isInstanceOf[ParseJsonLine] => g }
      assert(gens.size === 1, s"$name: ${gens.size} parse_json_line Generates")
      val reparses = aqe.flatMap(p)(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
      assert(reparses.isEmpty, s"$name: JsonToStructs in the plan")
      val text = df.queryExecution.explainString(FormattedMode)
      assert(!text.contains("from_json") && !text.contains("JsonToStructs"), s"$name:\n$text")
    }
    check("good path", goodPath)
    check("dead letter", bad)
  }
}
