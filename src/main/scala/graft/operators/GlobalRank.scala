package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global rank — the scale-safe replacement for
  * `Window.orderBy(...)` with no partition spec, which funnels every
  * row through one task (Spark's own "Moving all data to a single
  * partition" warning). At 100 TB that single task is the query.
  *
  * The pattern (shared with `SamplingQueries.tokenOffsets` /
  * `samp_shuffle`, now factored here):
  *
  *   1. `repartitionByRange` on the sort key — RangePartitioner gives
  *      partition i exactly the i-th key range, so partition id order
  *      IS global sort order;
  *   2. pass 1: per-partition row counts collected to the driver (one
  *      row per partition — a ≤65536-element array, never data) and
  *      turned into an exclusive prefix;
  *   3. pass 2: partition-LOCAL `row_number` (a keyed window — every
  *      task ranks only its own range) plus the partition's offset.
  *
  * The input is pinned with an eager `localCheckpoint` so passes 1 and
  * 2 see the same materialized partitions. Trade-off: localCheckpoint
  * truncates lineage onto unreplicated executor blocks, so on a real
  * cluster an executor loss fails the query instead of recomputing;
  * the cluster-scale variant is reliable `checkpoint()` (or a
  * replicated StorageLevel) at the cost of an HDFS round-trip. For the
  * rank use-case the window is cheap relative to a recompute, so
  * rerunning the query on failure is the usual production answer.
  *
  * Partition-count sizing matches tokenOffsets: estimated scan bytes /
  * 64 MB clamped to [defaultParallelism, 65536], so a laptop SF gets
  * core-count ranges and a 100 TB corpus gets tens of thousands of
  * ~64 MB ranges.
  */
object GlobalRank {

  /** `df` plus a 1-based exact global rank column over `sortExprs`
    * (which may mix asc/desc and MUST be a total order — include a
    * unique tiebreak), and the total row count (free: it is the sum of
    * the pass-1 partition counts, and NTILE needs it anyway). */
  def withRank(df: DataFrame, rankCol: String, sortExprs: Seq[Column]): (DataFrame, Long) = {
    val s = df.sparkSession
    val nParts = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = (bytes / (64L << 20)).toLong + 1
      math.min(65536L, math.max(s.sparkContext.defaultParallelism.toLong, byBytes)).toInt
    }
    withRank(df, rankCol, sortExprs, nParts)
  }

  /** [[withRank]] with an EXPLICIT range-partition count — for inputs
    * whose Catalyst size estimate is unusable (e.g. the output of a
    * theta join, where the estimator multiplies child sizes and the
    * byte-based heuristic above would explode to the 65536 clamp).
    * Callers own the sizing argument; document it at the call site. */
  def withRank(df: DataFrame, rankCol: String, sortExprs: Seq[Column],
      nParts: Int): (DataFrame, Long) = {
    val keyed = df
      .repartitionByRange(nParts, sortExprs: _*)
      .withColumn("_gr_pid", spark_partition_id())
      .localCheckpoint()
    // pass 1: counts per partition; pid ascending == key-range ascending
    val counts = keyed.groupBy(col("_gr_pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
    // pass 2: rank within the partition's own range + exclusive prefix
    val w = Window.partitionBy(col("_gr_pid")).orderBy(sortExprs: _*)
    val ranked = keyed
      .withColumn(rankCol,
        row_number().over(w).cast("long") + element_at(typedlit(offsets), col("_gr_pid")))
      .drop("_gr_pid")
    (ranked, acc)
  }

  /** `df` plus an INCLUSIVE global prefix sum of the long-typed
    * `weight` column in `sortExprs` order — the weighted twin of
    * [[withRank]] (same two passes: per-partition weight totals to the
    * driver, exclusive prefix, partition-local cumulative). Returns
    * the total weight too. Long weights keep every comparison exact;
    * scale fractional weights to integers first. */
  def withPrefixSum(df: DataFrame, cumCol: String, weight: Column,
      sortExprs: Seq[Column]): (DataFrame, Long) = {
    val s = df.sparkSession
    val nParts = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = (bytes / (64L << 20)).toLong + 1
      math.min(65536L, math.max(s.sparkContext.defaultParallelism.toLong, byBytes)).toInt
    }
    withPrefixSum(df, cumCol, weight, sortExprs, nParts)
  }

  /** Explicit-partition-count overload — REQUIRED when `df` descends
    * from a join: Catalyst multiplies child size estimates, the
    * byte-based sizing above saturates at 65536 range partitions, and
    * the two-pass prefix drowns in empty-task overhead (the
    * q169_theil_sen lesson, re-measured on q189 at 10×: 134 s → 3 s
    * with an explicit count). Pass the parallelism-scaled count the
    * aggregated input actually needs. */
  def withPrefixSum(df: DataFrame, cumCol: String, weight: Column,
      sortExprs: Seq[Column], nParts: Int): (DataFrame, Long) = {
    val keyed = df
      .repartitionByRange(nParts, sortExprs: _*)
      .withColumn("_gr_pid", spark_partition_id())
      .localCheckpoint()
    val totals = keyed.groupBy(col("_gr_pid")).agg(sum(weight).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, t) => val o = pid -> acc; acc += t; o }.toMap
    val w = Window.partitionBy(col("_gr_pid")).orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = keyed
      .withColumn(cumCol, sum(weight).over(w) + element_at(typedlit(offsets), col("_gr_pid")))
      .drop("_gr_pid")
    (cum, acc)
  }

  /** INCLUSIVE and EXCLUSIVE (strictly-before rows only) global
    * running MAX of long-castable `value` in `sortExprs` order — the
    * prefix-max sibling of [[withPrefixSum]], for skyline/frontier
    * shapes. Same two passes: per-partition maxes to the driver (one
    * row per partition), exclusive prefix-max offsets, partition-local
    * running max merged with the offset via null-skipping `greatest`.
    * `prevCol` is null on the globally-first row (no prior row), the
    * same contract as a global `rowsBetween(unboundedPreceding, -1)`
    * window. */
  def withPrefixMax(df: DataFrame, inclCol: String, prevCol: String,
      value: Column, sortExprs: Seq[Column]): DataFrame = {
    val s = df.sparkSession
    val nParts = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = (bytes / (64L << 20)).toLong + 1
      math.min(65536L, math.max(s.sparkContext.defaultParallelism.toLong, byBytes)).toInt
    }
    val keyed = df
      .repartitionByRange(nParts, sortExprs: _*)
      .withColumn("_gr_pid", spark_partition_id())
      .localCheckpoint()
    val maxes = keyed.groupBy(col("_gr_pid")).agg(max(value.cast("long")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // offset(pid) = max over all EARLIER partitions; absent (null) for
    // the first non-empty partition, so greatest() falls back to the
    // partition-local running max alone.
    var acc = Option.empty[Long]
    val offsets: Map[Int, Long] = maxes.flatMap { case (pid, m) =>
      val o = acc.map(pid -> _); acc = Some(acc.fold(m)(math.max(_, m))); o
    }.toMap
    val base = Window.partitionBy(col("_gr_pid")).orderBy(sortExprs: _*)
    val off = element_at(typedlit(offsets), col("_gr_pid"))
    keyed
      .withColumn(inclCol, greatest(
        max(value.cast("long")).over(base.rowsBetween(Window.unboundedPreceding, 0)), off))
      .withColumn(prevCol, greatest(
        max(value.cast("long")).over(base.rowsBetween(Window.unboundedPreceding, -1)), off))
      .drop("_gr_pid")
  }

  /** Exact integer floor-division for non-negative long columns: the
    * numerator is made exactly divisible first, so the double divide is
    * IEEE-exact for any value below 2^53 — no float-rounding flake at
    * any realistic row count. */
  private def idiv(x: Column, y: Long): Column =
    ((x - pmod(x, lit(y))) / lit(y)).cast("long")

  /** SQL NTILE(buckets) reconstructed from a 1-based global rank and the
    * total row count: the first `total % buckets` buckets hold
    * ⌈total/buckets⌉ rows, the rest ⌊total/buckets⌋ — bit-identical to
    * the Window NTILE both Spark and DuckDB implement, but computable
    * as a narrow map over the distributed rank (no window at all). */
  def ntileFromRank(rank: Column, total: Long, buckets: Int): Column = {
    val base = total / buckets
    val rem = total % buckets
    val cut = rem * (base + 1)
    // base == 0 (fewer rows than buckets) ⇒ every rank ≤ cut, so the
    // otherwise-branch (and its division by base) is never evaluated;
    // max(base,1) keeps the expression well-formed anyway.
    when(rank <= cut, idiv(rank - 1, base + 1) + 1)
      .otherwise(idiv(rank - 1 - cut, math.max(base, 1L)) + rem + 1)
      .cast("int")
  }
}
