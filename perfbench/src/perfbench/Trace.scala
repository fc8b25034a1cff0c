package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are epoch
  * milliseconds (fractional), so they line up with listener events. */
final case class Span(id: Int, name: String, parent: Int, op: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Records spans around layer calls when `enabled`; a pass-through
  * otherwise. Each op runs under its own Spark job group (its op id),
  * so the listeners attribute jobs to it. Spans stay in memory until
  * the run ends. */
final class Tracer(val enabled: Boolean, sc: () => SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)] // (span id, op id)
  private var nextId = 0

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val (parent, op) = stack.headOption.getOrElse((0, ""))
      stack.push((id, op))
      val t0 = now()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, parent, op, t0, now())
      }
    }

  /** A measured operation: a top-level span with its own op id and job
    * group. */
  def op[T](opId: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      stack.push((id, opId))
      sc().setJobGroup(opId, name, interruptOnCancel = false)
      val t0 = now()
      try body
      finally {
        sc().clearJobGroup()
        stack.pop()
        spans += Span(id, name, 0, opId, t0, now())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** The measured ops: top-level spans opened by [[op]]. */
  def ops: Seq[Span] = spans.toSeq.filter(s => s.parent == 0 && s.op.nonEmpty)
}

final case class StageRec(numTasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    inBytes: Long, shuffleBytes: Long, outBytes: Long)
final case class JobRec(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
final case class PlanRec(start: Long, end: Long, ms: Long)
final case class ProgressRec(name: String, batchId: Long, inputRows: Long,
    durations: Map[String, Long], stateRows: Long, stateMemBytes: Long,
    stateCommitMs: Long, custom: Map[String, Long])

/** SparkListener + QueryExecutionListener + StreamingQueryListener
  * registered by the traced run. Everything lands in concurrent queues
  * and is only read after the listener bus has drained. */
final class Listeners extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val r = JobRec(e.jobId, group.getOrElse(""), e.time, -1L, e.stageIds)
    open.put(e.jobId, r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val r = open.remove(e.jobId)
    if (r != null) { r.end = e.time; jobs.add(r) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten))
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty)
        plans.add(PlanRec(parts.map(_.startTimeMs).min, parts.map(_.endTimeMs).max,
          parts.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      val ops = p.stateOperators.toSeq
      val custom = ops.flatMap(_.customMetrics.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _)
      progress.add(ProgressRec(Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, custom))
    }
  }

  /** Streaming listeners are per session: register on every session that
    * runs measured streams. (Micro-batch planning is taken from their
    * progress, so the plan listener stays on the main session.) */
  def watchStreams(session: org.apache.spark.sql.SparkSession): Unit =
    session.streams.addListener(streamListener)

  /** Block until the async listener bus has delivered every event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Tasks of completed stages per job group (a stream's jobs carry its
    * runId as group), counting jobs that started at or after `sinceMs`. */
  def tasksByGroup(sinceMs: Double): Map[String, Int] = {
    val st = stages.asScala.toMap
    jobs.asScala.toSeq.filter(_.start >= sinceMs).groupBy(_.group).map { case (g, js) =>
      g -> js.flatMap(_.stages).distinct.flatMap(st.get).map(_.numTasks).sum
    }
  }
}

object Listeners {
  def attach(spark: org.apache.spark.sql.SparkSession): Listeners = {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l.planListener)
    l.watchStreams(spark)
    l
  }
}

/** Splits measured ops into layers from spans and listener records. */
object Layers {
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Per-op and total layer split. `ops` are the top-level op spans;
    * `buildNames` names the child spans that count as builder time. */
  def split(ops: Seq[Span], spans: Seq[Span], l: Listeners, cores: Int,
      buildNames: Set[String]): (Seq[Map[String, Any]], Map[String, Double]) = {
    val jobs = l.jobs.asScala.toSeq
    val stages = l.stages.asScala.toMap
    val plans = l.plans.asScala.toSeq
    val opIds = ops.map(_.op).toSet
    def opOf(j: JobRec): Option[Span] =
      if (opIds(j.group)) ops.find(_.op == j.group)
      else ops.find(o => j.start >= o.start - 1 && j.start <= o.end + 1)
    val jobsByOp = jobs.groupBy(j => opOf(j).map(_.op).getOrElse(""))
    val perOp = ops.map { o =>
      val js = jobsByOp.getOrElse(o.op, Nil)
      val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
      val children = spans.filter(s => s.parent != 0 && s.op == o.op)
      val direct = children.filter(c => !children.exists(p => p.id == c.parent))
      val builds = children.filter(c => buildNames(c.name))
      val buildIv = builds.map(b => (b.start, b.end))
      val buildJobs = js.count(j => buildIv.exists { case (s, e) => j.start >= s - 1 && j.start <= e + 1 })
      val pl = plans.filter(p => p.start >= o.start - 1 && p.start <= o.end + 1)
      val jobIv = js.map(j => (math.max(j.start.toDouble, o.start), math.min(j.end.toDouble, o.end)))
      val planIv = pl.map(p => (math.max(p.start.toDouble, o.start), math.min(p.end.toDouble, o.end)))
      val covered = union(jobIv ++ planIv)
      val runMs = st.map(_.runMs).sum.toDouble
      Map[String, Any](
        "op" -> o.op, "name" -> o.name, "wall_ms" -> o.ms,
        "children_ms" -> direct.map(_.ms).sum,
        "build_ms" -> builds.map(_.ms).sum, "build_jobs" -> buildJobs,
        "plan_ms" -> pl.map(_.ms).sum.toDouble,
        "job_wall_ms" -> union(jobIv),
        "uncovered_ms" -> math.max(0.0, o.ms - covered),
        "jobs" -> js.size, "stages" -> st.size, "tasks" -> st.map(_.numTasks).sum,
        "single_task_stages" -> st.count(_.numTasks == 1),
        "executor_run_ms" -> runMs,
        "executor_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> st.map(_.gcMs).sum.toDouble,
        "input_bytes" -> st.map(_.inBytes).sum, "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "output_bytes" -> st.map(_.outBytes).sum)
    }
    def sum(k: String): Double = perOp.map(m => m(k) match {
      case d: Double => d
      case i: Int => i.toDouble
      case n: Long => n.toDouble
    }).sum
    val wall = sum("wall_ms")
    val stagesN = sum("stages")
    val totals = Map(
      "layer.build_s" -> sum("build_ms") / 1e3,
      "layer.build_jobs" -> sum("build_jobs"),
      "plans.plan_s" -> sum("plan_ms") / 1e3,
      "exec.jobs" -> sum("jobs"),
      "exec.stages" -> stagesN,
      "exec.tasks" -> sum("tasks"),
      "exec.single_task_stage_share" -> (if (stagesN > 0) sum("single_task_stages") / stagesN else 0.0),
      "exec.job_wall_s" -> sum("job_wall_ms") / 1e3,
      "exec.executor_run_s" -> sum("executor_run_ms") / 1e3,
      "exec.executor_cpu_s" -> sum("executor_cpu_ms") / 1e3,
      "exec.gc_s" -> sum("gc_ms") / 1e3,
      "exec.core_util" -> (if (wall > 0) sum("executor_run_ms") / (wall * cores) else 0.0),
      "exec.driver_uncovered_s" -> sum("uncovered_ms") / 1e3,
      "exec.input_mb" -> sum("input_bytes") / 1048576.0,
      "exec.shuffle_mb" -> sum("shuffle_bytes") / 1048576.0,
      "exec.output_mb" -> sum("output_bytes") / 1048576.0)
    (perOp, totals)
  }

  /** What a traced run hands back: layer metrics, the per-op split,
    * every span, and the largest layer-sum gap. */
  def record(layers: Map[String, Double], perOp: Seq[Map[String, Any]], spans: Seq[Span]): Map[String, Any] =
    Map("layers" -> layers, "per_op" -> perOp,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)),
      "layer_gap_max" -> maxGap(perOp))

  /** Largest relative gap between an op's wall time and the sum of its
    * direct child spans — the stated layer-sum tolerance is checked on
    * this. */
  def maxGap(perOp: Seq[Map[String, Any]]): Double =
    perOp.map { m =>
      val w = m("wall_ms").asInstanceOf[Double]
      val c = m("children_ms").asInstanceOf[Double]
      if (w > 0) math.abs(w - c) / w else 0.0
    }.foldLeft(0.0)(math.max)

  /** Per-stream-query aggregates over the progress events of measured
    * batches: durationMs phases and state-operator metrics. */
  def streams(l: Listeners, names: Map[String, String],
      tasksPerQuery: Map[String, Int]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byName = l.progress.asScala.toSeq.groupBy(_.name)
    names.foreach { case (queryName, label) =>
      val ps = byName.getOrElse(queryName, Nil)
        .filter(_.inputRows > 0)
      val n = math.max(ps.size, 1).toDouble
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution").foreach { k =>
        out(s"Streams.$label.${k}_ms") = ps.map(_.durations.getOrElse(k, 0L)).sum / n
      }
      out(s"Streams.$label.batches") = ps.size.toDouble
      out(s"Streams.$label.state_rows") = if (ps.isEmpty) 0.0 else ps.last.stateRows.toDouble
      out(s"Streams.$label.state_mem_mb") = if (ps.isEmpty) 0.0 else ps.last.stateMemBytes / 1048576.0
      out(s"Streams.$label.state_commit_ms") = ps.map(_.stateCommitMs).sum / n
      ps.flatMap(_.custom.keys).distinct.filter(_.startsWith("rocksdb")).sorted.foreach { k =>
        out(s"Streams.$label.$k") = ps.map(_.custom.getOrElse(k, 0L)).sum / n
      }
      tasksPerQuery.get(queryName).foreach(t => out(s"Streams.$label.tasks_per_batch") = t / n)
    }
    out.toMap
  }
}
