package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{Streams, UserEvent}

/** `stream_stateful`: a generated event-time slice fed in fixed
  * micro-batches through four stateful operators on RocksDB state with
  * changelog checkpointing (the settings of the streaming gate
  * sessions). One op feeds one micro-batch and drains it through all
  * four queries. */
object StreamStateful {
  /** label -> memory sink name stem */
  val Ops: Seq[String] = Seq("tumbling_agg", "tws_anomaly", "dedup", "ss_join")

  /** The streaming gate's session settings on a child session. */
  def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    ss
  }

  /** Arrival-ordered batches: (clean events, clean events + re-delivered
    * copies), read from the generator's slice. */
  def batches(spark: SparkSession, dir: String): Seq[(Seq[UserEvent], Seq[UserEvent])] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/slice.parquet")
      .select($"event_id", $"ts".cast("timestamp"), $"user_id", $"event_type", $"value", $"batch", $"seq", $"dup")
      .collect()
    rows.groupBy(_.getInt(5)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val ordered = rs.sortBy(_.getInt(6)).toSeq
      def ev(r: org.apache.spark.sql.Row) = UserEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))
      (ordered.filterNot(_.getBoolean(7)).map(ev), ordered.map(ev))
    }
  }

  final class Pipeline(ss: SparkSession, tag: String) {
    import ss.implicits._
    val in: MemoryStream[UserEvent] = MemoryStream[UserEvent](ss)
    val inDup: MemoryStream[UserEvent] = MemoryStream[UserEvent](ss)
    private def sink(label: String, df: DataFrame, mode: String): StreamingQuery =
      df.writeStream.format("memory").queryName(s"${label}_$tag").outputMode(mode).start()
    private val events: Dataset[UserEvent] = in.toDS()
    private val purchases = events.toDF().filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
      .withWatermark("p_ts", "10 minutes")
    private val clicks = events.toDF().filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
      .withWatermark("c_ts", "1 hour")
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "tumbling_agg" -> sink("tumbling_agg", Streams.hourlyEventCounts(events.toDF()), "complete"),
      "tws_anomaly" -> sink("tws_anomaly", Streams.anomalyTws(events)
        .select($"event_type", $"event_id", $"ts_us", $"value", $"zscore"), "append"),
      "dedup" -> sink("dedup", Streams.dedupedEvents(inDup.toDS().toDF())
        .select($"event_id", unix_micros($"ts").as("ts_us"), $"value"), "append"),
      "ss_join" -> sink("ss_join", purchases.join(clicks, $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts")
        .select($"purchase_id", $"click_id"), "append"))

    /** Feed one micro-batch and drain it through every query; returns
      * the per-query drain times. */
    def feed(t: Tracer, b: (Seq[UserEvent], Seq[UserEvent])): Seq[Double] = {
      t.span("Streams.addData") { in.addData(b._1); inDup.addData(b._2) }
      queries.map { case (label, q) =>
        Clock.ms(t.span(s"Streams.$label.processAllAvailable")(q.processAllAvailable()))._2
      }
    }

    def stop(): Unit = queries.foreach(_._2.stop())
  }

  private def warm(spark: SparkSession, dir: String): Map[String, Double] = {
    val t = new Tracer(false, () => spark.sparkContext)
    val bs = batches(spark, dir).take(2)
    val (p, startMs) = Clock.ms(new Pipeline(streamSession(spark), "warm"))
    val (_, feedMs) = Clock.ms(bs.foreach(p.feed(t, _)))
    p.stop()
    Map("start" -> startMs / 1e3, "feed" -> feedMs / 1e3)
  }

  def run(a: Args): Map[String, Any] = {
    val tracer = new Tracer(a.trace, () => SparkSession.active.sparkContext)
    val (spark, reps) = Main.setUp(a, tracer, warm)
    val dir = a.data.last
    val bs = batches(spark, dir)
    val listeners = if (a.trace) Some(Listeners.attach(spark)) else None
    val ss = streamSession(spark)
    listeners.foreach(_.watchStreams(ss))
    val p = tracer.span("Streams.start")(new Pipeline(ss, "run"))
    val ops = Seq.newBuilder[Map[String, Any]]
    val gc0 = Clock.gcMs()
    val t0 = System.nanoTime()
    val startMs = tracer.now()
    var i = 0
    while (i < bs.size && (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      val (per, ms) = Clock.ms(tracer.op(s"b$i", "micro_batch")(p.feed(tracer, bs(i))))
      ops += Map("ms" -> ms, "ok" -> true, "rows" -> bs(i)._1.size,
        "per_query_ms" -> Ops.zip(per).toMap)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val gcMs = Clock.gcMs() - gc0
    System.err.println(f"[perfbench] measured ${ops.result().size} ops in $measureS%.2f s")
    val traced = listeners.map { l =>
      l.drain(spark.sparkContext)
      val (perOp, totals) = Layers.split(tracer.ops, tracer.all, l, a.cores, Set("Streams.addData"))
      val runIds = p.queries.map { case (label, q) => q.runId.toString -> s"${label}_run" }.toMap
      val tasks = l.tasksByGroup(startMs).flatMap { case (g, n) => runIds.get(g).map(_ -> n) }
      val stream = Layers.streams(l, Ops.map(o => s"${o}_run" -> o).toMap, tasks)
      // the stream session carries no plan listener: micro-batch
      // planning comes from the queries' progress
      val planS = totals("plans.plan_s") +
        Ops.map(o => stream(s"Streams.$o.queryPlanning_ms") * stream(s"Streams.$o.batches")).sum / 1e3
      Layers.record(totals ++ stream ++ Map("plans.plan_s" -> planS), perOp, tracer.all)
    }
    p.stop()
    val out = s"${a.work}/stream_out"
    Ops.foreach { o => ss.table(s"${o}_run").coalesce(1).write.mode("overwrite").parquet(s"$out/$o") }
    Map("stamp" -> Main.stamp(spark, ss.conf.get("spark.sql.shuffle.partitions")),
      "setup" -> reps, "ops" -> ops.result(), "measure_s" -> measureS, "jvm_gc_ms" -> gcMs, "fed_batches" -> i,
      "check_dir" -> out, "traced" -> traced)
  }
}
