package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.IotPipeline
import graft.streaming.Streams

/** `iot_ingest`: the paper's dataflow over a generated JSONL backlog.
  * One op drains the backlog twice: through the batch path
  * (readSensors → splitCorrupt → transform → thresholdFilter →
  * enrichLocation → writeJsonl, plus the dead-letter sink) and through
  * its streaming twin (sensorFileStream with runAvailableNow). */
object IotIngest {
  private val dimSchema = StructType(Seq(
    StructField("device_id", StringType), StructField("location_id", LongType)))

  private def batchPath(spark: SparkSession, t: Tracer, dir: String, out: String): Unit = {
    val raw = t.span("IotPipeline.readSensors")(IotPipeline.readSensors(spark, s"$dir/in"))
    val (good, bad) = t.span("IotPipeline.splitCorrupt")(IotPipeline.splitCorrupt(raw))
    val dim = t.span("IotPipeline.dimension")(spark.read.schema(dimSchema).json(s"$dir/devices.jsonl"))
    val enriched = t.span("IotPipeline.transform") {
      IotPipeline.enrichLocation(IotPipeline.thresholdFilter(IotPipeline.transform(good)), dim)
    }
    t.span("IotPipeline.writeJsonl")(IotPipeline.writeJsonl(enriched, s"$out/batch"))
    t.span("IotPipeline.writeJsonl.dead_letter")(IotPipeline.writeJsonl(bad, s"$out/dead_letter"))
  }

  private def streamPath(spark: SparkSession, t: Tracer, dir: String, out: String): Unit = {
    val df = t.span("Streams.sensorFileStream")(Streams.sensorFileStream(spark, s"$dir/in"))
    t.span("Streams.runAvailableNow") {
      val q = Streams.runAvailableNow(df.toDF(), s"$out/stream", s"$out/stream_ckpt")
      q.awaitTermination()
    }
  }

  private def warm(work: String)(spark: SparkSession, dir: String): Map[String, Double] = {
    val t = new Tracer(false, () => spark.sparkContext)
    val out = s"$work/ingest_warm/${new java.io.File(dir).getName}"
    Map("batch_drain" -> Clock.ms(batchPath(spark, t, dir, out))._2 / 1e3,
      "stream_drain" -> Clock.ms(streamPath(spark, t, dir, out))._2 / 1e3)
  }

  /** Incremental cost of forcing each prefix of the batch path (median
    * of three): readSensors to noop, then transform to noop, then the
    * full JSONL sink. */
  private def prefixes(spark: SparkSession, dir: String, out: String): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def read() = IotPipeline.readSensors(spark, s"$dir/in")
    def transformed() = IotPipeline.transform(IotPipeline.splitCorrupt(read())._1)
    def med(f: => Unit): Double = Clock.median((1 to 3).map(_ => Clock.ms(f)._2 / 1e3))
    val r = med(noop(read()))
    val tr = med(noop(transformed()))
    val w = med(batchPath(spark, new Tracer(false, () => spark.sparkContext), dir, s"$out/prefix"))
    Map("IotPipeline.readSensors_s" -> r, "IotPipeline.transform_s" -> math.max(0.0, tr - r),
      "IotPipeline.writeJsonl_s" -> math.max(0.0, w - tr))
  }

  def run(a: Args): Map[String, Any] = {
    val tracer = new Tracer(a.trace, () => SparkSession.active.sparkContext)
    val (spark, reps) = Main.setUp(a, tracer, warm(a.work))
    val dir = a.data.last
    val listeners = if (a.trace) Some(Listeners.attach(spark)) else None
    val ops = Seq.newBuilder[Map[String, Any]]
    val gc0 = Clock.gcMs()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val out = s"${a.work}/ingest/c$i"
      val (_, bMs) = Clock.ms(tracer.op(s"c$i-batch", "batch")(batchPath(spark, tracer, dir, out)))
      val (_, sMs) = Clock.ms(tracer.op(s"c$i-stream", "stream")(streamPath(spark, tracer, dir, out)))
      ops += Map("ms" -> (bMs + sMs), "batch_ms" -> bMs, "stream_ms" -> sMs, "ok" -> true, "out" -> out)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val gcMs = Clock.gcMs() - gc0
    System.err.println(f"[perfbench] measured ${ops.result().size} ops in $measureS%.2f s")
    val traced = listeners.map { l =>
      l.drain(spark.sparkContext)
      val (perOp, totals) = Layers.split(tracer.ops, tracer.all, l, a.cores,
        Set("IotPipeline.readSensors", "IotPipeline.splitCorrupt", "IotPipeline.transform",
          "Streams.sensorFileStream"))
      val (_, batch) = Layers.split(tracer.ops.filter(_.name == "batch"), tracer.all, l, a.cores, Set.empty)
      val stream = Layers.streams(l, Map("" -> "sensor_file"), Map.empty)
      Layers.record(totals ++ prefixes(spark, dir, s"${a.work}/ingest") ++ stream ++ Map(
        "IotPipeline.executor_cpu_s" -> batch("exec.executor_cpu_s"),
        "IotPipeline.core_util" -> batch("exec.core_util"),
        "IotPipeline.bytes_in_mb" -> batch("exec.input_mb"),
        "IotPipeline.bytes_out_mb" -> batch("exec.output_mb")), perOp, tracer.all)
    }
    Map("stamp" -> Main.stamp(spark, spark.conf.get("spark.sql.shuffle.partitions")),
      "setup" -> reps, "ops" -> ops.result(), "measure_s" -> measureS, "jvm_gc_ms" -> gcMs, "traced" -> traced)
  }
}
