package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Arguments handed over by `run.py`: the workload, the seed-generated
  * input dirs (one per set-up repetition), the measurement window and
  * where to write the result. */
final case class Args(workload: String, seconds: Double, trace: Boolean, cores: Int,
    work: String, data: Seq[String], out: String, params: Map[String, String]) {
  def param(k: String): String = params.getOrElse(k, sys.error(s"missing --param $k"))
}

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toSeq
    val m = kv.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("cores").toInt,
      m("work"), m("data").split(",").toSeq, m("out"),
      kv.filter(_._1 == "param").map { case (_, v) =>
        val i = v.indexOf('='); v.take(i) -> v.drop(i + 1)
      }.toMap)
  }
}

/** Timed sections shared by the workloads. */
object Clock {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  /** JVM-wide garbage-collection time so far (driver and local executors
    * share the JVM). */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Entry point: one workload per JVM. Every workload returns a map that
  * is written as JSON to `--out`; `run.py` turns it into the metric line
  * and checks the outputs it names. */
object Main {
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up repeated once per input dir: a fresh SparkContext, then the
    * workload's warm-up on that dir. The last session stays open for the
    * measured phase. */
  def setUp(a: Args, tracer: Tracer, warm: (SparkSession, String) => Map[String, Double])
      : (SparkSession, Seq[Map[String, Any]]) = {
    var spark: SparkSession = null
    val reps = a.data.map { dir =>
      if (spark != null) spark.stop()
      val (s, sessionMs) = Clock.ms(tracer.span("setup.session")(session(a)))
      spark = s
      val (parts, warmMs) = Clock.ms(tracer.span("setup.warmup")(warm(s, dir)))
      System.err.println(f"[perfbench] set-up on $dir: session ${sessionMs / 1e3}%.2f s, " +
        f"warm-up ${warmMs / 1e3}%.2f s ${parts.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")
      Map[String, Any]("session_s" -> sessionMs / 1e3, "warmup_s" -> warmMs / 1e3, "parts" -> parts)
    }
    (spark, reps)
  }

  def stamp(spark: SparkSession, streamPartitions: String): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "shuffle_partitions_batch" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "shuffle_partitions_stream" -> streamPartitions,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "spark_version" -> spark.version,
    "jdk_version" -> System.getProperty("java.version"))

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val result = a.workload match {
      case "iot_ingest" => IotIngest.run(a)
      case "query_mix" => QueryMix.run(a)
      case "stream_stateful" => StreamStateful.run(a)
      case "sweep" => QueryMix.sweep(a)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a.out), Json.write(result))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
