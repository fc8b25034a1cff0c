package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** `query_mix`: a closed loop with one client over a seed-chosen sample
  * of `SparkEntry.queries`. Each entry is built by its `fn(spark, dir)`
  * and forced through the `noop` sink, one after the other. */
object QueryMix {
  private def names(a: Args): Seq[String] =
    Files.readAllLines(Paths.get(a.param("names"))).toArray.map(_.toString).filter(_.nonEmpty).toSeq

  /** Run `name` once: build (eager builder work) then force to noop. */
  private def once(spark: SparkSession, tracer: Tracer, opId: String, name: String,
      dir: String): (Boolean, Double, String) = {
    spark.sharedState.cacheManager.clearCache()
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      tracer.op(opId, name) {
        val df = tracer.span("SparkEntry.build")(fn(spark, dir))
        tracer.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
      }
      (true, (System.nanoTime() - t0) / 1e6, "")
    } catch {
      case e: Throwable => (false, (System.nanoTime() - t0) / 1e6, String.valueOf(e.getMessage).take(300))
    }
  }

  /** Dump each entry's result as one parquet file set, plus the DuckDB
    * twins, for the comparison `run.py` makes outside the timed loop. */
  private def dump(spark: SparkSession, dir: String, out: String, ns: Seq[String]): Map[String, String] = {
    val errs = ns.flatMap { n =>
      spark.sharedState.cacheManager.clearCache()
      try { SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n"); None }
      catch { case e: Throwable => Some(n -> String.valueOf(e.getMessage).take(300)) }
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.write(ns.flatMap(n => oracles.get(n).map(n -> _)).toMap))
    errs.toMap
  }

  def run(a: Args): Map[String, Any] = {
    val tracer = new Tracer(a.trace, () => SparkSession.active.sparkContext)
    val (spark, reps) = Main.setUp(a, tracer, graft.perfbench.Substrates.warm)
    val dir = a.data.last
    val sample = names(a)
    // correctness dump first, outside the timed loop: it also leaves each
    // entry's own classes, codegen and memos warm, so the loop times
    // warm entries, as the min-of-two runs of graft.Bench does
    val checkDir = s"${a.work}/query_mix_out"
    val dumpErrors = dump(spark, dir, checkDir, a.param("check_names").split(",").toSeq.filter(_.nonEmpty))
    val listeners = if (a.trace) Some(Listeners.attach(spark)) else None
    // closed loop over the seed-ordered sample, cycling, until the window
    // is used up and at least one whole pass is done
    val ops = Seq.newBuilder[Map[String, Any]]
    val gc0 = Clock.gcMs()
    val t0 = System.nanoTime()
    var i = 0
    while (i < sample.size || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val n = sample(i % sample.size)
      val (ok, ms, err) = once(spark, tracer, s"q$i", n, dir)
      ops += Map("name" -> n, "ms" -> ms, "ok" -> ok, "error" -> err)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val gcMs = Clock.gcMs() - gc0
    System.err.println(f"[perfbench] measured ${ops.result().size} ops in $measureS%.2f s")
    val traced = listeners.map { l =>
      l.drain(spark.sparkContext)
      val (perOp, totals) = Layers.split(tracer.ops, tracer.all, l, a.cores, Set("SparkEntry.build"))
      Layers.record(totals ++ Map("SparkEntry.builder_s" -> totals("layer.build_s"),
        "SparkEntry.builder_jobs" -> totals("layer.build_jobs")), perOp, tracer.all)
    }
    Map("stamp" -> Main.stamp(spark, "n/a"), "setup" -> reps, "ops" -> ops.result(),
      "measure_s" -> measureS, "jvm_gc_ms" -> gcMs, "check_dir" -> checkDir,
      "dump_errors" -> dumpErrors, "traced" -> traced)
  }

  /** Every non-stream entry twice, cold then warm, plus its dump, for
    * building the candidate pool (`make_pool.py`). */
  def sweep(a: Args): Map[String, Any] = {
    val tracer = new Tracer(false, () => SparkSession.active.sparkContext)
    val (spark, _) = Main.setUp(a, tracer, graft.perfbench.Substrates.warm)
    val dir = a.data.last
    val all = SparkEntry.queries.keys.toSeq.filterNot(_.startsWith("stream_")).sorted
    val times = all.map { n =>
      val (ok, coldMs, err) = once(spark, tracer, n, n, dir)
      val (ok2, warmMs, err2) = once(spark, tracer, n, n, dir)
      n -> Map("ok" -> (ok && ok2), "cold_ms" -> coldMs, "warm_ms" -> warmMs, "error" -> (err + err2))
    }.toMap
    val out = s"${a.work}/sweep_out"
    val dumpErrors = dump(spark, dir, out, all)
    Map("times" -> times, "check_dir" -> out, "dump_errors" -> dumpErrors)
  }
}
