package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams
import graft.operators.IotPipeline
import java.nio.file.Files
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Streaming semantics: file-source discovery replaces the reference's
  * S3-event control plane; windowed aggs must equal their batch twins;
  * late data beyond the watermark is dropped. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("file-source stream processes JSONL files exactly once (O9 replacement)") {
    val inDir = Files.createTempDirectory("stream-in").toString
    val outDir = Files.createTempDirectory("stream-out").toString
    val ckDir = Files.createTempDirectory("stream-ck").toString
    Files.writeString(java.nio.file.Paths.get(inDir, "batch1.jsonl"),
      IotPipeline.fixtureA.mkString("\n"))
    val q = Streams.runAvailableNow(Streams.sensorFileStream(spark, inDir), outDir, ckDir)
    q.awaitTermination(60000)
    val out1 = spark.read.schema(IotPipeline.sensorSchema).json(outDir)
    assert(out1.count() === 5)

    // a second file arrives → only the new rows are processed (checkpoint)
    Files.writeString(java.nio.file.Paths.get(inDir, "batch2.jsonl"),
      IotPipeline.fixtureB.mkString("\n"))
    val q2 = Streams.runAvailableNow(Streams.sensorFileStream(spark, inDir), outDir, ckDir)
    q2.awaitTermination(60000)
    val out2 = spark.read.schema(IotPipeline.sensorSchema).json(outDir)
    assert(out2.count() === 9) // 5 + 4 good records; corrupt line dropped
  }

  test("sensor stream equals the batch path row for row (shared parse)") {
    val inDir = Files.createTempDirectory("parity-in").toString
    val outDir = Files.createTempDirectory("parity-out").toString
    val ckDir = Files.createTempDirectory("parity-ck").toString
    val lines = IotPipeline.fixtureA ++ IotPipeline.fixtureB ++ Seq(
      """{"device_id": "trunc", "temperature": 2""", "[1, 2]", "42", "null",
      """{"device_id": "hot", "temperature": "hot", "humidity": 50}""",
      """{"device_id": "when", "temperature": 12.5, "timestamp": "not a time"}""",
      "", "   ", "\t", " \t ", "\f",
      """{"device_id": "dup", "temperature": 11, "temperature": 13}""")
    Files.writeString(java.nio.file.Paths.get(inDir, "mixed.jsonl"), lines.mkString("\n") + "\n")
    val batch = IotPipeline.transform(
      IotPipeline.splitCorrupt(IotPipeline.readSensors(spark, inDir))._1)
    val q = Streams.runAvailableNow(Streams.sensorFileStream(spark, inDir), outDir, ckDir)
    q.awaitTermination(60000)
    val cols = batch.columns.filter(_ != "processed_timestamp").toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf)).toSeq
        .sortBy(_.mkString("\u0001"))
    val streamed = rows(spark.read.schema(batch.schema).json(outDir))
    assert(streamed.size === 12)
    assert(streamed === rows(batch))
  }

  test("windowed streaming agg equals its batch twin on the same data") {
    val events = MemoryStream[Ev](spark, 1)
    val rows = Seq(
      Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:55:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 01:05:00"), 2, "view", 3.0),
      Ev(4, ts("2024-01-01 01:45:00"), 2, "click", 4.0),
      Ev(5, ts("2024-01-01 02:30:00"), 1, "view", 5.0))
    events.addData(rows: _*)
    val q = Streams.hourlyEventCounts(events.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("hourly")
      .select($"hour_start", $"event_type", $"n", $"sum_value")
      .orderBy($"hour_start", $"event_type").collect().toSeq
    val batch = rows.toDF()
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"hour_start", $"event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("late rows beyond the watermark are dropped in append mode") {
    val events = MemoryStream[Ev](spark, 2)
    val agg = Streams.hourlyEventCounts(events.toDF())
    val q = agg.writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    // batch 1: establish event time up to 03:00 → watermark 02:50
    events.addData(
      Ev(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: a row for the (closed) 00:00 window — beyond watermark, dropped
    events.addData(Ev(3, ts("2024-01-01 00:20:00"), 1, "click", 99.0))
    q.processAllAvailable()
    // batch 3: advance event time far enough to finalize all windows
    events.addData(Ev(4, ts("2024-01-01 06:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("late").filter($"hour_start" === ts("2024-01-01 00:00:00")).collect()
    assert(closed.length === 1)
    assert(closed.head.getAs[Long]("n") === 1) // the late row did NOT count
  }

  test("foreachBatch lands micro-batches in a date-partitioned parquet layout") {
    val inDir = Files.createTempDirectory("fb-in").toString
    val outDir = Files.createTempDirectory("fb-out").toString
    val ckDir = Files.createTempDirectory("fb-ck").toString
    Files.writeString(java.nio.file.Paths.get(inDir, "a.jsonl"),
      IotPipeline.fixtureA.mkString("\n"))
    val q = graft.streaming.Streams.runPartitionedSink(
      graft.streaming.Streams.sensorFileStream(spark, inDir), outDir, ckDir)
    q.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    assert(out.count() === 5)
    assert(out.columns.contains("ingest_date"))
    // partition dir actually exists on disk
    val parts = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("ingest_date="))
    assert(parts.nonEmpty)
  }

  test("mapGroupsWithState keeps a running per-user profile across micro-batches") {
    import graft.streaming.{UserEvent, UserProfile}
    val events = MemoryStream[UserEvent](spark, 4)
    val q = graft.streaming.Streams.userRunningProfile(events.toDS())
      .writeStream.format("memory").queryName("profiles")
      .outputMode("update").start()
    events.addData(
      UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 1.5),
      UserEvent(2, ts("2024-01-01 00:01:00"), 7, "view", 2.5))
    q.processAllAvailable()
    events.addData(UserEvent(3, ts("2024-01-01 00:02:00"), 7, "purchase", 4.0))
    q.processAllAvailable()
    q.stop()
    // last update row for user 7 reflects all three events
    val last = spark.table("profiles").as[UserProfile].collect()
      .filter(_.user_id == 7).maxBy(_.n_events)
    assert(last === UserProfile(7, 3, 8.0, "purchase"))
  }

  test("transformWithState timers evict idle keys once the watermark passes last+ttl") {
    import graft.streaming.{TwsIdle, UserEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[UserEvent](spark, 4)
      val q = Streams.idleEvictTws(events.toDS(), watermark = "1 minute",
          ttlMs = 10L * 60 * 1000)
        .writeStream.format("memory").queryName("idle_evict")
        .outputMode("append").start()
      // batch 1: user 7 active; timer armed at 00:01 + 10 min = 00:11
      events.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        UserEvent(2, ts("2024-01-01 00:01:00"), 7, "view", 2.0))
      q.processAllAvailable()
      // batches 2-3: only user 8, two hours later — watermark crosses
      // 00:11, so user 7's timer fires and its state is evicted
      events.addData(UserEvent(3, ts("2024-01-01 02:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      events.addData(UserEvent(4, ts("2024-01-01 02:30:00"), 8, "view", 1.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("idle_evict").as[TwsIdle].collect()
      val evicted = rows.filter(r => r.evicted && r.user_id == 7)
      assert(evicted.length === 1, s"expected one eviction record: ${rows.toSeq}")
      assert(evicted.head.n_events === 2)
      assert(!rows.exists(r => r.evicted && r.user_id == 8), "active key evicted")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream LEFT OUTER join holds unmatched rows until the watermark evicts them") {
    import graft.streaming.UserEvent
    val pIn = MemoryStream[UserEvent](spark, 21)
    val cIn = MemoryStream[UserEvent](spark, 22)
    val purchases = pIn.toDS().toDF()
      .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = cIn.toDS().toDF()
      .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts",
      "leftOuter")
    val q = joined.writeStream.format("memory").queryName("soj_outer")
      .outputMode("append").start()
    try {
      def rows = spark.table("soj_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // batch 1: user 7 matches; user 8 has NO click — must NOT emit yet
      // (a future click could still arrive)
      pIn.addData(UserEvent(100, ts("2024-01-01 00:30:00"), 7, "purchase", 1.0),
        UserEvent(101, ts("2024-01-01 00:40:00"), 8, "purchase", 1.0))
      cIn.addData(UserEvent(200, ts("2024-01-01 00:25:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(rows.contains((100L, 200L)), "matched pair must emit immediately")
      assert(!rows.exists(_._1 == 101L), "unmatched row emitted before watermark proof")
      // batches 2-3: both streams move to 03:00 -> global watermark
      // passes 00:40, so user 8's null-padded row must now emit
      pIn.addData(UserEvent(102, ts("2024-01-01 03:00:00"), 9, "purchase", 1.0))
      cIn.addData(UserEvent(201, ts("2024-01-01 03:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      pIn.addData(UserEvent(103, ts("2024-01-01 03:30:00"), 9, "purchase", 1.0))
      cIn.addData(UserEvent(202, ts("2024-01-01 03:30:00"), 9, "click", 1.0))
      q.processAllAvailable()
      assert(rows.contains((101L, -1L)),
        s"watermark passed the unmatched purchase but no null-padded row: $rows")
    } finally q.stop()
  }

  test("transformWithState NATIVE TTL expires idle state between micro-batches (RocksDB)") {
    import graft.streaming.{TwsProfile, UserEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[UserEvent](spark, 11)
      // 5 s processing-time TTL via the state API itself (TTLConfig,
      // not timers): a profile cell untouched for >5 s is expired by
      // the store, so the key's next read starts from empty. NOTE:
      // processing-time mode schedules continuous (empty) micro-
      // batches to advance the TTL clock, so the query never settles
      // for processAllAvailable — the test POLLS the sink for each
      // expected emission instead of awaiting quiescence.
      def rows7 = spark.table("tws_ttl").as[TwsProfile].collect()
        .filter(_.user_id == 7).sortBy(_.max_value).toSeq
      def awaitSink(cond: => Boolean): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond) {
          assert(System.currentTimeMillis() - t0 < 90000,
            s"timed out waiting for stream output: $rows7")
          Thread.sleep(100)
        }
      }
      val q = Streams.userProfileTws(events.toDS(),
          ttl = java.time.Duration.ofSeconds(5))
        .writeStream.format("memory").queryName("tws_ttl")
        .outputMode("update").start()
      try {
        // batch 1: user 7 seeded
        events.addData(UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 2.0))
        awaitSink(rows7.nonEmpty)
        // batch 2 WITHIN the TTL: state must still be live (control —
        // proves the reset below is expiry, not per-batch amnesia)
        events.addData(UserEvent(2, ts("2024-01-01 00:01:00"), 7, "view", 3.0))
        awaitSink(rows7.exists(_.n_events == 2))
        // idle past the TTL, then batch 3: the store must have expired
        // user 7's cell, so the profile restarts at n_events = 1
        Thread.sleep(6500)
        events.addData(UserEvent(3, ts("2024-01-01 00:02:00"), 7, "purchase", 4.0))
        awaitSink(rows7.exists(_.max_value == 4.0))
      } finally q.stop()
      // max_value is monotone across the three batches (2, 3, 4) — a
      // chronological sort key for the update-mode emissions
      val rows = rows7
      assert(rows.map(_.n_events) === Seq(1L, 2L, 1L),
        s"expected live accumulation then TTL reset: $rows")
      assert(rows.last === TwsProfile(7, 1, 4.0, 4.0, "purchase"),
        s"post-TTL profile should restart from empty: ${rows.last}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState state survives a checkpointed query restart") {
    import graft.streaming.{TwsProfile, UserEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ck = Files.createTempDirectory("tws-restart-ck").toString
      val out = Files.createTempDirectory("tws-restart-out").toString
      val events = MemoryStream[UserEvent](spark, 7)
      // foreachBatch parquet sink: the memory sink is not restartable
      // from a checkpoint; foreachBatch is, and is the production sink
      // shape for exactly this lifecycle
      def start() = Streams.userProfileTws(events.toDS())
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[TwsProfile], _: Long) =>
          b.toDF().write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ck)
        .outputMode("update").start()
      // run 1: two events for user 7, then STOP (simulated failure /
      // redeploy — the production lifecycle every streaming job has)
      val q1 = start()
      events.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 2.0),
        UserEvent(2, ts("2024-01-01 00:01:00"), 7, "view", 3.0))
      q1.processAllAvailable()
      q1.stop()
      // run 2: a NEW query from the same checkpoint — committed source
      // offsets resume and the RocksDB state restores, so the next
      // batch folds INTO the recovered profile rather than restarting
      events.addData(UserEvent(3, ts("2024-01-01 00:02:00"), 7, "purchase", 4.0))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out).as[TwsProfile].collect()
        .filter(_.user_id == 7)
      assert(rows.nonEmpty, "restarted query emitted nothing")
      val last = rows.maxBy(_.n_events)
      assert(last === TwsProfile(7, 3, 9.0, 4.0, "purchase"),
        s"state not recovered across restart: $last")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("RocksDB state store completes correctly with state larger than its memory cap") {
    import graft.streaming.{TwsProfile, UserEvent}
    // the disk-spill property the Streams scaladoc claims: bound
    // RocksDB's block-cache+memtable budget to 1 MB, then push ~60k
    // keys of ValueState (several MB) through one TWS op — the store
    // must spill to SST files and the query must still produce the
    // exact per-key profiles
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val nKeys = 60000
      val events = MemoryStream[UserEvent](spark, 6)
      val q = Streams.userProfileTws(events.toDS())
        .writeStream.format("memory").queryName("rocks_spill")
        .outputMode("update").start()
      events.addData((0 until nKeys).map(u =>
        UserEvent(u.toLong, ts("2024-01-01 00:00:00"), u.toLong, "click", u.toDouble)))
      q.processAllAvailable()
      // second batch over the SAME keys: state written by batch 1 must
      // be read back intact from the spilled store
      events.addData((0 until nKeys).map(u =>
        UserEvent((nKeys + u).toLong, ts("2024-01-01 00:01:00"), u.toLong, "view", 1.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("rocks_spill").as[TwsProfile].collect()
      val latest = rows.groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
      assert(latest.size === nKeys)
      // exact fold: batch-1 value + batch-2 value, last_type from batch 2
      assert(latest(1234L) === TwsProfile(1234L, 2, 1235.0, 1234.0, "view"))
      assert(latest(59999L) === TwsProfile(59999L, 2, 60000.0, 59999.0, "view"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a late batch with older timestamps never pulls the eviction timer backward") {
    import graft.streaming.{TwsIdle, UserEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[UserEvent](spark, 5)
      val q = Streams.idleEvictTws(events.toDS(), watermark = "60 minutes",
          ttlMs = 10L * 60 * 1000)
        .writeStream.format("memory").queryName("idle_evict_late")
        .outputMode("append").start()
      // batch 1: user 7 max-seen ts 00:20 → timer must sit at 00:30
      events.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        UserEvent(2, ts("2024-01-01 00:20:00"), 7, "view", 2.0))
      q.processAllAvailable()
      // batch 2: LATE but within-watermark event at 00:05 — re-arming
      // from the batch max alone would regress the timer to 00:15
      events.addData(UserEvent(3, ts("2024-01-01 00:05:00"), 7, "click", 3.0))
      q.processAllAvailable()
      // batch 3: watermark advances to 00:16 — past the REGRESSED
      // instant but before the true horizon 00:30: must NOT evict
      events.addData(UserEvent(4, ts("2024-01-01 01:16:00"), 8, "click", 1.0))
      q.processAllAvailable()
      assert(!spark.table("idle_evict_late").as[TwsIdle].collect()
        .exists(r => r.evicted && r.user_id == 7),
        "timer regressed: key evicted before max-seen + ttl")
      // batch 4: watermark crosses 00:30 — now the eviction fires, and
      // the summary counts the late event too
      events.addData(UserEvent(5, ts("2024-01-01 01:31:00"), 8, "view", 1.0))
      q.processAllAvailable()
      q.stop()
      val evicted = spark.table("idle_evict_late").as[TwsIdle].collect()
        .filter(r => r.evicted && r.user_id == 7)
      assert(evicted.length === 1, s"expected one eviction record, got ${evicted.toSeq}")
      assert(evicted.head.n_events === 3)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("flatMapGroupsWithState emits one alert per threshold crossing, none otherwise") {
    import graft.streaming.{UserEvent, ValueAlert}
    val events = MemoryStream[UserEvent](spark, 4)
    val q = graft.streaming.Streams.valueAlerts(events.toDS(), step = 100.0)
      .writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    // batch 1: cum 60 → 120 (crosses 100 at event 2)
    events.addData(
      UserEvent(1, ts("2024-01-01 00:00:00"), 9, "click", 60.0),
      UserEvent(2, ts("2024-01-01 00:01:00"), 9, "click", 60.0))
    q.processAllAvailable()
    // batch 2: cum 120 → 330 (crosses 200 AND 300 at event 3 — two alerts)
    events.addData(UserEvent(3, ts("2024-01-01 00:02:00"), 9, "buy", 210.0))
    q.processAllAvailable()
    q.stop()
    val alerts = spark.table("alerts").as[ValueAlert].collect().sortBy(_.threshold_multiple)
    assert(alerts.toSeq === Seq(
      ValueAlert(9, 1, 2), ValueAlert(9, 2, 3), ValueAlert(9, 3, 3)))
  }

  test("event-time timeout evicts idle per-user state (bounded state)") {
    import graft.streaming.{UserEvent, UserProfile}
    val events = MemoryStream[UserEvent](spark, 5)
    val q = graft.streaming.Streams
      .userRunningProfile(events.toDS(), watermark = "1 minute", stateTtl = "5 minutes")
      .writeStream.format("memory").queryName("expiry")
      .outputMode("update").start()
    // b1: user 7 → state {n=1, sum=5}, timeout armed for 00:05
    events.addData(UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 5.0))
    q.processAllAvailable()
    // b2: user 8 far in the future → watermark advances past 00:05
    events.addData(UserEvent(2, ts("2024-01-01 00:30:00"), 8, "view", 1.0))
    q.processAllAvailable()
    // b3: next batch fires user 7's timeout → final profile emitted, state removed
    events.addData(UserEvent(3, ts("2024-01-01 00:31:00"), 8, "view", 1.0))
    q.processAllAvailable()
    // b4: user 7 returns → profile restarts from zero (state was evicted)
    events.addData(UserEvent(4, ts("2024-01-01 00:32:00"), 7, "view", 7.0))
    q.processAllAvailable()
    q.stop()
    val u7 = spark.table("expiry").as[UserProfile].collect().filter(_.user_id == 7)
    assert(u7.contains(UserProfile(7, 1, 7.0, "view"))) // fresh state after eviction
    assert(!u7.exists(_.n_events == 2)) // never accumulated across the eviction
  }

  test("stream-stream join matches only clicks inside the event-time range") {
    val purchases = MemoryStream[Ev](spark, 10)
    val clicks = MemoryStream[Ev](spark, 11)
    purchases.addData(Ev(100, ts("2024-01-01 01:00:00"), 1, "purchase", 9.0))
    clicks.addData(
      Ev(1, ts("2024-01-01 00:55:00"), 1, "click", 1.0), // in range (5 min before)
      Ev(2, ts("2024-01-01 00:45:00"), 1, "click", 1.0), // out: 15 min before
      Ev(3, ts("2024-01-01 01:01:00"), 1, "click", 1.0), // out: after the purchase
      Ev(4, ts("2024-01-01 00:58:00"), 2, "click", 1.0)) // out: other user
    val p = purchases.toDF()
      .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
      .withWatermark("p_ts", "10 minutes")
    val c = clicks.toDF()
      .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
      .withWatermark("c_ts", "1 hour")
    val joined = p.join(c,
      $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj").select($"purchase_id", $"click_id").collect()
    assert(rows.toSeq.map(r => (r.getLong(0), r.getLong(1))) === Seq((100L, 1L)))
  }

  test("streaming dedup with watermark removes duplicate event_ids") {
    val events = MemoryStream[Ev](spark, 3)
    events.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 00:00:30"), 1, "click", 1.0), // dup id within watermark
      Ev(2, ts("2024-01-01 00:01:00"), 1, "view", 2.0))
    val q = Streams.dedupedEvents(events.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").select($"event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("transformWithState top-k leaderboard is invariant under micro-batch splits") {
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val rows = (1 to 12).map { i =>
      UserEvent(i.toLong, ts(f"2024-01-01 00:${i}%02d:00"), 1L, "click",
        // two VALUE TIES (9.0) so the event_id tiebreak is exercised
        if (i == 3 || i == 7) 9.0 else i.toDouble)
    }
    def finalTop(batches: Seq[Seq[UserEvent]], id: Int): Seq[(Int, Long, Double)] = {
      val in = MemoryStream[UserEvent](spark, id)
      val q = Streams.topKTws(in.toDS()).writeStream.format("memory")
        .queryName(s"topk_$id").outputMode("update").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // update mode appends every generation (earlier generations can
      // be SHORTER than k while the leaderboard fills); the final
      // leaderboard is the last k appended rows, ordered by rank
      spark.table(s"topk_$id").collect()
        .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
        .takeRight(5).sortBy(_._1).toSeq
    }
    val oneBatch = finalTop(Seq(rows), 31)
    val threeBatches = finalTop(Seq(rows.take(4), rows.slice(4, 8), rows.drop(8)), 32)
    // batch top-5 by (value desc, event_id): 12.0, 11.0, 10.0, 9.0(id 3), 9.0(id 7)
    assert(oneBatch === Seq((1, 12L, 12.0), (2, 11L, 11.0), (3, 10L, 10.0),
      (4, 3L, 9.0), (5, 7L, 9.0)))
    assert(threeBatches === oneBatch, "split emission diverged from single-batch")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState funnel converts across a micro-batch boundary and under splits") {
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    // user 1: view → (batch boundary) → purchase 30 min later = converts;
    // user 2: purchase 2 h after the view = outside the window, no row;
    // user 3: purchase with no prior view = no row
    val rows = Seq(
      UserEvent(1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      UserEvent(2L, ts("2024-01-01 00:05:00"), 2L, "view", 1.0),
      UserEvent(3L, ts("2024-01-01 00:10:00"), 3L, "purchase", 1.0),
      UserEvent(4L, ts("2024-01-01 00:30:00"), 1L, "purchase", 1.0),
      UserEvent(5L, ts("2024-01-01 02:10:00"), 2L, "purchase", 1.0))
    def lastRows(batches: Seq[Seq[UserEvent]], id: Int): Map[Long, (Long, Long, Long, Long)] = {
      val in = MemoryStream[UserEvent](spark, id)
      val q = Streams.funnelTws(in.toDS()).writeStream.format("memory")
        .queryName(s"funnel_$id").outputMode("update").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(s"funnel_$id").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap // update mode: later generations overwrite in the map
    }
    val one = lastRows(Seq(rows), 41)
    val split = lastRows(Seq(rows.take(3), rows.drop(3)), 42)
    assert(one.keySet === Set(1L), "only user 1 converts")
    assert(one(1L) === ((1L, 1L, 1L, 1800L * 1000000L)),
      s"conversion lag must be the exact 30-min gap: ${one(1L)}")
    assert(split === one, "cross-batch state carry diverged from single-batch")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState quantile sketch is invariant under micro-batch splits") {
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // values spread over buckets 0, 1, 2, 4 and one capped at 15
      val vals = Seq(3.0, 24.9, 25.0, 49.9, 50.0, 70.0, 100.0, 110.0, 999.0)
      val rows = vals.zipWithIndex.map { case (v, i) =>
        UserEvent(i.toLong + 1, ts(f"2024-01-01 00:${i + 1}%02d:00"), 1L, "click", v)
      }
      def finalQ(batches: Seq[Seq[UserEvent]], id: Int): Seq[(String, Long, Long, Long)] = {
        val in = MemoryStream[UserEvent](spark, id)
        val q = Streams.quantileTws(in.toDS()).writeStream.format("memory")
          .queryName(s"twsq_$id").outputMode("update").start()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        q.stop()
        // update mode re-emits each generation; the LAST row per key is
        // the final sketch state
        spark.table(s"twsq_$id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .takeRight(1).toSeq
      }
      val one = finalQ(Seq(rows), 41)
      val three = finalQ(Seq(rows.take(3), rows.slice(3, 6), rows.drop(6)), 42)
      // histogram: b0=2 (3.0, 24.9), b1=2 (25.0, 49.9), b2=2 (50.0, 70.0),
      // b4=2 (100.0, 110.0), b15=1 (999.0); n=9 → p50: cum·100≥450 at b1
      // (cum 4 → 400 < 450; b2 cum 6 → 600 ≥ 450) ⇒ bucket 2;
      // p95: cum·100 ≥ 855 first at b15 (cum 8 → 800 < 855) ⇒ 15
      assert(one === Seq(("click", 9L, 2L, 15L)))
      assert(three === one, "split emission diverged from single-batch")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("O(1)-state TWS processors: state saturates at distinct-key count under corpus replay") {
    // the StreamBench soak in miniature: feed the same events twice
    // (pass 2 time-shifted forward so event time keeps advancing) and
    // assert the state store's row count does NOT grow after pass 1 —
    // the fixed-size-ValueState-per-key contract that keeps a
    // long-running job's state bounded by active keys, not by rows.
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    // emaTws keys its ValueState by event_type → 4 distinct keys here
    val rows = (1L to 12L).map { i =>
      UserEvent(i, ts(f"2024-01-01 00:${i % 30}%02d:00"), i % 4 + 1,
        s"type${i % 4}", i.toDouble)
    }
    val in = MemoryStream[UserEvent](spark, 77)
    val q = Streams.emaTws(in.toDS()).toDF().writeStream.format("memory")
      .queryName("soak_mini").outputMode("update").start()
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    in.addData(rows: _*); q.processAllAvailable()
    val afterPass1 = stateRows
    val shifted = rows.map(e =>
      e.copy(event_id = e.event_id + 100, ts = new Timestamp(e.ts.getTime + 86400000L)))
    in.addData(shifted: _*); q.processAllAvailable()
    val afterPass2 = stateRows
    q.stop()
    // 2 state rows per key: the (n, ema) ValueState + the ReplayGuard
    // high-water mark (numRowsTotal counts every column family)
    assert(afterPass1 === 8L, s"two state rows per distinct key: $afterPass1")
    assert(afterPass2 === afterPass1,
      s"state grew on replay ($afterPass1 -> $afterPass2): per-key state is not O(1)")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("streaming LSH-dedup: in-order splits agree with one batch; replay is idempotent") {
    import graft.streaming.DocText
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val docs = Seq(
      DocText(1L, "alpha beta gamma delta epsilon"),
      DocText(2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      DocText(3L, "zeta eta theta iota kappa"))
    def verdicts(batches: Seq[Seq[DocText]], id: Int): Map[Long, (Long, Boolean)] = {
      val in = MemoryStream[DocText](spark, id)
      val q = Streams.lshDedupTws(Streams.lshBandRows(in.toDS()))
        .writeStream.format("memory").queryName(s"lshd_$id")
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val state = q.lastProgress.stateOperators.head.numRowsTotal
      q.stop()
      val byDoc = spark.table(s"lshd_$id").collect()
        .groupBy(_.getAs[Long]("doc_id"))
        .map { case (d, rs) =>
          d -> (rs.count(_.getAs[Boolean]("hit")).toLong,
            rs.exists(_.getAs[Boolean]("hit")))
        }
      assert(state === 32L, // two unique docs × 16 bands claimed
        s"index must hold exactly the unique docs' buckets, saw $state")
      byDoc
    }
    val one = verdicts(Seq(docs), 41)
    assert(one(1L) === ((0L, false)), "first copy admits")
    assert(one(2L) === ((16L, true)), "exact dup collides on all 16 bands")
    assert(one(3L) === ((0L, false)), "distinct doc admits")
    // doc_id-ordered micro-batch split sees the same verdicts
    val split = verdicts(Seq(docs.take(1), docs.drop(1)), 42)
    assert(split === one, "in-order split diverged from single batch")
    // replaying the corpus is idempotent: state stays flat and the
    // re-seen reps are NOT flagged as duplicates of themselves
    val in = MemoryStream[DocText](spark, 43)
    val q = Streams.lshDedupTws(Streams.lshBandRows(in.toDS()))
      .writeStream.format("memory").queryName("lshd_43")
      .outputMode("append").start()
    in.addData(docs: _*); q.processAllAvailable()
    val s1 = q.lastProgress.stateOperators.head.numRowsTotal
    in.addData(docs: _*); q.processAllAvailable()
    val s2 = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(s1 === 32L && s2 === 32L, "replay must not grow the index")
    val replayRows = spark.table("lshd_43").collect()
    val doc1Rows = replayRows.filter(_.getAs[Long]("doc_id") == 1L)
    assert(doc1Rows.length === 32 && !doc1Rows.take(16).exists(_.getAs[Boolean]("hit"))
      && !doc1Rows.drop(16).exists(_.getAs[Boolean]("hit")),
      "a replayed representative is not a duplicate of itself")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("bounded-input contract: an oversized single-key batch folds in O(cap) chunks") {
    // the shared orderedBounded helper caps the per-(key, batch) sort
    // buffer; here ONE batch carries 1000 rows of a single key through
    // a cap of 8 — 125 chunks — and the fold must equal the unbounded
    // full-sort fold exactly when arrival order is event-time order
    // (the documented contract: ≤cap batches sort fully; beyond cap,
    // in-order arrival per key gives identical results).
    import graft.streaming.{UserEvent, TwsProfile}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val n = 1000
    val rows = (1 to n).map { i =>
      UserEvent(i.toLong, new Timestamp(ts("2024-01-01 00:00:00").getTime + i * 1000L),
        7L, if (i == n) "purchase" else "view", i.toDouble)
    }
    def finalProfile(cap: Int, id: Int): TwsProfile = {
      // ONE source partition: the MemoryStream int is numPartitions,
      // and the in-order-arrival premise of this test needs the key's
      // iterator to be fed in arrival order (a multi-partition source
      // interleaves)
      val in = MemoryStream[UserEvent](spark, 1)
      val q = Streams.userProfileTws(in.toDS(), cap = cap)
        .toDF().writeStream.format("memory")
        .queryName(s"cap_$id").outputMode("update").start()
      in.addData(rows: _*) // ONE oversized batch, one hot key
      q.processAllAvailable()
      q.stop()
      import spark.implicits._
      spark.table(s"cap_$id").as[TwsProfile].collect().last
    }
    val capped = finalProfile(cap = 8, id = 81)
    val unbounded = finalProfile(cap = Streams.OrderedChunkCap, id = 82)
    // identical ordered float fold: 125 sorted chunks of an in-order
    // feed concatenate to the exact full-sort order
    assert(capped === unbounded,
      s"chunked fold diverged from full-sort fold: $capped vs $unbounded")
    val expectSum = (1 to n).foldLeft(0.0)((a, i) => a + i.toDouble)
    assert(capped === TwsProfile(7L, n.toLong, expectSum, n.toDouble, "purchase"))

    // degraded-order path: a fully REVERSED oversized batch still
    // completes with bounded heap and exact order-insensitive fields
    // (count/max); order-sensitive fields follow the documented
    // within-chunk contract, not asserted here
    val inRev = MemoryStream[UserEvent](spark, 1)
    val qRev = Streams.userProfileTws(inRev.toDS(), cap = 8)
      .toDF().writeStream.format("memory")
      .queryName("cap_rev").outputMode("update").start()
    inRev.addData(rows.reverse: _*)
    qRev.processAllAvailable()
    qRev.stop()
    import spark.implicits._
    val rev = spark.table("cap_rev").as[TwsProfile].collect().last
    assert(rev.n_events === n.toLong && rev.max_value === n.toDouble,
      s"order-insensitive fields wrong under reversed oversized batch: $rev")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState Page-Hinkley accumulates across batches and alarms exactly once") {
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    // batch 1: flat series (no drift) — PH stays at 0 because every
    // deviation is negative and u tracks its own running minimum
    val flat = (1L to 8L).map { i =>
      UserEvent(i, ts(f"2024-01-01 00:${i}%02d:00"), 1L, "click", 10.0)
    }
    val in = MemoryStream[UserEvent](spark, 913)
    val q = Streams.driftTws(in.toDS()).toDF().writeStream.format("memory")
      .queryName("drift_sink").outputMode("update").start()
    in.addData(flat: _*); q.processAllAvailable()
    val r1 = spark.table("drift_sink").collect().last
    assert(r1.getAs[Long]("n_events") === 8L)
    assert(r1.getAs[Long]("max_ph") === 0L,
      "a flat series has zero Page-Hinkley drift")
    assert(r1.getAs[Long]("n_alarms") === 0L && r1.getAs[Long]("first_alarm_us") === -1L)
    // batch 2: a level shift to 5000.00 — u climbs past lambda within
    // a few events, the first alarm timestamp pins and never moves
    val shifted = (9L to 16L).map { i =>
      UserEvent(i, ts(f"2024-01-01 00:${i}%02d:00"), 1L, "click", 5000.0)
    }
    in.addData(shifted: _*); q.processAllAvailable()
    val r2 = spark.table("drift_sink").collect()
      .filter(_.getAs[String]("event_type") == "click").last
    assert(r2.getAs[Long]("n_events") === 16L, "state must accumulate across batches")
    assert(r2.getAs[Long]("max_ph") > 100000L, "the level shift must trip the detector")
    assert(r2.getAs[Long]("n_alarms") >= 1L)
    val first = r2.getAs[Long]("first_alarm_us")
    assert(first >= ts("2024-01-01 00:09:00").getTime * 1000L,
      "the alarm can only fire after the shift")
    // batch 3: more flat data — first_alarm_us is sticky
    val more = (17L to 20L).map { i =>
      UserEvent(i, ts(f"2024-01-01 00:${i}%02d:00"), 1L, "click", 5000.0)
    }
    in.addData(more: _*); q.processAllAvailable()
    val r3 = spark.table("drift_sink").collect()
      .filter(_.getAs[String]("event_type") == "click").last
    q.stop()
    assert(r3.getAs[Long]("first_alarm_us") === first, "first alarm must be sticky")
    assert(r3.getAs[Long]("max_ph") >= r2.getAs[Long]("max_ph"))
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }

  test("bottom-k sample is batch-split invariant and idempotent under replay") {
    import graft.streaming.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mk = (i: Long) => UserEvent(i, ts("2024-01-01 00:00:00"), 1, "click", 1.0)
      val all = (1L to 40L).map(mk)
      def run(name: String)(feed: (MemoryStream[UserEvent],
          org.apache.spark.sql.streaming.StreamingQuery) => Unit) = {
        val in = MemoryStream[UserEvent](spark, name.hashCode.abs % 1000 + 100)
        val q = Streams.bottomKTws(in.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        feed(in, q); q.stop()
        spark.table(name).collect()
          .filter(_.getAs[String]("event_type") == "click")
          .maxBy(_.getAs[Long]("n_seen"))
      }
      // one batch vs four batches: the final sample must be identical
      val one = run("bk_one") { (in, q) =>
        in.addData(all); q.processAllAvailable() }
      val four = run("bk_four") { (in, q) =>
        all.grouped(10).foreach { b => in.addData(b); q.processAllAvailable() } }
      assert(one.getAs[String]("sample_ids") === four.getAs[String]("sample_ids"))
      assert(one.getAs[Long]("threshold_hash") === four.getAs[Long]("threshold_hash"))
      assert(one.getAs[Long]("n_seen") === 40L)
      assert(one.getAs[Int]("k_held") === 16)
      // replaying the same ids is a FULL no-op: the ReplayGuard drops
      // re-delivered ids before the fold, so the sample AND the count
      // witness are unchanged (r17 strengthening of the r16 fix,
      // which kept the sample idempotent but let n_seen count
      // deliveries)
      val replay = run("bk_replay") { (in, q) =>
        in.addData(all); q.processAllAvailable()
        in.addData(all); q.processAllAvailable() }
      assert(replay.getAs[String]("sample_ids") === one.getAs[String]("sample_ids"))
      assert(replay.getAs[Long]("n_seen") === 40L)
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None => spark.conf.unset(key) }
    }
  }
}
