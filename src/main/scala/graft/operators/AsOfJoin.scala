package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.OracleParity._

/** Temporal joins beyond equi: the true two-table as-of join (the
  * trades⋈quotes shape — here: enrich each event reading with the
  * user's most recent prior "calibration" record, the lookup the
  * reference's README hints at for sensor enrichment) and the interval
  * overlap join (sessions × incident windows).
  *
  * Implementation is the UNION-MERGE form, not a range-condition join:
  * tag both tables, union them, and LOCF the right-side payload over a
  * (key, time) window. That costs exactly ONE shuffle keyed by the join
  * key and one sort per partition — while an inequality join
  * (`l.ts >= r.ts` + per-row max) either plans as a broadcast nested
  * loop or explodes to |L|×|R| rows per key before the argmax. At
  * 100 TB the union-merge is the only shape that survives: state per
  * task is a single LOCF register per payload column, and skewed keys
  * split fine under AQE because the window is per-key independent.
  */
object AsOfJoin extends graft.QueryModule {
  /** Backward as-of join: for each `left` row, attach the most recent
    * `right` row with `rightTime` <= `leftTime` on the same `keys`
    * (left rows with no prior right row get nulls — ASOF LEFT JOIN
    * semantics). Ties at the same instant match the right row (>=).
    *
    * `right`'s non-key columns must not collide with `left`'s — rename
    * before calling (q64 renames ts→calib_ts, value→calib_value).
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String): DataFrame = {
    val payload = right.columns.toSeq.filterNot(c => keys.contains(c) || c == rightTime)
    val collisions = (payload :+ rightTime).intersect(left.columns.toSeq)
    require(collisions.isEmpty,
      s"asofBackward: right-side columns collide with left: ${collisions.mkString(",")}")
    // _side orders the right row BEFORE a left row at the same instant,
    // so equal-timestamp calibrations are visible to the reading (>=).
    val l = left.withColumn("_t", col(leftTime)).withColumn("_side", lit(1))
    val r = right.withColumn("_t", col(rightTime)).withColumn("_side", lit(0))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all LOCF columns share one WindowSpec → a single Window operator,
    // one sort, no extra exchanges
    val filled = (payload :+ rightTime).foldLeft(u) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_t", "_side")
  }

  val queries: Map[String, Q] = Map(
    // q64: events (clicks/views/errors/signups) as-of joined with the
    // user's purchase stream — each reading carries the latest prior
    // purchase's timestamp and value. Oracle: DuckDB's native ASOF
    // LEFT JOIN, so the semantics (>=, null when no prior row) are
    // pinned by an independent engine.
    "q64_asof_join2" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val readings = ev.filter($"event_type" =!= "purchase")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      val calib = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("calib_ts"), $"value".as("calib_value"))
      asofBackward(readings, calib, Seq("user_id"), "ts", "calib_ts")
        .select($"event_id", $"user_id", $"event_type",
          micros($"ts").as("ts_us"),
          micros($"calib_ts").as("calib_ts_us"),
          $"calib_value")
        .orderBy($"event_id")
    }),

    // q109: NEAREST as-of join (pandas merge_asof direction='nearest'):
    // each reading attaches the purchase closest in time, before OR
    // after, ties to the earlier one. Same union-merge shape as the
    // backward join — ONE data shuffle keyed by user carries the tie
    // collapse, the backward LOCF, and the reversed-scan forward
    // lookup (two sorts, zero extra exchanges), so the bidirectional
    // lookup costs no more shuffles than the one-directional and every
    // frame streams in O(rows) even on a hot key. The tie/choice
    // arithmetic runs in exact micros.
    // Oracle: two native DuckDB ASOF joins (>= and <=) + the same
    // choice CASE — the equal-instant case lands on 'prior' in both
    // engines (distance 0 wins the <= tie). Two purchases at the SAME
    // (user_id, ts) would otherwise be an undefined pick in both
    // engines (Spark's LOCF sort tie, DuckDB's ASOF): the Spark side
    // collapses the tie group to its max value with a window that
    // rides the SAME user_id exchange (HashPartitioning(user_id)
    // satisfies the finer (user,instant,side) clustering — subset
    // rule — so no second shuffle), and the oracle pre-reduces its
    // calib CTE to max(value) per (user_id, ts).
    "q109_asof_nearest" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val readings = ev.filter($"event_type" =!= "purchase")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      val calib = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("c_ts"), $"value".as("c_value"))
      val l = readings.withColumn("_t", $"ts").withColumn("_side", lit(1))
      val r = calib.withColumn("_t", $"c_ts").withColumn("_side", lit(0))
      val u = l.unionByName(r, allowMissingColumns = true)
        .repartition($"user_id")
      // deterministic tie collapse: every same-instant purchase row now
      // carries the group max, so whichever physical row LOCF lands on,
      // the answer is the same
      val wTie = Window.partitionBy($"user_id", $"_t", $"_side")
      val wB = Window.partitionBy($"user_id").orderBy($"_t".asc, $"_side".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // forward lookup = running last() over the REVERSED sort, not a
      // currentRow..unboundedFollowing frame: Spark rescans the
      // partition tail per row for unbounded-FOLLOWING frames —
      // O(rows²) on a hot key — while this streams in O(rows). The
      // _side desc tiebreak keeps a same-instant purchase out of a
      // reading's forward frame, exactly as the asc formulation did
      // (the equal-instant case is the backward pass's to win).
      val wF = Window.partitionBy($"user_id").orderBy($"_t".desc, $"_side".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = u
        .withColumn("c_value", max($"c_value").over(wTie))
        .withColumn("p_ts", last($"c_ts", ignoreNulls = true).over(wB))
        .withColumn("p_value", last($"c_value", ignoreNulls = true).over(wB))
        .withColumn("n_ts", last($"c_ts", ignoreNulls = true).over(wF))
        .withColumn("n_value", last($"c_value", ignoreNulls = true).over(wF))
        .filter($"_side" === 1)
      val dP = micros($"ts") - micros($"p_ts")
      val dN = micros($"n_ts") - micros($"ts")
      val usePrior = $"p_ts".isNotNull && ($"n_ts".isNull || dP <= dN)
      filled.select($"event_id", $"user_id", $"event_type", micros($"ts").as("ts_us"),
        when(usePrior, micros($"p_ts")).otherwise(micros($"n_ts")).as("near_ts_us"),
        when(usePrior, $"p_value").otherwise($"n_value").as("near_value"),
        when($"p_ts".isNull && $"n_ts".isNull, "none")
          .when(usePrior, "prior").otherwise("next").as("direction"))
        .orderBy($"event_id")
    }),

    // q65: INTERVAL OVERLAP join — user sessions (30-min gap, gap-
    // extended end, same windows as q48/stream_session_agg) joined to
    // "incident hours" (hours whose error count exceeds 1.2× the mean
    // hourly error count — a scale-free threshold). A raw theta join
    // `s.start <= h+1h AND h <= s.end` plans as a nested loop at any
    // scale; instead each session EXPLODES to the hour grid it covers
    // (bounded: sessions are gap-bounded) and the overlap becomes an
    // equi-join on the hour — broadcastable, since incidents are an
    // aggregate-sized table at any corpus size. The DuckDB oracle uses
    // the raw overlap predicate, pinning that the bucketed rewrite is
    // exactly the naive semantics.
    "q65_interval_join" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val sessions = ev
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"session_window.start".as("s_start"),
          $"session_window.end".as("s_end"), $"n_events")
      val hourly = ev.filter($"event_type" === "error")
        .groupBy(date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("n_errors"))
      // global mean over the ~hours-sized aggregate (window over the
      // 720-row frame, not the raw events)
      val incidents = hourly
        .withColumn("mean_n", avg($"n_errors").over(Window.partitionBy()))
        .filter($"n_errors" > lit(1.2) * $"mean_n")
        .select($"h", $"n_errors")
      sessions
        .withColumn("h",
          explode(sequence(date_trunc("hour", $"s_start"), date_trunc("hour", $"s_end"),
            expr("INTERVAL 1 HOUR"))))
        .join(broadcast(incidents), Seq("h"))
        .select($"user_id", micros($"s_start").as("start_us"), micros($"s_end").as("end_us"),
          micros($"h").as("hour_us"), $"n_events", $"n_errors")
        .orderBy($"user_id", $"start_us", $"hour_us")
    })
  )

  val oracles: Map[String, String] = Map(
    "q64_asof_join2" ->
      """SELECT r.event_id, r.user_id, r.event_type,
        | epoch_us(r.ts) AS ts_us,
        | epoch_us(c.ts) AS calib_ts_us,
        | c.value AS calib_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') r
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') c
        | ON r.user_id = c.user_id AND r.ts >= c.ts
        |ORDER BY r.event_id""".stripMargin,

    "q109_asof_nearest" ->
      """WITH r AS (SELECT * FROM events WHERE event_type <> 'purchase'),
        |c AS (SELECT user_id, ts, max(value) AS value
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (
        |  SELECT r.event_id, c.ts AS p_ts, c.value AS p_value
        |  FROM r ASOF LEFT JOIN c ON r.user_id = c.user_id AND r.ts >= c.ts),
        |f AS (
        |  SELECT r.event_id, c.ts AS n_ts, c.value AS n_value
        |  FROM r ASOF LEFT JOIN c ON r.user_id = c.user_id AND r.ts <= c.ts)
        |SELECT r.event_id, r.user_id, r.event_type, epoch_us(r.ts) AS ts_us,
        |  CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL
        |         OR epoch_us(r.ts) - epoch_us(p_ts) <= epoch_us(n_ts) - epoch_us(r.ts))
        |       THEN epoch_us(p_ts) ELSE epoch_us(n_ts) END AS near_ts_us,
        |  CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL
        |         OR epoch_us(r.ts) - epoch_us(p_ts) <= epoch_us(n_ts) - epoch_us(r.ts))
        |       THEN p_value ELSE n_value END AS near_value,
        |  CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN 'none'
        |       WHEN p_ts IS NOT NULL AND (n_ts IS NULL
        |         OR epoch_us(r.ts) - epoch_us(p_ts) <= epoch_us(n_ts) - epoch_us(r.ts))
        |       THEN 'prior' ELSE 'next' END AS direction
        |FROM r JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY r.event_id""".stripMargin,

    // naive overlap predicate — pins that the Spark side's bucketed
    // equi-join rewrite has exactly these semantics
    "q65_interval_join" ->
      """WITH flagged AS (
        | SELECT user_id, ts,
        |  CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS boundary
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess0 AS (
        | SELECT user_id, ts,
        |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM flagged),
        |sess AS (
        | SELECT user_id, MIN(epoch_us(ts)) AS start_us,
        |  MAX(epoch_us(ts)) + 30*60*1000000 AS end_us,
        |  COUNT(*) AS n_events
        | FROM sess0 GROUP BY user_id, sid),
        |hourly AS (
        | SELECT time_bucket(INTERVAL '1 hour', ts) AS h, COUNT(*) AS n_errors
        | FROM events WHERE event_type = 'error' GROUP BY 1),
        |inc AS (
        | SELECT h, n_errors FROM hourly
        | WHERE n_errors > 1.2 * (SELECT AVG(n_errors) FROM hourly))
        |SELECT s.user_id, s.start_us, s.end_us, epoch_us(i.h) AS hour_us,
        | s.n_events, i.n_errors
        |FROM sess s JOIN inc i
        | ON epoch_us(i.h) <= s.end_us AND epoch_us(i.h) + 3600000000 > s.start_us
        |ORDER BY s.user_id, s.start_us, hour_us""".stripMargin
  )
}
