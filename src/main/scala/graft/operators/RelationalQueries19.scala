package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-15 batch 2 — sequence/path analytics and four statistics the
  * battery still lacked:
  *
  *  - `q264_seq_contain`      — sequential-pattern SUPPORT census: for
  *    every ordered event-type pair (a → b), how many users ever did a
  *    strictly before b. The prefix-mining primitive (PrefixSpan's
  *    length-2 stage) behind "do users view before they buy?".
  *  - `q265_session_trigrams` — top consecutive event-type TRIGRAMS
  *    within 30-minute sessions — the path/Sankey census over the
  *    sessionized clickstream (q22's sessions, one more window).
  *  - `q266_elo_daily`        — Elo ratings of event types from daily
  *    head-to-head revenue "matches" (top-2 types per day play; winner
  *    = higher revenue). The online paired-comparison rating every
  *    ranking-eval stack keeps next to win-rates; expectation comes
  *    from a 33-entry integer lookup table (bucketed by 25 rating
  *    points), so the whole fold is integer and replayable.
  *  - `q267_lorenz_deciles`   — the Lorenz CURVE as a decile table
  *    (q99 ships only the scalar Gini): cumulative revenue share of
  *    customer deciles, ranked by the exact distributed GlobalRank.
  *  - `q268_ansari_bradley`   — Ansari–Bradley rank test for SCALE:
  *    do 'A' vs 'R' returnflag quantities differ in DISPERSION?
  *    Completes the Levene/Bartlett variance-test trio with the
  *    rank-based (distribution-free) member. Scores are assigned on
  *    the ≤50-row distinct-value table with exact tie handling: a
  *    tied block's integer score SUM has a closed triangular form,
  *    and both groups weight the per-value MILLI-floored average score
  *    BEFORE the cross-value sum (the quantize-before-Σ idiom).
  *  - `q269_dagostino_k2`     — D'Agostino–Pearson K² omnibus
  *    normality test (the z-transformed upgrade of q168's raw
  *    Jarque–Bera): skewness z (D'Agostino 1970), kurtosis z
  *    (Anscombe–Glynn 1983), K² = Z₁² + Z₂². Moments come from the
  *    same exact DECIMAL(38) power sums as q168; the transforms are
  *    one-shot scalar op trees (sqrt/ln/cbrt — correctly-rounded
  *    libm calls, identical both engines).
  *  - `q270_page_hinkley`     — Page–Hinkley drift detector over each
  *    event type's daily revenue series: u_t = Σ(x_i − mean_i − δ),
  *    PH_t = u_t − min u. The sequential changepoint monitor next to
  *    CUSUM (q127) and binseg (q247) — pure cumulative windows, no
  *    recursion, all integer cents.
  *
  * Scale: q264 self-joins the per-(user, type) extrema frame on user
  * (≤ |types|² rows per user); q265/q270 are keyed windows (user /
  * event_type partitions); q266's fold runs over a calendar-sized
  * match array after one keyed daily aggregate; q267 ranks via the
  * two-pass GlobalRank (no global window); q268/q269 aggregate to
  * value-table / moment scalars in one pass.
  */
object RelationalQueries19 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)

  /** Elo expectation E_milli(d) for rating gap d = r_self − r_opp,
    * clamped to ±400 and bucketed by 25 points: bucket b covers
    * d = −400 + 25b, value = round(1000 / (1 + 10^(−d/400))).
    * A LITERAL table (not a libm call per step) keeps the sequential
    * fold pure-integer on both engines. */
  private val EloTable = Seq(91, 104, 118, 133, 151, 170, 192, 215, 240,
    267, 297, 327, 360, 394, 429, 464, 500, 536, 571, 606, 640, 673,
    703, 733, 760, 785, 808, 830, 849, 867, 882, 896, 909)

  /** Elo state-update lambda body over state `st` (1-based BIGINT
    * array) and match struct `m` (iw, il 1-based int indexes), shared
    * text modulo engine-specific array indexing.
    * `at(arr, i)` must splice the engine's 1-based element access. */
  private def eloStepSql(at: (String, String) => String, tableLit: String,
      div: String): String = {
    val ra = at("st", "m.iw")
    val rb = at("st", "m.il")
    val eW = at(tableLit, s"CAST((GREATEST(-400, LEAST(400, $ra - $rb)) + 400) $div 25 AS INT) + 1")
    val eL = at(tableLit, s"CAST((GREATEST(-400, LEAST(400, $rb - $ra)) + 400) $div 25 AS INT) + 1")
    s"""CASE
       | WHEN j = m.iw THEN $ra + (32 * (1000 - $eW)) $div 1000
       | WHEN j = m.il THEN $rb - (32 * $eL) $div 1000
       | ELSE ${at("st", "j")} END""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q264_seq_contain" -> ((s, d) => {
      import s.implicits._
      // per-(user, type) time extrema — the ONLY corpus-sized pass;
      // the pattern join below touches ≤ |types|² rows per user
      val ut = events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(min(micros($"ts")).as("tmin"), max(micros($"ts")).as("tmax"))
        .localCheckpoint() // feeds both sides of the pattern join
      val ab = ut.as("a").join(ut.as("b"),
          $"a.user_id" === $"b.user_id" &&
            $"a.event_type" =!= $"b.event_type" &&
            $"a.tmin" < $"b.tmax") // some a strictly before some b
        .groupBy($"a.event_type".as("ante"), $"b.event_type".as("cons"))
        .agg(count(lit(1)).as("n_users_ab"))
      val na = ut.groupBy($"event_type".as("ante"))
        .agg(count(lit(1)).as("n_users_a"))
      ab.join(broadcast(na), Seq("ante")) // type-count-sized side
        .selectExpr("ante", "cons", "n_users_ab", "n_users_a",
          "(10000 * n_users_ab) DIV n_users_a AS support_bp")
        .orderBy($"ante", $"cons")
    }),

    "q265_session_trigrams" -> ((s, d) => {
      import s.implicits._
      val byTs = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sessioned = events(s, d)
        .withColumn("prev_us", lag(micros($"ts"), 1).over(byTs))
        .withColumn("boundary",
          when($"prev_us".isNull ||
            micros($"ts") - $"prev_us" > 30L * 60 * 1000000, 1L).otherwise(0L))
        .withColumn("session_id", sum($"boundary").over(
          byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy($"user_id", $"session_id")
        .orderBy($"ts", $"event_id")
      sessioned
        .withColumn("t2", lead($"event_type", 1).over(bySess))
        .withColumn("t3", lead($"event_type", 2).over(bySess))
        .filter($"t2".isNotNull && $"t3".isNotNull)
        .select(concat_ws(">", $"event_type", $"t2", $"t3").as("trigram"),
          $"user_id")
        .groupBy($"trigram")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"n_occurrences".desc, $"trigram".asc)
        .limit(20)
    }),

    "q266_elo_daily" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("rev"))
        .localCheckpoint() // daily grid — feeds ranks AND the types dim
      // tiny unpartitioned window: the TYPE dimension (≤ handful rows)
      val types = daily.select($"event_type").distinct()
        .withColumn("idx", row_number().over(Window.orderBy($"event_type")))
        .localCheckpoint()
      val wDay = Window.partitionBy($"day").orderBy($"rev".desc, $"event_type".asc)
      val m0 = daily.withColumn("rn", row_number().over(wDay))
        .filter($"rn" <= 2)
        .groupBy($"day")
        .agg(max(when($"rn" === 1, $"event_type")).as("wtype"),
          max(when($"rn" === 2, $"event_type")).as("ltype"),
          count(lit(1)).as("k"))
        .filter($"k" === 2) // a day with a single active type plays no match
      val matches = m0
        .join(broadcast(types.select($"event_type".as("wtype"), $"idx".as("iw"))), Seq("wtype"))
        .join(broadcast(types.select($"event_type".as("ltype"), $"idx".as("il"))), Seq("ltype"))
        .select($"day", $"iw", $"il")
      val nt = types.agg(count(lit(1)).cast("int").as("nt"))
      val tableLit = EloTable
        .map(v => s"CAST($v AS BIGINT)").mkString("array(", ", ", ")")
      val step = eloStepSql((a, i) => s"element_at($a, $i)", tableLit, "DIV")
      val folded = matches
        .groupBy()
        .agg(array_sort(collect_list(struct($"day", $"iw", $"il"))).as("arr"),
          count(lit(1)).as("n_matches_total"))
        .crossJoin(broadcast(nt))
        .selectExpr("n_matches_total",
          s"""aggregate(
             |  arr,
             |  array_repeat(CAST(1000 AS BIGINT), nt),
             |  (st, m) -> transform(sequence(1, nt), j -> $step)
             |) AS ratings""".stripMargin)
        .select($"n_matches_total", posexplode($"ratings").as(Seq("pos", "elo_rating")))
        .select(($"pos" + 1).as("idx"), $"elo_rating", $"n_matches_total")
      val wins = m0.groupBy($"wtype".as("event_type"))
        .agg(count(lit(1)).as("n_wins"))
      val played = m0.select(explode(array($"wtype", $"ltype")).as("event_type"))
        .groupBy($"event_type").agg(count(lit(1)).as("n_matches"))
      folded.join(broadcast(types), Seq("idx"))
        .join(broadcast(played), Seq("event_type"), "left")
        .join(broadcast(wins), Seq("event_type"), "left")
        .selectExpr("event_type", "elo_rating",
          "coalesce(n_matches, 0) AS n_matches",
          "coalesce(n_wins, 0) AS n_wins", "n_matches_total")
        .orderBy($"event_type")
    }),

    "q267_lorenz_deciles" -> ((s, d) => {
      import s.implicits._
      val per = orders(s, d).groupBy($"o_custkey")
        .agg(sum((dec($"o_totalprice") * 100).cast(D38)).cast("long").as("m"))
      val (ranked, n) = GlobalRank.withRank(per, "i", Seq($"m", $"o_custkey"))
      val dec10 = ranked
        .selectExpr("m", s"(10 * (i - 1)) DIV ${n}L + 1 AS decile")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"),
          sum($"m".cast(D38)).cast("long").as("rev_cents"))
      val tot = dec10.agg(sum($"rev_cents".cast(D38)).cast("long").as("t"))
      // cumulative over the 10 decile rows — aggregate-sized window
      dec10.crossJoin(broadcast(tot))
        .withColumn("cum_cents", sum($"rev_cents").over(
          Window.orderBy($"decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .selectExpr("decile", "n_customers", "rev_cents",
          "(10000 * rev_cents) DIV t AS share_bp",
          "(10000 * cum_cents) DIV t AS cum_share_bp")
        .orderBy($"decile")
    }),

    "q268_ansari_bradley" -> ((s, d) => {
      import s.implicits._
      // distinct-value table of the pooled two-group sample: ≤50 rows
      val v = lineitem(s, d)
        .filter($"l_returnflag".isin("A", "R"))
        .select($"l_returnflag".as("g"), $"l_quantity".cast("long").as("q"))
        .groupBy($"q")
        .agg(count(lit(1)).as("c"),
          sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"))
        .withColumn("cr", $"c" - $"ca")
      val tot = v.agg(sum($"c").as("nn"), sum($"ca").as("na")).localCheckpoint()
      // pooled rank block [lo+1, lo+c] per value — cumulative window
      // over the ≤50-row value table (aggregate-sized by contract)
      val withLo = v.crossJoin(broadcast(tot))
        .withColumn("lo",
          coalesce(sum($"c").over(Window.orderBy($"q")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // Σ_{r=a..b} min(r, N+1−r) in closed triangular form: scores
      // ascend up to h = (N+1) DIV 2 and descend after it
      val blockSum =
        """(CASE WHEN LEAST(lo + c, (nn + 1) DIV 2) >= lo + 1
          |  THEN (LEAST(lo + c, (nn + 1) DIV 2) * (LEAST(lo + c, (nn + 1) DIV 2) + 1)) DIV 2
          |       - (lo * (lo + 1)) DIV 2
          |  ELSE 0 END
          | +
          | CASE WHEN lo + c >= (nn + 1) DIV 2 + 1
          |  THEN (nn + 1) * (lo + c - GREATEST(lo + 1, (nn + 1) DIV 2 + 1) + 1)
          |       - ((lo + c) * (lo + c + 1)) DIV 2
          |       + ((GREATEST(lo + 1, (nn + 1) DIV 2 + 1) - 1)
          |          * GREATEST(lo + 1, (nn + 1) DIV 2 + 1)) DIV 2
          |  ELSE 0 END)""".stripMargin
      val scored = withLo
        .withColumn("s_block", expr(blockSum))
        // the tied block's AVERAGE score, milli-floored ONCE per value
        // (both groups weight the same quantized average, and the
        // integer products stay < 2^63 through ~sf100 — a nano scale
        // overflowed the BIGINT sum already at sf0.1)
        .selectExpr("q", "c", "ca", "cr", "nn", "na",
          "(1000 * s_block) DIV c AS s_avg_milli")
      scored.groupBy()
        .agg(max($"nn").as("n_total"), max($"na").as("n_a"),
          sum($"ca" * $"s_avg_milli").as("ab_a_milli"),
          sum($"cr" * $"s_avg_milli").as("ab_r_milli"))
        .selectExpr("n_total", "n_a", "n_total - n_a AS n_r",
          "ab_a_milli", "ab_r_milli",
          // no-tie normal moments (documented reference values; the
          // tie-corrected variance is out of scope by contract)
          """format_string('%.6e', CASE WHEN n_total % 2 = 0
            | THEN CAST(n_a AS DOUBLE) * (n_total + 2) / 4.0
            | ELSE CAST(n_a AS DOUBLE) * (n_total + 1) * (n_total + 1)
            |      / (4.0 * n_total) END) AS e_ab_no_tie""".stripMargin,
          """format_string('%.6e', CASE WHEN n_total % 2 = 0
            | THEN CAST(n_a AS DOUBLE) * (n_total - n_a) * (n_total + 2)
            |      * (n_total - 2) / (48.0 * (n_total - 1))
            | ELSE CAST(n_a AS DOUBLE) * (n_total - n_a)
            |      * (n_total + 1) * (3 + n_total * n_total)
            |      / (48.0 * n_total * n_total) END) AS var_ab_no_tie""".stripMargin)
    }),

    "q269_dagostino_k2" -> ((s, d) => {
      import s.implicits._
      val c = (dec($"l_quantity") * 100).cast("long")
      // r20: fanOutScan before the fused moment products (the q113
      // single-task seam); exact decimal sums are order-independent.
      val li = graft.Tables.fanOutScan(s, lineitem(s, d)
          .select($"l_returnflag", c.as("c")), $"c")
        .withColumn("c2", $"c" * $"c")
        .withColumn("c3", $"c2" * $"c")
        .withColumn("c4", $"c3" * $"c")
      val g = li.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"),
        sum($"c".cast(D38)).cast("double").as("s1"),
        sum($"c2".cast(D38)).cast("double").as("s2"),
        sum($"c3".cast(D38)).cast("double").as("s3"),
        sum($"c4".cast(D38)).cast("double").as("s4"))
      val nD = $"n".cast("double")
      val m = $"s1" / nD
      val m2 = $"s2" / nD - m * m
      val m3 = $"s3" / nD - lit(3.0) * m * $"s2" / nD + lit(2.0) * m * m * m
      val m4 = $"s4" / nD - lit(4.0) * m * $"s3" / nD +
        lit(6.0) * m * m * $"s2" / nD - lit(3.0) * m * m * m * m
      val g1 = m3 / (m2 * sqrt(m2))
      val b2 = m4 / (m2 * m2) // non-excess kurtosis
      // D'Agostino (1970) skewness z
      val y = g1 * sqrt((nD + 1.0) * (nD + 3.0) / (lit(6.0) * (nD - 2.0)))
      val beta2 = lit(3.0) * (nD * nD + lit(27.0) * nD - 70.0) * (nD + 1.0) * (nD + 3.0) /
        ((nD - 2.0) * (nD + 5.0) * (nD + 7.0) * (nD + 9.0))
      val w2 = sqrt(lit(2.0) * (beta2 - 1.0)) - 1.0
      val dd = lit(1.0) / sqrt(log(sqrt(w2)))
      val alpha = sqrt(lit(2.0) / (w2 - 1.0))
      val z1 = dd * log(y / alpha + sqrt((y / alpha) * (y / alpha) + 1.0))
      // Anscombe–Glynn (1983) kurtosis z
      val eb2 = lit(3.0) * (nD - 1.0) / (nD + 1.0)
      val vb2 = lit(24.0) * nD * (nD - 2.0) * (nD - 3.0) /
        ((nD + 1.0) * (nD + 1.0) * (nD + 3.0) * (nD + 5.0))
      val x = (b2 - eb2) / sqrt(vb2)
      val beta1 = lit(6.0) * (nD * nD - lit(5.0) * nD + 2.0) / ((nD + 7.0) * (nD + 9.0)) *
        sqrt(lit(6.0) * (nD + 3.0) * (nD + 5.0) / (nD * (nD - 2.0) * (nD - 3.0)))
      val aa = lit(6.0) + lit(8.0) / beta1 *
        (lit(2.0) / beta1 + sqrt(lit(1.0) + lit(4.0) / (beta1 * beta1)))
      val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aa)) -
        cbrt((lit(1.0) - lit(2.0) / aa) / (lit(1.0) + x * sqrt(lit(2.0) / (aa - 4.0))))) /
        sqrt(lit(2.0) / (lit(9.0) * aa))
      g.select($"l_returnflag", $"n",
          format_string("%.6f", z1).as("z_skew"),
          format_string("%.6f", z2).as("z_kurt"),
          format_string("%.6f", z1 * z1 + z2 * z2).as("k2_stat"))
        .orderBy($"l_returnflag")
    }),

    "q270_page_hinkley" -> ((s, d) => {
      import s.implicits._
      val Delta = 100L   // drift slack, cents
      val Lambda = 50000L // alarm threshold, cents
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ph = daily
        .withColumn("t", count(lit(1)).over(w))
        .withColumn("meant", sum($"x").over(w) / $"t") // both positive: floor
        .withColumn("dev", $"x" - expr("sum(x) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) DIV t") - lit(Delta))
        .withColumn("u", sum($"dev").over(w))
        .withColumn("umin", min($"u").over(w))
        .withColumn("ph", $"u" - $"umin")
      ph.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          max($"ph").as("max_ph"),
          sum(when($"ph" > Lambda, 1L).otherwise(0L)).as("n_alarm_days"),
          min(when($"ph" > Lambda, $"day")).as("first_alarm_day"))
        .selectExpr("event_type", "n_days", "max_ph", "n_alarm_days",
          "CAST(first_alarm_day AS STRING) AS first_alarm_day")
        .orderBy($"event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "q264_seq_contain" ->
      """WITH ut AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS tmin_src
        |  FROM events),
        |utx AS (
        |  SELECT user_id, event_type,
        |    MIN(tmin_src) AS tmin, MAX(tmin_src) AS tmax
        |  FROM ut GROUP BY user_id, event_type),
        |ab AS (
        |  SELECT a.event_type AS ante, b.event_type AS cons,
        |    CAST(COUNT(*) AS BIGINT) AS n_users_ab
        |  FROM utx a JOIN utx b
        |    ON a.user_id = b.user_id
        |   AND a.event_type <> b.event_type
        |   AND a.tmin < b.tmax
        |  GROUP BY 1, 2),
        |na AS (
        |  SELECT event_type AS ante, CAST(COUNT(*) AS BIGINT) AS n_users_a
        |  FROM utx GROUP BY 1)
        |SELECT ante, cons, n_users_ab, n_users_a,
        |  (10000 * n_users_ab) // n_users_a AS support_bp
        |FROM ab JOIN na USING (ante)
        |ORDER BY ante, cons""".stripMargin,

    "q265_session_trigrams" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |tri AS (
        |  SELECT user_id,
        |    event_type || '>' || LEAD(event_type, 1) OVER w2
        |      || '>' || LEAD(event_type, 2) OVER w2 AS trigram,
        |    LEAD(event_type, 2) OVER w2 AS t3
        |  FROM sessions
        |  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
        |SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM tri WHERE t3 IS NOT NULL
        |GROUP BY trigram
        |ORDER BY n_occurrences DESC, trigram ASC LIMIT 20""".stripMargin,

    "q266_elo_daily" -> {
      val tableLit = "[" + EloTable.map(v => s"CAST($v AS BIGINT)").mkString(", ") + "]"
      val step = eloStepSql((a, i) => s"${if (a == "st") "f.st" else a}[$i]", tableLit, "//")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
         |  FROM events GROUP BY 1, 2),
         |types AS MATERIALIZED (
         |  SELECT event_type,
         |    CAST(row_number() OVER (ORDER BY event_type) AS INT) AS idx
         |  FROM (SELECT DISTINCT event_type FROM daily)),
         |nt AS (SELECT CAST(COUNT(*) AS INT) AS nt FROM types),
         |ranked AS (
         |  SELECT day, event_type,
         |    row_number() OVER (PARTITION BY day ORDER BY rev DESC, event_type ASC) AS rn
         |  FROM daily),
         |m0 AS MATERIALIZED (
         |  SELECT day,
         |    MAX(CASE WHEN rn = 1 THEN event_type END) AS wtype,
         |    MAX(CASE WHEN rn = 2 THEN event_type END) AS ltype
         |  FROM ranked WHERE rn <= 2 GROUP BY day HAVING COUNT(*) = 2),
         |matches AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY m0.day) AS BIGINT) AS i,
         |    w.idx AS iw, l.idx AS il
         |  FROM m0 JOIN types w ON m0.wtype = w.event_type
         |          JOIN types l ON m0.ltype = l.event_type),
         |elo(i, st) AS (
         |  SELECT CAST(0 AS BIGINT),
         |    list_transform(range(0, (SELECT nt FROM nt)), j -> CAST(1000 AS BIGINT))
         |  UNION ALL
         |  SELECT m.i,
         |    list_transform(range(1, (SELECT nt FROM nt) + 1), j -> $step)
         |  FROM elo f JOIN matches m ON m.i = f.i + 1),
         |final AS (SELECT st FROM elo ORDER BY i DESC LIMIT 1),
         |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matches_total FROM matches),
         |ratings AS (
         |  SELECT CAST(j AS INT) + 1 AS idx, st[CAST(j AS INT) + 1] AS elo_rating
         |  FROM final, LATERAL (SELECT unnest(range(0, (SELECT nt FROM nt))) AS j)),
         |wins AS (
         |  SELECT wtype AS event_type, CAST(COUNT(*) AS BIGINT) AS n_wins
         |  FROM m0 GROUP BY 1),
         |played AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_matches FROM (
         |    SELECT wtype AS event_type FROM m0
         |    UNION ALL SELECT ltype FROM m0)
         |  GROUP BY 1)
         |SELECT t.event_type, r.elo_rating,
         |  COALESCE(p.n_matches, 0) AS n_matches,
         |  COALESCE(w.n_wins, 0) AS n_wins,
         |  (SELECT n_matches_total FROM nm) AS n_matches_total
         |FROM ratings r JOIN types t ON r.idx = t.idx
         |LEFT JOIN played p ON t.event_type = p.event_type
         |LEFT JOIN wins w ON t.event_type = w.event_type
         |ORDER BY t.event_type""".stripMargin
    },

    "q267_lorenz_deciles" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, o_custkey) AS i,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM per) AS n
        |  FROM per),
        |dec10 AS (
        |  SELECT (10 * (i - 1)) // n + 1 AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(SUM(m) AS BIGINT) AS rev_cents
        |  FROM ranked GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS t FROM dec10)
        |SELECT decile, n_customers, rev_cents,
        |  (10000 * rev_cents) // t AS share_bp,
        |  (10000 * CAST(SUM(rev_cents) OVER (ORDER BY decile
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) // t
        |    AS cum_share_bp
        |FROM dec10 CROSS JOIN tot
        |ORDER BY decile""".stripMargin,

    "q268_ansari_bradley" ->
      """WITH v AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn, CAST(SUM(ca) AS BIGINT) AS na FROM v),
        |lo AS (
        |  SELECT q, c, ca, c - ca AS cr, nn, na,
        |    COALESCE(CAST(SUM(c) OVER (ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS lo
        |  FROM v CROSS JOIN tot),
        |scored AS (
        |  SELECT q, c, ca, cr, nn, na,
        |    (CASE WHEN LEAST(lo + c, (nn + 1) // 2) >= lo + 1
        |      THEN (LEAST(lo + c, (nn + 1) // 2) * (LEAST(lo + c, (nn + 1) // 2) + 1)) // 2
        |           - (lo * (lo + 1)) // 2
        |      ELSE 0 END
        |     +
        |     CASE WHEN lo + c >= (nn + 1) // 2 + 1
        |      THEN (nn + 1) * (lo + c - GREATEST(lo + 1, (nn + 1) // 2 + 1) + 1)
        |           - ((lo + c) * (lo + c + 1)) // 2
        |           + ((GREATEST(lo + 1, (nn + 1) // 2 + 1) - 1)
        |              * GREATEST(lo + 1, (nn + 1) // 2 + 1)) // 2
        |      ELSE 0 END) AS s_block
        |  FROM lo),
        |milli AS (
        |  SELECT nn, na,
        |    CAST(SUM(ca * ((1000 * s_block) // c)) AS BIGINT) AS ab_a_milli,
        |    CAST(SUM(cr * ((1000 * s_block) // c)) AS BIGINT) AS ab_r_milli
        |  FROM scored GROUP BY nn, na)
        |SELECT nn AS n_total, na AS n_a, nn - na AS n_r,
        |  ab_a_milli, ab_r_milli,
        |  printf('%.6e', CASE WHEN nn % 2 = 0
        |    THEN CAST(na AS DOUBLE) * (nn + 2) / 4.0
        |    ELSE CAST(na AS DOUBLE) * (nn + 1) * (nn + 1) / (4.0 * nn) END)
        |    AS e_ab_no_tie,
        |  printf('%.6e', CASE WHEN nn % 2 = 0
        |    THEN CAST(na AS DOUBLE) * (nn - na) * (nn + 2) * (nn - 2)
        |         / (48.0 * (nn - 1))
        |    ELSE CAST(na AS DOUBLE) * (nn - na) * (nn + 1) * (3 + nn * nn)
        |         / (48.0 * nn * nn) END) AS var_ab_no_tie
        |FROM milli""".stripMargin,

    "q269_dagostino_k2" ->
      """WITH g AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS s4
        |  FROM (SELECT l_returnflag,
        |          CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    s1 / n AS mu, s2, s3, s4
        |  FROM g),
        |mom AS (
        |  SELECT l_returnflag, n, nd, mu,
        |    s2 / nd - mu * mu AS m2,
        |    s3 / nd - 3.0 * mu * s2 / nd + 2.0 * mu * mu * mu AS m3,
        |    s4 / nd - 4.0 * mu * s3 / nd + 6.0 * mu * mu * s2 / nd
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |stats AS (
        |  SELECT l_returnflag, n, nd,
        |    m3 / (m2 * sqrt(m2)) AS g1,
        |    m4 / (m2 * m2) AS b2
        |  FROM mom),
        |z1t AS (
        |  SELECT l_returnflag, n, nd, b2,
        |    g1 * sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS y,
        |    3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        |      / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0)) AS beta2
        |  FROM stats),
        |z1c AS (
        |  SELECT l_returnflag, n, nd, b2, y,
        |    sqrt(2.0 * (beta2 - 1.0)) - 1.0 AS w2
        |  FROM z1t),
        |z1 AS (
        |  SELECT l_returnflag, n, nd, b2,
        |    (1.0 / sqrt(ln(sqrt(w2))))
        |      * ln(y / sqrt(2.0 / (w2 - 1.0))
        |           + sqrt((y / sqrt(2.0 / (w2 - 1.0))) * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)) AS z1
        |  FROM z1c),
        |z2t AS (
        |  SELECT l_returnflag, n, nd, z1,
        |    (b2 - 3.0 * (nd - 1.0) / (nd + 1.0))
        |      / sqrt(24.0 * nd * (nd - 2.0) * (nd - 3.0)
        |             / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))) AS x,
        |    6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        |      * sqrt(6.0 * (nd + 3.0) * (nd + 5.0) / (nd * (nd - 2.0) * (nd - 3.0))) AS beta1
        |  FROM z1),
        |z2a AS (
        |  SELECT l_returnflag, n, z1, x,
        |    6.0 + 8.0 / beta1 * (2.0 / beta1 + sqrt(1.0 + 4.0 / (beta1 * beta1))) AS a
        |  FROM z2t),
        |z2 AS (
        |  SELECT l_returnflag, n, z1,
        |    ((1.0 - 2.0 / (9.0 * a))
        |     - cbrt((1.0 - 2.0 / a) / (1.0 + x * sqrt(2.0 / (a - 4.0)))))
        |    / sqrt(2.0 / (9.0 * a)) AS z2
        |  FROM z2a)
        |SELECT l_returnflag, n,
        |  printf('%.6f', z1) AS z_skew,
        |  printf('%.6f', z2) AS z_kurt,
        |  printf('%.6f', z1 * z1 + z2 * z2) AS k2_stat
        |FROM z2 ORDER BY l_returnflag""".stripMargin,

    "q270_page_hinkley" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, day, x,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS t,
        |    CAST(SUM(x) OVER w AS BIGINT) AS sx
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dev AS (
        |  SELECT event_type, day, x - sx // t - 100 AS dev
        |  FROM cum),
        |u AS (
        |  SELECT event_type, day,
        |    CAST(SUM(dev) OVER w AS BIGINT) AS u
        |  FROM dev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ph AS (
        |  SELECT event_type, day,
        |    u - CAST(MIN(u) OVER w AS BIGINT) AS ph
        |  FROM u
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(ph) AS BIGINT) AS max_ph,
        |  CAST(SUM(CASE WHEN ph > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
        |  CAST(MIN(CASE WHEN ph > 50000 THEN day END) AS VARCHAR) AS first_alarm_day
        |FROM ph GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
