package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 additions (q152–q156): the remaining classical-statistics
  * shapes — k-group rank inference (Kruskal–Wallis), robust IQR
  * outlier fences on exact order statistics, rank-based changepoint
  * detection (Pettitt), inequality decomposition (Theil), and a
  * hash-matched count-min sketch — on the established exactness
  * contract: integer/decimal sums (order-independent, map-side
  * combinable), doubles only at the very end through identical
  * expression trees on both engines, rendered with format_string.
  */
object RelationalQueries9 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)

  /** Money column as exact integer cents, decimal-38 typed. */
  private def cents38(c: org.apache.spark.sql.Column) =
    (dec(c) * 100).cast(D38)

  val queries: Map[String, Q] = Map(
    // KRUSKAL–WALLIS H: the k-group generalization of q105's
    // Mann–Whitney — "do quantities differ across return flags?"
    // without normality assumptions. Fully distributed rank shape:
    // tie-AVERAGED ranks live on the DISTINCT-VALUE table (≤50
    // quantities — the only window in the query runs over it, never
    // over rows), per-(group,value) counts are one keyed aggregate,
    // and each group's doubled rank sum R2_g = Σ cnt_gv·r2_v is an
    // exact integer join-aggregate. The k=3 Σ R_g²/n_g fold runs over
    // a GROUP-KEY-SORTED array (q131's ANOVA idiom) so both engines
    // add the group terms in the same order; the tie-correction term
    // Σ(t³−t) is an exact D38 sum. H and its tie-corrected form hit
    // doubles only in the final operand-identical expression.
    "q152_kruskal_wallis" -> ((s, d) => {
      import s.implicits._
      val base = lineitem(s, d).select(
        $"l_quantity".cast("long").as("v"), $"l_returnflag".as("g"))
      val cnt = base.groupBy($"v").agg(count(lit(1)).as("c"))
      // distinct-value table (≤50 rows): aggregate-sized window by
      // construction, same contract as q105's rank pass
      val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
      val r2 = cnt
        .withColumn("cum", sum($"c").over(w))
        .select($"v", (lit(2) * ($"cum" - $"c") + $"c" + 1).as("r2"),
          ($"c".cast(D38) * $"c" * $"c" - $"c").as("t3t"))
      val rg = base.groupBy($"g", $"v").agg(count(lit(1)).as("cgv"))
        .join(broadcast(r2.select($"v", $"r2")), Seq("v"))
        .groupBy($"g").agg(
          sum($"cgv".cast(D38) * $"r2").as("r2_g"),
          sum($"cgv").as("n_g"))
      val ties = r2.agg(sum($"t3t").as("ties")).select($"ties")
      val folded = rg.crossJoin(broadcast(ties)).agg(
        count(lit(1)).as("k"),
        sum($"n_g").as("n"),
        max($"ties").as("ties"),
        aggregate(
          array_sort(collect_list(struct($"g",
            ($"r2_g".cast("double") / 2 * ($"r2_g".cast("double") / 2) / $"n_g")
              .as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("tsum"))
      val nD = $"n".cast("double")
      val h = lit(12.0) * $"tsum" / (nD * ($"n" + 1)) - lit(3) * ($"n" + 1)
      val c = lit(1.0) - $"ties".cast("double") / (nD * nD * nD - nD)
      folded.select($"n", $"k",
        format_string("%.6f", h).as("h_stat"),
        format_string("%.6f", h / c).as("h_tie_corrected"))
    }),

    // TUKEY FENCES outlier screen: Q1/Q3 as EXACT order statistics
    // (value at global rank ⌈n/4⌉ / ⌈3n/4⌉ — q132's rank-based
    // definition, bit-agreed by both engines, no interpolation), and
    // the classic 1.5·IQR fences kept EXACT by comparing doubled
    // cents: 2c < 5·Q1 − 3·Q3 marks a low outlier (that inequality is
    // 2·(Q1 − 1.5·IQR) with the halves cleared). The rank rides
    // GlobalRank's two-pass range partitioning — no single-partition
    // window at any corpus size; the two threshold rows broadcast
    // back and the outlier census is one conditional aggregate.
    "q153_tukey_fences" -> ((s, d) => {
      import s.implicits._
      val base = lineitem(s, d).select(
        cents38($"l_extendedprice").cast("long").as("c"),
        $"l_orderkey", $"l_linenumber")
      val (ranked, n) = GlobalRank.withRank(base, "_r",
        Seq($"c", $"l_orderkey", $"l_linenumber"))
      val k25 = (25 * n + 99) / 100
      val k75 = (75 * n + 99) / 100
      val thr = ranked.filter($"_r" === k25 || $"_r" === k75)
        .agg(min($"c").as("q1"), max($"c").as("q3"))
      ranked.crossJoin(broadcast(thr))
        .groupBy($"q1", $"q3")
        .agg(count(lit(1)).as("n"),
          sum(when(lit(2) * $"c" < lit(5) * $"q1" - lit(3) * $"q3", 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(lit(2) * $"c" > lit(5) * $"q3" - lit(3) * $"q1", 1L)
            .otherwise(0L)).as("n_high"))
        .select($"n",
          format_string("%.2f", $"q1" / lit(100.0)).as("q1"),
          format_string("%.2f", $"q3" / lit(100.0)).as("q3"),
          $"n_low", $"n_high",
          expr("(n_low + n_high) * 10000 DIV n").as("outlier_bp"))
    }),

    // PETTITT changepoint test — the rank-based (distribution-free)
    // complement of q127's CUSUM: U_t = 2·Σ_{i≤t} r_i − t·(n+1) stays
    // ENTIRELY integer because the tie-averaged ranks ride doubled
    // (q129's 2·rank + t − 1 form makes Σ2r_i a prefix sum of
    // integers), K = max|U_t| picks the most probable split day. The
    // series is DAILY revenue, so every window here runs over the
    // aggregate-sized calendar-day table (≤ a few thousand rows at
    // any corpus size) — the fact table contributes one keyed
    // aggregate and is never sorted. The classic significance
    // approximation 2·exp(−6K²/(n³+n²)) is the only double, built
    // operand-identically on both engines.
    "q154_pettitt_change" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
      // all windows below: calendar-day table, aggregate-sized
      val wr = Window.orderBy($"rev")
      val tiec = Window.partitionBy($"rev")
      val wd = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
      val ranked = daily
        .withColumn("r2", lit(2) * rank().over(wr) + count(lit(1)).over(tiec) - 1)
        .withColumn("cum2", sum($"r2").over(wd))
        .withColumn("t", row_number().over(Window.orderBy($"day")))
      val n = ranked.agg(count(lit(1))).first().getLong(0)
      val u = ranked.filter($"t" < n)
        .select($"day", ($"cum2" - $"t" * (n + 1)).as("u_t"))
      val k = u.agg(max(abs($"u_t")).as("k_stat"))
      u.crossJoin(broadcast(k))
        .filter(abs($"u_t") === $"k_stat")
        .agg(min($"day").as("day"), max($"k_stat").as("k_stat"))
        .select(lit(n).as("n_days"), $"k_stat",
          date_format($"day", "yyyy-MM-dd").as("change_day"),
          format_string("%.9f",
            lit(2.0) * exp(lit(-6.0) * $"k_stat".cast("double") * $"k_stat" /
              (lit(n).cast("double") * n * n + lit(n).cast("double") * n)))
            .as("p_approx"))
    }),

    // THEIL T inequality index of customer revenue, decomposed into
    // between-segment + within-segment components — the additive
    // inequality measure q99's Gini cannot decompose. Scale story:
    // the per-customer term (x/μ)·ln(x/μ) is QUANTIZED to integer
    // nano-units per row (floor(t·1e9 + 0.5)) so the corpus-sized sum
    // is an exact, order-independent, map-side-combinable integer —
    // no corpus-sized sorted fold, unlike the entropy family, because
    // both engines build the per-row double from identical operands
    // (exact cents, exact totals) and round identically. The
    // between-group fold is k=5 market segments, aggregate-sized.
    "q155_theil_index" -> ((s, d) => {
      import s.implicits._
      val rev = orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(cents38($"o_totalprice")).cast("long").as("x"))
        .join(broadcast(customer(s, d).select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .select($"x", $"c_mktsegment".as("seg"))
      val tot = rev.agg(count(lit(1)).as("n"), sum($"x".cast(D38)).as("s"))
      val rho = $"x".cast("double") * $"n".cast("double") / $"s".cast("double")
      val q = rev.crossJoin(broadcast(tot))
        .agg(sum(floor(rho * log(rho) * 1e9 + 0.5).cast("long")).as("qsum"),
          max($"n").as("n"), max($"s").as("s"))
      val seg = rev.groupBy($"seg")
        .agg(count(lit(1)).as("n_g"), sum($"x".cast(D38)).as("s_g"))
      val between = seg.crossJoin(broadcast(tot)).agg(
        aggregate(
          array_sort(collect_list(struct($"seg",
            (($"s_g".cast("double") / $"s".cast("double")) *
              log(($"s_g".cast("double") / $"n_g") /
                ($"s".cast("double") / $"n"))).as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("t_between"))
      val t = $"qsum".cast("double") / 1e9 / $"n".cast("double")
      q.crossJoin(broadcast(between))
        .select($"n".as("n_customers"),
          format_string("%.9f", t).as("theil_total"),
          format_string("%.9f", $"t_between").as("theil_between"),
          format_string("%.9f", t - $"t_between").as("theil_within"))
    }),

    // COUNT-MIN SKETCH heavy hitters — the streaming-folklore
    // frequency sketch as a HASH-MATCHED batch operator (the
    // deterministic md5 cell hash makes even the sketch's
    // overestimates bit-reproducible, so unlike q28's HLL this sketch
    // carries a full DuckDB oracle). Build: every fact row explodes
    // to d=4 (row, cell) pairs — map-side partial aggregation
    // collapses each task's contribution to ≤ d·w = 2048 cells, so
    // the shuffle is sketch-sized at any corpus size. Query: the
    // top-20 estimates join the key universe ×4 against the 2048-cell
    // sketch (broadcast) and take min over rows; est ≥ exact by
    // construction and the `over` column exposes the collision error
    // the 512-cell width buys.
    //
    // The d row hashes are 4 DISJOINT 16-bit lanes of ONE md5 per key
    // (hex chars 1–4, 5–8, 9–12, 13–16) — the r14 version paid d
    // independent md5 calls per row (4× the hashing in the sketch's
    // hot path); md5's avalanche makes the lanes pairwise-independent
    // exactly as the CMS analysis requires, and the oracle slices the
    // same lanes so the sketch stays bit-reproducible.
    "q156_cms_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val W = 512
      def cell(r: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =
        conv(md5(k.cast("string").cast("binary"))
          .substr(lit(1) + lit(4) * r, lit(4)), 16, 10).cast("long") % W
      val rows = lineitem(s, d).select($"l_partkey")
      val exact = rows.groupBy($"l_partkey").agg(count(lit(1)).as("exact"))
        .localCheckpoint() // key-universe frame — builds the sketch too
      // the sketch's cell counts are Σ-decomposable over keys, so build
      // them from the EXACT per-key counts (catalog-sized) instead of
      // exploding every fact row ×4 — identical sketch, ~30× less input
      val sketch = exact
        .select($"l_partkey", $"exact", explode(sequence(lit(0), lit(3))).as("r"))
        .groupBy($"r", cell($"r", $"l_partkey").as("cell"))
        .agg(sum($"exact").as("cnt"))
      exact
        .select($"l_partkey", $"exact", explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("cell", cell($"r", $"l_partkey"))
        .join(broadcast(sketch), Seq("r", "cell"))
        .groupBy($"l_partkey", $"exact").agg(min($"cnt").as("est"))
        .select($"l_partkey", $"est", $"exact", ($"est" - $"exact").as("overcount"))
        .orderBy($"est".desc, $"l_partkey")
        .limit(20)
    }),

    // HOLT-WINTERS additive seasonal smoothing (α=.3, β=.1, γ=.2,
    // weekly m=7) — the seasonal upgrade of q143's Holt recurrence:
    // level/trend plus a 7-slot seasonal state vector, folded over
    // each series' day-sorted array (aggregate-sized: calendar days
    // per event type). The 9-state recurrence runs engine-side as one
    // sequential aggregate() fold — identical IEEE op sequence on
    // both engines (the oracle replays it as a recursive CTE carrying
    // the seasonal LIST, q143's idiom extended), so the %.6f renders
    // agree bit-for-bit. l_new is recomputed inside the b/s branches
    // because SQL lambdas cannot bind intermediates — identical
    // operand trees, identical bits. Forecast = l + b + s[next].
    "q157_holt_winters" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("y"))
      daily.groupBy($"event_type")
        .agg(array_sort(collect_list(struct($"day", $"y"))).as("arr"))
        .select($"event_type", size($"arr").cast("long").as("n_days"),
          expr("""
            aggregate(
              transform(slice(arr, 2, size(arr) - 1), e -> CAST(e.y AS DOUBLE)),
              named_struct('l', CAST(arr[0].y AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
                's', array_repeat(CAST(0.0 AS DOUBLE), 7), 't', 1),
              (a, x) -> named_struct(
                'l', 0.3D * (x - element_at(a.s, a.t % 7 + 1))
                     + 0.7D * (a.l + a.b),
                'b', 0.1D * ((0.3D * (x - element_at(a.s, a.t % 7 + 1))
                       + 0.7D * (a.l + a.b)) - a.l) + 0.9D * a.b,
                's', transform(sequence(0, 6), j -> IF(j = a.t % 7,
                       0.2D * (x - (0.3D * (x - element_at(a.s, a.t % 7 + 1))
                         + 0.7D * (a.l + a.b)))
                         + 0.8D * element_at(a.s, a.t % 7 + 1),
                       element_at(a.s, j + 1))),
                't', a.t + 1))
          """).as("st"))
        .select($"event_type", $"n_days",
          format_string("%.6f", $"st.l" / 100.0).as("level_usd"),
          format_string("%.6f", $"st.b" / 100.0).as("trend_usd"),
          format_string("%.6f", ($"st.l" + $"st.b" +
            expr("element_at(st.s, CAST(n_days % 7 AS INT) + 1)")) / 100.0)
            .as("forecast_usd"))
        .orderBy($"event_type")
    }))

  val oracles: Map[String, String] = Map(
    "q152_kruskal_wallis" ->
      """WITH base AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g FROM lineitem),
        |cnt AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY v),
        |r AS (
        |  SELECT v,
        |    2 * (SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |         AND CURRENT ROW) - c) + c + 1 AS r2,
        |    CAST(c AS HUGEINT) * c * c - c AS t3t
        |  FROM cnt),
        |rg AS (
        |  SELECT g, SUM(CAST(cgv AS HUGEINT) * r2) AS r2_g,
        |    CAST(SUM(cgv) AS BIGINT) AS n_g
        |  FROM (SELECT g, v, count(*) AS cgv FROM base GROUP BY g, v) gv
        |  JOIN r USING (v) GROUP BY g),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    (SELECT SUM(t3t) FROM r) AS ties,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(r2_g AS DOUBLE) / 2 * (CAST(r2_g AS DOUBLE) / 2) / n_g
        |           ORDER BY g)),
        |      (a, x) -> a + x) AS tsum
        |  FROM rg)
        |SELECT n, k,
        |  printf('%.6f', 12.0 * tsum / (CAST(n AS DOUBLE) * (n + 1)) - 3 * (n + 1))
        |    AS h_stat,
        |  printf('%.6f',
        |    (12.0 * tsum / (CAST(n AS DOUBLE) * (n + 1)) - 3 * (n + 1)) /
        |    (1.0 - CAST(ties AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * n * n - CAST(n AS DOUBLE))))
        |    AS h_tie_corrected
        |FROM f""".stripMargin,

    "q153_tukey_fences" ->
      """WITH base AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c, l_orderkey, l_linenumber) AS r,
        |    count(*) OVER () AS n
        |  FROM base),
        |thr AS (
        |  SELECT min(c) AS q1, max(c) AS q3 FROM ranked
        |  WHERE r = (25 * n + 99) // 100 OR r = (75 * n + 99) // 100)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  printf('%.2f', q1 / 100.0) AS q1,
        |  printf('%.2f', q3 / 100.0) AS q3,
        |  CAST(SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(SUM(CASE WHEN 2 * c > 5 * q3 - 3 * q1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high,
        |  CAST((SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3 THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN 2 * c > 5 * q3 - 3 * q1 THEN 1 ELSE 0 END)) * 10000
        |    // count(*) AS BIGINT) AS outlier_bp
        |FROM ranked, thr
        |GROUP BY q1, q3""".stripMargin,

    "q154_pettitt_change" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT day,
        |    2 * rank() OVER (ORDER BY rev) + count(*) OVER (PARTITION BY rev) - 1
        |      AS r2,
        |    row_number() OVER (ORDER BY day) AS t,
        |    count(*) OVER () AS n
        |  FROM daily),
        |cum AS (
        |  SELECT day, t, n,
        |    SUM(r2) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - t * (n + 1) AS u_t
        |  FROM ranked),
        |k AS (SELECT max(abs(u_t)) AS k_stat FROM cum WHERE t < n)
        |SELECT CAST(max(n) AS BIGINT) AS n_days,
        |  CAST(max(k_stat) AS BIGINT) AS k_stat,
        |  strftime(min(day), '%Y-%m-%d') AS change_day,
        |  printf('%.9f', 2.0 * exp(-6.0 * CAST(max(k_stat) AS DOUBLE) * max(k_stat) /
        |    (CAST(max(n) AS DOUBLE) * max(n) * max(n)
        |     + CAST(max(n) AS DOUBLE) * max(n)))) AS p_approx
        |FROM cum, k
        |WHERE t < n AND abs(u_t) = k_stat""".stripMargin,

    "q155_theil_index" ->
      """WITH rev AS (
        |  SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
        |      AS BIGINT) AS x,
        |    max(c.c_mktsegment) AS seg
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY o.o_custkey),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(CAST(x AS HUGEINT)) AS s
        |        FROM rev),
        |q AS (
        |  SELECT CAST(SUM(CAST(floor(
        |      (CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
        |      * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
        |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS qsum,
        |    max(n) AS n
        |  FROM rev, tot),
        |seg AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n_g, SUM(CAST(x AS HUGEINT)) AS s_g
        |  FROM rev GROUP BY seg),
        |btw AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)) *
        |      ln((CAST(s_g AS DOUBLE) / n_g) / (CAST(s AS DOUBLE) / n))
        |      ORDER BY seg)),
        |    (a, x) -> a + x) AS t_between
        |  FROM seg, tot)
        |SELECT n AS n_customers,
        |  printf('%.9f', CAST(qsum AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
        |    AS theil_total,
        |  printf('%.9f', t_between) AS theil_between,
        |  printf('%.9f', CAST(qsum AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) - t_between)
        |    AS theil_within
        |FROM q, btw""".stripMargin,

    "q156_cms_heavy_hitters" ->
      """WITH cells AS (
        |  SELECT r, ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),
        |      1 + 4 * r, 4))::BIGINT % 512 AS cell,
        |    l_partkey
        |  FROM lineitem, (SELECT unnest([0, 1, 2, 3]) AS r)),
        |sketch AS (
        |  SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cells GROUP BY r, cell),
        |exact AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact
        |  FROM lineitem GROUP BY l_partkey),
        |est AS (
        |  SELECT e.l_partkey, e.exact, min(s.cnt) AS est
        |  FROM exact e
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr
        |  JOIN sketch s ON s.r = rr.r
        |    AND s.cell = ('0x' || substring(md5(CAST(e.l_partkey AS VARCHAR)),
        |      1 + 4 * rr.r, 4))::BIGINT % 512
        |  GROUP BY e.l_partkey, e.exact)
        |SELECT l_partkey, est, exact, est - exact AS overcount
        |FROM est
        |ORDER BY est DESC, l_partkey LIMIT 20""".stripMargin,

    "q157_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, CAST(y AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |fold AS (
        |  SELECT event_type, rn, y AS l, CAST(0 AS DOUBLE) AS b,
        |    list_transform(range(0, 7), j -> CAST(0 AS DOUBLE)) AS s
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT f.event_type, i.rn,
        |    CAST(0.3 AS DOUBLE) * (i.y - f.s[(i.rn - 1) % 7 + 1])
        |      + CAST(0.7 AS DOUBLE) * (f.l + f.b),
        |    CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE)
        |        * (i.y - f.s[(i.rn - 1) % 7 + 1])
        |        + CAST(0.7 AS DOUBLE) * (f.l + f.b)) - f.l)
        |      + CAST(0.9 AS DOUBLE) * f.b,
        |    list_transform(range(0, 7), j -> CASE WHEN j = (i.rn - 1) % 7
        |      THEN CAST(0.2 AS DOUBLE) * (i.y - (CAST(0.3 AS DOUBLE)
        |             * (i.y - f.s[(i.rn - 1) % 7 + 1])
        |             + CAST(0.7 AS DOUBLE) * (f.l + f.b)))
        |           + CAST(0.8 AS DOUBLE) * f.s[(i.rn - 1) % 7 + 1]
        |      ELSE f.s[j + 1] END)
        |  FROM fold f JOIN idx i
        |    ON i.event_type = f.event_type AND i.rn = f.rn + 1),
        |last AS (SELECT event_type, max(rn) AS n FROM fold GROUP BY event_type)
        |SELECT f.event_type, CAST(l2.n AS BIGINT) AS n_days,
        |  printf('%.6f', f.l / 100.0) AS level_usd,
        |  printf('%.6f', f.b / 100.0) AS trend_usd,
        |  printf('%.6f', (f.l + f.b + f.s[CAST(l2.n % 7 AS INT) + 1]) / 100.0)
        |    AS forecast_usd
        |FROM fold f JOIN last l2
        |  ON f.event_type = l2.event_type AND f.rn = l2.n
        |ORDER BY f.event_type""".stripMargin)
}
