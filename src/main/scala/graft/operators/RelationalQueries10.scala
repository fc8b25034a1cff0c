package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-11 additions (q158–q161 + samp_kfold + text_charset_profile):
  * blocked-design rank inference (Friedman), rank correlation without
  * a distributional model (Kendall tau-b), information-theoretic
  * distribution drift (Jensen–Shannon), randomness-of-sequence testing
  * (Wald–Wolfowitz runs), cross-validation fold assignment on the
  * deterministic md5 split machinery, and a per-language character-
  * class corpus profile.
  *
  * Exactness contract (shared with q152–q157): every aggregate that
  * crosses a shuffle is an integer/decimal sum (order-independent,
  * map-side combinable); doubles appear only in final operand-identical
  * expression trees rendered with format_string, or are floor-quantized
  * to integers per-row BEFORE summation so the sum itself never
  * touches floats.
  */
object RelationalQueries10 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)

  /** Money column as exact integer cents, decimal-38 typed. */
  private def cents38(c: org.apache.spark.sql.Column) =
    (dec(c) * 100).cast(D38)

  val queries: Map[String, Q] = Map(
    // FRIEDMAN rank test — the BLOCKED-design member of the inference
    // family (q105 two-group, q152 k-group, this one k-treatment ×
    // n-block): "does order priority shift weekly revenue, week held
    // fixed?" Blocks = ISO-stable integer week keys (pure day
    // arithmetic from a known Monday — no engine dow convention in
    // play, q82's idiom); treatments = the 5 priorities; the response
    // is the block×treatment EXACT cents sum. Only complete blocks
    // (all 5 priorities present) enter. Ranks are tie-averaged DOUBLED
    // integers within each 5-row block (q105's doubling trick), so
    // rank sums are exact; Q = 3·ΣR2_j²/(n·k·(k+1)) − 3·n·(k+1)
    // evaluates once per treatment through an identical double tree.
    // Distributed shape: ONE (week,priority) exchange; the rank window
    // runs over 5-row blocks; everything after is aggregate-sized.
    "q158_friedman_test" -> ((s, d) => {
      import s.implicits._
      val k = 5
      val cell = orders(s, d)
        .groupBy(
          floor(datediff(to_date($"o_orderdate"), lit("1970-01-05")) / 7).as("wk"),
          $"o_orderpriority".as("priority"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
      val wBlk = Window.partitionBy($"wk")
      val complete = cell
        .withColumn("n_in_block", count(lit(1)).over(wBlk))
        .filter($"n_in_block" === k)
      // doubled tie-averaged rank: 2*minrank + (ties-1)
      val wRank = Window.partitionBy($"wk").orderBy($"rev")
      val wTies = Window.partitionBy($"wk", $"rev")
      val ranked = complete
        .withColumn("r2", lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
      val perTreat = ranked.groupBy($"priority")
        .agg(count(lit(1)).as("n_blocks"), sum($"r2").cast("long").as("rank2_sum"))
      val wAll = Window.partitionBy() // k rows
      perTreat
        .withColumn("sum_r2sq", sum($"rank2_sum" * $"rank2_sum").over(wAll))
        .withColumn("q_stat", format_string("%.6f",
          lit(3.0) * $"sum_r2sq".cast("double")
            / ($"n_blocks" * k * (k + 1)).cast("double")
            - lit(3.0) * ($"n_blocks" * (k + 1)).cast("double")))
        .select($"priority", $"n_blocks", $"rank2_sum", $"q_stat",
          lit(k - 1).cast("int").as("df"))
        .orderBy($"priority")
    }),

    // KENDALL TAU-B rank correlation between daily revenue and daily
    // order count — the model-free "do busier days earn more?"
    // monotonicity check (Spearman q129's pair-counting twin; tau has
    // the cleaner interpretation under ties). The day table is
    // aggregate-sized at ANY corpus scale (one keyed exchange builds
    // it), so the i<j pair self-join is a day²-bounded local product,
    // never corpus-sized. Concordant / discordant / tie classes are
    // pure integer comparisons on exact cents and counts; tau-b's
    // denominator sqrt((n0−n1)(n0−n2)) runs once on exact integers.
    "q159_kendall_tau" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("x"),
          count(lit(1)).as("y"))
        .localCheckpoint() // day-table-sized; pinned for the self-join
      val a = daily.select($"day".as("da"), $"x".as("xa"), $"y".as("ya"))
      val b = daily.select($"day".as("db"), $"x".as("xb"), $"y".as("yb"))
      val pairs = a.join(b, $"da" < $"db")
      val sgn = (c: org.apache.spark.sql.Column) =>
        when(c > 0, 1).when(c < 0, -1).otherwise(0)
      val agg = pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(sgn($"xa" - $"xb") * sgn($"ya" - $"yb") === 1, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn($"xa" - $"xb") * sgn($"ya" - $"yb") === -1, 1L).otherwise(0L)).as("discordant"),
        sum(when($"xa" === $"xb", 1L).otherwise(0L)).as("ties_x"),
        sum(when($"ya" === $"yb", 1L).otherwise(0L)).as("ties_y"))
      agg.select(
        $"n_pairs", $"concordant", $"discordant", $"ties_x", $"ties_y",
        format_string("%.9f",
          ($"concordant" - $"discordant").cast("double")
            / sqrt((($"n_pairs" - $"ties_x") * ($"n_pairs" - $"ties_y")).cast("double")))
          .as("tau_b"))
    }),

    // JENSEN–SHANNON divergence drift — the symmetric, bounded
    // upgrade of q96's PSI on the same fixed-bin substrate (order-
    // value bins, pre-1995 reference vs current, Laplace-smoothed).
    // Where PSI can blow up on near-empty bins, JSD ∈ [0,1] bit. Each
    // bin's term 0.5·(p·log2(p/m) + q·log2(q/m)) is a deterministic
    // double from exact integer counts, floor-quantized to NANO units
    // per bin BEFORE summation — the cross-bin sum is pure integer,
    // so bin addition order can never perturb the result.
    "q160_js_divergence" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy() // 10 bin rows
      val log2e = (c: org.apache.spark.sql.Column) => log(c) / log(lit(2.0))
      orders(s, d)
        .select(year($"o_orderdate").as("y"),
          least(floor($"o_totalprice" / 50000).cast("int"), lit(9)).as("bin"))
        .groupBy($"bin")
        .agg(sum(when($"y" < 1995, 1L).otherwise(0L)).as("n_ref"),
          sum(when($"y" >= 1995, 1L).otherwise(0L)).as("n_cur"))
        .withColumn("p", ($"n_ref" + 1) * lit(1.0) / (sum($"n_ref").over(w) + 10))
        .withColumn("q", ($"n_cur" + 1) * lit(1.0) / (sum($"n_cur").over(w) + 10))
        .withColumn("m", ($"p" + $"q") / 2.0)
        .withColumn("term_nano",
          floor((log2e($"p" / $"m") * $"p" + log2e($"q" / $"m") * $"q")
            * lit(0.5) * lit(1e9)).cast("long"))
        .select($"bin", $"n_ref", $"n_cur", $"term_nano",
          sum($"term_nano").over(w).as("js_total_nano"))
        .orderBy($"bin")
    }),

    // WALD–WOLFOWITZ runs test — "is daily revenue a random sequence
    // around its median, or does it trend/cluster?" The sequence-
    // randomness gate the forecasting family (q143/q145/q157) rests
    // on. Median via DOUBLED order statistics (lo+hi of the middle
    // pair — exact integers, no interpolation float); days equal to
    // the median are excluded per the classical test. Runs are counted
    // with one lag over the day-ordered aggregate-sized table; μ and
    // z evaluate once from exact integer counts through identical
    // double trees.
    "q161_runs_test" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
        .localCheckpoint() // day-table-sized
      val wOrd = Window.orderBy($"rev", $"day") // day-table-sized
      val wAll = Window.partitionBy() // day-table-sized
      val ranked = daily
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
      val dmed = ranked
        .filter($"rn" === expr("(n + 1) DIV 2") || $"rn" === expr("(n + 2) DIV 2"))
        .agg(sum($"rev").as("s"), count(lit(1)).as("c"))
        .select(($"s" * 2 / $"c").cast("long").as("dmed"))
      val signed = daily.crossJoin(broadcast(dmed)) // single-row side
        .filter($"rev" * 2 =!= $"dmed")
        .withColumn("sign", when($"rev" * 2 > $"dmed", 1).otherwise(-1))
      val wDay = Window.orderBy($"day") // day-table-sized
      val runs = signed
        .withColumn("brk",
          when(lag($"sign", 1).over(wDay).isNull
            || lag($"sign", 1).over(wDay) =!= $"sign", 1L).otherwise(0L))
      runs.agg(
        sum(when($"sign" === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when($"sign" === -1, 1L).otherwise(0L)).as("n_neg"),
        sum($"brk").as("n_runs"))
        .withColumn("n", ($"n_pos" + $"n_neg").cast("double"))
        .withColumn("mu",
          lit(1.0) + lit(2.0) * $"n_pos" * $"n_neg" / $"n")
        .withColumn("z", format_string("%.6f",
          ($"n_runs" - $"mu") / sqrt(
            (lit(2.0) * $"n_pos" * $"n_neg"
              * (lit(2.0) * $"n_pos" * $"n_neg" - $"n"))
              / ($"n" * $"n" * ($"n" - 1)))))
        .select($"n_pos", $"n_neg", $"n_runs",
          format_string("%.6f", $"mu").as("mean_runs"), $"z")
    }),

    // MANN–KENDALL trend test — "is daily revenue monotonically
    // trending?" The nonparametric companion of q161 (randomness) and
    // q159 (correlation): S = Σ_{i<j} sign(x_j − x_i) over the
    // day-ordered series, variance with the exact tie-correction term,
    // both pure integers off the aggregate-sized day table; z evaluates
    // once through an identical double tree (continuity-corrected).
    "q162_mann_kendall" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("rev"))
        .localCheckpoint() // day-table-sized
      val a = daily.select($"day".as("da"), $"rev".as("xa"))
      val b = daily.select($"day".as("db"), $"rev".as("xb"))
      val sStat = a.join(b, $"da" < $"db")
        .agg(sum(when($"xb" > $"xa", 1L).when($"xb" < $"xa", -1L).otherwise(0L))
          .as("s_stat"))
      val ties = daily.groupBy($"rev").agg(count(lit(1)).as("t"))
        .agg(count(lit(1)).as("n_groups"),
          sum($"t").as("n_days"),
          sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tie_term"))
      sStat.crossJoin(ties) // both single-row
        .withColumn("var18",
          $"n_days" * ($"n_days" - 1) * (lit(2) * $"n_days" + 5) - $"tie_term")
        .withColumn("z", format_string("%.6f",
          when($"s_stat" > 0, ($"s_stat" - 1).cast("double"))
            .when($"s_stat" < 0, ($"s_stat" + 1).cast("double"))
            .otherwise(lit(0.0))
            / sqrt($"var18".cast("double") / 18.0)))
        .select($"n_days", $"s_stat", $"var18", $"z")
    }),

    // COCHRAN–ARMITAGE trend test — "does the finished-order share
    // RISE with order priority?" The ordered-categories member of the
    // proportion-test family (q100 is two-group): scores w_i = the
    // priority's leading digit, outcome = o_orderstatus 'F'. The
    // statistic needs only five per-group integer pairs (n_i, r_i) and
    // the grand totals — one conditional-aggregate exchange, z once
    // through an identical double tree.
    "q163_cochran_armitage" -> ((s, d) => {
      import s.implicits._
      val g = orders(s, d)
        .groupBy(substring($"o_orderpriority", 1, 1).cast("int").as("w"))
        .agg(count(lit(1)).as("n_i"),
          sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("r_i"))
      val wAll = Window.partitionBy() // 5 rows
      g.withColumn("grand_n", sum($"n_i").over(wAll))
        .withColumn("grand_r", sum($"r_i").over(wAll))
        .withColumn("num_term", $"w" * ($"r_i" * $"grand_n" - $"n_i" * $"grand_r"))
        .withColumn("sw1", sum($"w" * $"n_i").over(wAll))
        .withColumn("sw2", sum($"w" * $"w" * $"n_i").over(wAll))
        .withColumn("num", sum($"num_term").over(wAll))
        .withColumn("z", format_string("%.6f",
          $"num".cast("double") /
            sqrt(($"grand_r" * ($"grand_n" - $"grand_r")).cast("double")
              / $"grand_n".cast("double")
              * ($"grand_n" * $"sw2" - $"sw1" * $"sw1").cast("double"))))
        .select($"w", $"n_i", $"r_i", $"num", $"z")
        .orderBy($"w")
    }),

    // LASPEYRES / PAASCHE / FISHER price indices between two years —
    // the classical economics roll-up a revenue warehouse publishes
    // ("how much of growth is price vs volume?"). Per-part unit
    // prices are floor-quantized to integer MICRO-CENTS (P·1e6 DIV Q,
    // positive so DIV and // agree), index numerators/denominators are
    // then exact integer Σ u·q over the parts present in BOTH years —
    // one (part,year) exchange, the index itself is aggregate-sized.
    "q164_price_index" -> ((s, d) => {
      import s.implicits._
      val (y0, y1) = (1995, 1996)
      val py = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey", year($"o_orderdate").as("y")),
          $"l_orderkey" === $"o_orderkey")
        .filter($"y" === y0 || $"y" === y1)
        .groupBy($"l_partkey".as("pk"), $"y")
        .agg(sum(cents38($"l_extendedprice")).cast("long").as("p"),
          sum($"l_quantity".cast("long")).as("q"))
        .withColumn("u", expr("p * 1000000 DIV q"))
      val both = py.filter($"y" === y0)
        .select($"pk", $"u".as("u0"), $"q".as("q0"))
        .join(py.filter($"y" === y1).select($"pk", $"u".as("u1"), $"q".as("q1")),
          Seq("pk"))
      both.agg(
        count(lit(1)).as("n_parts"),
        sum(($"u1" * $"q0").cast(D38)).as("l_num"),
        sum(($"u0" * $"q0").cast(D38)).as("l_den"),
        sum(($"u1" * $"q1").cast(D38)).as("p_num"),
        sum(($"u0" * $"q1").cast(D38)).as("p_den"))
        .select(lit(y0).as("year0"), lit(y1).as("year1"), $"n_parts",
          expr("l_num * 10000 DIV l_den").as("laspeyres_bp"),
          expr("p_num * 10000 DIV p_den").as("paasche_bp"),
          format_string("%.6f", sqrt(
            ($"l_num".cast("double") / $"l_den".cast("double"))
              * ($"p_num".cast("double") / $"p_den".cast("double"))))
            .as("fisher"))
    }),

    // XYZ demand-variability classes — the inventory-planning twin of
    // q128's ABC value classes: X (steady, CV<0.5), Y (variable,
    // CV<1.0), Z (erratic) per part over its monthly demand series.
    // The CV threshold compare never touches floats: CV² vs t² cross-
    // multiplies to integers (4·(n·Σx²−S²) < S² for t=0.5), so class
    // assignment is exact at any scale; one (part,month) exchange +
    // one part-keyed aggregate.
    "q165_xyz_classes" -> ((s, d) => {
      import s.implicits._
      val pm = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey",
          (year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_partkey".as("pk"), $"ym")
        .agg(sum($"l_quantity".cast("long")).as("x"))
      val stats = pm.groupBy($"pk")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
        .withColumn("var_num", $"n" * $"sxx" - $"sx" * $"sx")
      val cls = stats.withColumn("xyz_class",
        when($"var_num" * 4 < $"sx" * $"sx", "X")
          .when($"var_num" < $"sx" * $"sx", "Y")
          .otherwise("Z"))
      cls.groupBy($"xyz_class")
        .agg(count(lit(1)).as("n_parts"),
          sum($"n").as("part_months"),
          min($"pk").as("min_part"), max($"pk").as("max_part"))
        .orderBy($"xyz_class")
    }),

    // PEAK ORDERS-IN-FLIGHT — the interval-stabbing maximum ("how many
    // orders were simultaneously open on the worst day of each
    // year?"): +1 at o_orderdate, −1 the day after the order's last
    // shipment, running sum over the day-keyed delta table, per-year
    // argmax with a day tie-break. The classic sweep-line shape at
    // scale: two delta rows per order collapse into the aggregate-
    // sized calendar before the only window runs.
    "q167_open_orders_peak" -> ((s, d) => {
      import s.implicits._
      val span = lineitem(s, d)
        .groupBy($"l_orderkey").agg(max(to_date($"l_shipdate")).as("closed"))
        .join(orders(s, d).select($"o_orderkey", to_date($"o_orderdate").as("opened")),
          $"l_orderkey" === $"o_orderkey")
      val deltas = span.select($"opened".as("day"), lit(1L).as("delta"))
        .unionByName(span.select(date_add($"closed", 1).as("day"), lit(-1L).as("delta")))
        .groupBy($"day").agg(sum($"delta").as("d"))
      val wRun = Window.orderBy($"day") // day-table-sized
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val open = deltas.withColumn("open_cnt", sum($"d").over(wRun))
      val wYr = Window.partitionBy(year($"day"))
        .orderBy($"open_cnt".desc, $"day".asc)
      open.withColumn("rk", row_number().over(wYr)).filter($"rk" === 1)
        .select(year($"day").as("yr"), fmtTs($"day".cast("timestamp")).as("peak_day"),
          $"open_cnt".as("peak_open"))
        .orderBy($"yr")
    }),

    // CROSTON intermittent-demand forecasting — the sparse-series
    // member of the forecasting family (q143 Holt assumes demand
    // every period; Croston is the standard when most periods are
    // ZERO, smoothing nonzero sizes and inter-demand intervals
    // separately; forecast = z/p). Convention pinned on both sides:
    // z₀ = first demand, p₀ = 1, α = 0.2, updates only on demand
    // months. Same engine-side fold discipline as q143: the recurrence
    // runs over month-sorted AGGREGATE-SIZED per-part arrays in one
    // identical double sequence on both engines; the oracle replays it
    // as a recursive CTE keyed by (part, step). Parts with <4 demand
    // months are excluded (no series to smooth).
    "q166_croston" -> ((s, d) => {
      import s.implicits._
      val pm = lineitem(s, d)
        .join(orders(s, d).select($"o_orderkey",
          ((year($"o_orderdate") - 1992) * 12 + month($"o_orderdate") - 1).as("midx")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_partkey".as("pk"), $"midx")
        .agg(sum($"l_quantity".cast("long")).as("x"))
      pm.groupBy($"pk")
        .agg(array_sort(collect_list(struct($"midx", $"x"))).as("arr"))
        .filter(size($"arr") >= 4)
        .select($"pk", size($"arr").cast("long").as("n_periods"),
          expr("""
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct(
                'z', CAST(arr[0].x AS DOUBLE),
                'p', CAST(1.0 AS DOUBLE),
                'lm', arr[0].midx),
              (a, e) -> named_struct(
                'z', 0.2D * CAST(e.x AS DOUBLE) + 0.8D * a.z,
                'p', 0.2D * CAST(e.midx - a.lm AS DOUBLE) + 0.8D * a.p,
                'lm', e.midx))
          """).as("st"))
        .select($"pk", $"n_periods",
          format_string("%.6f", $"st.z").as("demand_size"),
          format_string("%.6f", $"st.p").as("avg_interval"),
          format_string("%.6f", $"st.z" / $"st.p").as("forecast_per_month"))
        .orderBy($"pk")
    }),

    // K-FOLD cross-validation assignment — the evaluation-protocol
    // member of the deterministic split family (samp_train_val_test
    // gives one split; this gives all 5 rotations at once). Fold =
    // 16-bit md5 prefix mod 5: stable under reprocessing, no RNG, and
    // a row's fold never depends on corpus size (the property that
    // lets folds be built incrementally at 100 TB). The output is the
    // fold-balance audit: size, char mass, language spread, and each
    // fold's share in exact basis points — disjointness and coverage
    // are pinned by total_docs riding every row.
    "samp_kfold" -> ((s, d) => {
      import s.implicits._
      val fold = (conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 4),
        16, 10).cast("long") % 5).as("fold")
      val w = Window.partitionBy() // 5 fold rows
      documents(s, d)
        .groupBy(fold)
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          countDistinct($"lang").as("n_langs"))
        .withColumn("total_docs", sum($"n_docs").over(w))
        .withColumn("share_bp", expr("n_docs * 10000 DIV total_docs"))
        .orderBy($"fold")
    }),

    // Character-CLASS corpus profile per language — the charset-
    // anomaly gate a curation pass runs before tokenizer training
    // (mojibake, stray markup, and digit-heavy spam all surface here
    // before they poison a vocab). Counts are exact integer length
    // deltas under regexp_replace — one narrow scan, one keyed
    // aggregate, ratios in integer basis points.
    "text_charset_profile" -> ((s, d) => {
      import s.implicits._
      val len = length($"text")
      val nonAlpha = len - length(regexp_replace($"text", "[a-zA-Z]", ""))
      val digits = len - length(regexp_replace($"text", "[0-9]", ""))
      val spaces = len - length(regexp_replace($"text", " ", ""))
      val nonAscii = len - length(regexp_replace($"text", "[\\x00-\\x7F]", ""))
      documents(s, d)
        .select($"lang", len.as("len"), nonAlpha.as("al"), digits.as("di"),
          spaces.as("sp"), nonAscii.as("na"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"len").as("chars"),
          sum($"al").as("alpha_chars"), sum($"di").as("digit_chars"),
          sum($"sp").as("space_chars"), sum($"na").as("non_ascii_chars"))
        .withColumn("alpha_bp", expr("alpha_chars * 10000 DIV chars"))
        .withColumn("space_bp", expr("space_chars * 10000 DIV chars"))
        .orderBy($"lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "q158_friedman_test" ->
      """WITH cell AS (
        |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') // 7 AS wk,
        |    o_orderpriority AS priority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |complete AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY wk) AS n_in_block FROM cell)
        |  WHERE n_in_block = 5),
        |ranked AS (
        |  SELECT priority,
        |    2 * rank() OVER (PARTITION BY wk ORDER BY rev)
        |      + count(*) OVER (PARTITION BY wk, rev) - 1 AS r2
        |  FROM complete),
        |t AS (
        |  SELECT priority, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(r2) AS BIGINT) AS rank2_sum
        |  FROM ranked GROUP BY priority),
        |g AS (SELECT *, SUM(rank2_sum * rank2_sum) OVER () AS sum_r2sq FROM t)
        |SELECT priority, n_blocks, rank2_sum,
        |  printf('%.6f',
        |    3.0 * CAST(sum_r2sq AS DOUBLE) / CAST(n_blocks * 5 * 6 AS DOUBLE)
        |      - 3.0 * CAST(n_blocks * 6 AS DOUBLE)) AS q_stat,
        |  CAST(4 AS INTEGER) AS df
        |FROM g ORDER BY priority""".stripMargin,

    "q159_kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT sign(a.x - b.x) * sign(a.y - b.y) AS cd,
        |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN cd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(SUM(CASE WHEN cd = -1 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |    CAST(SUM(tx) AS BIGINT) AS ties_x,
        |    CAST(SUM(ty) AS BIGINT) AS ties_y
        |  FROM p)
        |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
        |  printf('%.9f', CAST(concordant - discordant AS DOUBLE)
        |    / sqrt(CAST((n_pairs - ties_x) * (n_pairs - ties_y) AS DOUBLE))) AS tau_b
        |FROM agg""".stripMargin,

    "q160_js_divergence" ->
      """WITH b AS (
        |  SELECT least(CAST(floor(o_totalprice / 50000) AS INTEGER), 9) AS bin,
        |    CASE WHEN year(o_orderdate) < 1995 THEN 1 ELSE 0 END AS is_ref
        |  FROM orders),
        |cnt AS (
        |  SELECT bin,
        |    CAST(SUM(is_ref) AS BIGINT) AS n_ref,
        |    CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin),
        |pq AS (
        |  SELECT bin, n_ref, n_cur,
        |    (n_ref + 1) * 1.0 / (SUM(n_ref) OVER () + 10) AS p,
        |    (n_cur + 1) * 1.0 / (SUM(n_cur) OVER () + 10) AS q
        |  FROM cnt),
        |t AS (
        |  SELECT bin, n_ref, n_cur,
        |    CAST(floor((log2(p / ((p + q) / 2.0)) * p
        |      + log2(q / ((p + q) / 2.0)) * q) * 0.5 * 1e9) AS BIGINT) AS term_nano
        |  FROM pq)
        |SELECT bin, n_ref, n_cur, term_nano,
        |  CAST(SUM(term_nano) OVER () AS BIGINT) AS js_total_nano
        |FROM t ORDER BY bin""".stripMargin,

    "q161_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM daily),
        |ranked AS (
        |  SELECT rev, row_number() OVER (ORDER BY rev, day) AS rn FROM daily),
        |med AS (
        |  SELECT CAST(SUM(rev) * 2 / count(*) AS BIGINT) AS dmed
        |  FROM ranked, n
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        |signed AS (
        |  SELECT day, CASE WHEN rev * 2 > dmed THEN 1 ELSE -1 END AS sign
        |  FROM daily, med WHERE rev * 2 != dmed),
        |runs AS (
        |  SELECT sign,
        |    CASE WHEN lag(sign) OVER (ORDER BY day) IS NULL
        |      OR lag(sign) OVER (ORDER BY day) != sign THEN 1 ELSE 0 END AS brk
        |  FROM signed),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(SUM(brk) AS BIGINT) AS n_runs
        |  FROM runs)
        |SELECT n_pos, n_neg, n_runs,
        |  printf('%.6f', 1.0 + 2.0 * n_pos * n_neg
        |    / CAST(n_pos + n_neg AS DOUBLE)) AS mean_runs,
        |  printf('%.6f',
        |    (n_runs - (1.0 + 2.0 * n_pos * n_neg / CAST(n_pos + n_neg AS DOUBLE)))
        |    / sqrt((2.0 * n_pos * n_neg
        |        * (2.0 * n_pos * n_neg - CAST(n_pos + n_neg AS DOUBLE)))
        |      / (CAST(n_pos + n_neg AS DOUBLE) * CAST(n_pos + n_neg AS DOUBLE)
        |        * (CAST(n_pos + n_neg AS DOUBLE) - 1)))) AS z
        |FROM agg""".stripMargin,

    "q162_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
        |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n_days,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev)),
        |v AS (
        |  SELECT n_days, s_stat,
        |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
        |  FROM s, t)
        |SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
        |  printf('%.6f',
        |    (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |          ELSE 0.0 END)
        |    / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS z
        |FROM v""".stripMargin,

    "q163_cochran_armitage" ->
      """WITH g AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS w,
        |    CAST(count(*) AS BIGINT) AS n_i,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r_i
        |  FROM orders GROUP BY 1),
        |e1 AS (
        |  SELECT w, n_i, r_i,
        |    SUM(n_i) OVER () AS grand_n, SUM(r_i) OVER () AS grand_r,
        |    SUM(w * n_i) OVER () AS sw1, SUM(w * w * n_i) OVER () AS sw2
        |  FROM g),
        |e AS (
        |  SELECT *,
        |    SUM(w * (r_i * grand_n - n_i * grand_r)) OVER () AS num
        |  FROM e1)
        |SELECT w, n_i, r_i, CAST(num AS BIGINT) AS num,
        |  printf('%.6f', CAST(num AS DOUBLE) /
        |    sqrt(CAST(grand_r * (grand_n - grand_r) AS DOUBLE)
        |      / CAST(grand_n AS DOUBLE)
        |      * CAST(grand_n * sw2 - sw1 * sw1 AS DOUBLE))) AS z
        |FROM e ORDER BY w""".stripMargin,

    "q164_price_index" ->
      """WITH py AS (
        |  SELECT l_partkey AS pk, year(o_orderdate) AS y,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS p,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |u AS (SELECT pk, y, p * 1000000 // q AS u, q FROM py),
        |matched AS (
        |  SELECT a.pk, a.u AS u0, a.q AS q0, b.u AS u1, b.q AS q1
        |  FROM u a JOIN u b ON a.pk = b.pk AND a.y = 1995 AND b.y = 1996),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    SUM(CAST(u1 AS HUGEINT) * q0) AS l_num,
        |    SUM(CAST(u0 AS HUGEINT) * q0) AS l_den,
        |    SUM(CAST(u1 AS HUGEINT) * q1) AS p_num,
        |    SUM(CAST(u0 AS HUGEINT) * q1) AS p_den
        |  FROM matched)
        |SELECT CAST(1995 AS INTEGER) AS year0, CAST(1996 AS INTEGER) AS year1,
        |  n_parts,
        |  CAST(l_num * 10000 // l_den AS BIGINT) AS laspeyres_bp,
        |  CAST(p_num * 10000 // p_den AS BIGINT) AS paasche_bp,
        |  printf('%.6f', sqrt(
        |    (CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
        |    * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)))) AS fisher
        |FROM agg""".stripMargin,

    "q165_xyz_classes" ->
      """WITH pm AS (
        |  SELECT l_partkey AS pk,
        |    year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM pm GROUP BY pk),
        |cls AS (
        |  SELECT pk, n,
        |    CASE WHEN (n * sxx - sx * sx) * 4 < sx * sx THEN 'X'
        |         WHEN (n * sxx - sx * sx) < sx * sx THEN 'Y'
        |         ELSE 'Z' END AS xyz_class
        |  FROM st)
        |SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(n) AS BIGINT) AS part_months,
        |  min(pk) AS min_part, max(pk) AS max_part
        |FROM cls GROUP BY xyz_class ORDER BY xyz_class""".stripMargin,

    "q167_open_orders_peak" ->
      """WITH span AS (
        |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS opened,
        |    c.closed
        |  FROM orders o JOIN (
        |    SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS closed
        |    FROM lineitem GROUP BY l_orderkey) c
        |  ON o.o_orderkey = c.l_orderkey),
        |deltas AS (
        |  SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM (
        |    SELECT opened AS day, 1 AS delta FROM span
        |    UNION ALL
        |    SELECT closed + 1, -1 FROM span)
        |  GROUP BY day),
        |open_cnt AS (
        |  SELECT day, SUM(d) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_cnt
        |  FROM deltas),
        |ranked AS (
        |  SELECT CAST(year(day) AS INTEGER) AS yr, day, open_cnt,
        |    row_number() OVER (PARTITION BY year(day)
        |      ORDER BY open_cnt DESC, day) AS rk
        |  FROM open_cnt)
        |SELECT yr, strftime(CAST(day AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS peak_day,
        |  CAST(open_cnt AS BIGINT) AS peak_open
        |FROM ranked WHERE rk = 1 ORDER BY yr""".stripMargin,

    "q166_croston" ->
      """WITH RECURSIVE pm AS (
        |  SELECT l_partkey AS pk,
        |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS midx,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |eligible AS (
        |  SELECT pk FROM pm GROUP BY pk HAVING count(*) >= 4),
        |idx AS (
        |  SELECT p.pk, p.midx, CAST(p.x AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY p.pk ORDER BY p.midx) AS rn
        |  FROM pm p JOIN eligible e ON p.pk = e.pk),
        |fold AS (
        |  SELECT pk, rn, midx, x AS z, CAST(1.0 AS DOUBLE) AS p
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT f.pk, i.rn, i.midx,
        |    CAST(0.2 AS DOUBLE) * i.x + CAST(0.8 AS DOUBLE) * f.z,
        |    CAST(0.2 AS DOUBLE) * CAST(i.midx - f.midx AS DOUBLE)
        |      + CAST(0.8 AS DOUBLE) * f.p
        |  FROM fold f JOIN idx i ON i.pk = f.pk AND i.rn = f.rn + 1),
        |last AS (SELECT pk, max(rn) AS n FROM fold GROUP BY pk)
        |SELECT f.pk, CAST(l2.n AS BIGINT) AS n_periods,
        |  printf('%.6f', f.z) AS demand_size,
        |  printf('%.6f', f.p) AS avg_interval,
        |  printf('%.6f', f.z / f.p) AS forecast_per_month
        |FROM fold f JOIN last l2 ON f.pk = l2.pk AND f.rn = l2.n
        |ORDER BY f.pk""".stripMargin,

    "samp_kfold" ->
      """WITH f AS (
        |  SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 5
        |      AS fold,
        |    n_chars, lang
        |  FROM documents),
        |t AS (
        |  SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM f GROUP BY fold)
        |SELECT fold, n_docs, sum_chars, n_langs,
        |  CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
        |  CAST(n_docs * 10000 // SUM(n_docs) OVER () AS BIGINT) AS share_bp
        |FROM t ORDER BY fold""".stripMargin,

    "text_charset_profile" ->
      """WITH per AS (
        |  SELECT lang, length(text) AS len,
        |    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS al,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS di,
        |    length(text) - length(replace(text, ' ', '')) AS sp,
        |    length(text) - length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS na
        |  FROM documents),
        |t AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len) AS BIGINT) AS chars,
        |    CAST(SUM(al) AS BIGINT) AS alpha_chars,
        |    CAST(SUM(di) AS BIGINT) AS digit_chars,
        |    CAST(SUM(sp) AS BIGINT) AS space_chars,
        |    CAST(SUM(na) AS BIGINT) AS non_ascii_chars
        |  FROM per GROUP BY lang)
        |SELECT lang, n_docs, chars, alpha_chars, digit_chars, space_chars,
        |  non_ascii_chars,
        |  alpha_chars * 10000 // chars AS alpha_bp,
        |  space_chars * 10000 // chars AS space_bp
        |FROM t ORDER BY lang""".stripMargin
  )
}
