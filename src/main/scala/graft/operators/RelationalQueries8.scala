package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.OracleParity._

/** Round-10 additions (q129–q135): rank statistics (Spearman),
  * engagement ratios (DAU/WAU/MAU stickiness), one-way ANOVA,
  * winsorized robust mean, market concentration (HHI), session bounce
  * rate, and series autocorrelation — statistics / product-analytics
  * shapes the suite didn't yet cover, all on the established exactness
  * contract: integer/decimal sums (order-independent, map-side
  * combinable), doubles only at the very end through identical
  * expression trees on both engines, rendered with format_string.
  */
object RelationalQueries8 extends graft.QueryModule {
  private val D38 = DecimalType(38, 0)

  /** Money column as exact integer cents, decimal-38 typed (overflow-
    * safe for 100 TB sums — a bigint cents sum saturates around 9e16
    * dollars, which a petabyte-scale fact table can actually reach). */
  private def cents38(c: org.apache.spark.sql.Column) =
    (dec(c) * 100).cast(D38)

  val queries: Map[String, Q] = Map(
    // SPEARMAN rank correlation (quantity vs price) with tie-AVERAGED
    // ranks, fully distributed: per-column value counts (keyed agg),
    // GlobalRank.withPrefixSum over the distinct-value sets for
    // cumulative counts, then 2×avg-rank = 2·cnt_before + cnt + 1
    // joined back to rows (quantity side broadcast — 50 values; price
    // side a keyed join). No row-level global window anywhere: the
    // only full sorts run over DISTINCT VALUES. The correlation itself
    // is Pearson over the doubled ranks (scale cancels) from six
    // DECIMAL(38)-exact sums — both engines see identical integers,
    // cast to identical doubles, and print identical bits at %.9f.
    "q129_spearman_corr" -> ((s, d) => {
      import s.implicits._
      // pinned once: the row set feeds both per-column count tables AND
      // the final rank join — without the checkpoint the fact table
      // would be scanned three times (same trade-off note as GlobalRank)
      val base = lineitem(s, d).select(
        $"l_quantity".cast("long").as("x"),
        cents38($"l_extendedprice").cast("long").as("y"))
        .localCheckpoint()
      def r2Of(colName: String): DataFrame = {
        val counts = base.groupBy(col(colName)).agg(count(lit(1)).as("cnt"))
        val (cum, _) = GlobalRank.withPrefixSum(
          counts, "_cum", col("cnt"), Seq(col(colName)))
        cum.select(col(colName),
          (lit(2) * col("_cum") - col("cnt") + 1).as(s"r2_$colName"))
      }
      // r20: the QUANTITY side's value universe is bounded (~50
      // distinct at any corpus size), so its cumulative count needs no
      // two-pass GlobalRank (repartitionByRange + checkpoint + driver
      // collect — 2 jobs); an aggregate-sized broadcast ≤-self-join
      // computes the identical inclusive prefix inside the main DAG.
      // The price side keeps GlobalRank (unbounded value set).
      val r2x = {
        val counts = base.groupBy($"x").agg(count(lit(1)).as("cnt"))
        counts.as("a")
          .join(broadcast(counts.select($"x".as("xb"), $"cnt".as("cntb")).as("b")),
            $"xb" <= $"a.x")
          .groupBy($"a.x".as("x"), $"a.cnt".as("cnt"))
          .agg(sum($"cntb").as("_cum"))
          .select($"x", (lit(2) * $"_cum" - $"cnt" + 1).as("r2_x"))
      }
      val withRanks = base
        .join(broadcast(r2x), Seq("x"))
        .join(r2Of("y"), Seq("y"))
      val sums = withRanks.agg(
        count(lit(1)).as("n"),
        sum($"r2_x".cast(D38)).as("sx"),
        sum($"r2_y".cast(D38)).as("sy"),
        sum(($"r2_x".cast(D38) * $"r2_x".cast(D38))).as("sxx"),
        sum(($"r2_y".cast(D38) * $"r2_y".cast(D38))).as("syy"),
        sum(($"r2_x".cast(D38) * $"r2_y".cast(D38))).as("sxy"))
      val nD = $"n".cast(D38)
      val num = (nD * $"sxy" - $"sx" * $"sy").cast("double")
      val dx = (nD * $"sxx" - $"sx" * $"sx").cast("double")
      val dy = (nD * $"syy" - $"sy" * $"sy").cast("double")
      sums.select($"n",
        format_string("%.9f", num / sqrt(dx * dy)).as("spearman_rho"))
    }),

    // DAU / WAU(7) / MAU(28) / stickiness over ordering customers.
    // Exact rolling DISTINCT counts without any distinct-window state.
    // r20 rewrite (guide §2.3 "shuffle fewer bytes"): a user is
    // counted on day D for window w iff D lies in the union of
    // [dᵢ, dᵢ+w−1] over their active days dᵢ — so per user, merge
    // active days into maximal runs with gaps < w (one lag window
    // keyed by user), emit ±1 DIFF EVENTS at each merged interval's
    // boundaries, and prefix-sum the events over the day spine. The
    // old shape exploded every pair ×7/×28 and re-deduplicated the
    // blowup (5.2M-row shuffles at sf0.1); this shuffles the pair
    // table once per window and then calendar-sized event rows — at
    // any corpus size the heavy shuffle is gone, and the only
    // unpartitioned window runs over the DAY SPINE (calendar-bounded,
    // ~1.1k rows — the sanctioned aggregate-sized-window class).
    // Counts are identical integers (interval union ≡ exploded
    // distinct), verified vs the unchanged DuckDB oracle.
    "q130_active_user_ratios" -> ((s, d) => {
      import s.implicits._
      // pinned once: dau, the day spine and both rolling passes all
      // read the pair table
      val pairs = orders(s, d)
        .select($"o_custkey".as("u"), to_date($"o_orderdate").as("day"))
        .distinct()
        .localCheckpoint()
      val days = pairs.select($"day").distinct()
      val dau = pairs.groupBy($"day").agg(count(lit(1)).as("dau"))
      // the lag is window-size-independent: computed once, pinned
      // (hash(u) partitioning + (u, day) ordering survive the
      // checkpoint, so each rolling pass is sort- and shuffle-free)
      val wU = Window.partitionBy($"u").orderBy($"day")
      val lagged = pairs
        .withColumn("prev", lag($"day", 1).over(wU))
        .localCheckpoint()
      def rolling(w: Int, name: String) = {
        val runs = lagged
          .withColumn("newRun",
            ($"prev".isNull || datediff($"day", $"prev") >= w).cast("long"))
          .withColumn("runId", sum($"newRun").over(wU))
          .groupBy($"u", $"runId")
          .agg(min($"day").as("start"), date_add(max($"day"), w - 1).as("end"))
        val ev = runs.select(explode(array(
            struct($"start".as("day"), lit(1L).as("delta")),
            struct(date_add($"end", 1).as("day"), lit(-1L).as("delta")))).as("e"))
          .select($"e.day".as("day"), $"e.delta".as("delta"))
          // the spine rides along at delta 0 so every output day has a
          // prefix row even mid-interval
          .unionByName(days.select($"day", lit(0L).as("delta")))
          .groupBy($"day").agg(sum($"delta").as("delta"))
        val wDay = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, 0)
        ev.withColumn(name, sum($"delta").over(wDay)).select($"day", col(name))
      }
      days
        .join(dau, Seq("day"))
        .join(rolling(7, "wau7"), Seq("day"))
        .join(rolling(28, "mau28"), Seq("day"))
        .select(date_format($"day", "yyyy-MM-dd").as("day"),
          $"dau", $"wau7", $"mau28",
          expr("dau * 10000 DIV mau28").as("stickiness_bp"))
        .orderBy($"day")
    }),

    // One-way ANOVA of price across returnflags: F-statistic and η²
    // from per-group (n, Σc, Σc²) in ONE partial+final aggregate over
    // exact DECIMAL(38) cents. The only order-sensitive double — the
    // Σ_g S_g²/n_g term — folds over an ARRAY SORTED BY GROUP KEY
    // (aggregate() / list_reduce), so both engines add the k=3 group
    // terms in the same order and the F bits match. Group count is a
    // constant, so the fold is aggregate-sized at any corpus size.
    "q131_anova_oneway" -> ((s, d) => {
      import s.implicits._
      val c = cents38($"l_extendedprice")
      val g = lineitem(s, d).groupBy($"l_returnflag").agg(
        count(lit(1)).as("n_g"),
        sum(c).as("s_g"),
        sum(c * c).as("ss_g"))
      val folded = g.agg(
        count(lit(1)).as("k"),
        sum($"n_g").as("n"),
        sum($"s_g").as("s"),
        sum($"ss_g").as("ss"),
        aggregate(
          array_sort(collect_list(struct($"l_returnflag".as("f"),
            ($"s_g".cast("double") * $"s_g".cast("double") / $"n_g").as("t")))),
          lit(0.0), (a, x) => a + x.getField("t")).as("tsum"))
      val sD = $"s".cast("double")
      val ssb = $"tsum" - sD * sD / $"n"
      val ssw = $"ss".cast("double") - $"tsum"
      folded.select($"n", $"k",
        format_string("%.9f", ssb / (ssb + ssw)).as("eta_sq"),
        format_string("%.6f", (ssb / ($"k" - 1)) / (ssw / ($"n" - $"k"))).as("f_stat"))
    }),

    // Winsorized mean: prices clipped at the exact p05/p95 ORDER
    // STATISTICS (value at global rank ⌈0.05n⌉ / ⌈0.95n⌉ — rank-based,
    // so both engines agree bit-for-bit, unlike interpolating
    // percentile definitions). The rank rides GlobalRank's two-pass
    // range partitioning; the two threshold rows are the only driver
    // collect (model-sized); the clipped sum is exact DECIMAL(38)
    // cents. The value at rank k is tiebreak-independent, so the
    // oracle's plain row_number over cents picks the same thresholds.
    "q132_winsorized_mean" -> ((s, d) => {
      import s.implicits._
      val base = lineitem(s, d).select(
        cents38($"l_extendedprice").cast("long").as("c"),
        $"l_orderkey", $"l_linenumber")
      val (ranked, n) = GlobalRank.withRank(base, "_r",
        Seq($"c", $"l_orderkey", $"l_linenumber"))
      val k05 = (5 * n + 99) / 100
      val k95 = (95 * n + 99) / 100
      val thr = ranked.filter($"_r" === k05 || $"_r" === k95)
        .agg(min($"c").as("lo"), max($"c").as("hi"))
      // the mean is reported as EXACT micro-dollars (floor DIV) — a
      // formatted double hit a printf tie at sf0.01 (Java HALF_UP vs
      // C round-half-even on the same bits); integer arithmetic has
      // no ties to disagree on. Long cents·1e4 saturates ~9e14
      // dollars of clipped sum; the 100 TB variant lifts to D38.
      ranked.crossJoin(broadcast(thr))
        .select(greatest(least($"c", $"hi"), $"lo").as("cc"), $"lo", $"hi")
        .groupBy($"lo", $"hi")
        .agg(count(lit(1)).as("n"), sum($"cc").as("sum_c"))
        .select($"n",
          format_string("%.2f", $"lo" / lit(100.0)).as("p05"),
          format_string("%.2f", $"hi" / lit(100.0)).as("p95"),
          expr("sum_c * 10000 DIV n").as("mean_e6"))
    }),

    // Herfindahl–Hirschman market concentration per nation: supplier
    // revenue shares in integer basis points (floor DIV — deterministic
    // in both engines), HHI = Σ share_bp². Dims broadcast, fact side
    // shuffles ONCE on (nation, supplier); the per-nation totals table
    // is 25 rows — broadcast back. Long cents are safe to ~9e16
    // dollar-cents per supplier; the 100 TB variant lifts the sums to
    // DECIMAL(38) (cents38) at the cost of a decimal DIV.
    "q133_hhi_concentration" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .join(broadcast(supplier(s, d).select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation(s, d).select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"s_suppkey")
        .agg(sum(cents38($"l_extendedprice").cast("long")).as("rev_c"))
      // per-nation totals via a KEYED window over the already-aggregated
      // (nation, supplier) table — a groupBy+join-back would re-scan the
      // fact table a second time; this re-shuffles only supplier-count
      // rows and every window stays keyed
      rev
        .withColumn("tot_c", sum($"rev_c").over(Window.partitionBy($"n_name")))
        .withColumn("share_bp", expr("rev_c * 10000 DIV tot_c"))
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          max($"share_bp").as("top_share_bp"),
          sum($"share_bp" * $"share_bp").as("hhi_e8"))
        .orderBy($"n_name")
    }),

    // Session bounce rate per day: 30-minute-gap sessions (the q48
    // boundary convention: a gap STRICTLY greater than 30 min starts a
    // new session), bounce = single-event session. session_window is
    // a keyed aggregate — one shuffle on user_id, no global state —
    // and the daily rollup is integer basis points.
    "q134_bounce_rate" -> ((s, d) => {
      import s.implicits._
      val sess = events(s, d)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select(to_date($"session_window.start").as("day"), $"n_events")
      sess.groupBy($"day")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounces"))
        .select(date_format($"day", "yyyy-MM-dd").as("day"),
          $"n_sessions", $"n_bounces",
          expr("n_bounces * 10000 DIV n_sessions").as("bounce_bp"))
        .orderBy($"day")
    }),

    // Lag-k autocorrelation (k = 1, 7) of daily order revenue. The
    // lagged pairing is an EQUI-join of the daily series against
    // itself shifted by k calendar days — no window over the whole
    // series, so a 100-year × 1000-series variant still shuffles on
    // the date key only. Pearson from exact DECIMAL(38) cent sums,
    // doubles at the end (same tree both engines).
    "q135_autocorr_daily" -> ((s, d) => {
      import s.implicits._
      // pinned once: the series self-joins at two lags (four reads) —
      // one fact scan materializes the day-count-sized series
      val daily = orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(cents38($"o_totalprice").cast("long")).as("rev"))
        .localCheckpoint()
      def rho(k: Int): DataFrame = {
        val a = daily.select($"day", $"rev".as("x"))
        val b = daily.select(date_add($"day", k).as("day"), $"rev".as("y"))
        val sums = a.join(b, Seq("day")).agg(
          count(lit(1)).as("n"),
          sum($"x".cast(D38)).as("sx"), sum($"y".cast(D38)).as("sy"),
          sum($"x".cast(D38) * $"x".cast(D38)).as("sxx"),
          sum($"y".cast(D38) * $"y".cast(D38)).as("syy"),
          sum($"x".cast(D38) * $"y".cast(D38)).as("sxy"))
        val nD = $"n".cast(D38)
        val num = (nD * $"sxy" - $"sx" * $"sy").cast("double")
        val dx = (nD * $"sxx" - $"sx" * $"sx").cast("double")
        val dy = (nD * $"syy" - $"sy" * $"sy").cast("double")
        sums.select(lit(k).as("lag"), $"n".as("n_pairs"),
          format_string("%.9f", num / sqrt(dx * dy)).as("autocorr"))
      }
      rho(1).unionByName(rho(7)).orderBy($"lag")
    }),

    // New-vs-returning customer split per month — the acquisition-vs-
    // retention decomposition every growth dashboard leads with. A
    // customer is NEW in their first-order month (keyed min), RETURNING
    // after; the month rollup joins the first-month table back on the
    // customer key (both sides keyed aggregates of the same fact scan —
    // pinned once). Integer basis points, no floats anywhere.
    "q136_new_vs_returning" -> ((s, d) => {
      import s.implicits._
      val om = orders(s, d)
        .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM").as("m"))
        .localCheckpoint()
      val firstM = om.groupBy($"o_custkey").agg(min($"m").as("first_m"))
      om.join(firstM, Seq("o_custkey"))
        .groupBy($"m")
        .agg(count_distinct($"o_custkey").as("n_active"),
          count_distinct(when($"m" === $"first_m", $"o_custkey")).as("n_new"))
        .select($"m".as("month"), $"n_active", $"n_new",
          ($"n_active" - $"n_new").as("n_returning"),
          expr("n_new * 10000 DIV n_active").as("new_share_bp"))
        .orderBy($"month")
    }),

    // Order-frequency distribution: how many customers placed exactly k
    // orders (plus the never-ordered count via an anti-join on the
    // customer dim) — the engagement histogram behind "power-user"
    // cuts. Two keyed aggregates; the histogram table is bounded by
    // max-orders-per-customer, an aggregate-sized output at any scale.
    "q137_order_frequency_hist" -> ((s, d) => {
      import s.implicits._
      val perCust = orders(s, d).groupBy($"o_custkey")
        .agg(count(lit(1)).as("k"))
      val zero = customer(s, d).select($"c_custkey")
        .join(perCust, $"c_custkey" === $"o_custkey", "left_anti")
        .agg(count(lit(1)).as("n_customers"))
        .select(lit(0L).as("k"), $"n_customers")
      perCust.groupBy($"k").agg(count(lit(1)).as("n_customers"))
        .unionByName(zero)
        .orderBy($"k")
    }),

    // Hill tail-index estimator over the price distribution: alpha =
    // k / Σ_{i≤k} ln(x_(i) / x_(k+1)) over the top-k order statistics —
    // the standard heavy-tail exponent behind "how extreme can an
    // order get" risk sizing. The top-(k+1) values come off GlobalRank
    // (range-partitioned two-pass, value-desc), so no global sort; the
    // ln terms are ratios of exact integer cents summed by a
    // RANK-ORDERED fold over k+1 = 101 rows (aggregate-sized at any
    // corpus size — ties in price are interchangeable under the fold,
    // so the tiebreak never reaches the doubles).
    "q138_hill_tail" -> ((s, d) => {
      import s.implicits._
      val kTop = 100
      val base = lineitem(s, d).select(
        cents38($"l_extendedprice").cast("long").as("c"),
        $"l_orderkey", $"l_linenumber")
      val (ranked, _) = GlobalRank.withRank(base, "_r",
        Seq($"c".desc, $"l_orderkey", $"l_linenumber"))
      val top = ranked.filter($"_r" <= kTop + 1)
        .agg(array_sort(collect_list(struct($"_r", $"c"))).as("arr"))
        .select($"arr", element_at($"arr", kTop + 1).getField("c").as("xk1"))
      top.select(
        lit(kTop).as("k"),
        format_string("%.2f", $"xk1" / lit(100.0)).as("tail_threshold"),
        format_string("%.6f", lit(kTop.toDouble) /
          aggregate(slice($"arr", 1, kTop), lit(0.0),
            (a, x) => a + log(x.getField("c") * lit(1.0) / $"xk1")))
          .as("hill_alpha"))
    }),

    // GROWTH ACCOUNTING — the monthly MAU decomposition every growth
    // team reads: active = new + retained + resurrected, churned =
    // last month's actives who didn't return. Classification rides
    // integer month keys (year·12+month−1) so "previous month" is an
    // equi-join, never an interval probe: the customer-month table is
    // distinct-reduced once, then every join (first month, prev-month
    // flag) is keyed on o_custkey — at 100 TB that's three keyed
    // shuffles of a table already collapsed to |customers×months|.
    // Churn falls out of the month-level aggregate via lag(n_active) −
    // n_retained over the aggregate-sized month table (≤ tens of rows
    // at any corpus size), null across calendar gaps rather than a
    // wrong comparison (q108's convention).
    "q139_growth_accounting" -> ((s, d) => {
      import s.implicits._
      val cm = orders(s, d).select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate") - 1).as("mk"))
        .distinct()
        .localCheckpoint() // feeds three consumers: first-month agg, prev-flag self-join, classification
      val first = cm.groupBy($"o_custkey").agg(min($"mk").as("first_mk"))
      val prev = cm.select($"o_custkey", ($"mk" + 1).as("mk"), lit(1).as("had_prev"))
      val agg = cm.join(first, Seq("o_custkey"))
        .join(prev, Seq("o_custkey", "mk"), "left")
        .groupBy($"mk")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"mk" === $"first_mk", 1L).otherwise(0L)).as("n_new"),
          sum(when($"mk" =!= $"first_mk" && $"had_prev".isNotNull, 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when($"mk" =!= $"first_mk" && $"had_prev".isNull, 1L)
            .otherwise(0L)).as("n_resurrected"))
      val w = Window.orderBy($"mk") // month table: aggregate-sized at any scale
      agg
        .withColumn("prev_mk", lag($"mk", 1).over(w))
        .withColumn("prev_active", lag($"n_active", 1).over(w))
        .select(
          format_string("%04d-%02d", expr("mk div 12"), pmod($"mk", lit(12)) + 1)
            .as("month"),
          $"n_active", $"n_new", $"n_retained", $"n_resurrected",
          when($"prev_mk" === $"mk" - 1, $"prev_active" - $"n_retained")
            .as("n_churned"))
        .orderBy($"month")
    }),

    // WELCH's unequal-variance t-test (BUILDING vs MACHINERY order
    // values) — the two-sample mean comparison that doesn't assume
    // equal variances, completing the inference family (q100 z-test,
    // q105 Mann-Whitney, q114 KS, q131 ANOVA). ONE conditional-
    // aggregate pass over the fact-dim join produces all six exact
    // DECIMAL(38) sums (n/Σc/Σc² per group — partial+final, map-side
    // combinable, no per-group subqueries); t and the Welch-
    // Satterthwaite df then evaluate driver-free through the same
    // double expression tree on both engines.
    "q140_welch_ttest" -> ((s, d) => {
      import s.implicits._
      val j = orders(s, d)
        .join(customer(s, d).select($"c_custkey", $"c_mktsegment"),
          $"o_custkey" === $"c_custkey")
        .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
        .select(($"c_mktsegment" === "BUILDING").as("g"),
          cents38($"o_totalprice").as("c"))
      val z = lit(0).cast(D38)
      val sums = j.agg(
        sum(when($"g", 1L).otherwise(0L)).as("n1"),
        sum(when(!$"g", 1L).otherwise(0L)).as("n2"),
        sum(when($"g", $"c").otherwise(z)).as("s1"),
        sum(when(!$"g", $"c").otherwise(z)).as("s2"),
        sum(when($"g", $"c" * $"c").otherwise(z)).as("ss1"),
        sum(when(!$"g", $"c" * $"c").otherwise(z)).as("ss2"))
      val (n1d, n2d) = ($"n1".cast("double"), $"n2".cast("double"))
      val (s1d, s2d) = ($"s1".cast("double"), $"s2".cast("double"))
      val m1 = s1d / n1d
      val m2 = s2d / n2d
      val v1 = ($"ss1".cast("double") - s1d * s1d / n1d) / (n1d - 1)
      val v2 = ($"ss2".cast("double") - s2d * s2d / n2d) / (n2d - 1)
      val (se1, se2) = (v1 / n1d, v2 / n2d)
      sums.select($"n1", $"n2",
        format_string("%.4f", m1 / 100.0).as("mean1_usd"),
        format_string("%.4f", m2 / 100.0).as("mean2_usd"),
        format_string("%.6f", (m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
        format_string("%.2f", (se1 + se2) * (se1 + se2) /
          (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1))).as("df_welch"))
    }),

    // SNAPSHOT DIFF — the table-audit primitive behind CDC validation
    // and "what changed between loads": two deterministic snapshots of
    // the fact table (an earlier ship-date cut vs a later one that
    // also reprices suppkey%10 rows and drops suppkey%13 rows) diffed
    // into added / removed / changed / unchanged counts with ONE
    // full-outer join keyed on the primary key. Values compare as
    // exact integer cents — no row-hash canonicalization to disagree
    // on. At 100 TB this is two pruned scans + one keyed shuffle
    // (AQE-skew-safe); the output is a single audit row.
    "q141_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d).select($"l_orderkey", $"l_linenumber",
        $"l_suppkey", $"l_shipdate",
        cents38($"l_extendedprice").cast("long").as("pc"))
      val a = li.filter($"l_shipdate" <= lit("1997-01-01").cast("date"))
        .select($"l_orderkey", $"l_linenumber", $"pc".as("pc_a"))
      val b = li.filter($"l_shipdate" <= lit("1998-01-01").cast("date") &&
          $"l_suppkey" % 13 =!= 0)
        .select($"l_orderkey", $"l_linenumber",
          when($"l_suppkey" % 10 === 0, expr("(pc * 11) DIV 10"))
            .otherwise($"pc").as("pc_b"))
      a.join(b, Seq("l_orderkey", "l_linenumber"), "full_outer")
        .agg(
          sum(when($"pc_a".isNotNull, 1L).otherwise(0L)).as("n_old"),
          sum(when($"pc_b".isNotNull, 1L).otherwise(0L)).as("n_new"),
          sum(when($"pc_a".isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when($"pc_b".isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when($"pc_a" =!= $"pc_b", 1L).otherwise(0L)).as("n_changed"),
          sum(when($"pc_a" === $"pc_b", 1L).otherwise(0L)).as("n_unchanged"))
    }),

    // SALTED TWO-STAGE AGGREGATE — the skew-mitigation pattern q106's
    // report tells you to deploy, run for real and hash-proven equal
    // to the plain aggregate: stage 1 groups by (user_id, salt) so a
    // hot key's rows spread over 16 reducers; stage 2 merges the salt
    // shards per key. Salt is deterministic (hash of the unique
    // event_id mod 16), sums ride exact DECIMAL — so the result is
    // bit-identical to the unsalted oracle GROUP BY, which is exactly
    // the property that makes salting safe to apply mechanically at
    // 100 TB. PlanSpec pins the two keyed exchange stages.
    "q142_salted_agg" -> ((s, d) => {
      import s.implicits._
      val salted = events(s, d)
        .select($"user_id", dec($"value").as("v"),
          pmod(hash($"event_id"), lit(16)).as("_salt"))
        .groupBy($"user_id", $"_salt")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      salted.groupBy($"user_id")
        .agg(sum($"n").as("n_events"), sum($"sv").as("sv"))
        .select($"user_id", $"n_events", $"sv".cast("double").as("sum_value"))
        .orderBy($"n_events".desc, $"user_id")
        .limit(20)
    }),

    // HOLT LINEAR-TREND smoothing (α=0.3, β=0.1) per event-type daily
    // series + the one-step-ahead forecast — the 2-state upgrade of
    // q103's EWMA that level-only smoothing can't express. The daily
    // series is exact integer cents (decimal sum, DIV mean); the fold
    // runs over a day-SORTED per-type array (aggregate-sized: days,
    // not events), so both engines execute the identical recurrence
    // in the identical order — DuckDB's list_reduce seeds from the
    // first element, Spark's aggregate() is seeded with arr[0] and
    // folds the tail, the same computation. Doubles appear only
    // inside the fold, through one shared expression tree.
    "q143_holt_linear" -> ((s, d) => {
      import s.implicits._
      // daily TOTAL, not mean: a mean needs integer division, and
      // Spark's DIV truncates where DuckDB's // floors — they disagree
      // on negative sums. The total stays in exact cents, no division.
      val daily = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum((dec($"value") * 100).cast("long")).as("y"))
      daily.groupBy($"event_type")
        .agg(array_sort(collect_list(struct($"day", $"y"))).as("arr"))
        .select($"event_type", size($"arr").cast("long").as("n_days"),
          expr("""
            aggregate(
              transform(slice(arr, 2, size(arr) - 1), e -> CAST(e.y AS DOUBLE)),
              named_struct('l', CAST(arr[0].y AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)),
              (a, x) -> named_struct(
                'l', 0.3D * x + 0.7D * (a.l + a.b),
                'b', 0.1D * ((0.3D * x + 0.7D * (a.l + a.b)) - a.l) + 0.9D * a.b))
          """).as("st"))
        .select($"event_type", $"n_days",
          format_string("%.6f", $"st.l" / 100.0).as("level_usd"),
          format_string("%.6f", $"st.b" / 100.0).as("trend_usd"),
          format_string("%.6f", ($"st.l" + $"st.b") / 100.0).as("forecast_usd"))
        .orderBy($"event_type")
    }),

    // FULL-SCHEMA referential-integrity audit — every FK edge of the
    // warehouse swept in one query (the q84 constraint suite covers
    // one table; this is the cross-table edition a load pipeline runs
    // after every batch). Each CHILD TABLE is scanned exactly ONCE:
    // all of its outgoing edges ride the same pass as left joins
    // against unique parent keys (PK side, so no row multiplication)
    // with conditional orphan counts — lineitem resolves both its
    // edges in one scan where the naive per-edge count+anti-join
    // shape would read it four times. Dims broadcast, fact edges
    // shuffle keyed; output is six audit rows however large the
    // corpus. An orphan introduced by a bad load flips its row's ok
    // flag (and the hash).
    "q144_fk_audit" -> ((s, d) => {
      import s.implicits._
      def edgeRows(agg: DataFrame, edges: (String, String)*): DataFrame =
        agg.select(explode(array(edges.map { case (label, orphCol) =>
          struct(lit(label).as("fk_edge"), $"n".as("n_child_rows"),
            col(orphCol).as("n_orphans"))
        }: _*)).as("e")).select($"e.*")
      val li = lineitem(s, d).select($"l_orderkey", $"l_suppkey")
        .join(orders(s, d).select($"o_orderkey"),
          $"l_orderkey" === $"o_orderkey", "left")
        .join(supplier(s, d).select($"s_suppkey".as("sk")),
          $"l_suppkey" === $"sk", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("orph_ord"),
          sum(when($"sk".isNull, 1L).otherwise(0L)).as("orph_supp"))
      val ord = orders(s, d).select($"o_custkey")
        .join(customer(s, d).select($"c_custkey"),
          $"o_custkey" === $"c_custkey", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("orph_cust"))
      val cust = customer(s, d).select($"c_nationkey")
        .join(nation(s, d).select($"n_nationkey"),
          $"c_nationkey" === $"n_nationkey", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"n_nationkey".isNull, 1L).otherwise(0L)).as("orph_nat"))
      val supp = supplier(s, d).select($"s_nationkey")
        .join(nation(s, d).select($"n_nationkey"),
          $"s_nationkey" === $"n_nationkey", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"n_nationkey".isNull, 1L).otherwise(0L)).as("orph_nat"))
      val nat = nation(s, d).select($"n_regionkey")
        .join(region(s, d).select($"r_regionkey"),
          $"n_regionkey" === $"r_regionkey", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"r_regionkey".isNull, 1L).otherwise(0L)).as("orph_reg"))
      Seq(
        edgeRows(li, "lineitem.l_orderkey->orders" -> "orph_ord",
          "lineitem.l_suppkey->supplier" -> "orph_supp"),
        edgeRows(ord, "orders.o_custkey->customer" -> "orph_cust"),
        edgeRows(cust, "customer.c_nationkey->nation" -> "orph_nat"),
        edgeRows(supp, "supplier.s_nationkey->nation" -> "orph_nat"),
        edgeRows(nat, "nation.n_regionkey->region" -> "orph_reg"))
        .reduce(_ unionByName _)
        .select($"fk_edge", $"n_child_rows", $"n_orphans",
          ($"n_orphans" === 0L).as("ok"))
        .orderBy($"fk_edge")
    }),

    // FORECAST BACKTEST — the model-evaluation harness behind every
    // "should we ship this forecast" call, run for the two standard
    // baselines: naive (yesterday) vs seasonal-naive (same weekday
    // last week) on daily revenue. Scored only on days where BOTH
    // lags exist (shifted equi-joins of the aggregate-sized day
    // table against itself — q135's no-whole-series-window shape);
    // MAE stays in exact integer cents end to end (sums are
    // non-negative, so DIV/​// floor-vs-truncate parity is safe).
    "q145_backtest_naive" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d).groupBy($"o_orderdate".as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("r"))
        .localCheckpoint() // three shifted self-join uses of the day table
      val l1 = daily.select(date_add($"day", 1).as("day"), $"r".as("r1"))
      val l7 = daily.select(date_add($"day", 7).as("day"), $"r".as("r7"))
      daily.join(l1, Seq("day")).join(l7, Seq("day"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs($"r" - $"r1")).as("e1"),
          sum(abs($"r" - $"r7")).as("e7"))
        .select($"n_days",
          expr("e1 DIV n_days").as("mae_naive_cents"),
          expr("e7 DIV n_days").as("mae_seasonal_cents"),
          ($"e7" < $"e1").as("seasonal_better"))
    }),

    // CONVERSION-LAG distribution — how long after first touching the
    // product users first pay (the activation-latency number next to
    // q115's conversion RATE and q98's censored survival curve). ONE
    // conditional-aggregate exchange per user (min click / min
    // purchase in the same groupBy — never two scans or a self-join);
    // delays are exact integer micros, the percentiles ride the
    // percentile_cont WITHIN GROUP parity idiom (q123), printed as
    // minutes at %.4f.
    "q146_conversion_lag" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "click", micros($"ts"))).as("c_us"),
          min(when($"event_type" === "purchase", micros($"ts"))).as("p_us"))
        .filter($"c_us".isNotNull && $"p_us".isNotNull && $"p_us" >= $"c_us")
        .select(($"p_us" - $"c_us").as("lag_us"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_us)").as("p50"),
          expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_us)").as("p90"),
          expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY lag_us)").as("p99"))
        .select($"n_converted",
          format_string("%.4f", $"p50" / 60000000.0).as("p50_min"),
          format_string("%.4f", $"p90" / 60000000.0).as("p90_min"),
          format_string("%.4f", $"p99" / 60000000.0).as("p99_min"))
    }),

    // ORDER→SHIP SLA profile per priority class — the fulfillment-
    // latency dashboard: mean / p95 days from order to line shipment
    // and the share breaching a 90-day SLA, in exact integer days
    // (datediff; DIV-parity safe because ship never precedes order in
    // this schema — pinned by the min_delay column, which would go
    // negative and flip the hash if that assumption ever broke). One
    // fact-dim join keyed on orderkey, one aggregate; output is the
    // priority table.
    "q147_ship_sla" -> ((s, d) => {
      import s.implicits._
      val j = lineitem(s, d).select($"l_orderkey", $"l_shipdate")
        .join(orders(s, d).select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority",
          datediff($"l_shipdate", $"o_orderdate").cast("long").as("delay"))
      j.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          min($"delay").as("min_delay"),
          sum($"delay").as("sum_delay"),
          expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY delay)").as("p95"),
          sum(when($"delay" > 90, 1L).otherwise(0L)).as("n_late"))
        .select($"o_orderpriority", $"n_lines", $"min_delay",
          expr("sum_delay DIV n_lines").as("mean_delay_days"),
          format_string("%.4f", $"p95").as("p95_days"),
          expr("n_late * 10000 DIV n_lines").as("late_share_bp"))
        .orderBy($"o_orderpriority")
    }),

    // CLASSICAL SEASONAL DECOMPOSITION (STL-lite) of daily revenue:
    // trend = centered 7-observation moving total, detrended = 7·r −
    // trend (×7 keeps everything integer — detrended values go
    // NEGATIVE, where DIV/​// floor-vs-truncate parity breaks, so no
    // integer division ever touches them), weekly seasonal = per-dow
    // mean of the detrended series and residual spread around it —
    // completing the time-series family (q143 forecasts the level,
    // q126 scores anomalies, this one EXPLAINS the calendar shape).
    // The only window is over the aggregate-sized day series; sums
    // ride DECIMAL(38) (det² overflows int64 at 100 TB revenue).
    "q148_seasonal_decompose" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("r"))
      val w = Window.orderBy($"day").rowsBetween(-3, 3) // day series: aggregate-sized
      val det = daily
        .withColumn("n_w", count(lit(1)).over(w))
        .withColumn("trend7", sum($"r").over(w))
        .filter($"n_w" === 7)
        .select((dayofweek($"day") - 1).as("dow"),
          ($"r" * 7 - $"trend7").cast(D38).as("det"))
      det.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"),
          sum($"det").as("s_det"),
          sum($"det" * $"det").as("ss_det"))
        .select($"dow", $"n_days",
          format_string("%.4f",
            $"s_det".cast("double") / ($"n_days" * 7.0) / 100.0)
            .as("seasonal_usd"),
          format_string("%.4f",
            sqrt(($"ss_det".cast("double") -
              $"s_det".cast("double") * $"s_det".cast("double") / $"n_days")
              / $"n_days") / 7.0 / 100.0).as("resid_sd_usd"))
        .orderBy($"dow")
    }),

    // QUANTILE NORMALIZATION across groups — the ML-preprocessing
    // primitive that forces every language's doc-length distribution
    // onto the shared global one: each doc keeps its WITHIN-LANG rank
    // but takes the VALUE of the global order statistic at the same
    // quantile (half-up rounded index, exact integer arithmetic —
    // every division non-negative). The global order statistics come
    // off GlobalRank's two-pass range-partitioned rank (never a
    // single-partition window); the per-lang ranks are keyed windows;
    // the remap is one equi-join on the computed index.
    "q149_quantile_normalize" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id", $"lang", $"n_chars")
        .localCheckpoint() // feeds global order stats AND per-lang ranks
      val (globalRanked, _) = GlobalRank.withRank(
        docs.select($"n_chars", $"doc_id"), "_gr", Seq($"n_chars", $"doc_id"))
      val nGlobal = docs.agg(count(lit(1)).as("n_g"))
      val wl = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
      val langRanked = docs
        .withColumn("lr", row_number().over(wl))
        .withColumn("n_l", count(lit(1)).over(Window.partitionBy($"lang")))
      langRanked.crossJoin(broadcast(nGlobal)) // single-row side
        .withColumn("gidx",
          when($"n_l" === 1, expr("1 + (n_g - 1) DIV 2"))
            .otherwise(expr(
              "1 + (2 * (lr - 1) * (n_g - 1) + (n_l - 1)) DIV (2 * (n_l - 1))")))
        .join(globalRanked.select($"_gr".as("gidx"),
          $"n_chars".as("norm_chars")), Seq("gidx"))
        .select($"doc_id", $"lang", $"n_chars", $"norm_chars")
        .orderBy($"doc_id")
    }),

    // CALENDAR-COMPLETENESS audit — the "did the load skip days" check
    // a warehouse runs before trusting any time series built on top:
    // expected span from min/max order date, present days from one
    // keyed distinct, missing count by difference, and the LONGEST
    // observation gap via lag over the aggregate-sized day table
    // (q108's null-across-gaps convention made into the headline
    // number). Everything is exact integer day arithmetic.
    "q150_calendar_gaps" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .select($"o_orderdate".cast("date").as("day")).distinct()
      val w = Window.orderBy($"day") // day table: aggregate-sized
      val gaps = daily
        .withColumn("gap", datediff($"day", lag($"day", 1).over(w)))
      gaps.agg(
          count(lit(1)).as("n_present"),
          (datediff(max($"day"), min($"day")) + 1).cast("long").as("n_expected"),
          max($"gap").cast("long").as("max_gap_days"))
        .select($"n_present", $"n_expected",
          ($"n_expected" - $"n_present").as("n_missing"),
          $"max_gap_days",
          ($"n_expected" === $"n_present").as("complete"))
    }),

    // XmR CONTROL CHART (statistical process control) on daily
    // revenue: individuals mean, average moving range, and the
    // ±2.66·mR̄ natural process limits, plus the count of
    // out-of-control days — the Shewhart chart behind "is this dip
    // noise or a signal", a family (SPC) the suite didn't cover.
    // Sums stay exact integer cents; the limits and the breach
    // comparison evaluate through one shared double tree. The day
    // table is aggregate-sized; it feeds the limit aggregate AND the
    // breach count from one pinned pass.
    "q151_xmr_control_chart" -> ((s, d) => {
      import s.implicits._
      val daily = orders(s, d)
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(cents38($"o_totalprice")).cast("long").as("r"))
        .localCheckpoint() // feeds the limit aggregate and the breach scan
      val w = Window.orderBy($"day") // day series: aggregate-sized
      val mr = daily.withColumn("mr", abs($"r" - lag($"r", 1).over(w)))
      val lims = mr.agg(
          count(lit(1)).as("n_days"),
          sum($"r").as("s_r"),
          sum($"mr").as("s_mr"),
          count($"mr").as("n_mr"))
        .select($"n_days",
          ($"s_r".cast("double") / $"n_days").as("mean_c"),
          ($"s_mr".cast("double") / $"n_mr").as("mrbar_c"))
        .select($"n_days", $"mean_c", $"mrbar_c",
          ($"mean_c" + lit(2.66) * $"mrbar_c").as("ucl_c"),
          ($"mean_c" - lit(2.66) * $"mrbar_c").as("lcl_c"))
      daily.crossJoin(broadcast(lims)) // single-row side
        .agg(max($"n_days").as("n_days"),
          max($"mean_c").as("mean_c"), max($"mrbar_c").as("mrbar_c"),
          max($"ucl_c").as("ucl_c"), max($"lcl_c").as("lcl_c"),
          sum(when($"r".cast("double") > $"ucl_c" ||
            $"r".cast("double") < $"lcl_c", 1L).otherwise(0L)).as("n_breaches"))
        .select($"n_days",
          format_string("%.4f", $"mean_c" / 100.0).as("mean_usd"),
          format_string("%.4f", $"mrbar_c" / 100.0).as("mrbar_usd"),
          format_string("%.4f", $"ucl_c" / 100.0).as("ucl_usd"),
          format_string("%.4f", $"lcl_c" / 100.0).as("lcl_usd"),
          $"n_breaches")
    })
  )

  val oracles: Map[String, String] = Map(
    "q129_spearman_corr" ->
      """WITH base AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |r AS (
        |  SELECT
        |    2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS r2x,
        |    2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS r2y
        |  FROM base),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    SUM(CAST(r2x AS HUGEINT)) AS sx, SUM(CAST(r2y AS HUGEINT)) AS sy,
        |    SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |    SUM(CAST(r2y AS HUGEINT) * r2y) AS syy,
        |    SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  printf('%.9f', CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)))
        |    AS spearman_rho
        |FROM s""".stripMargin,

    "q130_active_user_ratios" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS u, CAST(o_orderdate AS DATE) AS day FROM orders),
        |days AS (SELECT DISTINCT day FROM pairs),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
        |wau AS (
        |  SELECT d.day AS day, CAST(count(DISTINCT p.u) AS BIGINT) AS wau7
        |  FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day),
        |mau AS (
        |  SELECT d.day AS day, CAST(count(DISTINCT p.u) AS BIGINT) AS mau28
        |  FROM days d JOIN pairs p ON p.day BETWEEN d.day - 27 AND d.day
        |  GROUP BY d.day)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, dau, wau7, mau28,
        |  dau * 10000 // mau28 AS stickiness_bp
        |FROM days d JOIN dau USING (day) JOIN wau USING (day) JOIN mau USING (day)
        |ORDER BY day""".stripMargin,

    "q131_anova_oneway" ->
      """WITH g AS (
        |  SELECT l_returnflag AS f, CAST(count(*) AS BIGINT) AS n_g,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s_g,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
        |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS ss_g
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    SUM(s_g) AS s, SUM(ss_g) AS ss,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g ORDER BY f)),
        |      (a, x) -> a + x) AS tsum
        |  FROM g)
        |SELECT n, k,
        |  printf('%.9f', (tsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) /
        |    ((tsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |      + (CAST(ss AS DOUBLE) - tsum))) AS eta_sq,
        |  printf('%.6f', ((tsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
        |    / ((CAST(ss AS DOUBLE) - tsum) / (n - k))) AS f_stat
        |FROM t""".stripMargin,

    "q132_winsorized_mean" ->
      """WITH base AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c) AS rn, count(*) OVER () AS nn
        |  FROM base),
        |th AS (
        |  SELECT
        |    min(CASE WHEN rn = (5 * nn + 99) // 100 THEN c END) AS lo,
        |    max(CASE WHEN rn = (95 * nn + 99) // 100 THEN c END) AS hi
        |  FROM r),
        |cl AS (
        |  SELECT greatest(least(c, hi), lo) AS cc, lo, hi FROM base, th)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  printf('%.2f', lo / 100.0) AS p05,
        |  printf('%.2f', hi / 100.0) AS p95,
        |  CAST(SUM(CAST(cc AS HUGEINT)) * 10000 // count(*) AS BIGINT) AS mean_e6
        |FROM cl GROUP BY lo, hi""".stripMargin,

    "q133_hhi_concentration" ->
      """WITH rev AS (
        |  SELECT n_name, s_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name, s_suppkey),
        |tot AS (SELECT n_name, CAST(SUM(rev_c) AS BIGINT) AS tot_c FROM rev GROUP BY n_name),
        |sh AS (
        |  SELECT rev.n_name, rev_c * 10000 // tot_c AS share_bp
        |  FROM rev JOIN tot ON rev.n_name = tot.n_name)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(max(share_bp) AS BIGINT) AS top_share_bp,
        |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi_e8
        |FROM sh GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q134_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS boundary
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sg AS (
        |  SELECT user_id, ts,
        |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, sid, CAST(MIN(ts) AS DATE) AS day, count(*) AS n
        |  FROM sg GROUP BY user_id, sid)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // CAST(count(*) AS BIGINT) AS bounce_bp
        |FROM sess GROUP BY day
        |ORDER BY day""".stripMargin,

    "q135_autocorr_daily" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY day),
        |p AS (
        |  SELECT k.lag AS lag, a.rev AS x, b.rev AS y
        |  FROM (VALUES (1), (7)) k(lag)
        |  JOIN daily a ON true
        |  JOIN daily b ON b.day = a.day - k.lag),
        |s AS (
        |  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM p GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  printf('%.9f', CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)))
        |    AS autocorr
        |FROM s ORDER BY lag""".stripMargin,

    "q136_new_vs_returning" ->
      """WITH om AS (
        |  SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS m FROM orders),
        |fm AS (SELECT o_custkey, min(m) AS first_m FROM om GROUP BY o_custkey)
        |SELECT om.m AS month,
        |  CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
        |  CAST(count(DISTINCT CASE WHEN om.m = fm.first_m THEN om.o_custkey END)
        |    AS BIGINT) AS n_new,
        |  CAST(count(DISTINCT om.o_custkey)
        |    - count(DISTINCT CASE WHEN om.m = fm.first_m THEN om.o_custkey END)
        |    AS BIGINT) AS n_returning,
        |  count(DISTINCT CASE WHEN om.m = fm.first_m THEN om.o_custkey END) * 10000
        |    // count(DISTINCT om.o_custkey) AS new_share_bp
        |FROM om JOIN fm USING (o_custkey)
        |GROUP BY om.m
        |ORDER BY month""".stripMargin,

    "q137_order_frequency_hist" ->
      """WITH pc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS k FROM orders GROUP BY o_custkey),
        |z AS (
        |  SELECT CAST(0 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM pc))
        |SELECT k, CAST(count(*) AS BIGINT) AS n_customers FROM pc GROUP BY k
        |UNION ALL SELECT k, n_customers FROM z
        |ORDER BY k""".stripMargin,

    "q138_hill_tail" ->
      """WITH base AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM base),
        |t AS (SELECT c, rn FROM r WHERE rn <= 101),
        |xk AS (SELECT c AS xk1 FROM t WHERE rn = 101)
        |SELECT 100 AS k,
        |  printf('%.2f', xk1 / 100.0) AS tail_threshold,
        |  printf('%.6f', 100.0 / list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE),
        |      (SELECT list(ln(c * 1.0 / xk1) ORDER BY rn) FROM t, xk WHERE rn <= 100)),
        |    (a, x) -> a + x)) AS hill_alpha
        |FROM xk""".stripMargin,

    "q139_growth_accounting" ->
      """WITH cm AS (
        |  SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mk
        |  FROM orders),
        |f AS (SELECT o_custkey, min(mk) AS first_mk FROM cm GROUP BY o_custkey),
        |a AS (
        |  SELECT cm.mk AS mk, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN cm.mk = f.first_mk THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN cm.mk <> f.first_mk AND p.o_custkey IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN cm.mk <> f.first_mk AND p.o_custkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cm JOIN f USING (o_custkey)
        |  LEFT JOIN cm p ON p.o_custkey = cm.o_custkey AND p.mk = cm.mk - 1
        |  GROUP BY cm.mk)
        |SELECT printf('%04d-%02d', mk // 12, mk % 12 + 1) AS month,
        |  n_active, n_new, n_retained, n_resurrected,
        |  CASE WHEN lag(mk) OVER (ORDER BY mk) = mk - 1
        |    THEN lag(n_active) OVER (ORDER BY mk) - n_retained END AS n_churned
        |FROM a ORDER BY month""".stripMargin,

    "q140_welch_ttest" ->
      """WITH j AS (
        |  SELECT (c_mktsegment = 'BUILDING') AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    sum(CASE WHEN g THEN c ELSE 0 END) AS s1,
        |    sum(CASE WHEN NOT g THEN c ELSE 0 END) AS s2,
        |    sum(CASE WHEN g THEN c * c ELSE 0 END) AS ss1,
        |    sum(CASE WHEN NOT g THEN c * c ELSE 0 END) AS ss2
        |  FROM j),
        |e AS (
        |  SELECT n1, n2,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1)
        |      / CAST(n1 AS DOUBLE) AS se1,
        |    (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)
        |      / CAST(n2 AS DOUBLE) AS se2,
        |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
        |  FROM s)
        |SELECT n1, n2,
        |  printf('%.4f', m1 / 100.0) AS mean1_usd,
        |  printf('%.4f', m2 / 100.0) AS mean2_usd,
        |  printf('%.6f', (m1 - m2) / sqrt(se1 + se2)) AS t_stat,
        |  printf('%.2f', (se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1))) AS df_welch
        |FROM e""".stripMargin,

    "q141_snapshot_diff" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        |  FROM lineitem),
        |a AS (
        |  SELECT l_orderkey, l_linenumber, pc AS pc_a FROM li
        |  WHERE l_shipdate <= DATE '1997-01-01'),
        |b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_suppkey % 10 = 0 THEN (pc * 11) // 10 ELSE pc END AS pc_b
        |  FROM li
        |  WHERE l_shipdate <= DATE '1998-01-01' AND l_suppkey % 13 <> 0)
        |SELECT
        |  CAST(sum(CASE WHEN pc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |  CAST(sum(CASE WHEN pc_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN pc_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN pc_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN pc_a <> pc_b THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN pc_a = pc_b THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM a FULL JOIN b USING (l_orderkey, l_linenumber)""".stripMargin,

    "q142_salted_agg" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,

    // NOTE: the natural list_reduce-with-struct-state fold is WRONG in
    // DuckDB — from the second application on, the lambda's struct
    // fields are written into the reused accumulator vector
    // sequentially, so the 'b' expression reads the freshly-written
    // 'l' (verified: [100,200,300] yields b=6.417, not the correct
    // 8.01). The oracle therefore folds via a recursive CTE — one row
    // per (event_type, day index) — which has no aliasing.
    "q143_holt_linear" ->
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
        |  SELECT event_type, rn, y AS l, CAST(0 AS DOUBLE) AS b
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT f.event_type, i.rn,
        |    CAST(0.3 AS DOUBLE) * i.y + CAST(0.7 AS DOUBLE) * (f.l + f.b),
        |    CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * i.y
        |        + CAST(0.7 AS DOUBLE) * (f.l + f.b)) - f.l)
        |      + CAST(0.9 AS DOUBLE) * f.b
        |  FROM fold f JOIN idx i
        |    ON i.event_type = f.event_type AND i.rn = f.rn + 1),
        |last AS (SELECT event_type, max(rn) AS n FROM fold GROUP BY event_type)
        |SELECT f.event_type, CAST(l2.n AS BIGINT) AS n_days,
        |  printf('%.6f', f.l / 100.0) AS level_usd,
        |  printf('%.6f', f.b / 100.0) AS trend_usd,
        |  printf('%.6f', (f.l + f.b) / 100.0) AS forecast_usd
        |FROM fold f JOIN last l2
        |  ON f.event_type = l2.event_type AND f.rn = l2.n
        |ORDER BY f.event_type""".stripMargin,

    "q144_fk_audit" ->
      """WITH e AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT count(*) FROM lineitem) AS n_child_rows,
        |    (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |      (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE NOT EXISTS
        |      (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer WHERE NOT EXISTS
        |      (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier WHERE NOT EXISTS
        |      (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region',
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation WHERE NOT EXISTS
        |      (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)))
        |SELECT fk_edge, CAST(n_child_rows AS BIGINT) AS n_child_rows,
        |  CAST(n_orphans AS BIGINT) AS n_orphans,
        |  n_orphans = 0 AS ok
        |FROM e ORDER BY fk_edge""".stripMargin,

    "q145_backtest_naive" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT b.day, b.r, a1.r AS r1, a7.r AS r7
        |  FROM daily b
        |  JOIN daily a1 ON a1.day = b.day - 1
        |  JOIN daily a7 ON a7.day = b.day - 7)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(r - r1)) AS BIGINT) // count(*) AS mae_naive_cents,
        |  CAST(sum(abs(r - r7)) AS BIGINT) // count(*) AS mae_seasonal_cents,
        |  sum(abs(r - r7)) < sum(abs(r - r1)) AS seasonal_better
        |FROM j""".stripMargin,

    "q146_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY user_id),
        |lags AS (
        |  SELECT p_us - c_us AS lag_us FROM f
        |  WHERE c_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= c_us)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  printf('%.4f', percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_us)
        |    / 60000000.0) AS p50_min,
        |  printf('%.4f', percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_us)
        |    / 60000000.0) AS p90_min,
        |  printf('%.4f', percentile_cont(0.99) WITHIN GROUP (ORDER BY lag_us)
        |    / 60000000.0) AS p99_min
        |FROM lags""".stripMargin,

    "q147_ship_sla" ->
      """WITH j AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT)
        |      AS delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(min(delay) AS BIGINT) AS min_delay,
        |  CAST(sum(delay) AS BIGINT) // count(*) AS mean_delay_days,
        |  printf('%.4f', percentile_cont(0.95) WITHIN GROUP (ORDER BY delay))
        |    AS p95_days,
        |  CAST(sum(CASE WHEN delay > 90 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // count(*) AS late_share_bp
        |FROM j GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q148_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, r, count(*) OVER w AS n_w,
        |    CAST(sum(r) OVER w AS BIGINT) AS trend7
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dts AS (
        |  SELECT dayofweek(day) AS dow, CAST(r * 7 - trend7 AS HUGEINT) AS det
        |  FROM t WHERE n_w = 7),
        |g AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(det) AS s_det, sum(det * det) AS ss_det
        |  FROM dts GROUP BY dow)
        |SELECT dow, n_days,
        |  printf('%.4f', CAST(s_det AS DOUBLE) / (n_days * 7.0) / 100.0)
        |    AS seasonal_usd,
        |  printf('%.4f', sqrt((CAST(ss_det AS DOUBLE)
        |      - CAST(s_det AS DOUBLE) * CAST(s_det AS DOUBLE) / n_days)
        |      / n_days) / 7.0 / 100.0) AS resid_sd_usd
        |FROM g ORDER BY dow""".stripMargin,

    "q149_quantile_normalize" ->
      """WITH docs AS (SELECT doc_id, lang, n_chars FROM documents),
        |g AS (
        |  SELECT n_chars AS norm_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS gidx
        |  FROM docs),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_g FROM docs),
        |l AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS lr,
        |    count(*) OVER (PARTITION BY lang) AS n_l
        |  FROM docs),
        |i AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN n_l = 1 THEN 1 + (n_g - 1) // 2
        |         ELSE 1 + (2 * (lr - 1) * (n_g - 1) + (n_l - 1))
        |              // (2 * (n_l - 1)) END AS gidx
        |  FROM l, ng)
        |SELECT i.doc_id, i.lang, i.n_chars, g.norm_chars
        |FROM i JOIN g USING (gidx)
        |ORDER BY i.doc_id""".stripMargin,

    "q150_calendar_gaps" ->
      """WITH daily AS (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
        |g AS (
        |  SELECT day, day - lag(day) OVER (ORDER BY day) AS gap FROM daily)
        |SELECT CAST(count(*) AS BIGINT) AS n_present,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) AS n_expected,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) - CAST(count(*) AS BIGINT)
        |    AS n_missing,
        |  CAST(max(gap) AS BIGINT) AS max_gap_days,
        |  max(day) - min(day) + 1 = count(*) AS complete
        |FROM g""".stripMargin,

    "q151_xmr_control_chart" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |mr AS (
        |  SELECT day, r, abs(r - lag(r) OVER (ORDER BY day)) AS mrv FROM daily),
        |lims AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(r) AS DOUBLE) / count(*) AS mean_c,
        |    CAST(sum(mrv) AS DOUBLE) / count(mrv) AS mrbar_c
        |  FROM mr),
        |l2 AS (
        |  SELECT n_days, mean_c, mrbar_c,
        |    mean_c + 2.66 * mrbar_c AS ucl_c,
        |    mean_c - 2.66 * mrbar_c AS lcl_c
        |  FROM lims)
        |SELECT l2.n_days,
        |  printf('%.4f', mean_c / 100.0) AS mean_usd,
        |  printf('%.4f', mrbar_c / 100.0) AS mrbar_usd,
        |  printf('%.4f', ucl_c / 100.0) AS ucl_usd,
        |  printf('%.4f', lcl_c / 100.0) AS lcl_usd,
        |  CAST(sum(CASE WHEN CAST(r AS DOUBLE) > ucl_c
        |    OR CAST(r AS DOUBLE) < lcl_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_breaches
        |FROM daily, l2
        |GROUP BY l2.n_days, mean_c, mrbar_c, ucl_c, lcl_c""".stripMargin
  )
}
