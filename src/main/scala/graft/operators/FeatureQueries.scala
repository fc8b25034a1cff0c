package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-13 FEATURE-ENGINEERING battery — the transforms a training-
  * data pipeline applies between curation and the trainer, extending
  * the one-entry feat_ family (feat_l2_normalize):
  *
  *  - `feat_standardize`   — per-group (language) z-scores of a numeric
  *    feature: group stats once, broadcast back onto the scan;
  *  - `feat_onehot_topk`   — top-k one-hot vocabulary with an "other"
  *    bucket (index 0): the encoding map + its row coverage;
  *  - `feat_target_encode` — m-estimate smoothed mean-target encoding
  *    of a categorical feature (the leakage-prone transform done
  *    right: global prior shrinkage, deterministic integer counts);
  *  - `feat_woe_iv`        — weight-of-evidence per bucket + the
  *    information-value decomposition (the credit-scoring feature
  *    screen).
  *
  * Exactness: all encodings are ratios of exact BIGINT counts rendered
  * through the FLOOR(double) idiom; the one libm term (WOE's ln) is
  * micro-quantized PER BUCKET before the cross-bucket IV sum (the
  * bartlett/tukey discipline). Deviations in feat_standardize are
  * centered exact integers a = n·x − Σx (the q231 family idiom).
  *
  * Scale: every query is one keyed aggregate over the corpus scan
  * (category/group-sized output) plus, for standardize, a broadcast
  * join of the group stats back onto the scan — the fact table never
  * shuffles on a row key. Group-stat products that could outgrow
  * BIGINT (Σx·Σx) are formed in DOUBLE on both engines.
  */
object FeatureQueries extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Per-language z-score of document length: one lang-sized stats
    // aggregate broadcasts back; z = (n·x − Σx)/sqrt((n·Σx² − Σx²̂)·n/(n−1))
    // — numerator an exact BIGINT, denominator a double of exact sums.
    "feat_standardize" -> ((s, d) => {
      import s.implicits._
      val st = documents(s, d).groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
          sum($"n_chars" * $"n_chars").as("sxx"))
      documents(s, d).join(broadcast(st), Seq("lang"))
        .selectExpr("doc_id", "lang",
          """CAST(FLOOR(CAST(n * n_chars - sx AS DOUBLE)
            | / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |        * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
            | * 1000.0) AS BIGINT) AS z_milli""".stripMargin)
        .orderBy($"doc_id")
    }),

    // Top-3 one-hot vocabulary over market segments: indices 1..3 by
    // (count desc, name asc), everything else folds to the "other"
    // index 0. The window rides the 5-row category aggregate.
    "feat_onehot_topk" -> ((s, d) => {
      import s.implicits._
      val cnt = customer(s, d).groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_rows"))
      val w = Window.orderBy($"n_rows".desc, $"c_mktsegment".asc) // category-sized
      cnt.withColumn("rk", row_number().over(w).cast("long"))
        .selectExpr("c_mktsegment AS segment",
          "CASE WHEN rk <= 3 THEN rk ELSE 0 END AS onehot_idx", "n_rows")
        .orderBy($"segment")
    }),

    // m-estimate target encoding of the discount level against the
    // return flag: enc = (pos_c + m·prior)/(n_c + m), m = 100 — counts
    // exact, the shrinkage ratio one shared double tree per category.
    "feat_target_encode" -> ((s, d) => {
      import s.implicits._
      val t = lineitem(s, d).selectExpr(
        "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc_c",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
      val tot = t.agg(count(lit(1)).as("nn"), sum($"y").cast("long").as("npos"))
      t.groupBy($"disc_c")
        .agg(count(lit(1)).as("n"), sum($"y").cast("long").as("pos"))
        .crossJoin(broadcast(tot)) // single-row global prior
        .selectExpr("disc_c", "n", "pos",
          """CAST(FLOOR((CAST(pos AS DOUBLE)
            |  + 100.0 * CAST(npos AS DOUBLE) / CAST(nn AS DOUBLE))
            | / (CAST(n AS DOUBLE) + 100.0) * 10000.0) AS BIGINT) AS enc_bp""".stripMargin)
        .orderBy($"disc_c")
    }),

    // Weight of evidence per quantity decile-of-10 bucket + information
    // value: WOE = ln((pos_b/POS)/(neg_b/NEG)) micro-quantized per
    // bucket, IV = Σ (pos_b/POS − neg_b/NEG)·WOE with the per-bucket
    // term micro-floored BEFORE the exact integer Σ. Zero cells guard
    // to WOE 0 on both engines (DuckDB raises on ln(0)).
    "feat_woe_iv" -> ((s, d) => {
      import s.implicits._
      val t = lineitem(s, d).selectExpr(
        "(CAST(l_quantity AS BIGINT) - 1) DIV 10 AS bucket",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y")
      val tot = t.agg(sum($"y").cast("long").as("npos"),
        (count(lit(1)) - sum($"y")).cast("long").as("nneg"))
      val b = t.groupBy($"bucket")
        .agg(count(lit(1)).as("n"), sum($"y").cast("long").as("pos"))
        .crossJoin(broadcast(tot))
        .selectExpr("bucket", "n", "pos", "n - pos AS neg", "npos", "nneg")
        .selectExpr("bucket", "n", "pos", "neg",
          """CASE WHEN pos = 0 OR neg = 0 THEN CAST(0 AS BIGINT)
            | ELSE CAST(FLOOR(ln((CAST(pos AS DOUBLE) * CAST(nneg AS DOUBLE))
            |   / (CAST(neg AS DOUBLE) * CAST(npos AS DOUBLE))) * 1e6) AS BIGINT)
            | END AS woe_micro""".stripMargin,
          "npos", "nneg")
        .selectExpr("bucket", "n", "pos", "neg", "woe_micro",
          """CAST(FLOOR((CAST(pos AS DOUBLE) / CAST(npos AS DOUBLE)
            |  - CAST(neg AS DOUBLE) / CAST(nneg AS DOUBLE))
            | * (CAST(woe_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS iv_term_micro""".stripMargin)
      b.withColumn("iv_total_micro",
          sum($"iv_term_micro").over(Window.partitionBy())) // bucket-sized window
        .orderBy($"bucket")
    }),

    // HASHING TRICK: the brand|type composite (~150 categories) hashed
    // into 32 buckets via the repo's portable 60-bit md5 hash (the
    // MinHash/SimHash idiom in pure SQL: first 15 hex chars of md5 —
    // byte-identical on both engines, so the bucket assignment is a
    // full hash-gated oracle, not a rows-only check). Output is the
    // bucket census a trainer needs to size the hashed feature space:
    // rows per bucket, distinct original categories per bucket
    // (>1 = collision), and the per-bucket collision flag.
    "feat_hashing_trick" -> ((s, d) => {
      import s.implicits._
      val hashed = part(s, d).selectExpr(
        "concat(p_brand, '|', p_type) AS featval",
        """CAST(conv(substring(md5(concat(p_brand, '|', p_type)), 1, 15), 16, 10)
          | AS BIGINT) % 32 AS bucket""".stripMargin)
      hashed.groupBy($"bucket")
        .agg(count(lit(1)).as("n_parts"),
          countDistinct($"featval").as("n_categories"))
        .selectExpr("bucket", "n_parts", "n_categories",
          "CASE WHEN n_categories > 1 THEN 1 ELSE 0 END AS collided")
        .orderBy($"bucket")
    }),

    // CYCLICAL ENCODING of the order month: (sin, cos) of 2πm/12 as a
    // Scala-precomputed nano-quantized LITERAL table (the q241
    // periodogram discipline — no libm at query time on either
    // engine), so December and January land adjacent in feature space
    // instead of 11 apart. One keyed month aggregate + a 12-row
    // broadcast join.
    "feat_cyclical_encode" -> ((s, d) => {
      import s.implicits._
      val months = MonthTrig.toDF("m", "sin_nano", "cos_nano")
      orders(s, d)
        .groupBy(month($"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n_orders"))
        .join(broadcast(months), Seq("m"))
        .select($"m".as("month"), $"n_orders", $"sin_nano", $"cos_nano")
        .orderBy($"month")
    })
  )

  /** (month, ⌊sin·1e9⌋, ⌊cos·1e9⌋) literals for 2π(m−1)/12. */
  private val MonthTrig: Seq[(Int, Long, Long)] = (1 to 12).map { m =>
    val a = 2.0 * math.Pi * (m - 1) / 12.0
    (m, math.floor(math.sin(a) * 1e9).toLong, math.floor(math.cos(a) * 1e9).toLong)
  }
  private val MonthTrigSql = MonthTrig
    .map { case (m, sn, cn) => s"($m, CAST($sn AS BIGINT), CAST($cn AS BIGINT))" }
    .mkString("(VALUES ", ", ", ") trig(m, sin_nano, cos_nano)")

  val oracles: Map[String, String] = Map(
    "feat_standardize" ->
      """WITH st AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang,
        |  CAST(FLOOR(CAST(n * n_chars - sx AS DOUBLE)
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |    * 1000.0) AS BIGINT) AS z_milli
        |FROM documents d JOIN st ON st.lang = d.lang
        |ORDER BY doc_id""".stripMargin,

    "feat_onehot_topk" ->
      """WITH cnt AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM customer GROUP BY c_mktsegment),
        |rk AS (
        |  SELECT c_mktsegment, n_rows,
        |    CAST(row_number() OVER (ORDER BY n_rows DESC, c_mktsegment ASC) AS BIGINT) AS rk
        |  FROM cnt)
        |SELECT c_mktsegment AS segment,
        |  CASE WHEN rk <= 3 THEN rk ELSE 0 END AS onehot_idx, n_rows
        |FROM rk ORDER BY segment""".stripMargin,

    "feat_target_encode" ->
      """WITH t AS (
        |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc_c,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(SUM(y) AS BIGINT) AS npos FROM t),
        |c AS (
        |  SELECT disc_c, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM t GROUP BY disc_c)
        |SELECT disc_c, n, pos,
        |  CAST(FLOOR((CAST(pos AS DOUBLE)
        |     + 100.0 * CAST(npos AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / (CAST(n AS DOUBLE) + 100.0) * 10000.0) AS BIGINT) AS enc_bp
        |FROM c CROSS JOIN tot
        |ORDER BY disc_c""".stripMargin,

    "feat_woe_iv" ->
      """WITH t AS (
        |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS bucket,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |tot AS (
        |  SELECT CAST(SUM(y) AS BIGINT) AS npos,
        |    CAST(count(*) - SUM(y) AS BIGINT) AS nneg
        |  FROM t),
        |c AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM t GROUP BY bucket),
        |w AS (
        |  SELECT bucket, n, pos, n - pos AS neg,
        |    CASE WHEN pos = 0 OR n - pos = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(FLOOR(ln((CAST(pos AS DOUBLE) * CAST(nneg AS DOUBLE))
        |        / (CAST(n - pos AS DOUBLE) * CAST(npos AS DOUBLE))) * 1e6) AS BIGINT)
        |      END AS woe_micro,
        |    npos, nneg
        |  FROM c CROSS JOIN tot),
        |iv AS (
        |  SELECT bucket, n, pos, neg, woe_micro,
        |    CAST(FLOOR((CAST(pos AS DOUBLE) / CAST(npos AS DOUBLE)
        |       - CAST(neg AS DOUBLE) / CAST(nneg AS DOUBLE))
        |      * (CAST(woe_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS iv_term_micro
        |  FROM w)
        |SELECT bucket, n, pos, neg, woe_micro, iv_term_micro,
        |  CAST(SUM(iv_term_micro) OVER () AS BIGINT) AS iv_total_micro
        |FROM iv ORDER BY bucket""".stripMargin,

    "feat_hashing_trick" ->
      """WITH h AS (
        |  SELECT p_brand || '|' || p_type AS featval,
        |    ('0x' || substring(md5(p_brand || '|' || p_type), 1, 15))::BIGINT % 32 AS bucket
        |  FROM part),
        |c AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_parts,
        |    CAST(count(DISTINCT featval) AS BIGINT) AS n_categories
        |  FROM h GROUP BY bucket)
        |SELECT bucket, n_parts, n_categories,
        |  CASE WHEN n_categories > 1 THEN 1 ELSE 0 END AS collided
        |FROM c ORDER BY bucket""".stripMargin,

    "feat_cyclical_encode" ->
      s"""WITH cnt AS (
         |  SELECT CAST(month(o_orderdate) AS INTEGER) AS m,
         |    CAST(count(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY 1)
         |SELECT cnt.m AS month, n_orders, sin_nano, cos_nano
         |FROM cnt JOIN $MonthTrigSql ON trig.m = cnt.m
         |ORDER BY month""".stripMargin
  )
}
