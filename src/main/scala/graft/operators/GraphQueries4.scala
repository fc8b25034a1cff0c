package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-14 batch-10 graph/recommender-health additions:
  *
  *  - `graph_pseudo_diameter` — the classic DOUBLE-SWEEP diameter
  *    lower bound on the document similarity graph: BFS from a
  *    deterministic seed (min vertex id), restart from the farthest
  *    vertex found, report the second eccentricity. Two sweeps give
  *    the standard tight diameter estimate at 2× BFS cost — the
  *    "how wide is this near-dup cluster structure?" number the
  *    per-hop census (`graph_bfs_reach`) doesn't summarize.
  *  - `cf_rec_coverage`       — serving-health audit of the item-CF
  *    recommendations (`cf_user_recs`' exact pipeline, shared
  *    builder): catalog coverage, top-item share and the normalized
  *    entropy of the recommendation distribution — the standard
  *    "is the recommender feeding everyone the same three items?"
  *    aggregation diversity report.
  *
  * Exactness: BFS distances and censuses are pure integers with
  * total-order tie-breaks (max dist, then min id), replayed by the
  * oracle as unrolled hop CTEs; coverage/share are integer basis
  * points; the entropy terms −share·ln(share) nano-floor PER ITEM
  * before the cross-item sum (the pNano idiom), and the normalizer
  * ln(k) is one single-value libm call.
  *
  * Scale: each hop is two keyed joins over frontier-sized input
  * against the sparse edge list (the graph_bfs_reach contract),
  * pointer-checkpointed so lineage stays one hop deep; the coverage
  * report is two keyed aggregates over the rec table.
  */
object GraphQueries4 extends graft.QueryModule {
  /** Hop budget per sweep (similarity components are shallow; the
    * sweep reports a lower bound by construction either way — and the
    * output's `frontier_exhausted` flag records WHICH kind of bound:
    * a true eccentricity (frontier went empty) vs a budget truncation). */
  private[graft] val Hops = 6

  /** Hop-limited BFS from a 1-row seed frame (doc_id) over the
    * two-orientation edge list; returns (visited = (doc_id, dist),
    * remaining = 1-row count of unvisited vertices one more hop would
    * still reach — 0 ⟺ the frontier was exhausted within the budget). */
  private[graft] def bfs(edges: DataFrame, seed: DataFrame): (DataFrame, DataFrame) = {
    import edges.sparkSession.implicits._
    val loopParts = 4
    var visited = seed.select($"doc_id").withColumn("dist", lit(0))
      .repartition(loopParts, $"doc_id").localCheckpoint()
    var frontier = visited.select($"doc_id")
    // (r20 note: a lazy-union visited set was measured here and
    // REVERTED — across 12 hops the growing union plan's anti-join
    // side cost more than the saved per-hop checkpoint job.)
    for (h <- 1 to Hops) {
      val next = edges
        .join(frontier.select($"doc_id".as("src")), Seq("src"))
        .select($"dst".as("doc_id")).distinct()
        .join(visited.select($"doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("dist", lit(h))
        .repartition(loopParts, $"doc_id").localCheckpoint()
      visited = visited.union(next)
        .repartition(loopParts, $"doc_id").localCheckpoint()
      frontier = next.select($"doc_id")
    }
    // one PROBE expansion past the budget (frontier-sized, like any
    // hop): >0 rows means the budget truncated the sweep
    val remaining = edges
      .join(frontier.select($"doc_id".as("src")), Seq("src"))
      .select($"dst".as("doc_id")).distinct()
      .join(visited.select($"doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("remaining"))
    (visited, remaining)
  }

  val queries: Map[String, Q] = Map(
    "graph_pseudo_diameter" -> ((s, d) => {
      import s.implicits._
      val edges = GraphQueries.simEdges(s, d)
      val seed = edges.agg(min($"src").as("doc_id")).localCheckpoint()
      val (v1, rem1) = bfs(edges, seed)
      val far1 = v1.orderBy($"dist".desc, $"doc_id".asc).limit(1)
        .select($"doc_id", $"dist".as("ecc1")).localCheckpoint()
      val (v2, rem2) = bfs(edges, far1.select($"doc_id"))
      val far2 = v2.orderBy($"dist".desc, $"doc_id".asc).limit(1)
        .select($"doc_id".as("far2"), $"dist".as("pseudo_diameter"))
      val n1 = v1.agg(count(lit(1)).as("n_reach1"))
      val n2 = v2.agg(count(lit(1)).as("n_reach2"))
      seed.select($"doc_id".as("seed"))
        .crossJoin(broadcast(far1.select($"doc_id".as("far1"), $"ecc1")))
        .crossJoin(broadcast(far2))
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .crossJoin(broadcast(rem1.select($"remaining".as("rem1"))))
        .crossJoin(broadcast(rem2.select($"remaining".as("rem2"))))
        .selectExpr("seed", "far1", "CAST(ecc1 AS BIGINT) AS ecc1",
          "far2", "CAST(pseudo_diameter AS BIGINT) AS pseudo_diameter",
          "n_reach1", "n_reach2",
          // 1 ⟺ BOTH sweeps ran out of frontier, not hop budget — the
          // reported bound is a true eccentricity of the component
          "CAST(CASE WHEN rem1 = 0 AND rem2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS frontier_exhausted")
    }),

    "cf_rec_coverage" -> ((s, d) => {
      import s.implicits._
      val recs = GraphQueries.userRecs(s, d) // session-memoized + checkpointed
        .select($"cust", $"rec_item")
      val perItem = recs.groupBy($"rec_item").agg(count(lit(1)).as("c"))
      val catalog = part(s, d).agg(count(lit(1)).as("catalog_size"))
      val tot = perItem.agg(count(lit(1)).as("k"), sum($"c").as("t"),
        max($"c").as("cmax"))
      val h = perItem.crossJoin(broadcast(tot))
        .selectExpr(
          // per-item −share·ln(share), nano-floored BEFORE the sum
          """CAST(FLOOR(-1.0e9 * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
            | * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS BIGINT) AS hn""".stripMargin)
        .agg(sum($"hn").as("h_nano"))
      val nu = recs.select($"cust").distinct().agg(count(lit(1)).as("n_users"))
      recs.agg(count(lit(1)).as("n_recs"))
        .crossJoin(broadcast(nu))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(catalog))
        .crossJoin(broadcast(h))
        .selectExpr("n_users", "n_recs",
          "k AS n_rec_items", "catalog_size",
          "(10000 * k) DIV catalog_size AS coverage_bp",
          "(10000 * cmax) DIV t AS top_item_share_bp",
          "h_nano",
          """CASE WHEN k <= 1 THEN 0
            | ELSE (1000 * h_nano)
            |   DIV CAST(FLOOR(1.0e9 * ln(CAST(k AS DOUBLE))) AS BIGINT)
            | END AS entropy_norm_milli""".stripMargin)
    })
  )

  /** Unrolled BFS hop CTE (shared skeleton — sweep `tag` reading seed
    * CTE `${tag}0`). */
  private def hopSql(tag: String, n: Int): String =
    s"""${tag}n$n AS (
       |  SELECT DISTINCT e.dst AS doc_id, $n AS dist
       |  FROM edges e JOIN ${tag}v${n - 1} f ON e.src = f.doc_id AND f.dist = ${n - 1}
       |  WHERE NOT EXISTS (SELECT 1 FROM ${tag}v${n - 1} x WHERE x.doc_id = e.dst)),
       |${tag}v$n AS MATERIALIZED (
       |  SELECT doc_id, dist FROM ${tag}v${n - 1}
       |  UNION ALL SELECT doc_id, dist FROM ${tag}n$n)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_pseudo_diameter" ->
      s"""WITH ${DedupQueries.pairsCte},
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |av0 AS (SELECT MIN(src) AS doc_id, 0 AS dist FROM edges),
         |${(1 to Hops + 1).map(hopSql("a", _)).mkString(",\n")},
         |far1 AS MATERIALIZED (
         |  SELECT doc_id, dist AS ecc1 FROM av$Hops
         |  ORDER BY dist DESC, doc_id LIMIT 1),
         |bv0 AS (SELECT doc_id, 0 AS dist FROM far1),
         |${(1 to Hops + 1).map(hopSql("b", _)).mkString(",\n")},
         |far2 AS (
         |  SELECT doc_id AS far2, dist AS pseudo_diameter FROM bv$Hops
         |  ORDER BY dist DESC, doc_id LIMIT 1),
         |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reach1 FROM av$Hops),
         |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reach2 FROM bv$Hops),
         |probe AS (
         |  SELECT (SELECT COUNT(*) FROM an${Hops + 1}) AS ra,
         |    (SELECT COUNT(*) FROM bn${Hops + 1}) AS rb)
         |SELECT (SELECT MIN(src) FROM edges) AS seed,
         |  far1.doc_id AS far1, CAST(far1.ecc1 AS BIGINT) AS ecc1,
         |  far2.far2, CAST(far2.pseudo_diameter AS BIGINT) AS pseudo_diameter,
         |  n_reach1, n_reach2,
         |  CAST(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END AS BIGINT) AS frontier_exhausted
         |FROM far1 CROSS JOIN far2 CROSS JOIN n1 CROSS JOIN n2 CROSS JOIN probe""".stripMargin,

    "cf_rec_coverage" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |freq AS (SELECT pk, CAST(count(*) AS BIGINT) AS f FROM li GROUP BY pk),
        |cooc AS (
        |  SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS cooc
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk),
        |sym AS (
        |  SELECT p1 AS item, p2 AS nbr, cooc FROM cooc
        |  UNION ALL SELECT p2, p1, cooc FROM cooc),
        |nbrs AS (
        |  SELECT item, nbr, cos2_e8 FROM (
        |    SELECT s.item, s.nbr,
        |      CAST(s.cooc * s.cooc * 100000000 // (fi.f * fn.f) AS BIGINT) AS cos2_e8,
        |      row_number() OVER (PARTITION BY s.item
        |        ORDER BY s.cooc * s.cooc * 100000000 // (fi.f * fn.f) DESC, s.nbr) AS rank
        |    FROM sym s
        |    JOIN freq fi ON s.item = fi.pk
        |    JOIN freq fn ON s.nbr = fn.pk)
        |  WHERE rank <= 3),
        |ui AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS cust, li.pk
        |  FROM orders o JOIN li ON o.o_orderkey = li.ok
        |  WHERE o.o_custkey % 100 = 0),
        |recs AS MATERIALIZED (
        |  SELECT cust, rec_item FROM (
        |    SELECT ui.cust, n.nbr AS rec_item,
        |      CAST(SUM(n.cos2_e8) AS BIGINT) AS score_e8,
        |      row_number() OVER (PARTITION BY ui.cust
        |        ORDER BY CAST(SUM(n.cos2_e8) AS BIGINT) DESC, n.nbr) AS rec_rank
        |    FROM ui JOIN nbrs n ON ui.pk = n.item
        |    WHERE NOT EXISTS (
        |      SELECT 1 FROM ui o WHERE o.cust = ui.cust AND o.pk = n.nbr)
        |    GROUP BY ui.cust, n.nbr)
        |  WHERE rec_rank <= 3),
        |per_item AS (SELECT rec_item, CAST(COUNT(*) AS BIGINT) AS c FROM recs GROUP BY rec_item),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS t,
        |    CAST(MAX(c) AS BIGINT) AS cmax
        |  FROM per_item),
        |cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS catalog_size FROM part),
        |h AS (
        |  SELECT CAST(SUM(hn) AS BIGINT) AS h_nano FROM (
        |    SELECT CAST(FLOOR(-1.0e9 * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS BIGINT) AS hn
        |    FROM per_item CROSS JOIN tot)),
        |nu AS (SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_users FROM recs),
        |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recs FROM recs)
        |SELECT n_users, n_recs, k AS n_rec_items, catalog_size,
        |  (10000 * k) // catalog_size AS coverage_bp,
        |  (10000 * cmax) // t AS top_item_share_bp,
        |  h_nano,
        |  CASE WHEN k <= 1 THEN 0
        |    ELSE (1000 * h_nano)
        |      // CAST(FLOOR(1.0e9 * ln(CAST(k AS DOUBLE))) AS BIGINT)
        |    END AS entropy_norm_milli
        |FROM nu CROSS JOIN nr CROSS JOIN tot CROSS JOIN cat CROSS JOIN h""".stripMargin
  )
}
