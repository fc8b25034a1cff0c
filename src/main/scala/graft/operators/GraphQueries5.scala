package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-15 graph additions over the document similarity graph:
  *
  *  - `graph_katz_centrality` — Katz centrality, the attenuation-sum
  *    cousin of PageRank (credit flows along ALL walks, damped per
  *    hop, with a constant per-node base injection instead of a
  *    degree-normalized redistribution): x ← β + α·A·x for 4 rounds,
  *    β = 1000 milli, α = 0.2. Katz ranks low-degree nodes attached
  *    to hubs higher than PageRank does — the "who sits NEXT to the
  *    near-dup mass" view the pagerank/HITS pair doesn't give.
  *  - `graph_component_census` — component SIZE HISTOGRAM of the
  *    near-dup graph (singletons included): the one-line answer to
  *    "is dedup facing confetti (all pairs) or a few giant blobs?"
  *    that decides banding parameters and cluster-rep strategy
  *    before any clustering runs. Engine = the shared pointer-
  *    doubling ConnectedComponents (the labels dedup_cluster_reps
  *    ships), re-aggregated by size.
  *
  * Exactness: Katz state is integer milli with positive floor
  * division each round (x' = 1000 + (200·Σx_nbr) DIV 1000 — same op
  * tree in the unrolled oracle CTEs; all terms positive, so Spark's
  * truncating DIV and DuckDB's flooring // agree); the census is
  * pure integer counting on the oracle's recursive-closure labels.
  *
  * Scale: Katz rounds are one keyed join + one keyed aggregate over
  * the edge list each (the PageRank loop contract), pointer-
  * checkpointed; the census adds two keyed aggregates over the
  * component labels. Nothing touches the corpus after the shared
  * pair substrate.
  */
object GraphQueries5 extends graft.QueryModule {
  /** Katz attenuation rounds (α=0.2 → a 5-hop walk carries ≈3e-4 of
    * a direct edge's weight — below milli resolution, so more rounds
    * change nothing visible). */
  private val KatzRounds = 4

  /** Betweenness hop cap (k-bounded Brandes). */
  private val BcHops = 4

  val queries: Map[String, Q] = Map(
    "graph_katz_centrality" -> ((s, d) => {
      import s.implicits._
      val edges = GraphQueries.simEdges(s, d)
      val loopParts = 4
      var x = edges.select($"src".as("doc_id")).distinct()
        .withColumn("x", lit(1000L))
        .repartition(loopParts, $"doc_id").localCheckpoint()
      for (_ <- 1 to KatzRounds) {
        // every active vertex has ≥1 neighbor (it came from an edge),
        // so the inner join keeps the full vertex set each round
        x = edges
          .join(x.select($"doc_id".as("src"), $"x"), Seq("src"))
          .groupBy($"dst".as("doc_id"))
          .agg(sum($"x").as("sx"))
          .selectExpr("doc_id", "1000 + (200 * sx) DIV 1000 AS x")
          .repartition(loopParts, $"doc_id").localCheckpoint()
      }
      val deg = edges.groupBy($"dst".as("doc_id"))
        .agg(count(lit(1)).as("degree"))
      x.join(deg, Seq("doc_id"))
        .orderBy($"x".desc, $"doc_id".asc).limit(20)
        .select($"doc_id", $"x".as("katz_milli"), $"degree")
    }),

    "graph_component_census" -> ((s, d) => {
      import s.implicits._
      val labels = ConnectedComponents.labels(s,
        DedupQueries.jaccardPairs(s, d).select($"d1", $"d2"),
        "graph_component_census")
      val comps = documents(s, d).select($"doc_id")
        .join(labels.select($"id".as("doc_id"), $"lab"), Seq("doc_id"), "left")
        .select(coalesce($"lab", $"doc_id").as("rep"))
        .groupBy($"rep").agg(count(lit(1)).as("comp_size"))
      val tot = comps.agg(sum($"comp_size").as("n_docs")).localCheckpoint()
      comps.groupBy($"comp_size").agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot)) // single-row side
        .selectExpr("comp_size", "n_components",
          "comp_size * n_components AS docs_in_size",
          "(10000 * comp_size * n_components) DIV n_docs AS docs_share_bp")
        .orderBy($"comp_size")
    }),

    // HOP-BOUNDED BRANDES BETWEENNESS (sampled sources) — the
    // bridge-vertex centrality the pagerank/Katz/HITS trio can't see:
    // which documents sit ON the shortest paths between near-dup
    // regions? Sources = the graph_bfs_reach seed set (doc_id ≡ 0 mod
    // 10); distances capped at [[BcHops]] hops (k-bounded betweenness,
    // the standard sampling + truncation pair for huge graphs —
    // Brandes 2001 + Borassi/Natale-style bounding). FORWARD: per-seed
    // BFS where σ(w) = Σ σ(v) over dist-(h−1) predecessors — one keyed
    // join + keyed sum + anti-join per hop, frontier-sized. BACKWARD:
    // Brandes' dependency accumulation with the fraction kept in
    // INTEGER micro-units — δμ(v) = Σ_w σ(v)·(10⁶ + δμ(w)) DIV σ(w)
    // per successor edge, summed exactly (all terms non-negative, so
    // Spark DIV and DuckDB // agree; the oracle unrolls the identical
    // per-level floors). Output: top-20 bridges by accumulated
    // dependency. State is (seed × reached-node)-sized, checkpointed
    // per hop; at 100 TB the seed sample rate bounds it.
    "graph_betweenness" -> ((s, d) => {
      import s.implicits._
      val edges = GraphQueries.simEdges(s, d)
      val loopParts = 4
      var levels = edges.select($"src".as("doc_id")).distinct()
        .filter($"doc_id" % 10 === 0)
        .select($"doc_id".as("seed"), $"doc_id", lit(0).as("dist"),
          lit(1L).as("sigma"))
        .repartition(loopParts, $"seed", $"doc_id").localCheckpoint()
      var frontier = levels
      // (r20 note: a lazy-union levels set was measured here and
      // REVERTED — the (seed, doc_id) anti-join's union side
      // re-shuffled per hop, outweighing the saved checkpoint job.)
      for (h <- 1 to BcHops) {
        val next = edges
          .join(frontier.select($"seed", $"doc_id".as("src"), $"sigma"),
            Seq("src"))
          .groupBy($"seed", $"dst".as("doc_id"))
          .agg(sum($"sigma").as("sigma"))
          .join(levels.select($"seed", $"doc_id"), Seq("seed", "doc_id"),
            "left_anti")
          .withColumn("dist", lit(h))
          .select($"seed", $"doc_id", $"dist", $"sigma")
          .repartition(loopParts, $"seed", $"doc_id").localCheckpoint()
        levels = levels.union(next)
          .repartition(loopParts, $"seed", $"doc_id").localCheckpoint()
        frontier = next
      }
      // backward accumulation, deepest level first; the cap level's
      // dependency is 0 by construction
      var delta = levels.filter($"dist" === BcHops)
        .select($"seed", $"doc_id", lit(0L).as("dmu")).localCheckpoint()
      var acc = delta
      for (h <- (BcHops - 1) to 1 by -1) {
        val cur = levels.filter($"dist" === h)
          .select($"seed", $"doc_id", $"sigma")
        val contrib = edges
          .join(cur.select($"seed", $"doc_id".as("src"), $"sigma".as("sig_v")),
            Seq("src"))
          .join(levels.filter($"dist" === h + 1)
            .select($"seed", $"doc_id".as("dst"), $"sigma".as("sig_w")),
            Seq("seed", "dst"))
          .join(delta.select($"seed", $"doc_id".as("dst"), $"dmu".as("dmu_w")),
            Seq("seed", "dst"))
          .groupBy($"seed", $"src".as("doc_id"))
          .agg(sum(expr("sig_v * (1000000 + dmu_w) DIV sig_w")).as("contrib"))
        delta = cur.join(contrib, Seq("seed", "doc_id"), "left")
          .select($"seed", $"doc_id",
            coalesce($"contrib", lit(0L)).as("dmu"))
          .repartition(loopParts, $"seed", $"doc_id").localCheckpoint()
        acc = acc.union(delta)
      }
      acc.groupBy($"doc_id")
        .agg(sum($"dmu").as("bc_micro"),
          count(lit(1)).as("n_seeds_reaching"))
        .orderBy($"bc_micro".desc, $"doc_id".asc).limit(20)
    })
  )

  /** One unrolled Katz round: k$i from k${i-1} over the symmetric
    * edge CTE. */
  private def katzRoundSql(i: Int): String =
    s"""k$i AS MATERIALIZED (
       |  SELECT e.dst AS doc_id,
       |    1000 + (200 * CAST(SUM(p.x) AS BIGINT)) // 1000 AS x
       |  FROM edges e JOIN k${i - 1} p ON e.src = p.doc_id
       |  GROUP BY e.dst)""".stripMargin

  /** One unrolled forward Brandes hop: frontier n$i + visited v$i. */
  private def bcHopSql(i: Int): String =
    s"""n$i AS MATERIALIZED (
       |  SELECT f.seed, e.dst AS doc_id, CAST(SUM(f.sigma) AS BIGINT) AS sigma
       |  FROM edges e JOIN n${i - 1} f ON e.src = f.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x
       |                    WHERE x.seed = f.seed AND x.doc_id = e.dst)
       |  GROUP BY f.seed, e.dst),
       |v$i AS MATERIALIZED (SELECT seed, doc_id FROM v${i - 1}
       |        UNION ALL SELECT seed, doc_id FROM n$i)""".stripMargin

  /** One unrolled backward Brandes level: integer-floored per-edge
    * dependency contributions from level h+1 into level h. */
  private def bcBackSql(h: Int): String =
    s"""x$h AS MATERIALIZED (
       |  SELECT v.seed, v.doc_id,
       |    CAST(SUM(v.sigma * (1000000 + dw.dmu) // w.sigma) AS BIGINT)
       |      AS contrib
       |  FROM n$h v
       |  JOIN edges e ON e.src = v.doc_id
       |  JOIN n${h + 1} w ON w.seed = v.seed AND w.doc_id = e.dst
       |  JOIN d${h + 1} dw ON dw.seed = v.seed AND dw.doc_id = e.dst
       |  GROUP BY v.seed, v.doc_id),
       |d$h AS MATERIALIZED (
       |  SELECT v.seed, v.doc_id, CAST(COALESCE(x.contrib, 0) AS BIGINT) AS dmu
       |  FROM n$h v LEFT JOIN x$h x
       |    ON x.seed = v.seed AND x.doc_id = v.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_betweenness" ->
      s"""WITH ${DedupQueries.pairsCte},
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |n0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS seed, src AS doc_id,
         |    CAST(1 AS BIGINT) AS sigma
         |  FROM edges WHERE src % 10 = 0),
         |v0 AS MATERIALIZED (SELECT seed, doc_id FROM n0),
         |${(1 to BcHops).map(bcHopSql).mkString(",\n")},
         |d$BcHops AS (SELECT seed, doc_id, CAST(0 AS BIGINT) AS dmu
         |             FROM n$BcHops),
         |${((BcHops - 1) to 1 by -1).map(bcBackSql).mkString(",\n")},
         |acc AS (${(1 to BcHops).map(h => s"SELECT seed, doc_id, dmu FROM d$h")
            .mkString("\n  UNION ALL ")})
         |SELECT doc_id, CAST(SUM(dmu) AS BIGINT) AS bc_micro,
         |  CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching
         |FROM acc GROUP BY doc_id
         |ORDER BY bc_micro DESC, doc_id ASC LIMIT 20""".stripMargin,

    "graph_katz_centrality" ->
      s"""WITH ${DedupQueries.pairsCte},
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |k0 AS (SELECT DISTINCT src AS doc_id, CAST(1000 AS BIGINT) AS x FROM edges),
         |${(1 to KatzRounds).map(katzRoundSql).mkString(",\n")},
         |deg AS (SELECT dst AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
         |        FROM edges GROUP BY dst)
         |SELECT k.doc_id, k.x AS katz_milli, deg.degree
         |FROM k$KatzRounds k JOIN deg ON k.doc_id = deg.doc_id
         |ORDER BY k.x DESC, k.doc_id ASC LIMIT 20""".stripMargin,

    // component labels as a recursive closure (the dedup_cluster_reps
    // oracle), re-aggregated into the size histogram
    "graph_component_census" ->
      s"""WITH RECURSIVE ${DedupQueries.pairsCte},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |          UNION ALL SELECT d2, d1 FROM pairs),
         |reach(doc_id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |final AS (SELECT doc_id, MIN(lab) AS lab FROM reach GROUP BY doc_id),
         |comps AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS comp_size
         |          FROM final GROUP BY lab),
         |tot AS (SELECT CAST(SUM(comp_size) AS BIGINT) AS n_docs FROM comps)
         |SELECT comp_size, CAST(COUNT(*) AS BIGINT) AS n_components,
         |  comp_size * CAST(COUNT(*) AS BIGINT) AS docs_in_size,
         |  (10000 * comp_size * CAST(COUNT(*) AS BIGINT)) // n_docs AS docs_share_bp
         |FROM comps CROSS JOIN tot
         |GROUP BY comp_size, n_docs
         |ORDER BY comp_size""".stripMargin
  )
}
