package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-14 graph addition: k-truss decomposition on the co-purchase
  * graph — the EDGE-level density stratification k-core can't see.
  * A k-truss keeps only edges supported by ≥ k−2 triangles, so where
  * the 3-core says "this vertex has ≥3 densely-embedded neighbors",
  * the 4-truss says "this EDGE sits inside ≥2 triangles" — the
  * community-backbone extractor (cohesion certified by closed wedges,
  * not raw degree).
  *
  * Substrate: the MUTUAL top-8 co-purchase graph — an edge survives
  * only if each endpoint kept the other in its degree-capped top-8
  * neighbor list (GraphQueries2.coPurchase), which re-symmetrizes the
  * capped list and keeps the max degree ≤ 8. That bound is what makes
  * the per-round triangle count linear: wedges per round ≤ 8·|E|, at
  * ANY order volume over the fixed catalog (the r11 densification
  * lesson — raw wedge enumeration is Σdeg² and measured 27× at 10×).
  *
  * Shape: fixed ROUNDS=3 of [count per-edge support → drop edges with
  * support < k−2 → re-symmetrize]; per round one keyed wedge join +
  * one keyed closure semilattice join + one edge aggregate, round
  * state pointer-checkpointed so lineage never compounds (the
  * graph_kcore_peel discipline). The convergence profile per round is
  * the output, replayed in DuckDB as an unrolled CTE; a round that
  * removes nothing certifies the fixed point early. All counts exact.
  */
object GraphQueries3 extends graft.QueryModule {
  private val K_TRUSS = 4 // keep edges with >= K_TRUSS - 2 triangles
  private val ROUNDS = 3

  val queries: Map[String, Q] = Map(
    "graph_ktruss" -> ((s, d) => {
      import s.implicits._
      val (_, capped) = GraphQueries2.coPurchase(s, d)
      val rev = capped.select($"dst".as("src"), $"src".as("dst"))
      var sym = capped.join(rev, Seq("src", "dst"), "left_semi")
        .localCheckpoint() // mutual cap: symmetric, degree <= 8
      // r20: per-round census is ONE aggregate job (count +
      // count_distinct in a single pass — value-identical to the two
      // count() actions it replaces; guide §1.2, fewer passes).
      def census(e: DataFrame): (Long, Long) = {
        val r = e.agg(count_distinct($"src").as("v"), count(lit(1)).as("c"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val out = Seq.newBuilder[(Int, Long, Long)]
      val c0 = census(sym)
      out += ((0, c0._1, c0._2))
      for (r <- 1 to ROUNDS) {
        val canon = sym.filter($"src" < $"dst")
          .select($"src".as("u"), $"dst".as("v"))
        val tri = canon
          .join(sym.select($"src".as("u"), $"dst".as("w")), Seq("u"))
          .join(sym.select($"src".as("v"), $"dst".as("w")), Seq("v", "w"))
          .groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
        val keep = tri.filter($"supp" >= K_TRUSS - 2).select($"u", $"v")
        sym = keep.select($"u".as("src"), $"v".as("dst"))
          .union(keep.select($"v".as("src"), $"u".as("dst")))
          .repartition(8, $"src").localCheckpoint()
        val cr = census(sym)
        out += ((r, cr._1, cr._2))
      }
      s.createDataFrame(out.result()).toDF("round", "n_vertices", "n_dir_edges")
        .orderBy($"round")
    })
  )

  val oracles: Map[String, String] = Map(
    "graph_ktruss" -> {
      // AS MATERIALIZED (DuckDB-only text): each symN is referenced 3×
      // by the next round's triangle join plus the final stats — without
      // materialization DuckDB inlines every reference and the substrate
      // self-join recomputes exponentially across the unrolled rounds.
      def round(n: Int): String = {
        val prev = s"sym${n - 1}"
        s"""tri$n AS (
           |  SELECT e.src AS u, e.dst AS v, CAST(count(*) AS BIGINT) AS supp
           |  FROM $prev e
           |  JOIN $prev a ON a.src = e.src
           |  JOIN $prev b ON b.src = e.dst AND b.dst = a.dst
           |  WHERE e.src < e.dst
           |  GROUP BY e.src, e.dst),
           |keep$n AS (SELECT u, v FROM tri$n WHERE supp >= ${K_TRUSS - 2}),
           |sym$n AS MATERIALIZED (SELECT u AS src, v AS dst FROM keep$n
           |          UNION ALL SELECT v, u FROM keep$n)""".stripMargin
      }
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |cooc AS MATERIALIZED (
         |  SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS c
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
         |symall AS (SELECT p1 AS src, p2 AS dst, c FROM cooc
         |           UNION ALL SELECT p2, p1, c FROM cooc),
         |capped AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY c DESC, dst) AS rn FROM symall)
         |  WHERE rn <= 8),
         |sym0 AS MATERIALIZED (
         |  SELECT a.src, a.dst FROM capped a
         |  WHERE EXISTS (SELECT 1 FROM capped b
         |                WHERE b.src = a.dst AND b.dst = a.src)),
         |${(1 to ROUNDS).map(round).mkString(",\n")}
         |${(0 to ROUNDS).map(r =>
           s"""SELECT $r AS round,
              |  CAST(count(DISTINCT src) AS BIGINT) AS n_vertices,
              |  CAST(count(*) AS BIGINT) AS n_dir_edges FROM sym$r""".stripMargin)
           .mkString("\nUNION ALL\n")}
         |ORDER BY round""".stripMargin
    }
  )
}
