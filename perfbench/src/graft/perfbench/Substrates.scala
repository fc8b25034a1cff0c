package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import perfbench.Clock

/** Lives under `graft` because the memo warm-ups are package-private
  * there. */
object Substrates {
  /** The substrate warm-ups `graft.Bench` runs before its timed loop,
    * one timed part per memo. The `AcidQueries.ensure*` commit chains
    * are left out: they cost more than all other warm-ups together and
    * only the `src_acid_*` entries read them, which the pool leaves out
    * (see make_pool.py). */
  def warm(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.operators._
    import graft.sources._
    def part(name: String)(body: => Any): (String, Double) =
      name -> Clock.ms(body)._2 / 1e3
    Seq(
      part("codegen") {
        spark.read.parquet(s"$dir/region.parquet").count()
        val ex = spark.read.parquet(s"$dir/documents.parquet").limit(64)
          .select(col("doc_id"),
            explode(graft.functions.TextFunctions.shingles3(split(col("text"), " "))).as("s"))
          .select(col("doc_id"), xxhash64(col("s")).as("h"))
        ex.join(ex.withColumnRenamed("doc_id", "doc2"), "h").groupBy(col("doc_id")).count().count()
      },
      part("DedupQueries.warmSubstrate")(DedupQueries.warmSubstrate(spark, dir)),
      part("SourceQueries.ensureBucketedWarehouse")(SourceQueries.ensureBucketedWarehouse(spark, dir)),
      part("GraphQueries.warmRecSubstrate")(GraphQueries.warmRecSubstrate(spark, dir)),
      part("SimilarityQueries2.ensureIvfWarehouse")(SimilarityQueries2.ensureIvfWarehouse(spark, dir)),
      part("MultimodalQueries.patternPayloads")(MultimodalQueries.patternPayloads(spark, dir).count())
    ).toMap
  }

}
