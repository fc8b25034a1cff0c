package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2.3): each entry
  * is a Spark DataFrame builder over the testdata dir, and (where SQL-
  * expressible) `oracleSql` carries its DuckDB twin. Column names and a
  * deterministic total ordering match on both sides.
  */
object SparkEntry {

  /** Flagship: the reference's entire dataflow (O1–O8 + D1–D3) run as one
    * Spark job over the reference's own fixtures. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    IotPipeline.flagship(spark)

  /** Every operator module, once. A new module is one more line here;
    * a name it shares with another module fails at first access. */
  lazy val modules: Seq[QueryModule] = Seq(
    RelationalQueries, RelationalQueries2, StreamingQueries, SamplingQueries,
    graft.sources.SourceQueries, graft.sources.AcidQueries, IotQueries,
    TextQueries, DedupQueries, SimilarityQueries, SimilarityQueries2,
    MultimodalQueries, AsOfJoin, RelationalQueries3, RelationalQueries4,
    RelationalQueries5, RelationalQueries6, RelationalQueries7,
    RelationalQueries8, RelationalQueries9, GraphQueries, TextQueries2,
    RelationalQueries10, GraphQueries2, MlQueries, TextQueries3,
    RelationalQueries11, MlQueries2, RelationalQueries12, TextQueries4,
    RelationalQueries13, TextQueries5, RelationalQueries14, DedupQueries2,
    RelationalQueries15, DedupQueries3, MlQueries3, TextQueries6,
    RelationalQueries16, MlQueries4, FeatureQueries, RelationalQueries17,
    MlQueries5, GraphQueries3, TextQueries7, RelationalQueries18, MlQueries6,
    DedupQueries4, TextQueries8, GraphQueries4, GraphQueries5,
    RelationalQueries19, MlQueries7, RelationalQueries20, TextQueries9,
    RelationalQueries21, MlQueries8, TextQueries10, TextQueries11,
    DedupQueries5, DedupQueries6, CurationQueries, RelationalQueries22)

  private lazy val registry = QueryModule.merge(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = registry._2
}
