package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator module of the gate inventory: a DataFrame builder per
  * entry name over the testdata dir, and the DuckDB twin of each entry
  * that SQL can express. `SparkEntry.modules` lists every module once. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}

object QueryModule {
  private def name(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")

  /** The union of one part of every module, each key paired with the
    * module that declares it. A key declared twice throws, naming both
    * modules (`Map ++` would silently keep the later one). */
  private def union[V](what: String, modules: Seq[QueryModule])(
      part: QueryModule => Map[String, V]): Map[String, (V, QueryModule)] =
    modules.foldLeft(Map.empty[String, (V, QueryModule)]) { (acc, m) =>
      part(m).foldLeft(acc) { case (acc, (k, v)) =>
        acc.get(k).foreach { case (_, first) =>
          throw new IllegalStateException(
            s"$what '$k' is declared in both ${name(first)} and ${name(m)}")
        }
        acc.updated(k, (v, m))
      }
    }

  /** Merge the modules into `(queries, oracleSql)`. Throws on a query
    * name declared twice, an oracle key declared twice, or an oracle
    * whose key is not among its own module's queries. */
  private[graft] def merge(modules: Seq[QueryModule])
      : (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) = {
    val queries = union("query", modules)(_.queries)
    val oracles = union("oracle", modules)(_.oracles)
    oracles.foreach { case (k, (_, m)) =>
      if (!m.queries.contains(k)) throw new IllegalStateException(
        s"oracle '$k' in ${name(m)} has no query of that name in ${name(m)}; " +
          queries.get(k).fold("no module declares it")(q => s"it is declared in ${name(q._2)}"))
    }
    (queries.map { case (k, (q, _)) => k -> q }, oracles.map { case (k, (o, _)) => k -> o })
  }
}
