package graft

/** Every declared query must run and return rows on sf0.001, and every
  * oracle key must reference a declared query. Value-level correctness
  * is the driver's DuckDB gate (tools/check.py locally). */
class QueriesSpec extends SparkSuite {

  test("oracleSql keys are a subset of queries keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("no query name collides across operator files (Map ++ would silently drop one)") {
    val modules = SparkEntry.modules
    assert(modules.distinct.size === modules.size, "a module is listed twice")
    val (queries, oracles) = QueryModule.merge(modules)
    assert(modules.map(_.queries.size).sum === queries.size,
      "merged queries map lost entries to a key collision")
    assert(modules.map(_.oracles.size).sum === oracles.size,
      "merged oracle map lost entries to a key collision")
    assert(queries.keySet === SparkEntry.queries.keySet)
  }

  test("the registry merge rejects a twice-declared query or oracle and an oracle outside its module") {
    def fault(modules: QueryModule*): String =
      intercept[IllegalStateException](QueryModule.merge(modules)).getMessage
    val dupQuery = fault(QueriesSpec.WithOracle, QueriesSpec.QueryOnly)
    assert(dupQuery.contains("query 'x'") &&
      dupQuery.contains("WithOracle") && dupQuery.contains("QueryOnly"), dupQuery)
    val dupOracle = fault(QueriesSpec.WithOracle, QueriesSpec.StrayOracle)
    assert(dupOracle.contains("oracle 'x'") &&
      dupOracle.contains("WithOracle") && dupOracle.contains("StrayOracle"), dupOracle)
    val stray = fault(QueriesSpec.QueryOnly, QueriesSpec.StrayOracle)
    assert(stray.contains("oracle 'x'") &&
      stray.contains("StrayOracle") && stray.contains("QueryOnly"), stray)
    val (queries, oracles) = QueryModule.merge(Seq(QueriesSpec.WithOracle))
    assert(queries.keySet === Set("x") && oracles === Map("x" -> "SELECT 1 AS x"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("observe() metrics ride a pipeline without a second pass") {
    // the production monitoring hook: named metrics are collected
    // DURING the action (accumulator-style, zero extra scans) — the
    // shape a 100 TB pipeline uses for row-count/quality telemetry
    // instead of separate count() jobs over the same data
    import org.apache.spark.sql.functions._
    val obs = new org.apache.spark.sql.Observation("iot_metrics")
    val out = Tables.lineitem(spark, sf)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("high_discount"))
      .filter(col("l_discount") > 0.05)
    val filtered = out.count()
    val m = obs.get
    assert(m("rows_seen").asInstanceOf[Long] > filtered,
      "observe should see pre-filter traffic")
    assert(m("high_discount").asInstanceOf[Long] === filtered,
      "observed metric must equal the filtered count without a second scan")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs, returns rows, and emits only scalar columns on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // the driver's comparator can't hash array/struct/map cells —
      // a non-scalar output column silently zeroes the query's score
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      df.schema.fields.foreach { f =>
        val complex = f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] || f.dataType.isInstanceOf[StructType]
        assert(!complex,
          s"$name column ${f.name} has non-scalar type ${f.dataType.simpleString}")
      }
      assert(df.count() > 0, s"$name returned zero rows")
    }
  }
}

object QueriesSpec {
  private def one(s: org.apache.spark.sql.SparkSession, d: String) = s.range(1).toDF("x")
  object WithOracle extends QueryModule {
    val queries = Map[String, Q]("x" -> one)
    val oracles = Map("x" -> "SELECT 1 AS x")
  }
  object QueryOnly extends QueryModule {
    val queries = Map[String, Q]("x" -> one)
    val oracles = Map.empty[String, String]
  }
  object StrayOracle extends QueryModule {
    val queries = Map[String, Q]("y" -> one)
    val oracles = Map("x" -> "SELECT 1 AS x")
  }
}
