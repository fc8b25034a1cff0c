package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftExpressions
import java.nio.file.{Files, Paths, Path}

/** The reference pipeline (SURVEY.md §2.1/§2.2), rebuilt Spark-first.
  *
  * Reference dataflow (`/root/reference/app/app.py:19-89`):
  *   scan(jsonl) → parse → validate(is-dict) → enrich(processed_timestamp)
  *              → conditional-project(temp_fahrenheit) → sink(jsonl)
  * plus README-declared operators: threshold filter (>10°C,
  * `/root/reference/README.md:15,40`), dimension lookup enrichment
  * (`README.md:13,42`), humidity validation (`README.md:9,38`).
  *
  * Semantics pinned by SURVEY.md §1.2 and enforced by IotPipelineSpec:
  *  - malformed JSON lines are dropped (side-output, not error)
  *  - non-object JSON top-level values are dropped
  *  - missing/non-numeric temperature keeps the record, nulls the °F col
  *  - empty output is still written
  *
  * Scale: the whole pipeline is narrow (scan → filter → project → sink,
  * no shuffle) except the dimension lookup, which broadcasts the small
  * dim table — on a 1000-executor cluster this runs one embarrassingly
  * parallel pass over the input files.
  */
object IotPipeline {

  /** struct<...> for the sensor records
    * (`/root/reference/README.md:185-189` for the field list). */
  val sensorSchema: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("location", StringType),
    StructField("temperature", DoubleType),
    StructField("humidity", DoubleType),
    StructField("pressure", DoubleType),
    StructField("timestamp", TimestampType)))

  /** O1/O2/O3: JSONL scan as text + one JSON parse per line
    * ([[parseSensorLines]]). One pass, no caching: the raw line rides
    * alongside the parsed struct, so the bad-record side output (O11)
    * keeps the original bytes — Spark's JSON source can't serve a
    * corrupt-only projection without caching the scan, which is a
    * non-starter at 100 TB. */
  def readSensors(spark: SparkSession, path: String): DataFrame =
    parseSensorLines(spark.read.text(path))

  /** The parse shared by the batch and streaming paths: text lines
    * (`value`) → (`value`, `is_object`, `parsed`), one Jackson parse per
    * line per job through the [[graft.functions.ParseJsonLine]] kernel.
    *  - `is_object`: the line is a well-formed JSON *object* (the
    *    reference's is-dict guard, `app/app.py:43-45`; malformed JSON
    *    `app/app.py:62-63`).
    *  - `parsed`: typed struct parse; a type-mismatched field nulls just
    *    that field, keeping the record (`app/app.py:57-58` semantics —
    *    a string temperature must NOT drop the row).
    * Both equal `from_json(value, map<string,string>).isNotNull` and
    * `from_json(value, sensorSchema)` row for row (IotPipelineSpec's
    * differential test); only bad lines pay for the second parse.
    * Empty and whitespace-only lines are skipped (`app/app.py:35-37`).
    *
    * The kernel is a Generator because Catalyst keeps filters on a
    * Generate's output above it, while filters on `from_json` columns
    * (`is_object`, `temperature > threshold`) are pushed below the
    * projection as further copies of the parse. */
  def parseSensorLines(lines: DataFrame): DataFrame =
    lines.select(col("value"), GraftExpressions.parse_json_line(col("value"), sensorSchema))

  /** O4 + O11: split into (good, bad). Bad = unparseable or non-object,
    * preserved verbatim for the dead-letter output. */
  def splitCorrupt(raw: DataFrame): (DataFrame, DataFrame) = {
    val bad = raw.filter(!col("is_object"))
      .select(col("value").as("raw_line"))
    val good = raw.filter(col("is_object")).select(col("parsed.*"))
    (good, bad)
  }

  /** O5/O6/O7/D3: enrich + conditional °F projection + validity flags.
    * Missing/null temperature keeps the record and nulls temp_fahrenheit
    * (`app/app.py:51-58` keep-on-invalid semantics). Column order pins
    * SURVEY.md §1.2 quirk 6: original keys, then processed_timestamp,
    * then temp_fahrenheit (dict insertion order in `app/app.py:48,55`);
    * humidity_valid is a rebuild extension and goes last. */
  def transform(good: DataFrame): DataFrame =
    good
      .withColumn("processed_timestamp",
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"))
      .withColumn("temp_fahrenheit", when(col("temperature").isNotNull,
        col("temperature") * 9.0 / 5.0 + 32.0))
      .withColumn("humidity_valid",
        col("humidity").isNotNull && col("humidity") >= 0.0 && col("humidity") <= 100.0)

  /** D1: README's declared >threshold filter (default 10.0 °C). */
  def thresholdFilter(df: DataFrame, threshold: Double = 10.0): DataFrame =
    df.filter(col("temperature") > threshold)

  /** D2: dimension-lookup enrichment (device_id → location_id) via
    * broadcast hash join — the dim table never shuffles the fact side. */
  def enrichLocation(df: DataFrame, dim: DataFrame): DataFrame =
    df.join(broadcast(dim), Seq("device_id"), "left")

  /** O8: JSONL sink (also writes an empty dir for zero rows, matching the
    * reference's write-even-when-empty, `app/app.py:69-80`). */
  def writeJsonl(df: DataFrame, outPath: String): Unit =
    df.write.mode("overwrite").json(outPath)

  // -------------------------------------------------------------------
  // Fixtures (FIXTURES.md §A/§B — the reference's own test vectors).

  val fixtureA: Seq[String] = Seq(
    """{"device_id": "sensor-alpha", "location": "warehouse-A", "temperature": 20.0, "humidity": 55.5, "pressure": 1012.3, "timestamp": "2025-07-11T11:00:00Z"}""",
    """{"device_id": "sensor-beta", "location": "warehouse-B", "temperature": 28.1, "humidity": 62.1, "pressure": 1010.5, "timestamp": "2025-07-11T11:01:00Z"}""",
    """{"device_id": "sensor-alpha", "location": "warehouse-A", "temperature": 22.5, "humidity": 58.0, "pressure": 1011.8, "timestamp": "2025-07-11T11:02:00Z"}""",
    """{"device_id": "sensor-gamma", "location": "server-room-1", "temperature": 18.7, "humidity": 45.0, "pressure": 1013.0, "timestamp": "2025-07-11T11:03:00Z"}""",
    """{"device_id": "sensor-beta", "location": "warehouse-B", "temperature": 26.9, "humidity": 60.5, "pressure": 1010.9, "timestamp": "2025-07-11T11:04:00Z"}""")

  val fixtureB: Seq[String] = Seq(
    """{"device_id": "sensor-001", "temperature": 25.5, "humidity": 60}""",
    """{"device_id": "sensor-002", "temperature": 30.0, "humidity": 65}""",
    """{"device_id": "sensor-003", "temperature": 20.1, "humidity": 55}""",
    """this is a bad line""",
    """{"device_id": "sensor-004", "humidity": 70}""")

  /** Materialize the fixtures as a JSONL file in the system temp dir
    * (CWD-independent) and return its path (the reference's
    * local-fallback smoke, `app/app.py:100-145`). */
  def materializeFixtures(): String = {
    val dir: Path = Files.createTempDirectory("iot-fixtures")
    val f: Path = dir.resolve("raw_sensor_data.jsonl")
    Files.writeString(f, (fixtureA ++ fixtureB).mkString("\n") + "\n")
    f.toAbsolutePath.toString
  }

  /** The flagship: full reference surface (O1–O8 + D1–D3) end-to-end over
    * the reference's own fixtures. Returns the processed DataFrame
    * (rows > 0: fixtureA all pass the >10°C threshold). */
  def flagship(spark: SparkSession): DataFrame = {
    val raw = readSensors(spark, materializeFixtures())
    val (good, _) = splitCorrupt(raw)
    val dim = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        ("sensor-alpha", 101), ("sensor-beta", 102), ("sensor-gamma", 103),
        ("sensor-001", 1), ("sensor-002", 2), ("sensor-003", 3), ("sensor-004", 4))
        .map(t => org.apache.spark.sql.Row(t._1, t._2))),
      StructType(Seq(StructField("device_id", StringType), StructField("location_id", IntegerType))))
    enrichLocation(thresholdFilter(transform(good)), dim)
  }
}
