package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.ParseJsonLine
import graft.operators.IotPipeline
import java.nio.file.{Files, Paths}

/** Pins the reference semantics frozen in SURVEY.md §1.2 / FIXTURES.md. */
class IotPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def writeJsonl(name: String, lines: Seq[String]): String = {
    val dir = Paths.get("target", "test-fixtures")
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    Files.writeString(f, lines.mkString("\n") + "\n")
    f.toAbsolutePath.toString
  }

  test("malformed JSON line is dropped to the bad side output, not an error") {
    val raw = IotPipeline.readSensors(spark, writeJsonl("b.jsonl", IotPipeline.fixtureB))
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(good.count() === 4) // 3 good + sensor-004 (missing temperature)
    assert(bad.count() === 1)
    assert(bad.as[String].collect().head.contains("bad line"))
  }

  test("non-object JSON top-level values are dropped (app.py:43-45 semantics)") {
    val lines = Seq("""[1, 2]""", "\"just a string\"", "42", "null",
      """{"device_id": "s", "temperature": 25}""")
    val raw = IotPipeline.readSensors(spark, writeJsonl("nonobj.jsonl", lines))
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(good.count() === 1)
    assert(bad.count() === 4)
  }

  test("missing temperature keeps the record without temp_fahrenheit (app.py:51)") {
    val raw = IotPipeline.readSensors(spark, writeJsonl("b2.jsonl", IotPipeline.fixtureB))
    val (good, _) = IotPipeline.splitCorrupt(raw)
    val out = IotPipeline.transform(good)
    val s4 = out.filter($"device_id" === "sensor-004").collect()
    assert(s4.length === 1)
    assert(s4.head.isNullAt(s4.head.fieldIndex("temp_fahrenheit")))
    // and the three good records convert exactly (FIXTURES.md §B)
    val f = out.filter($"temp_fahrenheit".isNotNull)
      .orderBy($"device_id").select($"temp_fahrenheit").as[Double].collect()
    assert(f.toSeq === Seq(77.9, 86.0, 68.18))
  }

  test("°F conversion matches the reference formula on fixture A (FIXTURES.md §A)") {
    val raw = IotPipeline.readSensors(spark, writeJsonl("a.jsonl", IotPipeline.fixtureA))
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(bad.count() === 0)
    val out = IotPipeline.transform(good)
      .orderBy($"timestamp").select($"temp_fahrenheit").as[Double].collect()
    assert(out.toSeq === Seq(68.0, 82.58, 72.5, 65.66, 80.42))
  }

  test("threshold filter drops records at/below 10°C and null temperatures (README.md:15)") {
    val lines = Seq(
      """{"device_id": "cold", "temperature": 5.0}""",
      """{"device_id": "edge", "temperature": 10.0}""",
      """{"device_id": "warm", "temperature": 10.1}""",
      """{"device_id": "none"}""")
    val raw = IotPipeline.readSensors(spark, writeJsonl("th.jsonl", lines))
    val (good, _) = IotPipeline.splitCorrupt(raw)
    val kept = IotPipeline.thresholdFilter(IotPipeline.transform(good))
      .select($"device_id").as[String].collect()
    assert(kept.toSeq === Seq("warm"))
  }

  test("output column order: original keys, processed_timestamp, temp_fahrenheit (§1.2 quirk 6)") {
    val raw = IotPipeline.readSensors(spark, writeJsonl("order.jsonl", IotPipeline.fixtureA))
    val (good, _) = IotPipeline.splitCorrupt(raw)
    val cols = IotPipeline.transform(good).columns.toSeq
    val base = IotPipeline.sensorSchema.fieldNames.toSeq
    assert(cols.take(base.size) === base)
    assert(cols.drop(base.size).take(2) === Seq("processed_timestamp", "temp_fahrenheit"))
  }

  test("boolean temperature: declared divergence — kept with null temp (§1.2 quirk 5)") {
    // reference converts JSON true (bool ⊂ int in CPython) to 33.8 °F; the
    // rebuild nulls it under DoubleType but MUST keep the record
    val lines = Seq("""{"device_id": "s", "temperature": true, "humidity": 40}""")
    val raw = IotPipeline.readSensors(spark, writeJsonl("booltemp.jsonl", lines))
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(bad.count() === 0, "boolean-temperature record must not be dropped")
    val r = IotPipeline.transform(good).collect().head
    assert(r.getAs[String]("device_id") === "s")
    assert(r.isNullAt(r.fieldIndex("temperature")))
    assert(r.isNullAt(r.fieldIndex("temp_fahrenheit")))
  }

  test("non-numeric temperature keeps the record, nulls the field (app.py:57-58)") {
    val lines = Seq("""{"device_id": "s", "temperature": "hot", "humidity": 50}""")
    val raw = IotPipeline.readSensors(spark, writeJsonl("badtemp.jsonl", lines))
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(bad.count() === 0)
    val r = IotPipeline.transform(good).collect().head
    assert(r.getAs[String]("device_id") === "s")
    assert(r.isNullAt(r.fieldIndex("temperature")))
    assert(r.isNullAt(r.fieldIndex("temp_fahrenheit")))
    assert(r.getAs[Double]("humidity") === 50.0)
  }

  test("empty input still writes an (empty) output — app.py:69-80 parity") {
    // blank lines are skipped, not dead-lettered: the reference skips
    // every line whose str.strip() is empty (app.py:35-37), so tabs, form
    // feeds, vertical tabs, NEL and no-break spaces count as blank too
    val blanks = Seq("", "   ", "\t", " \t ", "\f", "\u000b", "\u0085", "\u00a0 \u3000", "\u001f")
    val in = writeJsonl("empty.jsonl", blanks)
    val raw = IotPipeline.readSensors(spark, in)
    val (good, bad) = IotPipeline.splitCorrupt(raw)
    assert(bad.count() === 0)
    val outDir = Files.createTempDirectory("iot-empty-out").toString
    IotPipeline.writeJsonl(IotPipeline.transform(good), outDir)
    assert(Files.exists(Paths.get(outDir, "_SUCCESS")))
    assert(spark.read.schema(IotPipeline.sensorSchema).json(outDir).count() === 0)
  }

  /** `is_object` and `parsed` as two `from_json` columns: the reference
    * the shared parse must equal row for row. */
  private def fromJsonReference(lines: DataFrame): DataFrame =
    lines
      .withColumn("is_object", from_json($"value", MapType(StringType, StringType)).isNotNull)
      .withColumn("parsed", from_json($"value", IotPipeline.sensorSchema))

  private def assertSameAsFromJson(name: String, lines: Seq[String]): Unit = {
    assert(!lines.exists(ParseJsonLine.isBlank), "blank lines are skipped, not compared")
    val path = writeJsonl(name, lines)
    def rows(df: DataFrame): Seq[(String, Boolean, String)] =
      df.select($"value", $"is_object", to_json($"parsed")).as[(String, Boolean, String)]
        .collect().toSeq.sorted
    val got = rows(IotPipeline.readSensors(spark, path))
    val want = rows(fromJsonReference(spark.read.text(path)))
    assert(got.size === lines.size)
    val diffs = got.zip(want).filter { case (g, w) => g != w }
    assert(diffs.isEmpty, s"${diffs.size} differences, first: ${diffs.take(3)}")
  }

  test("shared parse equals the two from_json columns on the edge corpus") {
    val ts = "2025-07-11T11:00:00Z"
    val edge = Seq(
      """[1, 2]""", "\"str\"", "42", "null", "true", "{}", """[{"device_id": "s"}]""",
      """{"device_id": "s", "temperature": 2""", """{"device_id": "s", "temp""", "{",
      """{"a": 1} x""", """{"a": 1}{"b": 2}""", """{"a": 1},""",
      """{"device_id": "s", "device_id": "t", "temperature": 1, "temperature": 2}""",
      """{"temperature": NaN}""", """{"temperature": Infinity, "humidity": -Infinity}""",
      """{"temperature": "NaN", "humidity": "Infinity"}""",
      """{'device_id': 's', 'temperature': 20}""", """{"device_id": "s", "temperature": 20,}""",
      """{"device_id": "s", "temperature": tru, "humidity": 40}""",
      """{"device_id": {"x": 1}, "location": [1, {"y": "z"}], "temperature": 20}""",
      """{"device_id": "s", "temperature": "hot"}""", """{"device_id": "s", "temperature": true}""",
      """{"device_id": "s", "temperature": 20, "timestamp": "not a time"}""",
      """{"device_id": "s", "timestamp": "2025-07-11 11:00:00"}""",
      """{"device_id": "s", "timestamp": "2025-07-11T11:00:00.123456+02:00"}""",
      """{"device_id": "s", "timestamp": "2025-07-11"}""", """{"device_id": "s", "timestamp": 1720000000}""",
      """{"device_id": "capteur-é", "location": "Zürich 東京 🌡", "temperature": 21.5}""",
      "{\"device_id\": \"\\u00e9\\n\\\"q\\\"\", \"location\": \"\\ud83c\\udf21\", \"temperature\": 1e400}",
      """{"device_id": "s", "location": "bad \x escape"}""",
      """{"device_id": null, "temperature": null, "humidity": -0, "pressure": 007}""",
      """{"Temperature": 20, "DEVICE_ID": "s"}""", """{device_id: "s"}""",
      """{"device_id": "s", /* c */ "temperature": 20}""",
      s"""{"device_id": "s", "extra": ${"9" * 1200}, "temperature": 20, "timestamp": "$ts"}""",
      s"""{"device_id": "s", "temperature": ${"9" * 1200}}""",
      """{"device_id": "s", "nested": {"a": [1, 2, {"b": null}]}, "temperature": 1.5e3}""",
      """  {"device_id": "padded", "temperature": 20}  """,
      s"""{"device_id": "s", "temperature": 20, "timestamp": "$ts"} """) ++ IotPipeline.fixtureA ++
      IotPipeline.fixtureB
    assertSameAsFromJson("differential-edge.jsonl", edge)
  }

  test("shared parse equals the two from_json columns on a seeded one-char mutation fuzz") {
    // valid sensor lines, each hit by one delete / insert / replace of a
    // JSON-significant (or non-ASCII) character; seeded, so the same
    // 12 000 lines every run
    val alphabet = "{}[]\":,.-+0123456789eEtrufalsnNI \\'x/é中".toVector
    val valid: Gen[String] = for {
      dev <- Gen.choose(0, 999)
      temp <- Gen.oneOf(Gen.choose(-50.0, 60.0).map(t => f"$t%.1f"), Gen.choose(-50, 60).map(_.toString))
      hum <- Gen.choose(0.0, 120.0)
      sec <- Gen.choose(0, 86399)
    } yield f"""{"device_id": "dev-$dev%03d", "location": "site-${dev % 7}", "temperature": $temp, """ +
      f""""humidity": $hum%.1f, "pressure": 1012.5, "timestamp": "2025-07-11T${sec / 3600}%02d:""" +
      f"""${sec / 60 % 60}%02d:${sec % 60}%02dZ"}"""
    val mutated: Gen[String] = for {
      line <- valid
      at <- Gen.choose(0, line.length - 1)
      op <- Gen.choose(0, 2)
      c <- Gen.oneOf(alphabet)
    } yield op match {
      case 0 => line.patch(at, Nil, 1)
      case 1 => line.patch(at, Seq(c), 0)
      case _ => line.patch(at, Seq(c), 1)
    }
    val lines = Gen.listOfN(12000, mutated).pureApply(Gen.Parameters.default, Seed(20261017L))
    assertSameAsFromJson("differential-fuzz.jsonl", lines)
  }

  test("humidity validation flags out-of-range but keeps records (README.md:9)") {
    val lines = Seq(
      """{"device_id": "ok", "temperature": 20, "humidity": 55}""",
      """{"device_id": "hi", "temperature": 20, "humidity": 130}""",
      """{"device_id": "no", "temperature": 20}""")
    val raw = IotPipeline.readSensors(spark, writeJsonl("hum.jsonl", lines))
    val (good, _) = IotPipeline.splitCorrupt(raw)
    val out = IotPipeline.transform(good)
    assert(out.count() === 3) // nothing dropped
    // sorted by device_id: hi (130 → invalid), no (missing → invalid), ok
    val flags = out.orderBy($"device_id").select($"humidity_valid").as[Boolean].collect()
    assert(flags.toSeq === Seq(false, false, true))
  }
}
