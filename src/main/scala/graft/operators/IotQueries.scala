package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** The reference's operator semantics (O5–O7, D1–D3) exercised on the
  * driver's `events` table so they get a DuckDB oracle twin (the JSONL
  * fixture path is covered by IotPipeline + its spec instead).
  *
  * `value` plays the role of the sensor temperature; the JSON `props.k`
  * plays the humidity being validated.
  */
object IotQueries extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // D1 (threshold filter) + O6 (conditional °F projection) + D2
    // (dimension lookup: a derived device→location dim, broadcast).
    "iot_transform" -> ((s, d) => {
      import s.implicits._
      val dim = events(s, d).select($"user_id").distinct()
        .withColumn("location_id", pmod($"user_id", lit(10L)))
      events(s, d)
        .filter($"value" > 10.0)
        .join(broadcast(dim), Seq("user_id"), "left")
        .select($"event_id", $"user_id", $"location_id",
          $"value".as("temp_c"),
          ($"value" * 9.0 / 5.0 + 32.0).as("temp_f"))
        .orderBy($"event_id")
    }),

    // O7/D3: validation flags records but never drops them
    // (`/root/reference/app/app.py:57-58` keep-on-invalid semantics).
    "iot_validate" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .select($"event_id",
          $"k".as("humidity"),
          ($"k".isNotNull && $"k" >= 0 && $"k" <= 100).as("humidity_valid"),
          when($"k".isNotNull && $"k" >= 0 && $"k" <= 100, $"k".cast("double"))
            .as("humidity_clean"))
        .orderBy($"event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "iot_transform" ->
      """WITH dim AS (SELECT DISTINCT user_id, user_id % 10 AS location_id FROM events)
        |SELECT event_id, e.user_id, location_id,
        | value AS temp_c, value * 9.0 / 5.0 + 32.0 AS temp_f
        |FROM events e LEFT JOIN dim USING (user_id)
        |WHERE value > 10.0 ORDER BY event_id""".stripMargin,

    "iot_validate" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INT) AS humidity,
        | CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
        |   AND CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 0 AND 100 AS humidity_valid,
        | CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 0 AND 100
        |      THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS humidity_clean
        |FROM events ORDER BY event_id""".stripMargin
  )
}
