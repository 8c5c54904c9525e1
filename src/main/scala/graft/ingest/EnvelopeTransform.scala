package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ingest normalization (reference: IoT Central export transformation,
  * `iot-central/transformation.txt:3-15`): raw device envelope → flat
  * envelope with one nested `telemetry` object.
  *
  * Reference semantics reproduced (M1/M2/M3 in SURVEY.md §2.9):
  *   - project 10 envelope fields, hoisting `device.id → deviceId` and
  *     `device.templateId → templateId`;
  *   - literal `schema: "default@v1"`;
  *   - `telemetry | map({key:.name, value:.value}) | from_entries` — the
  *     name/value array becomes an object, entries with an absent `value`
  *     becoming explicit nulls (golden pair `raw-data-template.json:12-19`
  *     → `preview-output-example.json:12-17`).
  *
  * Spark-first design: the raw JSON is *dynamically typed* (`value` is a
  * long, a double, or a nested object depending on the sensor), so the
  * edge is parsed as a Spark 4 VARIANT and extracted with
  * `try_variant_get` per sensor — schema-on-read hardening into the
  * fixed envelope `StructType`. A field of the wrong type (a `telemetry`
  * that is not an array, `"value":"abc"` for a numeric sensor, a
  * `messageProperties` that is not an object) reads as null, exactly as
  * a missing one does, instead of failing the query. No UDFs; the
  * transform is three narrow `select`s, identical in batch and
  * streaming:
  *   1. `$.telemetry` → `array<variant>`, once per row;
  *   2. each of the six sensors' entries (a `filter` over that array),
  *      once per row;
  *   3. the fixed envelope over those columns.
  * Inlined into one projection, every use of an entry re-ran its
  * `filter` (interpreted, `CodegenFallback`) over a fresh `$.telemetry`
  * rebuild, which re-encodes all six entries. Battery and barometer
  * read their entry once, each of the four struct sensors four times (a
  * null check and three fields): 18 of each per row. Projected
  * first, there are 6 filters and 1 rebuild; `CollapseProject` keeps
  * the projections apart because each struct sensor's entry is read
  * more than once.
  */
object EnvelopeTransform {
  /** Entry value for sensor `name` in the raw telemetry name/value array,
    * as a variant (null when absent — from_entries null semantics).
    * `try_element_at`: a sensor entirely missing from the array (not just
    * value-less) must surface as null, not an ANSI index error. */
  private def entry(tel: Column, name: String): Column =
    try_variant_get(
      try_element_at(
        filter(tel, e => try_variant_get(e, "$.name", "string") === lit(name)),
        lit(1)),
      "$.value", "variant")

  private def xyz(v: Column): Column = struct(
    try_variant_get(v, "$.x", "double").as("x"),
    try_variant_get(v, "$.y", "double").as("y"),
    try_variant_get(v, "$.z", "double").as("z"))

  /** raw JSON string column → fixed envelope columns (FIXTURES.md §A2).
    * `try_parse_json`: a malformed event must not kill a streaming
    * query (PERMISSIVE semantics, SURVEY §1.3); unparseable rows become
    * a null variant and are dropped here — in production, route them to
    * a dead-letter sink before this projection instead. */
  def fromJson(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    fromVariant(raw
      .select(try_parse_json(col(jsonCol)).as("v"))
      .filter(col("v").isNotNull))

  /** The sensors of the fixed `telemetry` struct, in its field order. */
  private val Sensors = Seq("battery", "barometer", "accelerometer",
    "gyroscope", "magnetometer", "geolocation")

  /** variant column `v` holding the raw envelope → fixed envelope.
    * `keep` columns of `parsed` are passed through untouched (e.g. the
    * verbatim raw line for a bronze archive). */
  def fromVariant(parsed: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val v = col("v")
    val passed = (keep :+ "v").distinct.map(col)
    def entryCol(name: String) = col(s"__entry_$name")
    val entries = parsed
      .select(passed :+ try_variant_get(v, "$.telemetry", "array<variant>")
        .as("__telemetry"): _*)
      .select(passed ++ Sensors.map(n =>
        entry(col("__telemetry"), n).as(s"__entry_$n")): _*)
    def sensorStruct(name: String, build: Column => Column): Column = {
      val e = entryCol(name)
      // absent value → null struct (not a struct of nulls): matches the
      // golden output's literal `"accelerometer": null`.
      when(e.isNull, lit(null)).otherwise(build(e))
    }
    entries.select(keep.map(col) ++ Seq(
      lit("default@v1").as("schema"),
      try_variant_get(v, "$.applicationId", "string").as("applicationId"),
      try_variant_get(v, "$.device.id", "string").as("deviceId"),
      try_variant_get(v, "$.device.templateId", "string").as("templateId"),
      try_variant_get(v, "$.messageSource", "string").as("messageSource"),
      try_variant_get(v, "$.enqueuedTime", "string").as("enqueuedTime"),
      try_variant_get(v, "$.component", "string").as("component"),
      try_variant_get(v, "$.module", "string").as("module"),
      try_variant_get(v, "$.messageProperties", "map<string,string>")
        .as("messageProperties"),
      try_variant_get(v, "$.enrichments", "map<string,string>")
        .as("enrichments"),
      struct(
        try_variant_get(entryCol("battery"), "$", "bigint").as("battery"),
        try_variant_get(entryCol("barometer"), "$", "double").as("barometer"),
        sensorStruct("accelerometer", xyz).cast(Schemas.xyz).as("accelerometer"),
        sensorStruct("gyroscope", xyz).cast(Schemas.xyz).as("gyroscope"),
        sensorStruct("magnetometer", xyz).cast(Schemas.xyz).as("magnetometer"),
        sensorStruct("geolocation", g => struct(
          try_variant_get(g, "$.lat", "double").as("lat"),
          try_variant_get(g, "$.lon", "double").as("lon"),
          try_variant_get(g, "$.alt", "double").as("alt"))).cast(Schemas.geo)
          .as("geolocation"),
      ).as("telemetry"),
    ): _*)
  }
}
