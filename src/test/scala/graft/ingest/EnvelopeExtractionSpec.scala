package graft.ingest

import graft.SparkSpec
import graft.model.Schemas
import graft.streaming.CuratedPipeline
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Literal}
import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, VariantType}

/** `EnvelopeTransform.fromVariant` extracts each part of the envelope
  * once per row: its optimized plan, and its rows against the one-
  * projection form it replaced (kept here as the oracle). */
class EnvelopeExtractionSpec extends SparkSpec {

  /** The one-projection extraction, where every use of a sensor's
    * entry re-ran its filter over its own `$.telemetry` extraction. */
  private def oracleFromVariant(parsed: DataFrame, keep: Seq[String]): DataFrame = {
    val v = col("v")
    val tel = variant_get(v, "$.telemetry", "array<variant>")
    def entry(name: String): Column =
      variant_get(
        try_element_at(
          filter(tel, e => variant_get(e, "$.name", "string") === lit(name)),
          lit(1)),
        "$.value", "variant")
    def xyz(e: Column): Column = struct(
      variant_get(e, "$.x", "double").as("x"),
      variant_get(e, "$.y", "double").as("y"),
      variant_get(e, "$.z", "double").as("z"))
    def sensorStruct(name: String, build: Column => Column): Column = {
      val e = entry(name)
      when(e.isNull, lit(null)).otherwise(build(e))
    }
    parsed.select(keep.map(col) ++ Seq(
      lit("default@v1").as("schema"),
      variant_get(v, "$.applicationId", "string").as("applicationId"),
      variant_get(v, "$.device.id", "string").as("deviceId"),
      variant_get(v, "$.device.templateId", "string").as("templateId"),
      variant_get(v, "$.messageSource", "string").as("messageSource"),
      variant_get(v, "$.enqueuedTime", "string").as("enqueuedTime"),
      variant_get(v, "$.component", "string").as("component"),
      variant_get(v, "$.module", "string").as("module"),
      variant_get(v, "$.messageProperties", "map<string,string>")
        .as("messageProperties"),
      variant_get(v, "$.enrichments", "map<string,string>").as("enrichments"),
      struct(
        variant_get(entry("battery"), "$", "bigint").as("battery"),
        variant_get(entry("barometer"), "$", "double").as("barometer"),
        sensorStruct("accelerometer", xyz).cast(Schemas.xyz).as("accelerometer"),
        sensorStruct("gyroscope", xyz).cast(Schemas.xyz).as("gyroscope"),
        sensorStruct("magnetometer", xyz).cast(Schemas.xyz).as("magnetometer"),
        sensorStruct("geolocation", g => struct(
          variant_get(g, "$.lat", "double").as("lat"),
          variant_get(g, "$.lon", "double").as("lon"),
          variant_get(g, "$.alt", "double").as("alt"))).cast(Schemas.geo)
          .as("geolocation"),
      ).as("telemetry"),
    ): _*)
  }

  private lazy val golden: String = {
    val src = scala.io.Source.fromResource("iot-central/raw-data-template.json")
    try src.mkString finally src.close()
  }

  /** Envelopes that exercise each null and first-match rule. */
  private lazy val cases: Seq[(String, String)] = Seq(
    "golden" -> golden,
    "valueless" ->
      """{"device":{"id":"d1"},"telemetry":[{"name":"accelerometer"},
        |{"name":"battery","value":5},{"name":"geolocation","value":null}]}"""
        .stripMargin,
    "missing" ->
      """{"device":{"id":"d2","templateId":"t"},"telemetry":[
        |{"name":"barometer","value":1013.25}]}""".stripMargin,
    "duplicate" ->
      """{"device":{"id":"d3"},"telemetry":[{"name":"battery","value":1},
        |{"name":"gyroscope","value":{"x":1,"y":2,"z":3}},
        |{"name":"battery","value":2},
        |{"name":"gyroscope","value":{"x":4,"y":5,"z":6}}]}""".stripMargin,
    "no-telemetry" ->
      """{"device":{"id":"d4"},"enqueuedTime":"2024-01-01T00:00:00Z"}""",
    "telemetry-null" -> """{"device":{"id":"d5"},"telemetry":null}""",
    "malformed" -> "NOT JSON {{{",
    "full" ->
      """{"applicationId":"app","component":"sensors","module":"m",
        |"enqueuedTime":"2024-01-01T00:00:01Z","messageSource":"telemetry",
        |"messageProperties":{"k":"v"},"enrichments":{"e":"1"},
        |"device":{"id":"d6","templateId":"t"},"telemetry":[
        |{"name":"battery","value":90},{"name":"barometer","value":1010.5},
        |{"name":"accelerometer","value":{"x":0.1,"y":0.2,"z":0.3}},
        |{"name":"gyroscope","value":{"x":1.5,"y":-2,"z":0}},
        |{"name":"magnetometer","value":{"x":7,"y":8}},
        |{"name":"geolocation","value":{"lat":1.5,"lon":2.5,"alt":3.5}}]}"""
        .stripMargin)

  private def parsedOf(lines: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    lines.toDF("id", "value")
      .select(col("id"), try_parse_json(col("value")).as("v"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getString(0)).toSeq

  test("fromVariant gives the one-projection extraction's rows, case by case") {
    val parsed = parsedOf(cases)
    val got = rows(EnvelopeTransform.fromVariant(parsed, keep = Seq("id")))
    val want = rows(oracleFromVariant(parsed, Seq("id")))
    assert(got.map(_.getString(0)) == cases.map(_._1).sorted)
    got.zip(want).foreach { case (g, w) => assert(g == w, g.getString(0)) }
    val byId = got.map(r => r.getString(0) -> r.getAs[Row]("telemetry")).toMap
    // the first of two same-named entries wins
    assert(byId("duplicate").getAs[Long]("battery") == 1L)
    assert(byId("duplicate").getAs[Row]("gyroscope") == Row(1.0, 2.0, 3.0))
    // value-less and absent entries are null, never a struct of nulls
    assert(byId("valueless").getAs[Row]("accelerometer") == null)
    assert(byId("missing").getAs[Row]("geolocation") == null)
    assert(byId("malformed").getAs[Any]("battery") == null)
  }

  test("a non-array telemetry reads like a line without telemetry") {
    def row(tel: String) = rows(EnvelopeTransform.fromVariant(
      parsedOf(Seq("odd" -> s"""{"device":{"id":"d"}$tel}""")), Seq("id")))
    for (tel <- Seq("""{"battery":5}""", "5", "\"x\""))
      assert(row(s""","telemetry":$tel""") == row(""), tel)
  }

  test("toPipeEvents' optimized plan filters each sensor once over one telemetry extraction") {
    val dir = java.nio.file.Files.createTempDirectory("envplan")
    java.nio.file.Files.write(dir.resolve("lines.txt"),
      golden.replace("\n", " ").getBytes("UTF-8"))
    val plan = CuratedPipeline.toPipeEvents(spark.read.text(dir.toString))
      .queryExecution.optimizedPlan
    val exprs = plan.collect { case node => node.expressions }.flatten
    val filters = exprs.flatMap(_.collect { case f: ArrayFilter => f })
    val telemetry = exprs.flatMap(_.collect {
      case g @ VariantGet(_, Literal(p, _), ArrayType(VariantType, _), _, _)
          if String.valueOf(p) == "$.telemetry" => g
    })
    assert(filters.size == 6, plan.treeString)
    assert(telemetry.size == 1, plan.treeString)
  }
}
