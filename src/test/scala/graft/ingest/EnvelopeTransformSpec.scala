package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}

/** Golden-file test: the only executable ground truth the reference
  * ships is the transformation input/output pair
  * `iot-central/raw-data-template.json` →
  * `iot-central/preview-output-example.json` (SURVEY.md §5).
  *
  * The input is a REBUILT test resource
  * (`src/test/resources/iot-central/raw-data-template.json`), not the
  * reference's file: it is reconstructed from FIXTURES.md §A1's shape
  * (ns-precision `enqueuedTime`, `value`-less telemetry entries,
  * `device.properties.reported`, the device booleans, `organizations`
  * and `organizationPaths`) and carries every value the assertions
  * below pin; the device-property values it does not pin are
  * placeholders. When the reference checkout is present, the same
  * assertions also run on its own copy of the input. */
class EnvelopeTransformSpec extends SparkSpec {

  /** The reference checkout's copy of the input, when present. */
  private lazy val referenceOut: Option[Row] = {
    def raw = spark.read.option("wholetext", "true")
      .text("/root/reference/iot-central/raw-data-template.json")
    try Some(transform(raw))
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None
    }
  }

  /** One whole-file JSON document in column `value` → its envelope row. */
  private def transform(raw: DataFrame): Row =
    EnvelopeTransform.fromJson(raw, "value").collect().head

  private lazy val resourceOut: Row = {
    import spark.implicits._
    val src = scala.io.Source.fromResource("iot-central/raw-data-template.json")
    try transform(Seq(src.mkString).toDF("value")) finally src.close()
  }

  private lazy val outs: Seq[Row] = resourceOut +: referenceOut.toSeq

  test("envelope fields match the golden output") {
    for (out <- outs) {
      assert(out.getAs[String]("schema") == "default@v1")
      assert(out.getAs[String]("applicationId") ==
        "86c928d2-585e-4e2b-8a6d-ffee8d7e0233")
      assert(out.getAs[String]("deviceId") == "hoyp69aa69xt")
      assert(out.getAs[String]("templateId") == "dtmi:azureiot:y6bebw2sg")
      assert(out.getAs[String]("messageSource") == "telemetry")
      // ns-precision source string is preserved verbatim at this stage
      assert(out.getAs[String]("enqueuedTime") == "2009-10-10T00:49:49.432486656Z")
      assert(out.getAs[String]("component") == "sensors")
      assert(out.getAs[String]("module") == null)
      assert(out.getAs[Map[String, String]]("messageProperties") == null)
      assert(out.getAs[Map[String, String]]("enrichments") == null)
    }
  }

  test("malformed JSON is dropped, not fatal (PERMISSIVE edge)") {
    import spark.implicits._
    val mixed = Seq(
      """{"device":{"id":"ok1"},"telemetry":[]}""",
      "NOT JSON {{{",
      "",
      """{"device":{"id":"ok2"},"telemetry":[{"name":"battery","value":7}]}""")
      .toDF("value")
    val out = EnvelopeTransform.fromJson(mixed, "value")
    assert(out.count() == 2) // both bad rows silently dropped
    assert(out.select("deviceId").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ok1", "ok2"))
  }

  test("telemetry name/value array pivots to the fixed struct with explicit nulls") {
    for (out <- outs) {
      val tel = out.getAs[Row]("telemetry")
      assert(tel.getAs[Long]("battery") == -570335521L)
      assert(tel.getAs[Double]("barometer") == 2.3652105113135073e+305)
      // entries with an absent `value` become explicit nulls (golden:
      // "accelerometer": null, "gyroscope": null, ...)
      assert(tel.getAs[Row]("accelerometer") == null)
      assert(tel.getAs[Row]("gyroscope") == null)
      assert(tel.getAs[Row]("magnetometer") == null)
      assert(tel.getAs[Row]("geolocation") == null)
    }
  }
}
