package graft.enrich

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EnrichSpec extends SparkSpec {

  test("magnitude: hand-computed value and rotation invariance") {
    import spark.implicits._
    val df = Seq((3.0, 4.0, 12.0), (12.0, 3.0, 4.0)).toDF("x", "y", "z")
      .select(Enrich.magnitude(struct(col("x"), col("y"), col("z"))).as("m"))
    val ms = df.collect().map(_.getDouble(0))
    assert(ms(0) == 13.0)
    assert(ms(1) == 13.0) // axis permutation leaves the norm unchanged
  }

  test("null axis propagates to null magnitude (coalescing is edge-only)") {
    import spark.implicits._
    val df = Seq((Some(3.0), None: Option[Double], Some(4.0))).toDF("x", "y", "z")
      .select(Enrich.magnitude(struct(col("x"), col("y"), col("z"))).as("m"))
    assert(df.collect().head.isNullAt(0))
  }

  test("an unparseable enqueuedTime reads as null, a valid one parses") {
    val env = spark.sql(
      """SELECT deviceId, enqueuedTime, named_struct(
        |  'battery', 1.0D, 'barometer', 2.0D,
        |  'geolocation', named_struct('lat', 1.0D, 'lon', 2.0D, 'alt', 3.0D),
        |  'accelerometer', named_struct('x', 3.0D, 'y', 4.0D, 'z', 0.0D),
        |  'gyroscope', named_struct('x', 0.0D, 'y', 0.0D, 'z', 0.0D),
        |  'magnetometer', named_struct('x', 0.0D, 'y', 0.0D, 'z', 0.0D))
        |  AS telemetry
        |FROM VALUES ('d1', 'not a time'), ('d2', '2024-01-02 03:04:05')
        |  AS t(deviceId, enqueuedTime)""".stripMargin)
    val got = Enrich.telemetry(env).orderBy("deviceId")
      .select("deviceId", "enqueuedTime", "AccelMagnitude").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("d1", "d2"))
    assert(got(0).isNullAt(1), "an unparseable time must read as null")
    assert(!got(1).isNullAt(1), "a valid time must still parse")
    assert(got(0).getDouble(2) == 5.0, "the rest of the row is kept")
  }

  test("anomalyFlag ORs the three signals, null-safe") {
    import spark.implicits._
    def s(v: java.lang.Integer) = struct(lit(v).cast("int").as("isAnomaly"))
    val df = Seq(1).toDF("dummy").select(
      Enrich.anomalyFlag(s(0), s(0), s(0)).as("none"),
      Enrich.anomalyFlag(s(0), s(1), s(0)).as("one"),
      Enrich.anomalyFlag(s(null), s(null), s(null)).as("nulls"),
      Enrich.anomalyFlag(s(null), s(0), s(1)).as("mixed"))
    val r = df.collect().head
    assert(r.getAs[Int]("none") == 0)
    assert(r.getAs[Int]("one") == 1)
    assert(r.getAs[Int]("nulls") == 0) // insufficient history ⇒ not anomalous
    assert(r.getAs[Int]("mixed") == 1)
  }
}
