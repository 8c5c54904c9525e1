package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Deterministic IoT Central envelope lines. The seed fixes the device
  * order, the sensor values and which lines are malformed or lack a
  * device id; the caller fixes each event's `enqueuedTime`.
  *
  * Event `k` belongs to device `order(k % devices)`, so a device emits
  * once per `devices` events and no `(deviceId, enqueuedTime)` pair can
  * repeat as long as the caller's clock moves forward between rounds. */
final class Gen(seed: Long, val devices: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val order: Array[Int] = {
    val a = Array.tabulate(devices)(identity)
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  var malformed = 0L
  var missingDevice = 0L
  var valid = 0L
  /** Devices that sent at least one well-formed line. */
  val seen = new java.util.BitSet(devices)

  def total: Long = malformed + missingDevice + valid

  /** The envelope line for event `k`, stamped `tsMs`. */
  def line(k: Long, tsMs: Long): String = {
    val dev = order((k % devices).toInt)
    val kind = rnd.nextInt(1000)
    val b = new java.lang.StringBuilder(420)
    b.append("{\"applicationId\":\"app-").append(dev % 3)
      .append("\",\"component\":\"sensors\",\"enqueuedTime\":\"")
      .append(tsFormat.format(java.time.Instant.ofEpochMilli(tsMs)))
      .append("\",\"messageSource\":\"telemetry\",")
    if (kind != Gen.MissingDevice)
      b.append("\"device\":{\"id\":\"dev-").append(dev)
        .append("\",\"templateId\":\"tpl-").append(dev % 5).append("\"},")
    // ~0.3% battery spikes, so the spike-and-dip stage has work to flag
    val battery = 80 + rnd.nextInt(5) + (if (rnd.nextInt(1000) < 3) 300 else 0)
    b.append("\"telemetry\":[{\"name\":\"battery\",\"value\":").append(battery)
      .append("},{\"name\":\"barometer\",\"value\":")
      .append(1013.0 + math.rint(rnd.nextDouble() * 200) / 100)
    def xyz(name: String, scale: Double): Unit = {
      b.append("},{\"name\":\"").append(name).append("\",\"value\":{")
      b.append("\"x\":").append(math.rint(rnd.nextDouble() * scale * 1000) / 1000)
      b.append(",\"y\":").append(math.rint(rnd.nextDouble() * scale * 1000) / 1000)
      b.append(",\"z\":").append(math.rint(rnd.nextDouble() * scale * 1000) / 1000)
      b.append('}')
    }
    xyz("accelerometer", 2.0)
    xyz("gyroscope", 1.0)
    b.append("},{\"name\":\"geolocation\",\"value\":{\"lat\":")
      .append(47.0 + dev / 1000.0).append(",\"lon\":").append(-122.0 - dev / 1000.0)
      .append(",\"alt\":").append(dev % 100).append("}}]}")
    val s = b.toString
    if (kind == Gen.Malformed) {
      malformed += 1
      s.substring(0, s.length / 2) // truncated mid-object: not JSON
    } else if (kind == Gen.MissingDevice) {
      missingDevice += 1
      s
    } else {
      valid += 1
      seen.set(dev)
      s
    }
  }
}

object Gen {
  // 1 in 500 lines each: 0.2% malformed, 0.2% without a device id
  private val Malformed = 0
  private val MissingDevice = 1

  /** Publish `lines` as `dir/name` atomically: write a staging file next
    * to `dir`, then rename it in, so the file source never lists a
    * partial file. Returns the published path. */
  def publish(dir: Path, staging: Path, name: String, lines: Seq[String]): Path = {
    val tmp = staging.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
