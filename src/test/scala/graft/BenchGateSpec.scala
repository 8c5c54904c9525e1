package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for the in-main refuse-when-warm protocol (round 14 — the
  * round-13 verdict's item 1: the official per-round bench record was
  * producible from a warm box because the only sentinel was a strict
  * loadavg check with no post-run re-sample). Pins the sampler's
  * domain and the contended decision — the parts a future edit could
  * silently weaken back into the false-clean class. No SparkSession:
  * the gate must run BEFORE the session spins any threads. */
class BenchGateSpec extends AnyFunSuite {

  test("busyFrac samples a fraction in [0,1] (or the -1 no-/proc sentinel)") {
    val b = Bench.busyFrac(intervalMs = 50)
    assert(b == -1.0 || (b >= 0.0 && b <= 1.0), s"got $b")
    // on this platform /proc/stat exists — the gate must be LIVE here,
    // not silently in fallback mode
    if (new java.io.File("/proc/stat").exists()) assert(b >= 0.0)
  }

  test("a contended pre-gate self-incriminates regardless of the post-sample") {
    val g = Bench.Gate(loadBefore = 9.0, busyBefore = 0.9,
      loadMax = 1.0, busyMax = 0.15, contendedPre = true)
    val (_, _, contended) = Bench.postSample(g)
    assert(contended, "contendedPre must never be washed out post-run")
  }

  test("an idle pre-gate stays clean only while the post-sample is under the busy threshold") {
    // busyMax = 1.0: a real busy fraction cannot exceed it, so the
    // decision is deterministically clean — pins the polarity
    val clean = Bench.Gate(0.1, 0.01, 1.0, 1.0, contendedPre = false)
    assert(!Bench.postSample(clean)._3)
    // busyMax = -0.5: any readable sample exceeds it (and the -1
    // no-/proc sentinel must NOT trip it) — pins that the post-run
    // re-sample alone can incriminate a record
    val strict = Bench.Gate(0.1, 0.01, 1.0, -0.5, contendedPre = false)
    val (_, busyAfter, contended) = Bench.postSample(strict)
    assert(contended == (busyAfter >= 0),
      "a mid-run burst must self-incriminate via the post-sample")
  }

  test("a failure on ANY rep taints the query exactly once and never becomes the min") {
    // rep 2 of 3 throws: the first cut counted only rep-1 failures,
    // so the throwing rep's ~ms latency became the reported MIN and
    // the record stamped clean (round-14 review finding). Round-15
    // advice sharpened the min itself: the throwing rep's latency is
    // excluded — the reported min is the min of the SUCCESSFUL reps
    // (the real timings), with the taint flag still set.
    var rep = 0
    var reported = 0
    val Bench.Timing(minSecs, _, failed, _) = Bench.minTimeCounting(3, () => {
      rep += 1
      if (rep == 2) throw new RuntimeException("transient")
      Thread.sleep(25)
    }, _ => reported += 1)
    assert(failed, "a rep-2 failure must taint the query")
    assert(reported == 1, "one warning per query, not per failing rep")
    assert(minSecs >= 0.025,
      "a transient rep's ~ms throw latency must not become the min " +
        "when successful reps exist")
    val Bench.Timing(okSecs, _, okFailed, _) =
      Bench.minTimeCounting(2, () => Thread.sleep(10))
    assert(!okFailed && okSecs >= 0.01)
    // every rep failed: throw latency is all there is — report it,
    // tainted (the errors count blocks persistence either way)
    val Bench.Timing(allBadSecs, _, allBadFailed, _) = Bench.minTimeCounting(2,
      () => throw new RuntimeException("down"))
    assert(allBadFailed && allBadSecs >= 0.0)
  }

  test("cpuSnap is live on this platform and self ticks never exceed the aggregate") {
    val a = Bench.cpuSnap()
    if (new java.io.File("/proc/stat").exists()) {
      assert(a.total > 0 && a.idle >= 0 && a.self >= 0,
        s"sampler must be LIVE here, got $a")
      assert(a.self <= a.total, "self is charged inside the aggregate")
    } else assert(a.total == -1)
  }

  test("othersBusyFrac charges only ticks NOT billed to this process, clamped and sentineled") {
    import Bench.{CpuSnap, othersBusyFrac}
    // 1000 ticks elapse, 400 idle → 600 busy; this JVM burned 500 →
    // the external contender's share is 100/1000
    val f = othersBusyFrac(CpuSnap(10000, 5000, 2000),
      CpuSnap(11000, 5400, 2500))
    assert(math.abs(f - 0.1) < 1e-9, s"got $f")
    // an idle box under a saturating bench: busy == self → 0, and
    // tick rounding putting self a hair ABOVE busy must clamp, not
    // go negative (a negative sample would corrupt the max)
    assert(othersBusyFrac(CpuSnap(0, 0, 0),
      CpuSnap(3200, 0, 3200)) == 0.0)
    assert(othersBusyFrac(CpuSnap(0, 0, 0),
      CpuSnap(3200, 0, 3201)) == 0.0)
    // unreadable or empty windows are the -1 sentinel, never "clean"
    assert(othersBusyFrac(CpuSnap(-1, -1, -1), CpuSnap(100, 0, 0)) == -1.0)
    assert(othersBusyFrac(CpuSnap(100, 0, 0), CpuSnap(-1, -1, -1)) == -1.0)
    assert(othersBusyFrac(CpuSnap(100, 50, 10), CpuSnap(100, 50, 10)) == -1.0)
  }

  test("the rep-1 time is the cold time and the min names its rep") {
    var rep = 0
    val t = Bench.minTimeCounting(3, () => {
      rep += 1
      Thread.sleep(if (rep == 1) 150 else if (rep == 2) 5 else 80)
    })
    assert(t.minRep == 1 && !t.failed)
    assert(t.coldSecs >= 0.15 && t.coldSecs >= t.minSecs)
    assert(t.minSecs >= 0.005 && t.minSecs < 0.08)
  }

  test("the core count is SPARK_GRAFT_CPUS when it is a positive integer, else every processor") {
    val all = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> " 2 ")) == 2)
    assert(GraftSession.cpus(Map.empty) == all)
    for (bad <- Seq("", "0", "-4", "four", "2.5"))
      assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> bad)) == all, bad)
  }

  test("reps is SPARK_GRAFT_REPS floored at 1, else the caller's default") {
    assert(Bench.reps(Map("SPARK_GRAFT_REPS" -> "5")) == 5)
    assert(Bench.reps(Map("SPARK_GRAFT_REPS" -> "0")) == 1)
    assert(Bench.reps(Map.empty) == 3)
    assert(Bench.reps(Map.empty, default = 2) == 2)
    assert(Bench.reps(Map("SPARK_GRAFT_REPS" -> "x"), default = 2) == 2)
  }

  test("gateJson carries both samples, both thresholds, and the flag") {
    val g = Bench.Gate(0.5, 0.01, 1.0, 0.15, contendedPre = false)
    val json = Bench.gateJson(g, loadAfter = 0.7, busyAfter = 0.02,
      contended = false)
    for (k <- Seq("load_before", "busy_before", "load_after",
        "busy_after", "load_max", "busy_max", "contended"))
      assert(json.contains("\"" + k + "\":"), s"missing $k in $json")
  }
}
