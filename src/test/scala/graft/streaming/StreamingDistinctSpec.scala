package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming HLL distinct counting: the sparse-exact regime equals
  * `count(DISTINCT)` cross-batch, arrival slicing never changes a
  * snapshot (HLL's merge identity needs no ordering contract), the
  * RocksDB state store restores the same buffer as the in-memory one,
  * and dense-regime state stays bounded while the estimate stays inside
  * the rsd envelope. */
class StreamingDistinctSpec extends SparkSpec {
  import StreamingDistinct.{Obs, Snapshot}

  private def run(name: String,
      stage: Dataset[Obs] => Dataset[Snapshot],
      batches: Seq[Seq[Obs]]): Seq[Snapshot] = {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[Obs](sp)
    val q = stage(input.toDS()).writeStream
      .format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      sp.table(name).as[Snapshot].collect().toSeq
    } finally q.stop()
  }

  private def latest(rows: Seq[Snapshot]): Map[String, Snapshot] =
    rows.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_seen) }

  test("sparse regime: distinct count is exact cross-batch, flagged exact") {
    // 300 distinct values, each seen twice, split across three batches
    val xs = (0L until 300L) ++ (0L until 300L)
    val batches = xs.grouped(200).toSeq
      .map(_.map(x => Obs("dev", x)))
    val got = latest(run("sd_exact", StreamingDistinct.track(_), batches))("dev")
    assert(got.n_seen === 600L)
    assert(got.distinct_est === 300L)
    assert(got.exact)
  }

  test("arrival slicing never changes a snapshot (merge identity, no ordering contract)") {
    val xs = (0L until 250L).map(x => Obs("dev", x * 7919 % 1009))
    val a = latest(run("sd_a", StreamingDistinct.track(_), Seq(xs)))("dev")
    val b = latest(run("sd_b", StreamingDistinct.track(_),
      xs.reverse.grouped(37).toSeq))("dev")
    assert(a.distinct_est === b.distinct_est)
    assert(a.n_seen === b.n_seen && a.exact === b.exact)
  }

  test("RocksDB state store emits the same snapshots as the in-memory one") {
    val batches = Seq(
      (0L until 150L).map(x => Obs("dev", x)),
      (100L until 260L).map(x => Obs("dev", x)))
    val a = latest(run("sd_mem", StreamingDistinct.track(_), batches))("dev")
    val b = withRocksDBStateStore {
      latest(run("sd_rocks", StreamingDistinct.track(_), batches))("dev")
    }
    assert(a === b)
    assert(a.distinct_est === 260L && a.exact)
  }

  test("dense regime: state bounded, estimate inside the rsd envelope, exact=false") {
    // sparseMax 0 forces dense from the first row; p=10 → m=1024
    // registers, rsd ≈ 1.04/√1024 ≈ 3.3%; allow 4σ on 20k distincts
    val n = 20000L
    val batches = (0L until n).map(x => Obs("dev", x)).grouped(7001).toSeq
    val got = latest(run("sd_dense",
      StreamingDistinct.track(_, p = 10, sparseMax = 0), batches))("dev")
    assert(!got.exact && got.n_seen === n)
    assert(math.abs(got.distinct_est - n) < 4 * 0.033 * n,
      s"estimate ${got.distinct_est} too far from $n")
  }
}
