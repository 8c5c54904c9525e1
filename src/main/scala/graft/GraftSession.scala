package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configs this engine depends on.
  *
  * Scale notes (100 TB target): these settings are the local-mode
  * equivalents of a production cluster profile — AQE on (runtime
  * re-planning, skew-join splitting, dynamic coalescing of shuffle
  * partitions), shuffle partitions sized to the executor core count
  * (32 locally; thousands on a real cluster), and UTC session time so
  * event-time semantics are zone-independent.
  *
  * Local files: [[builder]] registers [[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]] as the `file:` `FileSystem` and
  * `AbstractFileSystem`, always. Without libhadoop, stock Hadoop forks
  * `chmod` for every local file or directory it creates and `readlink`
  * on every `FileContext` rename — the offset and commit logs, the
  * state-store delta and checksum files and every sink file. One
  * untraced `live` benchmark run (`perfbench/`, 20 s at `local[2]`, a
  * 4-core box, 3 GB heap) started 1,525 to 1,642 processes in two
  * recordings, half `chmod` and half `readlink`, 643 to 690 of them
  * on the stream execution thread, at ~1.7 ms per fork+exec. With
  * these classes it starts 22 to 24: Spark's own `rm -rf`, one
  * `setsid` and one `getconf`. Bytes, permission bits and `.crc` files
  * are unchanged. Without these settings `file:` resolves to hive-exec's
  * `ProxyLocalFileSystem` (registered through the service loader), a
  * proxy over the same stock `LocalFileSystem`. Only `file:` paths are
  * affected; HDFS, ABFS and every other scheme keep their own
  * implementations.
  */
object GraftSession {

  /** AQE's coalescing floor, lowered from Spark's 1 MB default (the
    * round-12 expansion-stage finding): `CoalesceShufflePartitions`
    * sizes a stage's parallelism from its shuffle INPUT, so a stage
    * that reads a small compressed exchange but does expansion-heavy
    * work — the dedup family's pair-expansion/sort stages, whose
    * output is 15× the input — ran on 10 (q75/q213) or even 1 (q28)
    * of 32 cores: a 10–13 MB pair exchange divided by the 1 MB floor
    * is 10 tasks, no matter what the stage writes. Lowering the floor
    * to 256 KB keeps `parallelismFirst`'s intent (maximize
    * parallelism) effective down to the exchange sizes these stages
    * actually read. Measured at sf1 (min-of-5, fresh JVM): q28
    * 8.3 → 4.8–5.4 s, q75 10.2 → 8.0–9.0 s, q213 flat; full sf0.1
    * registry (same-box A/B, min-of-3): 85.9 → 78.9 s, median
    * per-query ratio 0.937, improvements broad (q29 −22%, q127 −24%,
    * q166 −22%, q144/q147/q148/q150 −15–30%), worst regression
    * +0.24 s (noise-band). Per-query pinned `repartition`s were
    * the falsified alternative: they add an exchange that becomes
    * pure overhead once AQE broadcasts the dimension side, and they
    * fight AQE everywhere the blind spot does NOT apply. 256 KB × 32
    * partitions still amortizes task overhead (sub-ms scheduling per
    * 100 ms-scale task); genuinely tiny exchanges (< 8 MB) still
    * coalesce below full width.
    * `SPARK_GRAFT_MIN_PARTITION_SIZE` overrides for A/B probes (the
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` discipline — scale questions get
    * a knob, not a rebuild). */
  val CoalesceMinPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k")

  def builder(cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        CoalesceMinPartitionSize)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark's
      // parquet reader rejects; read as raw Long ns and normalize in
      // Tables.events (truncate to µs, matching the DuckDB oracle).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(cores: Int = 32): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
    s
  }

  /** Apply runtime confs to an externally-created session (Verify/Bench
    * build their own); idempotent. */
  def tune(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      CoalesceMinPartitionSize)
    // custom SQL functions for sessions built without the extensions
    // config (Verify/Bench construct their own session)
    GraftExtensions.register(s)
    s
  }
}
