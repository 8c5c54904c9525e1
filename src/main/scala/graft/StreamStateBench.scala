package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Throughput + state-size record for the HEAVIEST stateful streaming
  * twin — round-10 verdict item: the dedup/ANN/as-of/upsert twins had
  * parity and bounded-state specs but no perf envelope. This drives
  * [[graft.streaming.StreamingDedup]] (per-row minhash + banded
  * `flatMapGroupsWithState` — the most state-intensive twin: every doc
  * WRITES state in two band buckets, unlike the probe-heavy ANN twin)
  * as a REAL streaming query: a MemoryStream fed in micro-batches,
  * each processed to completion, so the measured rate includes
  * micro-batch planning, state-store commits, and checkpointing — the
  * costs a batch-mode proxy would hide.
  *
  * One JSON line on stdout (persisted to STREAMBENCH_STATE.json on
  * full-size runs): rows/s (min-of-reps seconds, [[Bench]]'s
  * discipline), emitted candidate count (determinism cross-checked
  * across reps), and the state operator's own accounting — state rows
  * + state memory from the final progress event.
  *
  * Workload: `SPARK_GRAFT_STREAM_ROWS` docs (default 200k), ~20 tokens
  * each, every 10th doc a near-copy of its predecessor (one token
  * swapped ⇒ est 7/8 clears the 0.5 gate), hash-spread vocabulary so
  * band buckets stay singleton-ish except for the planted dups — the
  * ingest-dedup shape, not an adversarial hot bucket (StreamingDedupSpec
  * pins the overflow behavior; this measures the steady-state price).
  *
  * State-store provider: `SPARK_GRAFT_STATE_PROVIDER=rocksdb` switches
  * to RocksDB (the corpus-scale choice — state no longer bounded by
  * executor heap); default is the in-memory HDFSBackedStateStore. The
  * record carries the provider so the two envelopes stay comparable
  * (§7.4 notes where the choice moves the number).
  *
  * Metric caveat (measured): the HDFS-backed provider does NOT
  * populate `memoryUsedBytes` for flatMapGroupsWithState in this Spark
  * build (flat 1,536 B while numRowsTotal grows) — `state_bytes` is
  * only meaningful on the RocksDB record; `state_rows` is engine-
  * accounted and correct on both.
  */
object StreamStateBench {
  /** Bench hygiene (round-12 advice): every rep creates throwaway
    * checkpoint/table/index dirs under /tmp — delete them when the rep
    * is measured, or repeated runs accumulate parquet + checkpoint
    * garbage indefinitely. */
  private def cleanup(dirs: String*): Unit = dirs.foreach { d =>
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rec)); f.delete()
    }
    rec(new java.io.File(d))
  }

  /** State rows and memory bytes of a query: the MAX across its
    * progress events — the final micro-batch can be a no-data tick whose
    * report misses the loaded maps, so the peak is the honest footprint. */
  private def stateMax(q: org.apache.spark.sql.streaming.StreamingQuery)
      : (Long, Long) = {
    val st = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
    (st.map(_.numRowsTotal).maxOption.getOrElse(0L),
      st.map(_.memoryUsedBytes).maxOption.getOrElse(0L))
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toInt
    val nBatches = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt)
    val reps = Bench.reps(sys.env)
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "memory")
    // the shared refuse-when-warm gate (round 14: busy_frac + loadavg,
    // bounded wait, post-run re-sample — Bench.preGate's scaladoc)
    val gate = Bench.preGate("streamstatebench")
    val spark = GraftSession.local()
    if (provider == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    import spark.implicits._

    // round-11 (r10 verdict item 5): the OTHER stateful-twin classes.
    // dedup (default) is the state-WRITE-heavy twin; "upsert" benches
    // the commit-heavy class (per-batch generation rewrite + manifest
    // rename), "asof" the timer-heavy class (event-time timer per
    // pending probe, armed/fired every watermark advance).
    sys.env.getOrElse("SPARK_GRAFT_STREAM_MODE", "dedup") match {
      case "upsert" =>
        runUpsert(spark, n, nBatches, reps, gate)
        spark.stop(); return
      case "asof" =>
        runAsof(spark, n, nBatches, reps, gate, provider)
        spark.stop(); return
      case "annindex" =>
        runAnnIndex(spark, n, nBatches, reps, gate)
        spark.stop(); return
      case "anomaly" =>
        runAnomaly(spark, n, nBatches, reps, gate, provider)
        spark.stop(); return
      case "dedup" => ()
      case other => throw new IllegalArgumentException(
        s"unknown SPARK_GRAFT_STREAM_MODE: $other")
    }

    // deterministic docs: 20 hash-spread tokens; every 10th doc is a
    // near-copy of its predecessor (one token swapped)
    def text(i: Long): String = {
      val base = if (i % 10 == 9) i - 1 else i
      val toks = Array.tabulate(20)(j =>
        if (i % 10 == 9 && j == 19) s"x$i"
        else s"t${(base * 31L + j * 7L) % 1000000L}")
      toks.mkString(" ")
    }
    val batches: Seq[Seq[(Long, String)]] =
      (0L until n.toLong).map(i => (i, text(i)))
        .grouped((n + nBatches - 1) / nBatches).toSeq

    // SPARK_GRAFT_PROJECTION_ONLY: time just the stateless minhash+band
    // projection (batch mode, no state, no sink) over the same docs —
    // the decomposition that says whether the twin's cost is the
    // signature hashing or the stateful machinery
    if (sys.env.contains("SPARK_GRAFT_PROJECTION_ONLY")) {
      // repartition: a local Seq is a 1-slice LocalRelation, which
      // would measure single-core hashing; a real source (Kafka, files)
      // arrives partitioned, so the bench emulates that
      val docs = spark.createDataset(batches.flatten)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING))
        .toDF("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingDedup.bands(docs).count()
        (System.nanoTime() - t0) / 1e9
      }
      val sec = secs.min
      println(s"""{"metric":"stream_dedup_projection_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},"reps":$reps}""")
      spark.stop()
      return
    }

    val runs = (1 to reps).map { rep =>
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb-ckpt-$rep-").toString
      val in = MemoryStream[(Long, String)](spark)
      // repartition before the projection: MemoryStream delivers each
      // addData block as ONE partition, which would serialize the
      // signature hashing on a single core — a production source
      // (Kafka topic partitions, file splits) arrives partitioned, so
      // the bench emulates that; the exchange is part of the measured
      // price, as it would be behind a 1-partition topic too
      val cands = graft.streaming.StreamingDedup.candidatesForDocs(
        in.toDF().toDF("doc_id", "text")
          .repartition(spark.sparkContext.defaultParallelism))
      val q = cands.writeStream
        .format("memory").queryName(s"ssb_out_$rep")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      val t0 = System.nanoTime()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val nCands = spark.table(s"ssb_out_$rep").count()
      if (sys.env.contains("SPARK_GRAFT_DEBUG_STATE"))
        q.recentProgress.flatMap(_.stateOperators)
          .foreach(s => System.err.println("STATEOP " + s.json))
      val (stateRows, stateBytes) = stateMax(q)
      q.stop()
      cleanup(ckpt)
      (sec, nCands, stateRows, stateBytes)
    }
    require(runs.map(_._2).distinct.length == 1,
      s"non-deterministic candidate output across reps: ${runs.map(_._2)}")
    val sec = runs.map(_._1).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val (cands, stateRows, stateBytes) =
      (runs.head._2, runs.last._3, runs.last._4)
    val json =
      s"""{"metric":"stream_dedup_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""batches":$nBatches,"candidates":$cands,""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},""" +
        s""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
        s""""provider":"$provider","reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    if (n >= 200000)
      StreamStateBench.record(json,
        k => k.contains(s""""provider":"$provider"""") &&
          k.contains(""""metric":"stream_dedup_rows_per_sec""""))
    spark.stop()
  }

  /** Commit-heavy twin: [[graft.streaming.StreamingUpsert]] as a real
    * streaming query — every micro-batch resolves last-writer-wins,
    * rewrites each touched bucket into a NEW generation dir, and
    * commits ONE manifest rename, so the measured rate prices the
    * generation rewrite + commit protocol, not just the join.
    * Workload: n CDC changes over a keyspace of n/2 ids (every key
    * upserted ~2×, every 20th change a delete), id-hash-spread across
    * `SPARK_GRAFT_UPSERT_BUCKETS` (default 64) buckets — with uniform
    * keys every batch touches every bucket, the worst-case commit
    * fan-out. Determinism gate: final table row count equal across
    * reps. */
  private def runUpsert(spark: org.apache.spark.sql.SparkSession,
      n: Int, nBatches: Int, reps: Int, gate: Bench.Gate): Unit = {
    import spark.implicits._
    val buckets = sys.env.getOrElse("SPARK_GRAFT_UPSERT_BUCKETS", "64").toInt
    val keys = math.max(1, n / 2)
    val batches: Seq[Seq[(Long, String, Long, String)]] =
      (0L until n.toLong).map(i => (
        i % keys,
        if (i % 20 == 19) "D" else "U",
        i,
        s"v$i")).grouped((n + nBatches - 1) / nBatches).toSeq
    // SPARK_GRAFT_UPSERT_DIRECT: apply the same batches WITHOUT the
    // streaming query (foreachBatch, checkpoint, trigger loop) — the
    // decomposition that splits the commit protocol's cost from the
    // streaming machinery's; SPARK_GRAFT_STREAM_PROFILE additionally
    // prints per-batch seconds on either path
    val direct = sys.env.contains("SPARK_GRAFT_UPSERT_DIRECT")
    val profile = sys.env.contains("SPARK_GRAFT_STREAM_PROFILE")
    val runs = (1 to reps).map { rep =>
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb-up-ckpt-$rep-").toString
      val table = java.nio.file.Files
        .createTempDirectory(s"ssb-up-table-$rep-").toString
      val sec = if (direct) {
        val t0 = System.nanoTime()
        batches.zipWithIndex.foreach { case (b, i) =>
          val tb = System.nanoTime()
          val df = spark.createDataset(b)(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.STRING))
            .toDF("id", "op", "seq", "val")
            .repartition(spark.sparkContext.defaultParallelism)
          graft.streaming.StreamingUpsert.applyBatch(
            spark, table, buckets, df)
          if (profile) System.err.println(
            f"[ssb-upsert] direct batch $i: ${(System.nanoTime() - tb) / 1e9}%.2f s")
        }
        (System.nanoTime() - t0) / 1e9
      } else {
        val in = MemoryStream[(Long, String, Long, String)](spark)
        val changes = in.toDF().toDF("id", "op", "seq", "val")
          .repartition(spark.sparkContext.defaultParallelism)
        // trigger 0: the production default (10 s ProcessingTime) is a
        // CADENCE, not a cost — left in place it idles ~10 s per fed
        // batch and the bench measures the trigger clock, not the twin
        val q = graft.streaming.StreamingUpsert.start(
          changes, table, ckpt, numBuckets = buckets,
          trigger = org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("0 seconds"))
        val t0 = System.nanoTime()
        batches.zipWithIndex.foreach { case (b, i) =>
          val tb = System.nanoTime()
          in.addData(b); q.processAllAvailable()
          if (profile) System.err.println(
            f"[ssb-upsert] batch $i: ${(System.nanoTime() - tb) / 1e9}%.2f s")
        }
        val s0 = (System.nanoTime() - t0) / 1e9
        q.stop()
        s0
      }
      val rows = graft.streaming.StreamingUpsert
        .readTable(spark, table).map(_.count()).getOrElse(0L)
      cleanup(ckpt, table)
      (sec, rows)
    }
    require(runs.map(_._2).distinct.length == 1,
      s"non-deterministic table across reps: ${runs.map(_._2)}")
    val sec = runs.map(_._1).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val json =
      s"""{"metric":"stream_upsert_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""batches":$nBatches,"buckets":$buckets,""" +
        s""""table_rows":${runs.head._2},""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},""" +
        s""""reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    if (n >= 200000)
      record(json,
        // trailing comma: a bare "buckets":16 would also match
        // "buckets":160's prefix and silently clobber that record
        k => k.contains(""""metric":"stream_upsert_rows_per_sec"""") &&
          k.contains(s""""buckets":$buckets,"""))
  }

  /** Artifact-commit twin: [[graft.streaming.StreamingAnnIndexMaintenance]]
    * as a real streaming query (round 12 — the fourth stateful-twin
    * class: no state STORE at all, its per-batch cost is one
    * batch-sized assignment under the broadcast artifact + one
    * fingerprint aggregate + one lock-serialized AppendLog commit with
    * three sidecar markers). Workload: n deterministic dim-`SPARK_GRAFT_ANN_DIM`
    * (default 64) vectors over `nBatches` micro-batches; the choice
    * artifact comes from one real tune on the sf0.001 corpus OUTSIDE
    * the timed section (tune-once/serve-many — the stream pays
    * assignment, never training). Determinism gate: committed list
    * rows equal across reps. The number to watch is rows/s vs
    * nBatches: halving the batch size doubles the per-row share of the
    * commit protocol (lock + markers + manifest rename), which is this
    * class's whole price — at production scale the trigger interval IS
    * the throughput knob.
    *
    * `SPARK_GRAFT_ANN_SYNC_MID` (round-14 verdict stretch item 7)
    * fires one [[graft.llmdata.AnnIndex.syncTo]] between the middle
    * two micro-batches — the production retune-under-live-ingest
    * sequence. The index covers streamed vectors, not the corpus, so
    * the sync deterministically takes the REBUILD arm: the record's
    * `sync_seconds` is the full generation build + swap wall (the
    * latency a serialized stream waits behind), and
    * `lock_hold_seconds` is the swap's ingest-lock window — the ONLY
    * part a concurrent ingest contends with (it refuses/retries on
    * exactly that lock), so it bounds the added per-commit latency of
    * a rebuild racing live ingest. Throughput (`seconds`, rows/s)
    * sums only the micro-batch sections, so the sync price is
    * reported beside the steady-state rate, not smeared into it.
    * Combining with SPARK_GRAFT_STREAM_PROFILE narrows that rep's
    * phase split to the post-sync half (the sync isolates its own
    * phase accounting). */
  private def runAnnIndex(spark: org.apache.spark.sql.SparkSession,
      n: Int, nBatches: Int, reps: Int, gate: Bench.Gate): Unit = {
    import spark.implicits._
    val dim = sys.env.getOrElse("SPARK_GRAFT_ANN_DIM", "64").toInt
    val stash = java.nio.file.Files
      .createTempDirectory("ssb-ann-stash-").toString
    graft.llmdata.Similarity.annFamilyTunePersist(
      spark, "/root/testdata/sf0.001", stash)
    val art = graft.llmdata.AnnChoice.read(spark, stash).get
    def vec(i: Long): Seq[Float] = Seq.tabulate(dim)(j =>
      (((i * 31L + j * 7L) % 97L) - 48L).toFloat / 48f)
    val batches: Seq[Seq[(Long, Seq[Float])]] =
      (0L until n.toLong).map(i => (i, vec(i)))
        .grouped((n + nBatches - 1) / nBatches).toSeq
    val profile = sys.env.contains("SPARK_GRAFT_STREAM_PROFILE")
    val syncMid = sys.env.contains("SPARK_GRAFT_ANN_SYNC_MID")
    // the fire index keys on the ACTUAL group count, not the requested
    // nBatches: grouped(ceil(n/nBatches)) can yield fewer groups for
    // tiny n, and a fire index past the last group would silently emit
    // a sync_mid:true record whose rebuild never ran (round-14 review)
    require(!syncMid || batches.length >= 2,
      s"SPARK_GRAFT_ANN_SYNC_MID needs >= 2 micro-batches, got " +
        s"${batches.length} groups from rows=$n, batches=$nBatches")
    val syncAfter = (batches.length - 1) / 2
    // per-phase commit decomposition (round-13 verdict item 5): split
    // the per-commit cost into fingerprint agg / batch parquet write /
    // sidecar marker writes / manifest rename / lock claim / manifest
    // state read / replay-mark read. Enabled with the profile flag —
    // Phases.time is a passthrough otherwise.
    graft.Phases.enabled = profile
    val runs = (1 to reps).map { rep =>
      if (profile) graft.Phases.snapshotAndReset() // drop tune/misc noise
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb-ann-ckpt-$rep-").toString
      val idxRoot = java.nio.file.Files
        .createTempDirectory(s"ssb-ann-idx-$rep-").toString
      val idx = idxRoot + "/index"
      val in = MemoryStream[(Long, Seq[Float])](spark)
      // SPARK_GRAFT_ANN_COMPACT_EVERY prices the in-loop compaction
      // cadence (rewrite amortization: each compaction rewrites the
      // whole lists table, so the knob trades metadata growth against
      // rewrite volume)
      val compactEvery = sys.env.get("SPARK_GRAFT_ANN_COMPACT_EVERY")
        .map(_.toInt)
      val q = graft.streaming.StreamingAnnIndexMaintenance.start(
        in.toDF().toDF("vec_id", "embedding"), idx, ckpt, art,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"),
        compactEvery = compactEvery)
      var timedNanos = 0L
      var syncSecs = 0.0
      var lockHold = 0.0
      batches.zipWithIndex.foreach { case (b, i) =>
        val tb = System.nanoTime()
        in.addData(b); q.processAllAvailable()
        timedNanos += System.nanoTime() - tb
        if (profile) System.err.println(
          f"[ssb-annindex] batch $i: ${(System.nanoTime() - tb) / 1e9}%.2f s")
        if (syncMid && i == syncAfter) {
          // fires after group ⌈groups/2⌉ — centered for odd counts too
          // the production retune-under-live-ingest sequence: a full
          // syncTo rebuild between micro-batches (see scaladoc). The
          // index covers streamed vectors, not the corpus, so the
          // sync takes the rebuild arm deterministically; Phases is
          // force-enabled for the window to extract the swap's
          // lock-hold — the only section a concurrent ingest contends
          // with.
          // try/finally so a throwing syncTo (e.g. lock-retry timeout)
          // or a failing require cannot leave the GLOBAL phase
          // accounting force-enabled with a dirty snapshot — today the
          // exception kills the bench anyway, but a future catch/retry
          // around the rep would inherit corrupted state (round-15
          // advice, low)
          val wasEnabled = graft.Phases.enabled
          graft.Phases.enabled = true
          graft.Phases.snapshotAndReset() // isolate the sync's phases
          try {
            val ts = System.nanoTime()
            val (_, action) = graft.llmdata.AnnIndex.syncTo(
              spark, "/root/testdata/sf0.001", stash, idx)
            syncSecs = (System.nanoTime() - ts) / 1e9
            require(action == "rebuilt",
              s"sync-mid expected the rebuild arm, got $action")
            lockHold = graft.Phases.snapshotAndReset()
              .getOrElse("rebuild_lock_hold", 0.0)
          } finally {
            graft.Phases.snapshotAndReset() // drop a dirty snapshot
            graft.Phases.enabled = wasEnabled
          }
          if (profile) System.err.println(
            f"[ssb-annindex] mid-stream syncTo: $syncSecs%.2f s " +
              f"(lock hold $lockHold%.3f s)")
        }
      }
      val sec = timedNanos / 1e9
      q.stop()
      if (profile) {
        val ph = graft.Phases.snapshotAndReset()
        val accounted = ph.values.sum
        System.err.println(f"[ssb-annindex] rep $rep phase split " +
          f"(total $sec%.2f s, accounted $accounted%.2f s): " +
          ph.toSeq.sortBy(-_._2).map { case (k, v) =>
            f"$k=$v%.2f s (${v / nBatches}%.3f s/commit)" }
            .mkString(", "))
      }
      val lists = graft.llmdata.AnnIndex.currentListsDir(spark, idx).get
      val dirs = graft.sources.AppendLog.state(spark, lists)._2
      val rows = spark.read
        .parquet(dirs.map(b => s"$lists/$b"): _*).count()
      cleanup(ckpt, idxRoot)
      (sec, rows, dirs.length, syncSecs, lockHold)
    }
    require(runs.map(_._2).distinct.length == 1,
      s"non-deterministic lists across reps: ${runs.map(_._2)}")
    val sec = runs.map(_._1).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val compactEveryKnob = sys.env.get("SPARK_GRAFT_ANN_COMPACT_EVERY")
      .map(_.toInt).getOrElse(0)
    val syncJson = if (!syncMid) """"sync_mid":false,""" else {
      val syncSec = runs.map(_._4).min
      val lockSec = runs.map(_._5).min
      s""""sync_mid":true,"sync_seconds":${
        math.round(syncSec * 1000) / 1000.0},""" +
        s""""lock_hold_seconds":${
          math.round(lockSec * 100000) / 100000.0},"""
    }
    val json =
      s"""{"metric":"stream_annindex_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""batches":$nBatches,"dim":$dim,""" +
        s""""compact_every":$compactEveryKnob,""" + syncJson +
        s""""list_rows":${runs.head._2},""" +
        // committed_batches = LIVE BATCH SEGMENTS in the current
        // generation's lists manifest at the end of the first rep
        // (AppendLog.state), NOT the number of micro-batch commits —
        // every rep starts from a clean checkpoint and commits all
        // `batches` micro-batches; compaction FOLDS segments
        // (compact_every=8 leaves 5 of 40) and a mid-run syncTo swap
        // replaces pre-sync segments with the rebuilt generation's
        // (sync-mid leaves 6 of 10). Reading it as a commit count
        // would misprice the steady rate as mostly-no-op ingest
        // (round-15 verdict item 4 documents exactly this misread);
        // list_rows carries the invariant that folding loses nothing.
        s""""committed_batches":${runs.head._3},""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},""" +
        s""""reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    if (n >= 200000)
      record(json,
        k => k.contains(""""metric":"stream_annindex_rows_per_sec"""") &&
          k.contains(s""""batches":$nBatches,""") &&
          // pre-knob records are implicitly compact_every=0 and
          // sync_mid=false: a 0-knob run supersedes them; a nonzero
          // knob never does
          (if (compactEveryKnob == 0)
            !k.contains(""""compact_every":""") ||
              k.contains(""""compact_every":0,""")
          else k.contains(s""""compact_every":$compactEveryKnob,""")) &&
          (if (!syncMid) !k.contains(""""sync_mid":true""")
          else k.contains(""""sync_mid":true""")))
    cleanup(stash)
  }

  /** Key-fan-out twin: the reference pipeline's per-device
    * spike-and-dip ([[graft.streaming.CuratedPipeline.anomalyStage]],
    * `perDevice=true` — the 100 TB design default) as a real streaming
    * query at HIGH device cardinality (round-13 verdict stretch item:
    * the scalable mode had parity specs but no throughput record at
    * ~1M keys). Workload: n synthetic envelope lines
    * ([[StreamBench.syntheticEnvelope]] — the exact wire format the
    * envelope bench prices) over `SPARK_GRAFT_ANOM_DEVICES` (default
    * 1,000,000) devices, streamed as ids so the JSON materializes on
    * executors, parsed by the REAL `toPipeEvents` and folded by the
    * REAL detector — the measured rate prices envelope parse +
    * per-key state open/update/commit at 1M-key fan-out, the regime
    * where a global-key design would have funneled everything through
    * one task. Output counts ride foreachBatch aggregates (a memory
    * sink would hold n raw lines). Determinism gate: (rows, anomalies)
    * equal across reps AND equal to the BATCH pipeline on the
    * identical lines (the 1,938-style bit-parity gate, run once
    * outside the timed section — it doubles as JIT warm-up).
    *
    * `SPARK_GRAFT_ANOM_HOT` = H > 0 mixes a HOT SET into the keyspace
    * (round-14 verdict item 3 — the uniform 1M-device workload lands
    * 2 events/device, below any spike window, so it priced the
    * fan-out but proved zero recall): even-id events cycle over H hot
    * devices (n/2H events each, 1 s cadence — the same per-device
    * shape as the 1k-device envelope bench, so their hash-spread
    * battery spikes DO fire), odd-id events spread over the
    * devices−H cold remainder at ~1 event each. Per-device event
    * time stays monotone across micro-batches by construction, so
    * batch parity is exact. The record's `anomalies` > 0 at
    * devices=1M is the recall-at-cardinality datapoint. */
  private def runAnomaly(spark: org.apache.spark.sql.SparkSession,
      n: Int, nBatches: Int, reps: Int, gate: Bench.Gate,
      provider: String): Unit = {
    import spark.implicits._
    val devices = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_ANOM_DEVICES", "1000000").toLong)
    val hot = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_ANOM_HOT", "0").toLong)
    require(hot < devices,
      s"SPARK_GRAFT_ANOM_HOT=$hot must be < devices=$devices")
    def envelope(id: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      if (hot <= 0) StreamBench.syntheticEnvelope(id, devices)
      else {
        val half = (id.cast("long") / 2).cast("long")
        val isHot = id % 2 === 0
        StreamBench.syntheticEnvelopeAt(id,
          when(isHot, pmod(half, lit(hot)))
            .otherwise(lit(hot) + pmod(half, lit(devices - hot))),
          when(isHot, (half / hot).cast("long"))
            .otherwise((half / (devices - hot)).cast("long")))
      }
    // batch-parity reference on the IDENTICAL lines, once, untimed:
    // the stream's (rows, anomalies) must match the batch pipeline's
    val batchRef = {
      val out = graft.streaming.CuratedPipeline.anomalyStage(
        graft.streaming.CuratedPipeline.toPipeEvents(
          spark.range(n.toLong)
            .repartition(spark.sparkContext.defaultParallelism)
            .select(envelope(col("id")).as("value"))))
      val r = out.toDF().agg(count(lit(1)),
        coalesce(sum(col("anomaly")), lit(0L)).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
    val ids: Seq[Seq[Long]] = (0L until n.toLong)
      .grouped((n + nBatches - 1) / nBatches).map(_.toSeq).toSeq
    val runs = (1 to reps).map { rep =>
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb-anom-ckpt-$rep-").toString
      val in = MemoryStream[Long](spark)
      val raw = in.toDF().toDF("id")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(envelope(col("id")).as("value"))
      val out = graft.streaming.CuratedPipeline.anomalyStage(
        graft.streaming.CuratedPipeline.toPipeEvents(raw))
      val rows = new java.util.concurrent.atomic.AtomicLong
      val anomalies = new java.util.concurrent.atomic.AtomicLong
      val q = out.toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val r = b.agg(count(lit(1)),
            coalesce(sum(col("anomaly")), lit(0L)).cast("long")).head()
          rows.addAndGet(r.getLong(0))
          anomalies.addAndGet(r.getLong(1))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"))
        .start()
      val t0 = System.nanoTime()
      ids.foreach { b => in.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val (stateRows, stateBytes) = stateMax(q)
      q.stop()
      cleanup(ckpt)
      (sec, (rows.get(), anomalies.get()), stateRows, stateBytes)
    }
    require(runs.map(_._2).distinct.length == 1,
      s"non-deterministic pipeline output across reps: ${runs.map(_._2)}")
    require(runs.head._2 == batchRef,
      s"stream/batch divergence: stream=${runs.head._2} batch=$batchRef")
    if (hot > 0) require(runs.head._2._2 > 0,
      "hot-set workload emitted zero anomalies — no recall signal")
    val sec = runs.map(_._1).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val json =
      s"""{"metric":"stream_anomaly_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""batches":$nBatches,"devices":$devices,"hot":$hot,""" +
        s""""anomalies":${runs.head._2._2},""" +
        s""""batch_anomalies":${batchRef._2},""" +
        s""""state_rows":${runs.last._3},"state_bytes":${runs.last._4},""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},""" +
        s""""provider":"$provider","reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    if (n >= 200000)
      record(json,
        // pre-knob records are implicitly hot=0: a 0-knob run
        // supersedes them; a hot-set run never does
        k => k.contains(""""metric":"stream_anomaly_rows_per_sec"""") &&
          k.contains(s""""devices":$devices,""") &&
          k.contains(s""""provider":"$provider"""") &&
          (if (hot == 0) !k.contains(""""hot":""") ||
            k.contains(""""hot":0,""")
          else k.contains(s""""hot":$hot,""")))
  }

  /** Timer-heavy twin: [[graft.streaming.StreamingAsOfJoin]] as a real
    * streaming query. Workload: n tagged rows over
    * `SPARK_GRAFT_ASOF_USERS` (default 10k) keys — each key alternates
    * a right (view) step and a probe (purchase) step on a shared
    * event-time lattice, so at every micro-batch boundary each active
    * key holds a pending probe whose flush TIMER arms and fires on the
    * next watermark advance: per-batch timer fan-out ≈ the keyspace,
    * the regime this class is priced by. Determinism gate: emitted
    * match count equal across reps. */
  private def runAsof(spark: org.apache.spark.sql.SparkSession,
      n: Int, nBatches: Int, reps: Int, gate: Bench.Gate,
      provider: String): Unit = {
    import spark.implicits._
    val users = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_ASOF_USERS", "10000").toInt)
    val batches: Seq[Seq[(Long, Long, Long, Int, Double)]] =
      (0L until n.toLong).map { i =>
        val step = i / users
        (i % users, i, 1000000000L + step * 200L,
          (step % 2).toInt, step.toDouble)
      }.grouped((n + nBatches - 1) / nBatches).toSeq
    val runs = (1 to reps).map { rep =>
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb-asof-ckpt-$rep-").toString
      val in = MemoryStream[(Long, Long, Long, Int, Double)](spark)
      val tagged = in.toDF()
        .toDF("user_id", "event_id", "tsms", "side", "value")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("tsms")).as("ts"), col("side"),
          when(col("side") === 0, col("value"))
            .otherwise(lit(null)).cast("double").as("value"))
        .as[graft.streaming.StreamingAsOfJoin.Tagged]
      val q = graft.streaming.StreamingAsOfJoin.joined(tagged)
        .writeStream.format("memory").queryName(s"ssb_asof_$rep")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      val t0 = System.nanoTime()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val matches = spark.table(s"ssb_asof_$rep").count()
      val (stateRows, stateBytes) = stateMax(q)
      q.stop()
      cleanup(ckpt)
      (sec, matches, stateRows, stateBytes)
    }
    require(runs.map(_._2).distinct.length == 1,
      s"non-deterministic match output across reps: ${runs.map(_._2)}")
    val sec = runs.map(_._1).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val json =
      s"""{"metric":"stream_asof_rows_per_sec",""" +
        s""""value":${(n / sec).toLong},"unit":"rows/sec","rows":$n,""" +
        s""""batches":$nBatches,"users":$users,""" +
        s""""matches":${runs.head._2},"state_rows":${runs.last._3},""" +
        s""""state_bytes":${runs.last._4},""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},""" +
        s""""provider":"$provider","reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    if (n >= 200000)
      record(json,
        // trailing comma: "users":1000 is a PREFIX of "users":10000 —
        // the bare contains clobbered the 10k record (measured, round 11)
        k => k.contains(""""metric":"stream_asof_rows_per_sec"""") &&
          k.contains(s""""users":$users,""") &&
          k.contains(s""""provider":"$provider""""))
  }

  /** Append one record line to STREAMBENCH_STATE.json, replacing prior
    * lines `supersedes` matches. Path resolves against
    * `SPARK_GRAFT_RECORD_DIR`, else the working directory (round-10
    * advice: the old absolute /root/repo path silently dropped records
    * on any other checkout), and a failed persist WARNS instead of
    * vanishing. */
  private[graft] def record(json: String,
      supersedes: String => Boolean): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_RECORD_DIR",
      sys.props("user.dir"))
    try {
      val path = java.nio.file.Paths.get(dir, "STREAMBENCH_STATE.json")
      val prev =
        if (java.nio.file.Files.exists(path))
          new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        else ""
      // keep unrelated lines, newest record of this key wins
      val kept = prev.linesIterator.filterNot(supersedes).toSeq
      java.nio.file.Files.write(path,
        (kept :+ json).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(
        s"[stream-state-bench] WARNING: could not persist the record " +
          s"to $dir/STREAMBENCH_STATE.json (${e.getMessage}) - the " +
          "printed JSON line above is the only copy")
    }
  }
}
