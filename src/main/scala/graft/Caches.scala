package graft

import org.apache.spark.sql.Dataset

/** Tracked `persist()` for intermediates embedded in library plans.
  *
  * Several queries persist a DataFrame their plan consumes more than
  * once (q28/q29's token sets, q52's normalized corpus). Spark's
  * CacheManager holds STRONG references until an explicit unpersist —
  * the ContextCleaner never frees DataFrame caches — so a library
  * caller that embeds these plans would otherwise accumulate executor
  * storage across invocations with no way to release it short of the
  * session-wide `spark.catalog.clearCache()` (which also evicts the
  * caller's own caches).
  *
  * Every internal persist goes through [[persist]], which registers
  * the handle; [[release]] unpersists everything tracked so far.
  *
  * Scoping: the registry is '''per-thread''' — [[release]] frees only
  * the caches registered by the calling thread, so concurrent callers
  * sharing one session (the library-embedding case) cannot unpersist
  * each other's in-flight intermediates. Build the plan and call
  * `release()` on the same thread, after the last action over it; a
  * thread that never releases keeps only its own handles. The harness
  * mains (Verify/Bench) release per query.
  */
object Caches {
  private val tracked =
    new ThreadLocal[java.util.ArrayDeque[Dataset[_]]] {
      override def initialValue() = new java.util.ArrayDeque[Dataset[_]]()
    }

  /** `ds.persist()` + track the handle for a later [[release]]. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    tracked.get().add(ds)
    ds
  }

  /** Unpersist every cache tracked by the calling thread (idempotent;
    * safe if some were already unpersisted or their session is
    * stopped). Fatal errors (OOM, linkage) propagate — cleanup must
    * not mask a dying JVM; an interrupt mid-cleanup is tolerated so
    * the remaining handles still free, but the thread's interrupt
    * status is restored.
    *
    * `blocking = false` (default) is right for library callers — they
    * should not stall on block eviction. The HARNESS mains pass
    * `blocking = true`: async eviction of one query's blocks otherwise
    * lands inside the NEXT query's timed section (the sf1 rehearsal's
    * neighbor-contamination mechanism, SCALE.md). */
  def release(blocking: Boolean = false): Unit = {
    val q = tracked.get()
    var ds = q.poll()
    while (ds != null) {
      try ds.unpersist(blocking)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
      ds = q.poll()
    }
  }
}
