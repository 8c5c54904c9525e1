package graft.streaming

/** Loud state-schema versioning for the stateful streaming operators.
  *
  * Every `flatMapGroupsWithState` state case class in this package
  * carries a trailing `ver: Int` field whose value is pinned by a
  * per-operator constant. On restore, the operator calls
  * [[StateVersion.check]] before interpreting the decoded row. Two failure modes, both loud:
  *
  *  - a checkpoint written by a build whose state class had a
  *    DIFFERENT field layout fails in Spark's state-store decoder
  *    (schema mismatch) — already loud, nothing to add;
  *  - a checkpoint whose layout happens to STILL DECODE (same field
  *    types, changed semantics — the dangerous silent case) trips the
  *    version check and raises [[StateVersionMismatchException]]
  *    naming the operator and both versions.
  *
  * Policy (documented at `StreamingDedup.BandState`): any semantic
  * change to a state class bumps its version constant; restored
  * queries must restart from a fresh checkpoint (at-least-once output
  * makes source replay safe). The version field turns forgetting that
  * policy into an error instead of a misread.
  */
object StateVersion {

  /** Raised when a restored state row carries a version other than
    * the one this build writes. */
  final class StateVersionMismatchException(
      val operator: String, val found: Int, val expected: Int)
    extends RuntimeException(
      s"state-schema version mismatch in $operator: checkpoint has " +
      s"v$found, this build writes v$expected; restart the query from " +
      "a fresh checkpoint (replay the source - output is at-least-once)")

  def check(found: Int, expected: Int, operator: String): Unit =
    if (found != expected)
      throw new StateVersionMismatchException(operator, found, expected)
}
