package graft.streaming

import graft.SparkSpec
import graft.streaming.StateVersion.StateVersionMismatchException

/** Pins the state-schema versioning contract (round-6 VERDICT item 6):
  * every stateful streaming operator's state case class carries a
  * `ver` field, and restoring a row whose version differs from the one
  * this build writes raises the NAMED error instead of a silent
  * misread. The fold/advance functions ARE the restore paths (every
  * `flatMapGroupsWithState` stage routes through them), so handing them a
  * wrong-version state exercises exactly the code a real checkpoint
  * restore runs. */
class StateVersionSpec extends SparkSpec {

  test("check() raises the named exception with operator and versions") {
    val e = intercept[StateVersionMismatchException] {
      StateVersion.check(found = 1, expected = 2, operator = "op.x")
    }
    assert(e.operator == "op.x" && e.found == 1 && e.expected == 2)
    assert(e.getMessage.contains("op.x"))
    assert(e.getMessage.contains("v1") && e.getMessage.contains("v2"))
    assert(e.getMessage.contains("fresh checkpoint"))
    // matching versions pass silently
    StateVersion.check(3, 3, "op.y")
  }

  test("as-of join refuses a wrong-version restored state") {
    val bad = StreamingAsOfJoin.JoinState(Nil, Nil, ver = 99)
    val e = intercept[StateVersionMismatchException] {
      StreamingAsOfJoin.advance(1L, Some(bad), Nil, 0L)
    }
    assert(e.operator == "StreamingAsOfJoin.advance" && e.found == 99)
  }

  test("ewma refuses a wrong-version restored state") {
    val bad = StreamingEwma.EwmaState(Nil, Nil, ver = 0)
    intercept[StateVersionMismatchException] {
      StreamingEwma.advance(1L, Some(bad), Nil, 0L)
    }
  }

  test("gap-fill refuses a wrong-version restored cursor") {
    val bad = StreamingResample.Cursor(0L, 0.0, hasEmitted = false,
      ver = -1)
    intercept[StateVersionMismatchException] {
      StreamingResample.advance(1L, Some(bad), Map.empty, Nil, 0L)
    }
  }

  test("current-version states restore cleanly through the same paths") {
    // defaults carry the current version: the happy path is untouched
    val (st, out, timer) = StreamingAsOfJoin.advance(1L,
      Some(StreamingAsOfJoin.JoinState(Nil, Nil)), Nil, 0L)
    assert(st.isEmpty && out.isEmpty && timer.isEmpty)
    val (st2, out2, _) = StreamingEwma.advance(1L,
      Some(StreamingEwma.EwmaState(Nil, Nil)), Nil, 0L)
    assert(st2.isEmpty && out2.isEmpty)
  }

  test("every streaming state class carries its pinned current version") {
    // constructing with defaults yields the advertised constant — a
    // future field edit that forgets to bump (or detaches the default
    // from the constant) fails here
    assert(StreamingDedup.BandState(Nil, Nil, 0L).ver
      == StreamingDedup.BandStateVer)
    assert(StreamingAnn.BucketState(Nil, Nil, 0L).ver
      == StreamingAnn.BucketStateVer)
    assert(StreamingAdmission.SourceState(0L, Set.empty).ver
      == StreamingAdmission.SourceStateVer)
    assert(StreamingFunnel.FunnelState(None, None, None).ver
      == StreamingFunnel.FunnelStateVer)
    assert(StreamingHeavyHitters.HHState(Map.empty, 0L).ver
      == StreamingHeavyHitters.HHStateVer)
    assert(StreamingDistinct.DState(
      graft.functions.HllBuf(Array.empty, Array.empty), 0L).ver
      == StreamingDistinct.DStateVer)
    assert(StreamingScd2.OpenVersion("s",
      new java.sql.Timestamp(0L), 1L, 1L).ver == StreamingScd2.OpenVersionVer)
    assert(CuratedPipeline.DevState.empty.ver == CuratedPipeline.DevState.Ver)
  }
}
