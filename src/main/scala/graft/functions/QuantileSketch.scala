package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketch as a Spark `Aggregator` — the third
  * sketch on the custom-AGGREGATE surface next to Misra–Gries
  * (frequency) and the Bloom bitset (membership): bounded-memory rank
  * estimation in one pass, the compactor-stack family (Manku–
  * Rajagopalan–Lindsay '98 through KLL, Karnin et al. '16 — public
  * literature).
  *
  * Structure: level i holds items of weight 2^i. An over-full level is
  * sorted and every other item is promoted to level i+1 (the surviving
  * half carries doubled weight); which parity survives ALTERNATES via
  * a per-level flip counter carried in the state — the deterministic
  * MRL choice, so a fixed merge tree reproduces bit-identical output
  * (no randomness anywhere; replay-safe under Spark task retries).
  *
  * Rank guarantee: each compaction at level i perturbs any rank by at
  * most 2^i, and level i compacts at most n/(c·2^i) times, so the
  * total rank error is ≤ levels·n/c — the classic compactor bound
  * (the spec pins it empirically under adversarial merge trees).
  * Estimates are always ELEMENTS of the input (never interpolated),
  * so the discrete-quantile contract is preserved.
  *
  * Exactness gate (the q59/q81 pattern for approximate ops): while
  * total input ≤ capacity, level 0 never compacts and merge is plain
  * concatenation — the sketch DEGENERATES to the exact multiset, and
  * [[QuantileSketch.quantiles]] reproduces `quantile_disc` exactly
  * (smallest x with rank ≥ ⌈q·n⌉, DuckDB's rule) — q86 runs that
  * regime against a DuckDB oracle; the lossy regime is spec-pinned.
  */
object QuantileSketch {
  /** Compactor stack + per-level flip parity. `flips(i)` counts
    * compactions performed at level i on this branch (merge sums
    * them), so survivor parity alternates deterministically. */
  final case class QState(levels: Seq[Seq[Double]], flips: Seq[Int])

  val empty: QState = QState(Seq(Seq.empty), Seq(0))

  private def pad(s: QState, depth: Int): QState =
    if (s.levels.length >= depth) s
    else QState(
      s.levels ++ Seq.fill(depth - s.levels.length)(Seq.empty[Double]),
      s.flips ++ Seq.fill(depth - s.flips.length)(0))

  /** Compact every over-cap level bottom-up. Only an EVEN count of
    * items is ever compacted: an odd-length level (routine after a
    * merge concatenation) leaves its largest element behind at the
    * level, so total weight is conserved exactly — promoting half of
    * an odd count at doubled weight would drift `count` and void the
    * rank bound. Compaction fires strictly ABOVE cap, so the exact
    * regime is precisely n ≤ capacity (q86/q87's premise). */
  def compacted(s0: QState, cap: Int): QState = {
    var s = s0
    var i = 0
    while (i < s.levels.length) {
      if (s.levels(i).length > cap) {
        val sorted = s.levels(i).sorted
        val evenLen = sorted.length - (sorted.length % 2)
        val off = s.flips(i) & 1
        val kept = (0 until evenLen).collect {
          case j if j % 2 == off => sorted(j)
        }
        val leftover: Seq[Double] =
          if (evenLen < sorted.length) Seq(sorted.last) else Seq.empty
        s = pad(s, i + 2)
        s = QState(
          s.levels
            .updated(i, leftover)
            .updated(i + 1, s.levels(i + 1) ++ kept),
          s.flips.updated(i, s.flips(i) + 1))
      }
      i += 1
    }
    s
  }

  def insert(s: QState, x: Double, cap: Int): QState =
    // prepend: O(1) on the default List, and level order is irrelevant
    // (compaction sorts)
    compacted(QState(s.levels.updated(0, x +: s.levels(0)), s.flips), cap)

  def mergeStates(x: QState, y: QState, cap: Int): QState = {
    val d = math.max(x.levels.length, y.levels.length)
    val (px, py) = (pad(x, d), pad(y, d))
    compacted(QState(
      px.levels.zip(py.levels).map { case (a, b) => a ++ b },
      px.flips.zip(py.flips).map { case (a, b) => a + b }), cap)
  }

  /** Total weight (= number of inserted items). */
  def count(s: QState): Long =
    s.levels.zipWithIndex.map { case (l, i) => l.length.toLong << i }.sum

  /** Discrete quantile estimates: for each q, the smallest element
    * whose cumulative weight reaches ⌈q·n⌉ (rank-lower rule —
    * DuckDB's `quantile_disc` exactly, in the exact regime); NaN for
    * an empty sketch or a rank past n. */
  def quantiles(s: QState, qs: Seq[Double]): Seq[Double] = {
    val items = s.levels.zipWithIndex
      .flatMap { case (l, i) => l.map(x => (x, 1L << i)) }
      .sortBy(_._1)
    val n = items.map(_._2).sum
    qs.map { q =>
      val target = math.max(1L, math.ceil(q * n).toLong)
      if (n == 0L || target > n) Double.NaN
      else {
        var cum = 0L
        var ans = items.last._1
        var i = 0
        var done = false
        while (i < items.length && !done) {
          cum += items(i)._2
          if (cum >= target) { ans = items(i)._1; done = true }
          i += 1
        }
        ans
      }
    }
  }
}

/** The Aggregator surface: input doubles, output the discrete-quantile
  * estimates for `qs` (in order). */
final class QuantileSketchAgg(capacity: Int, qs: Seq[Double])
    extends Aggregator[Double, QuantileSketch.QState, Seq[Double]] {
  require(capacity >= 4, "capacity must be at least 4")
  import QuantileSketch._

  override def zero: QState = empty
  override def reduce(b: QState, x: Double): QState = insert(b, x, capacity)
  override def merge(x: QState, y: QState): QState =
    mergeStates(x, y, capacity)
  override def finish(b: QState): Seq[Double] = quantiles(b, qs)

  private val stEnc: Encoder[QState] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[QState]()
  private val outEnc: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  override def bufferEncoder: Encoder[QState] = stEnc
  override def outputEncoder: Encoder[Seq[Double]] = outEnc
}
