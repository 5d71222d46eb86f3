package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The window-grid arithmetic of the strided-rolling segmenter (reference
  * semantics: tsflex/features/segmenter/strided_rolling.py's window/stride
  * start arithmetic), written once — [[kmin]], [[kmax]], [[nbOf]] — and the
  * two native kernels every regular segmentation runs on (`Segmenter.assign`
  * and the keyed pipeline of `KeyedFeatures`; `BlockSliceUtil` reads the
  * same helpers):
  *
  *   - ASSIGNMENT: every data row joins the (window, stride) segments that
  *     contain it — k in [kmin, min(kmax, nb-1)] per spec (strided_rolling's
  *     half-open [start, start+window) membership solved for the segment
  *     counter k, clamped to the grid so no join is needed to discard
  *     out-of-grid starts);
  *   - SEGMENTS: every key emits its own segment grid — k in [0, nb) per
  *     spec.
  *
  * Both kernels emit ONE primitive long array per row, `specIdx << 56 | k`,
  * and share ONE dedup rule: with more than one spec, a pair whose exact
  * (w, s0 + k·st) doubles equal an earlier pair's is dropped (first spec
  * wins); a single spec is never deduped. So the grid and the assignment
  * cannot disagree on which window starts exist. The decode
  * (`Segmenter.startOf`: a shift, a mask and a literal when-chain over the
  * ≤255 static specs) reproduces bit-identical (w, koff, seg_start) doubles
  * in whole-stage codegen. The Column forms they replaced — one boxed
  * `transform(sequence(kmin, kmax), ...)` array per row per spec plus
  * `array_distinct(concat(...))`, an interpreted lambda per row — are the
  * differential reference in AssignKernelsSpec.
  *
  * Floor semantics match Spark's `floor(double)→long` (`Math.floor(d)` then
  * a saturating long cast: NaN→0, ±Inf→Long.Min/Max), so NaN indexes emit
  * nothing through the same kmax<kmin arithmetic as before.
  */
object AssignKernelUtil {
  /** k occupies the low 56 bits; the spec index the high 8 (≤ 255 specs —
    * enforced at Expression construction). 2^56 segment counters ≈ 7.2e16:
    * a century of 1 µs strides. */
  val KBits = 56
  val KMask: Long = (1L << KBits) - 1

  def floorL(d: Double): Long = math.floor(d).toLong

  /** First window counter of stride `st` holding index t (unclamped). */
  def kmin(t: Double, s0: Double, w: Double, st: Double): Long =
    floorL((t - s0 - w) / st) + 1L

  /** Last window counter of stride `st` holding index t (unclamped). */
  def kmax(t: Double, s0: Double, st: Double): Long = floorL((t - s0) / st)

  /** Start of window k: `s0 + k·st`, the `__seg_id` double. */
  def startOf(s0: Double, k: Long, st: Double): Double = s0 + k.toDouble * st

  /** Emission-count threshold above which the in-loop dedup switches from
    * the linear scan over prior entries (O(m²) across a row's fan-out — the
    * r16 advisory's quadratic cliff with many specs and fine strides) to
    * the open-addressing probe below. Under it the scan's constant wins:
    * real plans carry 2–4 specs and single-digit fan-outs. */
  private val LinearDedupMax = 64

  /** Open-addressing set over (w, d) double pairs under IEEE `==` equality
    * (so -0.0 and 0.0 collapse to one canonical key, exactly as the linear
    * scan's `==` treats them). NaN coordinates must never be inserted —
    * callers bypass the set for them, because `==` makes NaN equal to
    * nothing while the bit-canonical probe would unify NaNs. Power-of-two
    * table at ≤50% load, linear probing; sized once from the caller's exact
    * emission bound, so there is no rehash path. */
  private final class PairSet(expected: Int) {
    private val cap: Int = {
      var c = 8
      val want = math.min(expected.toLong * 2L, 1L << 30)
      while (c < want) c <<= 1
      c
    }
    private val mask = cap - 1
    private val wb = new Array[Long](cap)
    private val db = new Array[Long](cap)
    private val used = new Array[Boolean](cap)

    /** True when (w, d) was absent (and is now inserted). */
    def add(w: Double, d: Double): Boolean = {
      val wl = java.lang.Double.doubleToRawLongBits(if (w == 0.0) 0.0 else w)
      val dl = java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d)
      var h = (java.lang.Long.hashCode(wl * -7046029254386353131L) ^
        java.lang.Long.hashCode(dl * -4417276706812531889L)) & mask
      while (used(h)) {
        if (wb(h) == wl && db(h) == dl) return false
        h = (h + 1) & mask
      }
      used(h) = true; wb(h) = wl; db(h) = dl
      true
    }
  }

  /** One row's packed (spec, k) pairs, at most `cap` of them. With `dedup`
    * a pair whose (w, d) doubles `==` an earlier pair's is dropped — only an
    * equal-w entry can collide, as in the replaced struct(w, s) equality. */
  private final class Packer(cap: Int, dedup: Boolean) {
    private val packed = new Array[Long](cap)
    private val hashed = if (dedup && cap > LinearDedupMax) new PairSet(cap) else null
    private val linear = dedup && hashed == null
    private val wArr = if (linear) new Array[Double](cap) else null
    private val dArr = if (linear) new Array[Double](cap) else null
    private var m = 0

    def add(spec: Int, k: Long, w: Double, d: Double): Unit = {
      var dup = false
      if (hashed != null) {
        // NaN bypasses the set: `==` equates NaN to nothing, so a NaN
        // coordinate is always emitted and never inserted (the probe's
        // bit key would otherwise unify NaNs the scan kept distinct)
        if (w == w && d == d) dup = !hashed.add(w, d)
      } else if (linear) {
        var j = 0
        while (!dup && j < m) { dup = wArr(j) == w && dArr(j) == d; j += 1 }
      }
      if (!dup) {
        if (linear) { wArr(m) = w; dArr(m) = d }
        packed(m) = (spec.toLong << KBits) | k
        m += 1
      }
    }

    def result: ArrayData = UnsafeArrayData.fromPrimitiveArray(
      if (m == cap) packed else java.util.Arrays.copyOf(packed, m))
  }

  private def checkK(k: Long): Long = {
    if (k > KMask) throw new IllegalStateException(
      s"segment counter $k exceeds 2^$KBits — stride too fine for the span")
    k
  }

  /** Packed (spec, k) pairs of the segments CONTAINING index `t` for a grid
    * over [s0, e0] (a key's own range, or a series' bounds): k in
    * [max(0, kmin), min(kmax, nb-1)] per spec ([[kmin]], [[kmax]], [[nbOf]]). The
    * GRID CLAMP is what lets the callers drop their
    * assignment-join-segments filter: the replaced plan emitted unclamped
    * pairs and inner-joined the segment table to discard starts past the
    * key's grid — an exchange + sort of the full fan-out BEFORE any
    * aggregation. Clamped, every emitted pair is a grid member by
    * construction, so the per-segment aggregate runs directly on the
    * explode with map-side partial aggregation and the fan-out is never
    * shuffled at full row width.
    *
    * With more than one spec, pairs are deduped on the exact
    * (w, s0 + k·st) doubles — matching `array_distinct` over the replaced
    * struct(w, s) elements (single-spec plans skipped the distinct, so the
    * kernel does too). First-spec-wins among the VALID (in-grid) pairs:
    * value-identical to the replaced emit-all-then-filter plan, because a
    * dedup survivor that the grid filter would have discarded implies an
    * in-grid loser with the SAME (w, s) doubles, which the clamped kernel
    * then emits instead (and both decode to those shared doubles).
    *
    * Each pair is emitted as the grid's survivor for its start: at a
    * fractional start two strides share (1 + 3 × 0.1 == 1 + 1 × 0.3), a
    * row inside the later spec's window but, by one rounding, outside the
    * earlier one's is re-encoded as the earlier (spec, k), as [[segments]]
    * keeps it — so both kernels carry one k·st offset per window.
    */
  def assign(t: Double, s0: Double, e0: Double,
             ws: Array[Double], sts: Array[Double],
             includeFinal: Boolean): ArrayData = {
    val n = ws.length
    var total = 0L
    var i = 0
    while (i < n) {
      val k0 = math.max(0L, kmin(t, s0, ws(i), sts(i)))
      val k1 = math.min(kmax(t, s0, sts(i)),
        nbOf(s0, e0, ws(i), sts(i), includeFinal) - 1L)
      if (k1 >= k0) total += checkK(k1) - k0 + 1L
      i += 1
    }
    if (total > (Int.MaxValue - 8).toLong) throw new IllegalStateException(
      s"assignment fan-out $total pairs for one row — window/stride ratio " +
        "too large")
    val out = new Packer(total.toInt, dedup = n > 1)
    i = 0
    while (i < n) {
      val w = ws(i); val st = sts(i)
      var k = math.max(0L, kmin(t, s0, w, st))
      val k1 = math.min(kmax(t, s0, st), nbOf(s0, e0, w, st, includeFinal) - 1L)
      while (k <= k1) {
        val d = startOf(s0, k, st)
        var si = i; var sk = k
        var j = 0
        while (si == i && j < i) {
          if (ws(j) == w) {
            val kj = gridK(d, s0, e0, w, sts(j), includeFinal)
            if (kj >= 0) { si = j; sk = kj }
          }
          j += 1
        }
        out.add(si, sk, w, d)
        k += 1
      }
      i += 1
    }
    out.result
  }

  /** The k of stride `st`'s grid whose start `s0 + k·st` is exactly `d`,
    * or -1. The quotient is within one of it for any k under 2^52. */
  private def gridK(d: Double, s0: Double, e0: Double, w: Double, st: Double,
                    includeFinal: Boolean): Long = {
    val nb = nbOf(s0, e0, w, st, includeFinal)
    val r = math.rint((d - s0) / st).toLong
    var c = r - 1L
    while (c <= r + 1L) {
      if (c >= 0L && c < nb && startOf(s0, c, st) == d) return c
      c += 1L
    }
    -1L
  }

  /** Packed (spec, k) pairs of a key's own segment grid: k in [0, nb) per
    * spec, nb = max(0, floor((e0-s0-w)/st)+1) (+1 when `includeFinal` and
    * the next start is still ≤ e0 — W1's include_final_window tail).
    *
    * Deduped exactly like [[assign]]: with more than one spec, on the
    * (w, s0 + k·st) doubles, first spec wins.
    */
  def segments(s0: Double, e0: Double,
               ws: Array[Double], sts: Array[Double],
               includeFinal: Boolean): ArrayData = {
    val n = ws.length
    var total = 0L
    var i = 0
    while (i < n) {
      total += checkK(nbOf(s0, e0, ws(i), sts(i), includeFinal))
      i += 1
    }
    if (total > (Int.MaxValue - 8).toLong) throw new IllegalStateException(
      s"segment grid $total rows for one key — stride too fine for the span")
    val out = new Packer(total.toInt, dedup = n > 1)
    i = 0
    while (i < n) {
      val w = ws(i); val st = sts(i)
      val nb = nbOf(s0, e0, w, st, includeFinal)
      var k = 0L
      while (k < nb) {
        out.add(i, k, w, startOf(s0, k, st))
        k += 1
      }
      i += 1
    }
    out.result
  }

  /** W1: the number of windows of stride `st` over [s0, e0] — max(0,
    * floor((e0-s0-w)/st)+1), +1 when `includeFinal` and the next start is
    * still ≤ e0 (include_final_window's tail). */
  def nbOf(s0: Double, e0: Double, w: Double, st: Double,
           includeFinal: Boolean): Long = {
    // floorL saturates at Long.MaxValue for astronomically fine strides —
    // the naive +1 then WRAPS negative and max(…, 0) turns the overflow
    // into a silently EMPTY grid, skipping the 2^56 checkK guard both here
    // (segments) and in assign's kmax clamp; saturate instead so checkK
    // stays loud
    val f = floorL((e0 - s0 - w) / st)
    val nb0 = if (f == Long.MaxValue) Long.MaxValue else math.max(f + 1L, 0L)
    if (nb0 != Long.MaxValue && includeFinal && s0 + st * nb0 <= e0) nb0 + 1L
    else nb0
  }
}

private[expr] trait PackedPairKernel { self: Expression =>
  def ws: Seq[Double]
  def sts: Seq[Double]
  require(ws.length == sts.length && ws.nonEmpty, "ws/sts must align")
  require(ws.length <= 255, "at most 255 (window, stride) specs")
  require(sts.forall(_ > 0), "strides must be positive")
  @transient protected lazy val wsArr: Array[Double] = ws.toArray
  @transient protected lazy val stsArr: Array[Double] = sts.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** Row→segments assignment as packed (spec, k) longs, grid-clamped — see
  * [[AssignKernelUtil.assign]]. Children: (idx, s0, e0) doubles. */
case class AssignPacked(first: Expression, second: Expression,
                        third: Expression,
                        ws: Seq[Double], sts: Seq[Double],
                        includeFinal: Boolean)
  extends TernaryExpression with PackedPairKernel {
  override def prettyName: String = "assign_packed"
  override def nullSafeEval(t: Any, s0: Any, e0: Any): Any =
    AssignKernelUtil.assign(t.asInstanceOf[Double], s0.asInstanceOf[Double],
      e0.asInstanceOf[Double], wsArr, stsArr, includeFinal)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s0, e0) => {
      val wsRef = ctx.addReferenceObj("assignWs", wsArr, "double[]")
      val stsRef = ctx.addReferenceObj("assignSts", stsArr, "double[]")
      s"${ev.value} = graft.expr.AssignKernelUtil.assign($t, $s0, $e0, " +
        s"$wsRef, $stsRef, $includeFinal);"
    })
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AssignPacked =
    copy(first = newFirst, second = newSecond, third = newThird)
}
object AssignPacked {
  def apply(idx: Column, s0: Column, e0: Column,
            ws: Seq[Double], sts: Seq[Double],
            includeFinal: Boolean): Column =
    ColumnBridge.column(AssignPacked(ColumnBridge.expression(idx),
      ColumnBridge.expression(s0), ColumnBridge.expression(e0), ws, sts,
      includeFinal))
}

/** Per-key segment grid as packed (spec, k) longs — see
  * [[AssignKernelUtil.segments]]. Children: (s0, e0) doubles. */
case class SegmentsPacked(left: Expression, right: Expression,
                          ws: Seq[Double], sts: Seq[Double],
                          includeFinal: Boolean)
  extends BinaryExpression with PackedPairKernel {
  override def prettyName: String = "segments_packed"
  override def nullSafeEval(s0: Any, e0: Any): Any =
    AssignKernelUtil.segments(s0.asInstanceOf[Double], e0.asInstanceOf[Double],
      wsArr, stsArr, includeFinal)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s0, e0) => {
      val wsRef = ctx.addReferenceObj("segWs", wsArr, "double[]")
      val stsRef = ctx.addReferenceObj("segSts", stsArr, "double[]")
      s"${ev.value} = graft.expr.AssignKernelUtil.segments($s0, $e0, " +
        s"$wsRef, $stsRef, $includeFinal);"
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SegmentsPacked =
    copy(left = newLeft, right = newRight)
}
object SegmentsPacked {
  def apply(s0: Column, e0: Column, ws: Seq[Double], sts: Seq[Double],
            includeFinal: Boolean): Column =
    ColumnBridge.column(SegmentsPacked(ColumnBridge.expression(s0),
      ColumnBridge.expression(e0), ws, sts, includeFinal))
}
