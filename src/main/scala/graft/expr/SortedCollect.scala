package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native sorted-window collection — the shared plumbing under every
  * order-dependent feature in the A7 stock (reference semantics: the
  * per-window `pd.Series` view the reference hands each feature function,
  * tsflex/features/segmenter/strided_rolling.py:326-332 — values arrive
  * index-sorted because the series itself is).
  *
  * Replaces `transform(array_sort(collect_list(struct(i, v))), _.v)`, which
  * paid three structural costs at scale, all per WINDOW per DESCRIPTOR:
  *
  *   1. `collect_list(struct)` buffers one boxed UnsafeRow per element
  *      (~56 B + GC pressure for an 8-byte payload);
  *   2. `array_sort` on struct elements runs an INTERPRETED field-by-field
  *      comparator per compare (n log n boxed ordinal calls);
  *   3. `array_sort`/`transform` carry lambda variables, which Catalyst's
  *      subexpression elimination refuses — so a battery of k descriptors
  *      over one series re-collected and re-sorted the SAME window k times
  *      (FeatureFuncs.linearTrendTimewise records the same lambda-CSE cliff).
  *
  * [[CollectSortedVals]] is a TypedImperativeAggregate over (idx, value):
  * the buffer is two growing PRIMITIVE arrays (raw index bits + raw
  * values), partials concatenate, and the single final sort runs at
  * `eval` as an indirect merge sort on positions with primitive long-key
  * compares. Identical aggregate calls dedup in planning (PhysicalAggregation
  * canonicalizes away the result id), so k descriptors share ONE buffer and
  * ONE sort by construction — no reliance on projection CSE.
  *
  * One buffer serves both views of the window: the result is
  * `struct<v, i>`, the index-sorted values and the index in the same
  * order. Value-only members read `v`; index-aware ones
  * (`linear_trend_timewise`, the `fromPairs` hatch) read both, so a bucket
  * mixing them still plans ONE sorted-collect buffer and ONE sort.
  *
  * Ordering contract (differential-pinned in SortedCollectSpec): exactly
  * Spark's `array_sort` default comparator on `struct<i: double, v: double>`
  * — compare i then v with SQL double ordering (−0.0 == 0.0, every NaN equal
  * to NaN and greater than +Inf, null field first), realized by a monotone
  * bits transform ([[SortKernelUtil.sortableBits]]) so the sort itself
  * compares longs. Null values are never collected (the replaced form's
  * `when(v.isNotNull, …)` made the struct null and collect_list dropped it);
  * null indexes collect with a sentinel key below every real key (the
  * replaced form kept the struct and array_sort put null-first). `v` never
  * holds a null; `i` holds null at a null index's position, and otherwise
  * the index's exact input bits (−0.0 and NaN included — the buffer keeps
  * raw bits, not the normalizing sort keys), ≡ the replaced chain's `_.i`.
  * An integral index equal to `Long.MinValue` would share the null
  * sentinel's key, so it is rejected with an error instead of sorting
  * ambiguously.
  *
  * `keepNulls` (the block buffer of `graft.api.BlockBucket`) also keeps
  * null-VALUED rows, at the position their (index, 0.0) key sorts to, and
  * `v` then holds null there: a block's window slices need every row's
  * index, and filtering the nulls back out of a slice leaves exactly the
  * order the default mode would have produced for it.
  */
object SortKernelUtil {

  /** Monotone double → signed-long key under Spark SQL's total order for
    * doubles (`SQLOrderingUtil.compareDoubles`): −0.0 normalized to 0.0,
    * NaNs canonicalized (doubleToLongBits) and mapped above +Inf.
    * `Long.MinValue` is reserved for the null-field sentinel: the smallest
    * real key (−Inf) maps strictly above it.
    */
  def sortableBits(d: Double): Long = {
    val l = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    if (l >= 0L) l else java.lang.Long.MIN_VALUE - l
  }

  /** Stable indirect merge sort of positions [0, n) by primary long key,
    * ties broken by the value's own sortable bits (computed lazily — real
    * index keys are near-unique, so the tie path is cold). Stability makes
    * the (key, value)-equal case order-independent, matching array_sort.
    */
  def sortPerm(ki: Array[Long], vs: Array[Double], n: Int): Array[Int] = {
    var perm = new Array[Int](n)
    var i = 0
    while (i < n) { perm(i) = i; i += 1 }
    if (n < 2) return perm
    var aux = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var o = lo
        while (a < mid && b < hi) {
          val pa = perm(a)
          val pb = perm(b)
          var c = java.lang.Long.compare(ki(pa), ki(pb))
          if (c == 0) c = java.lang.Long.compare(sortableBits(vs(pa)), sortableBits(vs(pb)))
          if (c <= 0) { aux(o) = pa; a += 1 } else { aux(o) = pb; b += 1 }
          o += 1
        }
        while (a < mid) { aux(o) = perm(a); a += 1; o += 1 }
        while (b < hi) { aux(o) = perm(b); b += 1; o += 1 }
        lo = hi
      }
      val t = perm; perm = aux; aux = t
      width <<= 1
    }
    perm
  }
}

/** Mutable primitive buffer for [[CollectSortedVals]]: parallel growing
  * arrays of RAW index bits and raw values, plus the positions whose index
  * is null (allocated on the first one). Partial merge is a raw
  * concatenation; sort keys are derived and the sort runs once, at final
  * eval.
  */
final class SortedValsBuffer(initial: Int = 16) {
  var n: Int = 0
  var ri: Array[Long] = new Array[Long](initial)
  var vs: Array[Double] = new Array[Double](initial)
  var nullIdx: java.util.BitSet = null
  var nullV: java.util.BitSet = null

  def add(r: Long, v: Double): Unit = {
    if (n == ri.length) grow(n << 1)
    ri(n) = r
    vs(n) = v
    n += 1
  }

  /** A null index keeps raw bits 0 (the replaced struct's zeroed slot). */
  def addNullIdx(v: Double): Unit = {
    if (nullIdx == null) nullIdx = new java.util.BitSet()
    nullIdx.set(n)
    add(0L, v)
  }

  def isNullIdx(j: Int): Boolean = nullIdx != null && nullIdx.get(j)

  /** A null value keeps raw value 0.0 (its sort tie-break key). */
  def addNullV(r: Long): Unit = {
    if (nullV == null) nullV = new java.util.BitSet()
    nullV.set(n)
    add(r, 0.0)
  }

  def isNullV(j: Int): Boolean = nullV != null && nullV.get(j)

  def appendAll(o: SortedValsBuffer): Unit = {
    val want = n + o.n
    if (want > ri.length) {
      var c = ri.length
      while (c < want) c <<= 1
      grow(c)
    }
    System.arraycopy(o.ri, 0, ri, n, o.n)
    System.arraycopy(o.vs, 0, vs, n, o.n)
    nullIdx = SortedValsBuffer.shifted(nullIdx, o.nullIdx, n)
    nullV = SortedValsBuffer.shifted(nullV, o.nullV, n)
    n = want
  }

  private def grow(c: Int): Unit = {
    ri = java.util.Arrays.copyOf(ri, c)
    vs = java.util.Arrays.copyOf(vs, c)
  }
}

object SortedValsBuffer {
  /** `into` with every bit of `from` set at `offset` past its position. */
  private def shifted(into: java.util.BitSet, from: java.util.BitSet,
                      offset: Int): java.util.BitSet =
    if (from == null) into
    else {
      val out = if (into == null) new java.util.BitSet() else into
      var j = from.nextSetBit(0)
      while (j >= 0) { out.set(offset + j); j = from.nextSetBit(j + 1) }
      out
    }

  private[expr] def putBits(bb: ByteBuffer, bits: java.util.BitSet): Unit = {
    bb.putInt(if (bits == null) 0 else bits.cardinality())
    if (bits != null) {
      var j = bits.nextSetBit(0)
      while (j >= 0) { bb.putInt(j); j = bits.nextSetBit(j + 1) }
    }
  }

  private[expr] def getBits(bb: ByteBuffer, n: Int): java.util.BitSet = {
    val k = bb.getInt()
    if (k == 0) null
    else {
      val bits = new java.util.BitSet(n)
      var i = 0
      while (i < k) { bits.set(bb.getInt()); i += 1 }
      bits
    }
  }

  private[expr] def bitsBytes(bits: java.util.BitSet): Int =
    4 + (if (bits == null) 0 else bits.cardinality() * 4)
}

/** See the module note. `dataType` is `struct<v, i>`: the index-sorted
  * values and, in the same order, the index itself (the replaced chains'
  * `_.v` and `_.i`). Non-nullable like the collect_list chain it replaces
  * (zero rows give empty arrays, and null values are never collected
  * unless `keepNulls`); `i` holds null where the index was null.
  */
case class CollectSortedVals(
    left: Expression,
    right: Expression,
    keepNulls: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SortedValsBuffer] with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType | LongType | IntegerType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double|bigint|int, double), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("v", ArrayType(DoubleType, containsNull = keepNulls), nullable = false),
    StructField("i", ArrayType(left.dataType, containsNull = true), nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "collect_sorted_vals"

  override def createAggregationBuffer(): SortedValsBuffer = new SortedValsBuffer()

  // The buffer keeps the index's RAW bits (a double's exact bit pattern,
  // −0.0 and NaN payloads included; an integral index as its own value) so
  // the `i` output reproduces the input bit for bit. The sort key is
  // derived at eval: integral indexes key as their own value (signed long
  // order IS numeric order, exact at any magnitude — no double round-trip),
  // doubles through sortableBits. Long.MinValue is the null sentinel's key,
  // so a bigint index holding it is rejected rather than sorted among the
  // null indexes.
  @transient private lazy val rawOf: Any => Long = left.dataType match {
    case DoubleType => i => java.lang.Double.doubleToRawLongBits(i.asInstanceOf[Double])
    case LongType => i => {
      val l = i.asInstanceOf[Long]
      if (l == java.lang.Long.MIN_VALUE) throw new IllegalArgumentException(
        s"$prettyName: index value Long.MinValue ($l) is reserved for the " +
          "null-index sort key; shift the index or cast it to double")
      l
    }
    case IntegerType => i => i.asInstanceOf[Int].toLong
  }

  override def update(buf: SortedValsBuffer, input: InternalRow): SortedValsBuffer = {
    val v = right.eval(input)
    if (v != null) {
      val i = left.eval(input)
      if (i == null) buf.addNullIdx(v.asInstanceOf[Double])
      else buf.add(rawOf(i), v.asInstanceOf[Double])
    } else if (keepNulls) {
      val i = left.eval(input)
      if (i != null) buf.addNullV(rawOf(i))
    }
    buf
  }

  override def merge(buf: SortedValsBuffer, other: SortedValsBuffer): SortedValsBuffer = {
    buf.appendAll(other)
    buf
  }

  override def eval(buf: SortedValsBuffer): Any = {
    val n = buf.n
    val isDouble = left.dataType == DoubleType
    val ki = new Array[Long](n)
    var i = 0
    while (i < n) {
      ki(i) =
        if (buf.isNullIdx(i)) java.lang.Long.MIN_VALUE
        else if (isDouble) SortKernelUtil.sortableBits(java.lang.Double.longBitsToDouble(buf.ri(i)))
        else buf.ri(i)
      i += 1
    }
    val perm = SortKernelUtil.sortPerm(ki, buf.vs, n)
    val vals = new Array[Double](n)
    i = 0
    while (i < n) { vals(i) = buf.vs(perm(i)); i += 1 }
    val idx = left.dataType match {
      case DoubleType =>
        val a = new Array[Double](n)
        i = 0
        while (i < n) { a(i) = java.lang.Double.longBitsToDouble(buf.ri(perm(i))); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case LongType =>
        val a = new Array[Long](n)
        i = 0
        while (i < n) { a(i) = buf.ri(perm(i)); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case IntegerType =>
        val a = new Array[Int](n)
        i = 0
        while (i < n) { a(i) = buf.ri(perm(i)).toInt; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
    }
    if (buf.nullIdx != null) {
      i = 0
      while (i < n) { if (buf.isNullIdx(perm(i))) idx.setNullAt(i); i += 1 }
    }
    val v = UnsafeArrayData.fromPrimitiveArray(vals)
    if (buf.nullV != null) {
      i = 0
      while (i < n) { if (buf.isNullV(perm(i))) v.setNullAt(i); i += 1 }
    }
    new GenericInternalRow(Array[Any](v, idx))
  }

  override def serialize(buf: SortedValsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16 +
      SortedValsBuffer.bitsBytes(buf.nullIdx) + SortedValsBuffer.bitsBytes(buf.nullV))
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ri(i)); i += 1 }
    i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); i += 1 }
    SortedValsBuffer.putBits(bb, buf.nullIdx)
    SortedValsBuffer.putBits(bb, buf.nullV)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SortedValsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new SortedValsBuffer(math.max(n, 1))
    var i = 0
    while (i < n) { buf.ri(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < n) { buf.vs(i) = bb.getDouble(); i += 1 }
    buf.n = n
    buf.nullIdx = SortedValsBuffer.getBits(bb, n)
    buf.nullV = SortedValsBuffer.getBits(bb, n)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectSortedVals =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectSortedVals =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CollectSortedVals =
    copy(left = newLeft, right = newRight)
}

object CollectSortedVals {
  def apply(idx: Column, v: Column): Column = apply(idx, v, keepNulls = false)

  def apply(idx: Column, v: Column, keepNulls: Boolean): Column =
    ColumnBridge.column(CollectSortedVals(
      ColumnBridge.expression(idx), ColumnBridge.expression(v), keepNulls)
      .toAggregateExpression())
}
