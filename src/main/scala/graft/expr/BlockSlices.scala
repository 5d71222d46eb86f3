package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryExpression, BindReferences, EmptyRow, Expression, Generator, GenericInternalRow, JoinedRow, MutableProjection, SpecificInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Block-sliced windows: the window arithmetic of a regular strided grid
  * read off ONE sorted buffer per block of consecutive windows, instead of
  * one buffer per window (reference semantics: the strided windows of
  * tsflex/features/segmenter/strided_rolling.py; the shared buffer across
  * overlapping windows follows PAPERS.md's ICDE 2022 "Constructing Compact
  * Time Series Index for Efficient Window Query Processing").
  *
  * A window is identified by its start `s0 + k·st`, the double the explode
  * path (`Segmenter.assign`) uses as `__seg_id`; its BLOCK is
  * `floor((start − s0) / len)`. Computing the block from the start double
  * itself means two strides that produce the same start put it in the same
  * block, where the duplicate is merged (the explode path's multi-stride
  * dedup).
  *
  * The row at index t lies in the windows k ∈ [kmin(t), kmax(t)] — the
  * grid arithmetic of `AssignKernelUtil`, the kernel behind
  * `Segmenter.assign`, read here for both ends of the block path:
  * [[blockIds]] sends the row to the blocks of those windows
  * ([[BlockIds]]), and inside a block's index-sorted buffer a window is
  * the contiguous run of rows whose range contains its k ([[slices]]). Both
  * bounds are monotone in the index, so each end of the run is one binary
  * search, and membership is the explode path's exactly.
  */
object BlockSliceUtil {
  import AssignKernelUtil.{floorL, kmax, kmin, startOf}

  /** The block of window k. */
  private def blockOf(s0: Double, k: Long, st: Double, len: Double): Long =
    floorL((startOf(s0, k, st) - s0) / len)

  /** Most blocks one grid is cut into: half of Spark's default
    * `ObjectHashAggregate` sort fallback threshold (128 keys per task), so a
    * map task holding rows of every block still aggregates in its hash map.
    */
  private val MaxBlocks = 64L

  /** Index length of one block: B strides of the finest stride, with B
    *   - at least 4·⌈w/s⌉ where the grid allows, so the windows holding a
    *     row (whose starts span w) touch at most two blocks and the row
    *     fan-out stays near 1 + 1/4 instead of w/s;
    *   - at most 1/`shufflePartitions` of the grid, so a short grid still
    *     spreads over every partition, but never under ⌈w/s⌉;
    *   - at least 1/[[MaxBlocks]] of the grid, whatever the partitions.
    */
  def blockLength(window: Double, strides: Seq[Double], nbs: Seq[Long],
                  shufflePartitions: Int): Double = {
    val fine = strides.indices.minBy(strides)
    val (st, nb) = (strides(fine), nbs(fine))
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val perRow = math.max(1L, math.ceil(window / st).toLong)
    val spread = math.min(4 * perRow, ceilDiv(nb, math.max(shufflePartitions, 1).toLong))
    math.max(ceilDiv(nb, MaxBlocks), math.max(perRow, spread)).toDouble * st
  }

  /** The blocks holding a window that contains index t, ascending: none
    * when no window of any stride does; with a block at least as long as
    * the window, one or two.
    */
  def blockIds(t: Double, s0: Double, w: Double, sts: Array[Double],
               nbs: Array[Long], len: Double): ArrayData = {
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var i = 0
    while (i < sts.length) {
      val st = sts(i)
      val k0 = math.max(0L, kmin(t, s0, w, st))
      val k1 = math.min(nbs(i) - 1, kmax(t, s0, st))
      if (k1 >= k0) {
        lo = math.min(lo, blockOf(s0, k0, st, len))
        hi = math.max(hi, blockOf(s0, k1, st, len))
      }
      i += 1
    }
    val ids = new Array[Long](if (lo > hi) 0 else (hi - lo + 1).toInt)
    i = 0
    while (i < ids.length) { ids(i) = lo + i; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  /** First k in [0, nb) whose window's block is `b` or later; nb if none. */
  private def firstK(b: Long, s0: Double, st: Double, nb: Long, len: Double): Long = {
    var lo = 0L
    var hi = nb
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (blockOf(s0, m, st, len) >= b) hi = m else lo = m + 1
    }
    lo
  }

  /** First position in `idx[0, n)` whose kmax reaches k. */
  private def fromOf(idx: Array[Double], n: Int, s0: Double, st: Double, k: Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (kmax(idx(m), s0, st) >= k) hi = m else lo = m + 1
    }
    lo
  }

  /** First position in `idx[0, n)` whose kmin passes k. */
  private def untilOf(idx: Array[Double], n: Int, s0: Double, w: Double,
                      st: Double, k: Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (kmin(idx(m), s0, w, st) > k) hi = m else lo = m + 1
    }
    lo
  }

  /** The non-empty windows of block `b` over its sorted index `idx`:
    * (start, from, until) in start order. Starts that several strides share
    * are merged into one window spanning every stride's run (the
    * explode path's per-row union of start sets).
    */
  def slices(b: Long, idx: Array[Double], s0: Double, w: Double,
             sts: Array[Double], nbs: Array[Long],
             len: Double): Array[(Double, Int, Int)] = {
    val n = idx.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Int)]
    var i = 0
    while (i < sts.length) {
      val st = sts(i)
      var k = firstK(b, s0, st, nbs(i), len)
      val kEnd = firstK(b + 1, s0, st, nbs(i), len)
      while (k < kEnd) {
        out += ((startOf(s0, k, st), fromOf(idx, n, s0, st, k),
          untilOf(idx, n, s0, w, st, k)))
        k += 1
      }
      i += 1
    }
    val merged =
      if (sts.length == 1) out
      else {
        val m = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Int)]
        out.sortBy(_._1).foreach { case s @ (start, from, until) =>
          if (m.nonEmpty && m.last._1 == start) {
            val (s1, f1, u1) = m.last
            m(m.length - 1) = (s1, math.min(f1, from), math.max(u1, until))
          } else m += s
        }
        m
      }
    merged.filter { case (_, from, until) => from < until }.toArray
  }
}

/** Block assignment: the ids of the blocks holding a window that contains
  * the row at index `child` ([[BlockSliceUtil.blockIds]]) as a primitive
  * long array, for `explode` — empty for a row outside the grid, null for
  * a null index. Compiled into the stage like `AssignPacked`, so the scan,
  * the projection and the explode run as one generated loop.
  */
case class BlockIds(child: Expression, s0: Double, window: Double,
                    strides: Seq[Double], nbs: Seq[Long], blockLen: Double)
    extends UnaryExpression {

  @transient private lazy val stsArr: Array[Double] = strides.toArray
  @transient private lazy val nbsArr: Array[Long] = nbs.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "block_ids"

  override def nullSafeEval(t: Any): Any =
    BlockSliceUtil.blockIds(t.asInstanceOf[Double], s0, window, stsArr, nbsArr, blockLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val sts = ctx.addReferenceObj("blockSts", stsArr, "double[]")
      val nbs = ctx.addReferenceObj("blockNbs", nbsArr, "long[]")
      s"${ev.value} = graft.expr.BlockSliceUtil.blockIds($t, ${s0}D, ${window}D, " +
        s"$sts, $nbs, ${blockLen}D);"
    })

  override protected def withNewChildInternal(newChild: Expression): BlockIds =
    copy(child = newChild)
}

object BlockIds {
  def apply(idx: Column, s0: Double, window: Double, strides: Seq[Double],
            nbs: Seq[Long], blockLen: Double): Column =
    ColumnBridge.column(BlockIds(ColumnBridge.expression(idx), s0, window,
      strides, nbs, blockLen))
}

/** One row per non-empty window of a block: `(__seg_id, __ai, __av)`, the
  * window's start and its slice of the block buffer — a
  * `CollectSortedVals(keepNulls = true)` result, so `__av` holds null where
  * a row's value is null. Children: the block id and the buffer struct.
  */
case class BlockSlices(left: Expression, right: Expression, s0: Double,
                       window: Double, strides: Seq[Double], nbs: Seq[Long],
                       blockLen: Double)
    extends Generator with BinaryLike[Expression] with CodegenFallback {

  @transient private lazy val stsArr: Array[Double] = strides.toArray
  @transient private lazy val nbsArr: Array[Long] = nbs.toArray

  override def elementSchema: StructType = StructType(Seq(
    StructField("__seg_id", DoubleType, nullable = false),
    StructField("__ai", ArrayType(DoubleType, containsNull = true), nullable = false),
    StructField("__av", ArrayType(DoubleType, containsNull = true), nullable = false)))

  override def supportCodegen: Boolean = false
  override def prettyName: String = "block_slices"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val blk = left.eval(input)
    val buf = right.eval(input).asInstanceOf[InternalRow]
    if (blk == null || buf == null) return Iterator.empty
    val vArr = buf.getArray(0)
    val iArr = buf.getArray(1)
    val idx = iArr.toDoubleArray()
    val vs = vArr.toDoubleArray()
    var anyNull = false
    var j = 0
    while (!anyNull && j < vs.length) { anyNull = vArr.isNullAt(j); j += 1 }
    BlockSliceUtil.slices(blk.asInstanceOf[Long], idx, s0, window, stsArr,
      nbsArr, blockLen).iterator.map { case (start, from, until) =>
      val av = UnsafeArrayData.fromPrimitiveArray(
        java.util.Arrays.copyOfRange(vs, from, until))
      if (anyNull) {
        var p = from
        while (p < until) { if (vArr.isNullAt(p)) av.setNullAt(p - from); p += 1 }
      }
      new GenericInternalRow(Array[Any](start, UnsafeArrayData.fromPrimitiveArray(
        java.util.Arrays.copyOfRange(idx, from, until)), av))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockSlices =
    copy(left = newLeft, right = newRight)
}

object BlockSlices {
  def apply(blk: Column, buf: Column, s0: Double, window: Double,
            strides: Seq[Double], nbs: Seq[Long], blockLen: Double): Column =
    ColumnBridge.column(BlockSlices(ColumnBridge.expression(blk),
      ColumnBridge.expression(buf), s0, window, strides, nbs, blockLen))
}

/** A window's `CollectSortedVals` result read off its slice: the non-null
  * values of `av` and the index at the same positions. With no null value
  * in the slice (the common case) the arrays pass through uncopied.
  */
case class SortedSlice(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("i", left.dataType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "sorted_slice"

  override def nullSafeEval(ai: Any, av: Any): Any = {
    val is = ai.asInstanceOf[ArrayData]
    val vs = av.asInstanceOf[ArrayData]
    val n = vs.numElements()
    var kept = 0
    var j = 0
    while (j < n) { if (!vs.isNullAt(j)) kept += 1; j += 1 }
    if (kept == n) new GenericInternalRow(Array[Any](vs, is))
    else {
      // compact the bulk copies in place over the null-valued positions
      val v = vs.toDoubleArray()
      val i = is.toDoubleArray()
      var m = 0
      j = 0
      while (j < n) {
        if (!vs.isNullAt(j)) { v(m) = v(j); i(m) = i(j); m += 1 }
        j += 1
      }
      new GenericInternalRow(Array[Any](
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(v, kept)),
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(i, kept))))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedSlice =
    copy(left = newLeft, right = newRight)
}

/** A declarative aggregate (`count`, `sum`, `min`, `max`, `avg`) over one
  * window, folded over its slice: Spark's own initial, update and evaluate
  * expressions for `fn`, with `fn`'s inputs `idx` and `v` bound to each
  * slice row in index order. Only the summation ORDER differs from the
  * grouped aggregate (rows arrive sorted instead of in partition order).
  *
  * `fn` and its input attributes are parameters, not children: they are
  * resolved against the explode-path plan and bound here to the fold's own
  * two-column row.
  *
  * The fold is compiled into the stage ([[doGenCode]]): `fn`'s expressions
  * are generated against local buffer variables, bound through
  * `ctx.currentVars` the way `HashAggregateExec` binds its buffer, and one
  * loop walks the slice. `nullSafeEval` is the interpreted `eval` Spark
  * falls back to; both fold in index order, so they agree bit for bit.
  */
case class SliceFold(fn: DeclarativeAggregate, idx: Attribute, v: Attribute,
                     left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.nullable
  override def prettyName: String = "slice_fold"
  override def toString: String = s"$prettyName($fn, $left, $right)"

  private def bufAttrs = fn.aggBufferAttributes
  private def rowAttrs = bufAttrs ++ Seq(idx, v)

  @transient private lazy val buffer =
    new SpecificInternalRow(bufAttrs.map(_.dataType))
  @transient private lazy val row = new SpecificInternalRow(Seq(DoubleType, DoubleType))
  @transient private lazy val joined = new JoinedRow(buffer, row)
  @transient private lazy val init =
    MutableProjection.create(fn.initialValues).target(buffer)
  @transient private lazy val update =
    MutableProjection.create(fn.updateExpressions, rowAttrs).target(buffer)
  @transient private lazy val result =
    BindReferences.bindReference(fn.evaluateExpression, bufAttrs)

  override def nullSafeEval(ai: Any, av: Any): Any = {
    val is = ai.asInstanceOf[ArrayData]
    val vs = av.asInstanceOf[ArrayData]
    init(EmptyRow)
    var j = 0
    while (j < vs.numElements()) {
      row.setDouble(0, is.getDouble(j))
      if (vs.isNullAt(j)) row.setNullAt(1) else row.setDouble(1, vs.getDouble(j))
      update(joined)
      j += 1
    }
    result.eval(buffer)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ai, av) => {
      def local(prefix: String, dt: DataType): ExprCode =
        ExprCode(JavaCode.isNullVariable(ctx.freshName(s"${prefix}IsNull")),
          JavaCode.variable(ctx.freshName(s"${prefix}Value"), dt))
      def declare(to: ExprCode, from: ExprCode, dt: DataType): String =
        s"boolean ${to.isNull} = ${from.isNull}; " +
          s"${CodeGenerator.javaType(dt)} ${to.value} = ${from.value};"
      val types = bufAttrs.map(_.dataType)
      val buf = types.map(local("buf", _))
      val (idxIn, vIn) =
        (JavaCode.variable(ctx.freshName("idx"), DoubleType), local("v", DoubleType))
      val (outerVars, outerRow) = (ctx.currentVars, ctx.INPUT_ROW)
      ctx.INPUT_ROW = null
      ctx.currentVars = null
      val inits = fn.initialValues.map(_.genCode(ctx))
      ctx.currentVars = buf ++ Seq(ExprCode(FalseLiteral, idxIn), vIn)
      val updates =
        BindReferences.bindReferences(fn.updateExpressions, rowAttrs).map(_.genCode(ctx))
      ctx.currentVars = buf
      val res = BindReferences.bindReference(fn.evaluateExpression, bufAttrs).genCode(ctx)
      ctx.currentVars = outerVars
      ctx.INPUT_ROW = outerRow
      // every update is read into its own variable before any buffer slot
      // is written: an update may read a slot another one writes
      val next = types.map(local("next", _))
      val (j, n) = (ctx.freshName("j"), ctx.freshName("n"))
      (inits.map(_.code.toString) ++
        buf.zip(inits).zip(types).map { case ((b, i), dt) => declare(b, i, dt) } ++
        Seq(s"int $n = $av.numElements();",
          s"for (int $j = 0; $j < $n; $j++) {",
          s"double $idxIn = $ai.getDouble($j);",
          s"boolean ${vIn.isNull} = $av.isNullAt($j);",
          s"double ${vIn.value} = ${vIn.isNull} ? 0.0 : $av.getDouble($j);") ++
        updates.map(_.code.toString) ++
        next.zip(updates).zip(types).map { case ((x, u), dt) => declare(x, u, dt) } ++
        buf.zip(next).map { case (b, x) => s"${b.isNull} = ${x.isNull}; ${b.value} = ${x.value};" } ++
        Seq("}", res.code.toString) ++
        (if (nullable) Seq(s"${ev.isNull} = ${res.isNull};") else Nil) ++
        Seq(s"${ev.value} = ${res.value};")).mkString("\n")
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SliceFold =
    copy(left = newLeft, right = newRight)
}
