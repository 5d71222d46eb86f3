package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import graft.core.Gates
import graft.expr.{BlockIds, BlockSliceUtil, BlockSlices, CollectSortedVals, SliceFold, SortedSlice}
import graft.segment.Segmenter

/** Block-sliced evaluation of one single-series `calculate` bucket on a
  * regular grid whose aggregate reads the sorted buffer
  * (`CollectSortedVals`).
  *
  * The per-window explode copies every row into w/s windows and sorts each
  * window on its own; with more window keys per map task than
  * `ObjectHashAggregate` keeps in its hash map, the partial aggregate also
  * falls back to sorting. Here each row goes to the one or two BLOCKS of
  * consecutive windows that hold it (`graft.expr.BlockIds`, exploded in
  * generated code), each block builds ONE sorted buffer, and every window
  * is a contiguous slice of its block's buffer (`graft.expr.BlockSlices`)
  * with the explode path's exact membership. A windowKeep bucket keeps one
  * buffer per window ([[perWindow]]) under the same leaf rewrite.
  *
  * The bucket's aggregate is written once, for the explode path; this
  * rewrites its analyzed form. Every aggregate leaf becomes a per-window
  * expression over the slice:
  *   - `CollectSortedVals(__idx, __v)` → `SortedSlice`: bit-identical
  *     values and index;
  *   - `count`/`sum`/`min`/`max`/`avg` over `__idx`/`__v` → `SliceFold`,
  *     Spark's own aggregate folded over the slice: `count`, `min` and
  *     `max` are exact, `sum`/`avg` differ only by summation order.
  * A bucket with any other leaf keeps the explode path.
  */
private[api] final class BlockBucket private (
    plan: Segmenter.SegmentPlan,
    leaves: Seq[AggregateExpression],
    outputs: Seq[(Expression, String)],
    idx: Attribute, v: Attribute, segId: Attribute) {

  /** The bucket's aggregated frame — `__seg_id` plus one column per
    * output, one row per non-empty window — off the series rows
    * (`__idx`, `__v`), block-sliced. At most Σ nb rows, a bound the
    * driver holds, so the frame is hinted `broadcast` for the W7 join when
    * that many rows fit ([[Gates.hintBounded]]): the join then shuffles
    * neither the segment table nor the frame.
    */
  def frame(rows: DataFrame): DataFrame = {
    val g = plan.regular.get
    val (s0, w, sts, nbs) = (g.bounds.start, g.window, g.strides, g.nbs)
    val len = BlockSliceUtil.blockLength(w, sts, nbs,
      Segmenter.shufflePartitions(rows.sparkSession))
    val blocks = rows.select(col("__idx"), col("__v"),
        explode(BlockIds(col("__idx"), s0, w, sts, nbs, len)).as("__blk"))
      .groupBy("__blk")
      .agg(CollectSortedVals(col("__idx"), col("__v"), keepNulls = true).as("__buf"))
    Gates.hintBounded(
      over(blocks.select(BlockSlices(col("__blk"), col("__buf"), s0, w, sts, nbs, len))),
      nbs.map(BigInt(_)).sum)
  }

  /** The same frame off the explode path's window rows `assigned`
    * (`__seg_id`, `__idx`, `__v`): one sorted buffer per window, every leaf
    * read off it like a block slice. For the windowKeep bucket, whose prune
    * drops unkept windows' rows before any buffer; its `sum`/`avg` leaves
    * fold in index order like [[frame]]'s, so a gated bucket equals the
    * ungated one filtered afterwards bit for bit.
    */
  def perWindow(assigned: DataFrame): DataFrame =
    over(assigned.groupBy("__seg_id")
      .agg(CollectSortedVals(col("__idx"), col("__v"), keepNulls = true).as("__buf"))
      .select(col("__seg_id"), col("__buf.i").as("__ai"), col("__buf.v").as("__av")))

  /** The outputs over window slices (`__seg_id`, `__ai`, `__av`). */
  private def over(sliced: DataFrame): DataFrame = {
    val ai = ColumnBridge.expression(col("__ai"))
    val av = ColumnBridge.expression(col("__av"))
    // one column per distinct leaf, then the outputs over them — the shape
    // of Spark's own aggregate (results, then result expressions), so a
    // leaf several outputs share is folded once
    val perLeaf = sliced.select(col("__seg_id") +: leaves.zipWithIndex.map {
      case (ae, j) =>
        val e = ae.aggregateFunction match {
          case _: CollectSortedVals => SortedSlice(ai, av)
          case f: DeclarativeAggregate => SliceFold(f, idx, v, ai, av)
        }
        ColumnBridge.column(e).as(s"__l$j")
    }: _*)
    val slot = leaves.map(_.canonicalized).zipWithIndex.toMap
    perLeaf.select(outputs.map { case (e, name) =>
      ColumnBridge.column(e.transformDown {
        case ae: AggregateExpression =>
          ColumnBridge.expression(col(s"__l${slot(ae.canonicalized)}"))
        case a: Attribute if a.semanticEquals(segId) =>
          ColumnBridge.expression(col("__seg_id"))
      }).as(name)
    }: _*)
  }
}

private[api] object BlockBucket {

  /** The block-sliced form of `exploded` — the bucket's explode-path
    * `groupBy(__seg_id).agg(...)` — or None when it does not apply: the
    * grid is not regular, no leaf reads the sorted buffer, or some leaf or
    * output reads anything a slice cannot reproduce.
    */
  def of(exploded: DataFrame, plan: Segmenter.SegmentPlan): Option[BlockBucket] =
    (exploded.queryExecution.analyzed, plan.regular) match {
      case (a: Aggregate, Some(g)) if g.strides.forall(_ > 0) =>
        val in = a.child.output
        def double(name: String) =
          in.find(_.name == name).filter(_.dataType == DoubleType)
        val leaves = a.aggregateExpressions
          .flatMap(_.collect { case ae: AggregateExpression => ae })
          .distinctBy(_.canonicalized)
        val outputs = a.aggregateExpressions.map {
          case Alias(c, name) => (c, name)
          case e => (e, e.name)
        }
        for {
          idx <- double("__idx")
          v <- double("__v")
          seg <- a.groupingExpressions match {
            case Seq(s: Attribute) => Some(s)
            case _ => None
          }
          if leaves.exists(_.aggregateFunction.isInstanceOf[CollectSortedVals]) &&
            leaves.forall(sliceable(_, idx, v)) &&
            outputs.forall { case (e, _) => residual(e).forall(_.semanticEquals(seg)) }
        } yield new BlockBucket(plan, leaves, outputs, idx, v, seg)
      case _ => None
    }

  private def sliceable(ae: AggregateExpression, idx: Attribute, v: Attribute): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
      (ae.aggregateFunction match {
        case c: CollectSortedVals =>
          !c.keepNulls && c.left.semanticEquals(idx) && c.right.semanticEquals(v)
        case f @ (_: Count | _: Sum | _: Min | _: Max | _: Average) =>
          f.deterministic && f.references.subsetOf(AttributeSet(Seq(idx, v)))
        case _ => false
      })

  /** Attributes an output reads outside its aggregate leaves. */
  private def residual(e: Expression): Seq[Attribute] = e match {
    case _: AggregateExpression => Nil
    case a: Attribute => Seq(a)
    case o => o.children.flatMap(residual)
  }
}
