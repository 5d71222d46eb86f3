package graft.segment

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import graft.core._
import graft.expr.{AssignKernelUtil, AssignPacked}

/** Bounds of the data range to segment (P2/P3). */
final case class Bounds(start: Double, end: Double)

/** (min, max) of a series' `__idx` and its row count. */
final case class IndexSummary(start: Double, end: Double, n: Long)

/** The strided-rolling segmenter — tsflex's core table-valued operator
  * (reference: tsflex/features/segmenter/strided_rolling.py), re-expressed
  * Spark-first.
  *
  * Segment semantics (golden-tested against
  * reference tests/test_strided_rolling.py:139-211):
  *   starts = start + k*stride, k ∈ [0, nb),
  *   nb = max((end - start - window) // stride + 1, 0)
  *        (+1 when includeFinalWindow && start + stride*nb <= end)
  *   ends = starts + window;  row ∈ segment iff start <= idx < end
  *   (half-open, searchsorted-'left' on both sides — W5).
  *
  * Scale design: for regular strides, window→row assignment is ARITHMETIC —
  * each row computes its own overlapping segment-start set with the
  * `AssignPacked` kernel (`graft.expr.AssignKernelUtil`, the same kernel
  * the keyed paths run): one primitive array of packed (stride, k) longs
  * per row, exploded and decoded to `s0 + k·st` by [[startOf]] — pure
  * whole-stage-codegen math, no join, no shuffle before the final
  * partial-aggregated `groupBy`. The segment table itself is built lazily
  * with `spark.range` (never driver-materialized) and only joined to
  * restore empty-window rows (W7) — broadcast on the block-sliced bucket
  * path at any scale, the window-bounded frame hinted by
  * `Gates.hintBounded`. Irregular/manual segments fall back to a
  * broadcast range join. The one eager job is the series' index
  * [[summary]], (min, max, n) in one shuffle-free job per distinct source.
  */
object Segmenter {

  /** `spark.sql.shuffle.partitions`, read in one place (the block length,
    * the keyed bounds spread). Spark rejects a non-int value both on
    * `conf.set` and at session start, so there is no fallback to take. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** A regular grid: windows of length `window` starting at
    * `bounds.start + k·st` for every stride st (distinct, ascending),
    * k ∈ [0, nb). */
  final case class Grid(bounds: Bounds, window: Double, strides: Seq[Double],
                        includeFinal: Boolean) {
    /** Window count per stride ([[AssignKernelUtil.nbOf]]). */
    def nbs: Seq[Long] = strides.map(
      AssignKernelUtil.nbOf(bounds.start, bounds.end, window, _, includeFinal))
  }

  /** A planned segmentation: lazily-built segment table + (for regular
    * strides) the grid the arithmetic assignment runs on.
    */
  final case class SegmentPlan(
      segments: DataFrame, // __seg_id, __seg_start, __seg_end (Double)
      regular: Option[Grid],
      winRender: String)

  def bounds(series: Seq[Series], method: String = "inner"): Bounds = {
    // r19: series of the same source (Series.sameSource) have identical
    // index bounds — one driver job per distinct source, not per series.
    // These jobs run EAGERLY at plan-build time, so an n-tuple feature
    // over one frame paid n full input scans before the query even
    // started (q51's three-series wcorr: 3 scans → 1).
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Series, Bounds)]
    combine(series.map { s =>
      reps.collectFirst { case (rep, v) if rep.sameSource(s) => v }.getOrElse {
        // an all-null (or empty) series has no bounds; name the series
        // instead of failing deep inside calculate
        val r = summary(s)
        require(r.isDefined,
          s"series '${s.name}' has no non-null indexed rows — cannot " +
            "derive segmentation bounds")
        val v = Bounds(r.get.start, r.get.end)
        // max ranks NaN highest; a NaN or infinite bound would segment a
        // wrong (or a Long.MaxValue-window) grid
        require(v.start.isFinite && v.end.isFinite,
          s"series '${s.name}' has a non-finite index bound " +
            s"[${v.start}, ${v.end}] — cannot segment NaN or infinite indexes")
        reps += ((s, v))
        v
      }
    }, method)
  }

  /** P3 bound methods (reference: tsflex/features/utils.py:77-99):
    * inner = (max of starts, min of ends); inner-outer = (max, max);
    * outer = (min, max).
    */
  def combine(bs: Seq[Bounds], method: String): Bounds = method match {
    case "inner"       => Bounds(bs.map(_.start).max, bs.map(_.end).min)
    case "inner-outer" => Bounds(bs.map(_.start).max, bs.map(_.end).max)
    case "outer"       => Bounds(bs.map(_.start).min, bs.map(_.end).max)
    case m => throw new IllegalArgumentException(s"invalid bound method $m")
  }

  /** (min, max) of `s`'s `__idx` and its row count, None when it has no
    * row: Spark's `agg(min, max, count)` in ONE job with no shuffle (the
    * aggregate runs a partial map stage and a final stage, two jobs under
    * AQE). Each partition folds its own summary on the executors off the
    * internal rows; the driver combines them in partition order. Both
    * range folds compare like Spark's `min`/`max`
    * (`SQLOrderingUtil.compareDoubles`: -0.0 equals 0.0, so the first one
    * seen stays; NaN ranks highest) and take a value only when it is
    * strictly past the one held.
    */
  def summary(s: Series): Option[IndexSummary] =
    s.internal.select(col("__idx")).queryExecution.toRdd
      .mapPartitions(foldSummary).collect()
      .reduceOption((a, b) => IndexSummary(lower(a.start, b.start), upper(a.end, b.end), a.n + b.n))

  /** The summary of a partition's `__idx` rows (none null), none if empty. */
  private def foldSummary(rows: Iterator[InternalRow]): Iterator[IndexSummary] =
    if (!rows.hasNext) Iterator.empty
    else {
      var lo = rows.next().getDouble(0)
      var hi = lo
      var n = 1L
      while (rows.hasNext) {
        val t = rows.next().getDouble(0)
        lo = lower(lo, t)
        hi = upper(hi, t)
        n += 1
      }
      Iterator(IndexSummary(lo, hi, n))
    }

  private def lower(held: Double, t: Double): Double =
    if (compareDoubles(t, held) < 0) t else held

  private def upper(held: Double, t: Double): Double =
    if (compareDoubles(t, held) > 0) t else held

  /** W1–W3: regular segment plan for one window and one-or-more strides.
    * Multi-stride = set union of per-stride starts, deduped and sorted (W2,
    * reference: strided_rolling.py:264-274).
    */
  def regular(spark: SparkSession, b: Bounds, window: Double,
              strides: Seq[Double], includeFinalWindow: Boolean,
              winRender: String): SegmentPlan = {
    require(strides.nonEmpty, "at least one stride required")
    require(b.start.isFinite && b.end.isFinite, s"segmentation bounds must be finite: $b")
    val grid = Grid(b, window, strides.distinct.sorted, includeFinalWindow)
    val perStride = grid.strides.zip(grid.nbs).map { case (st, nb) =>
      spark.range(nb)
        .select((lit(b.start) + col("id").cast("double") * lit(st)).as("__seg_start"))
    }
    var segs = perStride.reduce(_.unionAll(_))
    if (grid.strides.length > 1) segs = segs.distinct()
    val segments = segs
      .select(col("__seg_start"), (col("__seg_start") + lit(window)).as("__seg_end"))
      .withColumn("__seg_id", col("__seg_start"))
    SegmentPlan(segments, Some(grid), winRender)
  }

  /** W4: manual segments from user-supplied start and/or end arrays
    * (reference: strided_rolling.py:198-211; variable-length windows
    * allowed). Order and duplicates are preserved via an explicit id.
    */
  def manual(spark: SparkSession, starts: Option[Seq[Double]],
             ends: Option[Seq[Double]], window: Option[Double],
             winRender: String = "manual"): SegmentPlan = {
    def width(given: String): Double = window.getOrElse(
      throw new IllegalArgumentException(
        s"$given-only segments need a window to derive the other side"))
    val (s, e) = (starts, ends) match {
      case (Some(s0), Some(e0)) =>
        require(s0.length == e0.length, "segment start/end length mismatch")
        (s0, e0)
      case (Some(s0), None) => (s0, s0.map(_ + width("starts")))
      case (None, Some(e0)) => (e0.map(_ - width("ends")), e0)
      case _ => throw new IllegalArgumentException("need starts and/or ends")
    }
    require(s.zip(e).forall { case (a, b) => a <= b }, "segment start > end")
    import spark.implicits._
    val segments = s.zip(e).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("__seg_id", "__seg_start", "__seg_end")
    SegmentPlan(segments, None, winRender)
  }

  /** W5: assign rows to segments. Returns the input frame with one output
    * row per (row, containing segment) pair, tagged `__seg_id`.
    *
    * Regular path: arithmetic explode of the `AssignPacked` kernel — for
    * stride st, row t overlaps starts with
    * k ∈ [floor((t-s0-w)/st)+1, floor((t-s0)/st)] ∩ [0, nb)
    * ([[AssignKernelUtil.assign]]), decoded to `s0 + k·st` by [[startOf]].
    * Multi-stride: the kernel dedups each row's starts in-loop, mirroring
    * the reference's global `np.unique`.
    *
    * Manual path: broadcast range join (segment tables are small relative
    * to data; for huge manual tables swap in a range-join strategy).
    */
  def assign(rows: DataFrame, plan: SegmentPlan): DataFrame = plan.regular match {
    case Some(g) =>
      val s0 = lit(g.bounds.start)
      rows.select(col("*"), explode(AssignPacked(col("__idx"), s0,
          lit(g.bounds.end), g.strides.map(_ => g.window), g.strides,
          g.includeFinal)).as("__p"))
        .withColumn("__seg_id", startOf(col("__p"), s0, g.strides))
        .drop("__p")
    case None =>
      val segs = plan.segments
      rows.join(broadcast(segs),
        col("__idx") >= col("__seg_start") && col("__idx") < col("__seg_end"),
        "inner")
        .select(rows.columns.toIndexedSeq.map(col) :+ col("__seg_id"): _*)
  }

  // ---- packed (spec, k) decode: the AssignPacked/SegmentsPacked kernels
  // emit `specIdx << 56 | k` longs (graft.expr.AssignKernelUtil); a spec's
  // static (w, st) come back through a literal when-chain, so a decoded
  // start is the same IEEE ops `s0 + k·st` the kernels dedup on ----------

  /** vals(spec of the packed pair `p`) as a literal when-chain (≤255 static
    * specs — no array lookup, stays in whole-stage codegen as comparisons +
    * constants). */
  def pick(p: Column, vals: Seq[Double]): Column =
    if (vals.distinct.lengthCompare(1) == 0) lit(vals.head)
    else {
      val i = shiftrightunsigned(p, AssignKernelUtil.KBits).cast("int")
      vals.zipWithIndex.tail.foldLeft(when(i === 0, lit(vals.head))) {
        case (acc, (v, j)) => acc.when(i === j, lit(v))
      }
    }

  /** k·st of the packed pair `p` over the specs' strides `sts`: its
    * window's offset from the grid start. */
  def koffOf(p: Column, sts: Seq[Double]): Column =
    p.bitwiseAND(lit(AssignKernelUtil.KMask)).cast("double") * pick(p, sts)

  /** Start `s0 + k·st` of the packed pair `p`'s window. */
  def startOf(p: Column, s0: Column, sts: Seq[Double]): Column = s0 + koffOf(p, sts)

  /** W8 sparsity check (reference: strided_rolling.py:230-239): per series,
    * the per-segment sample counts' peak-to-peak (max - min, empty segments
    * counting 0). A nonzero ptp means the series is sparse w.r.t. this
    * segmentation — the reference warns unless `approve_sparsity`.
    * Returns one row per series: (series, min_n, max_n, ptp).
    */
  def sparsity(series: Seq[Series], b: Bounds, window: Double,
               strides: Seq[Double], includeFinalWindow: Boolean = false): DataFrame = {
    val frames = series.map { s =>
      val plan = regular(s.df.sparkSession, b, window, strides,
        includeFinalWindow, "w")
      val counts = assign(s.internal, plan)
        .groupBy("__seg_id").agg(count(col("__v")).as("__n"))
      plan.segments.join(counts, Seq("__seg_id"), "left")
        .select(coalesce(col("__n"), lit(0L)).as("__n"))
        .agg(min(col("__n")).as("min_n"), max(col("__n")).as("max_n"))
        .select(lit(s.name).as("series"), col("min_n"), col("max_n"),
          (col("max_n") - col("min_n")).as("ptp"))
    }
    frames.reduce(_.unionByName(_))
  }

  /** W6: output anchor column for a segment (reference:
    * strided_rolling.py:276-293): end (default) / middle / begin.
    */
  def anchor(windowIdx: String): Column = windowIdx match {
    case "end"    => col("__seg_end")
    case "middle" => col("__seg_start") + (col("__seg_end") - col("__seg_start")) / 2
    case "begin"  => col("__seg_start")
    case w => throw new IllegalArgumentException(
      s"window index $w must be either of: ['end', 'middle', 'begin']")
  }
}
