package graft.proc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Scan, Series}
import graft.segment.{Bounds, Segmenter}

/** Regular-grid resampling with as-of (last-known) values — the tsflex
  * processing recipes do this with pandas `resample`/`reindex`; here the
  * grid markers are unioned with the data rows and the value is carried
  * forward by a DISTRIBUTED as-of scan (Scan.fillForward), so resampling a
  * year of nanosecond data is a partition-parallel plan, not a loop.
  */
object Resample {

  /** One row per grid step in [min, max] (inclusive of the last step at or
    * before max), with the series' last value at-or-before that instant
    * (a sample exactly ON a grid point is included). Output: (idxCol,
    * valueCol) in the series' original index dtype.
    */
  private def gridUnion(s: Series, step: Double): DataFrame = {
    require(step > 0, s"resample step must be > 0, got $step " +
      "(step = 0 would launch a ~Long.MaxValue-row grid)")
    val spark = s.df.sparkSession
    val internal = s.internal
    // checked: an empty series or a NaN or infinite span sizes no grid
    val Bounds(lo, hi) = Segmenter.bounds(Seq(s))
    // relative epsilon: (0.3 - 0.0) / 0.1 = 2.9999999999999996 in doubles —
    // a bare floor would silently drop the final grid point that the doc
    // ("inclusive of the last step at or before max") promises.
    // Tradeoff: if (hi-lo)/step is GENUINELY (not by float error) within
    // 1e-9 relative below an integer, the snapped final point lands up to
    // ~1e-9*|q|*step beyond max. We accept that epsilon-bounded overshoot
    // rather than drop legitimately aligned endpoints — an as-of carry at
    // such a point still reads the last sample, so no value is invented.
    val q = (hi - lo) / step
    val nb = math.floor(q + 1e-9 * math.max(1.0, math.abs(q))).toLong + 1
    val grid = spark.range(nb)
      .select((lit(lo) + col("id").cast("double") * lit(step)).as("__idx"),
        lit(1).as("__tag"),
        lit(null).cast(internal.schema("__v").dataType).as("__v"))
    // data rows sort BEFORE the grid marker at the same instant (tag 0 < 1),
    // so an exactly-aligned sample is visible to its grid point
    internal.select(col("__idx"), lit(0).as("__tag"), col("__v"))
      .unionByName(grid)
  }

  /** Resample to a regular `step` grid by as-of carry (last sample
    * at-or-before each grid point; leading grid points before the first
    * sample stay null). One distributed fill-forward scan over the
    * sample∪grid union (`Scan.fillForward` — range-partitioned, no global
    * window); oracle: q47_resample.
    */
  def asofGrid(s: Series, step: Double): DataFrame =
    Scan.fillForward(gridUnion(s, step), Seq("__idx", "__tag"), "__v", "__fv")
      .where(col("__tag") === 1)
      .select(s.restoreIdx(col("__idx")).as(s.idxCol),
        col("__fv").as(s.valueCol))

  /** Linear interpolation to the grid: each grid point combines the nearest
    * sample at-or-before and at-or-after (two distributed as-of scans, the
    * second over the negated index). Grid points outside the sample range
    * fall back to the available side; exactly-aligned samples pass through.
    */
  def linearGrid(s: Series, step: Double): DataFrame = {
    val u = gridUnion(s, step)
      .withColumn("__pv", when(col("__tag") === 0,
        struct(col("__idx").as("u"), col("__v").as("v"))))
    val withPrev = Scan.fillForward(u, Seq("__idx", "__tag"), "__pv", "__prev")
    // backward pass = forward scan over the negated index; data's tag (0)
    // still sorts before the grid marker at an equal instant, so aligned
    // samples are visible from both directions
    val withBoth = Scan.fillForward(
      withPrev.withColumn("__nidx", -col("__idx")),
      Seq("__nidx", "__tag"), "__pv", "__next")
    val g = col("__idx")
    val pu = col("__prev.u"); val pv = col("__prev.v")
    val nu = col("__next.u"); val nv = col("__next.v")
    val interp =
      when(col("__prev").isNull, nv)
        .when(col("__next").isNull, pv)
        .when(nu === pu, pv) // aligned sample (or duplicate instant)
        .otherwise(pv + (nv - pv) * (g - pu) / (nu - pu))
    withBoth.where(col("__tag") === 1)
      .select(s.restoreIdx(g).as(s.idxCol), interp.as(s.valueCol))
  }
}
