package graft.expr

/** Native exact percentiles over a collected window: ONE primitive
  * double-array sort serves every requested quantile, replacing N
  * independent `percentile(v, q)` aggregates (each an OpenHashMap buffer
  * per window plus its own boxed sort at eval — the q71 100× ablation
  * measured the two `iqr` Percentile aggregates at ~80% of the fused
  * aggregate's executor CPU).
  *
  * Arithmetic is bit-pinned to Spark's `PercentileBase.getPercentile`
  * (verified against the 4.1.2 bytecode): position `(n − 1) · q`,
  * `lower = floor`, `higher = ceil`, result
  * `(higher − position) · v[lower] + (position − lower) · v[higher]`
  * with the equal-index/equal-value short-circuit returning `v[lower]`.
  * `java.util.Arrays.sort(double[])` orders exactly like the Percentile
  * aggregate's `PhysicalDataType.ordering` for doubles (NaN greatest,
  * −0.0 < 0.0); empty windows yield null, matching the aggregate's
  * empty-buffer null. Nulls never reach the array: the `collect_list`
  * feed skips them like Percentile's update does.
  */
object PercentileKernelUtil {

  /** Sorts `v` in place and interpolates every `qs` entry. Returns null
    * for an empty window — null elements never get here: the
    * [[WindowKernel]] conversion skips them, exactly like the replaced
    * `Percentile` aggregate's update does.
    */
  def percentiles(v: Array[Double], qs: Array[Double]): Array[Double] = {
    if (v.length == 0) return null
    java.util.Arrays.sort(v)
    val out = new Array[Double](qs.length)
    var j = 0
    while (j < qs.length) {
      out(j) = interp(v, qs(j))
      j += 1
    }
    out
  }

  private def interp(sorted: Array[Double], q: Double): Double = {
    val pos = (sorted.length - 1).toDouble * q
    val lo = math.floor(pos)
    val hi = math.ceil(pos)
    val lv = sorted(lo.toInt)
    if (hi == lo) lv
    else {
      val hv = sorted(hi.toInt)
      // value-equality short-circuit mirrors PercentileBase (distinct map
      // keys there; adjacent EQUAL doubles here are the same case)
      if (lv == hv) lv
      else (hi - pos) * lv + (pos - lo) * hv
    }
  }
}
