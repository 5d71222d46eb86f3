package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Native kernels for the two tsfel temporal members whose Catalyst
  * formulations were per-element-allocating (the q100 100× profile):
  * `neighbourhood_peaks` built a (2n+1)-element tuple ARRAY per position
  * (11 slices + zip_with concat for n = 5), and `hist` rebuilt the
  * per-bin counter array once per element inside its fold. Both are one
  * primitive pass here; semantics match the replaced Column versions
  * exactly (same tie/boundary/empty conventions, documented per kernel).
  * NaN inputs follow Java comparison semantics — see the EntropyKernels
  * module note; NaN windows are outside the oracle contract.
  */
object TemporalKernelUtil {

  // [[temporalFold]] modes
  val MEAN_ABS_DIFF = 0
  val MEDIAN_ABS_DIFF = 1
  val MEDIAN_DIFF = 2
  val DISTANCE = 3
  val AUC = 4
  val CENTROID_NUM = 5
  val ABS_DIFF_SUM = 6
  val SUM_SQ_DIFF = 7
  val IDX_DOT = 8

  /** tsfel `neighbourhood_peaks(n)`: count of samples strictly greater
    * than ALL 2n neighbours within ±n positions; boundary samples (no
    * full neighbourhood) never count; windows shorter than 2n+1 give 0.
    */
  def neighbourhoodPeaks(x: Array[Double], nn: Int): Long = {
    val n = x.length
    if (n < 2 * nn + 1) return 0L
    var cnt = 0L
    var i = nn
    while (i < n - nn) {
      var ok = true
      var j = i - nn
      while (ok && j <= i + nn) {
        if (j != i && !(x(i) > x(j))) ok = false
        j += 1
      }
      if (ok) cnt += 1
      i += 1
    }
    cnt
  }

  /** tsfel `hist(bins)`: per-bin counts over equal-width bins spanning
    * [min, max], right-inclusive last bin (np.histogram); a constant
    * window (min == max) puts all samples in bin 1 (the documented
    * deviation of the Column version); an empty window is all zeros.
    * NaN samples are SKIPPED — they matched no bin in the replaced
    * Column form (floor(NaN) → null), and they already never moved
    * min/max here (NaN comparisons are false); an all-NaN window is
    * therefore all zeros, like an empty one.
    */
  def histCounts(x: Array[Double], bins: Int): InternalRow = {
    val n = x.length
    val counts = new Array[Long](bins)
    if (n > 0) {
      var i = 0
      var mn = Double.PositiveInfinity
      var mx = Double.NegativeInfinity
      while (i < n) {
        if (x(i) < mn) mn = x(i)
        if (x(i) > mx) mx = x(i)
        i += 1
      }
      i = 0
      while (i < n) {
        if (!java.lang.Double.isNaN(x(i))) {
          val b =
            if (mx > mn) {
              val raw = math.floor((x(i) - mn) / (mx - mn) * bins).toInt
              if (raw > bins - 1) bins - 1 else raw
            } else 0
          counts(b) += 1
        }
        i += 1
      }
    }
    val out = new Array[Any](bins)
    var b = 0
    while (b < bins) { out(b) = counts(b); b += 1 }
    new GenericInternalRow(out)
  }

  /** One-pass primitive folds over the index-sorted window — the r16 native
    * twins of the remaining tsfel diff/trapezoid Catalyst HOF chains in
    * FeatureFuncs (`transform`/`zip_with`/`aggregate` allocate a boxed
    * element per step, and `array_sort` over a boxed diff array paid an
    * interpreted comparator per compare — the q100 100× profile's residual
    * after the r15 kernels). Each mode reproduces the replaced Column
    * chain's IEEE operations in the same order (differential-pinned in
    * TemporalFoldSpec). Returns java.lang.Double or null.
    *
    *  - MEAN_ABS_DIFF: Σ|Δ| left-to-right / (n−1); null for n < 2.
    *  - MEDIAN_ABS_DIFF / MEDIAN_DIFF: np.median of (|Δ| / Δ) — diffs with
    *    −0.0 normalized to 0.0, then sorted as a primitive array (Arrays.sort
    *    places NaN last like Spark's array_sort; the zero normalization is
    *    needed because Arrays.sort orders −0.0 strictly before 0.0 while
    *    array_sort treats them as equal with stable order — normalized, the
    *    median is numerically identical to the replaced chain's and its zero
    *    sign is deterministically +0.0, r16 advisory); middle element (odd)
    *    or mean of the two middle elements (even); null when the window has
    *    no diffs (n < 2).
    *  - DISTANCE: Σ √(1 + Δ²) left-to-right; 0.0 when there are no diffs.
    *  - AUC(fs): Σ |xᵢ + xᵢ₊₁| left-to-right, × (0.5 / fs) — the same
    *    constant the Column form multiplied once at the end; 0.0 when there
    *    are no pairs.
    *  - CENTROID_NUM(fs): Σ i·xᵢ² (0-based position, left-to-right) / fs —
    *    the NUMERATOR only: the energy denominator stays the native
    *    sum(v²) aggregate outside the kernel, so the replaced form's exact
    *    summation orders are both preserved.
    *  - ABS_DIFF_SUM: Σ|Δ| left-to-right; 0.0 when there are no diffs.
    *  - SUM_SQ_DIFF: Σ Δ² left-to-right (tsfresh cid_ce's radicand — the
    *    caller applies the sqrt); 0.0 when there are no diffs.
    *  - IDX_DOT: Σ position·value left-to-right.
    */
  def temporalFold(x: Array[Double], mode: Int, fs: Double): Any = {
    val n = x.length
    var i = 0
    mode match {
      case 0 => // MEAN_ABS_DIFF
        if (n < 2) return null
        var s = 0.0
        i = 1
        while (i < n) { s += math.abs(x(i) - x(i - 1)); i += 1 }
        java.lang.Double.valueOf(s / (n - 1).toDouble)
      case 1 | 2 => // MEDIAN_ABS_DIFF / MEDIAN_DIFF
        val m = n - 1
        if (m < 1) return null
        val d = new Array[Double](m)
        i = 0
        while (i < m) {
          val dd = if (mode == 1) math.abs(x(i + 1) - x(i)) else x(i + 1) - x(i)
          // normalize −0.0 → 0.0 BEFORE sorting (r16 advisory): Arrays.sort's
          // total order places −0.0 strictly before 0.0 while array_sort
          // treats them as equal with stable order, so a mixed-zero diff
          // array could median to −0.0 where the replaced chain gave 0.0 (or
          // vice versa). Normalized, the median's zero sign is deterministic
          // (+0.0) and numerically identical either way.
          d(i) = if (dd == 0.0) 0.0 else dd
          i += 1
        }
        java.util.Arrays.sort(d)
        val h = m / 2
        java.lang.Double.valueOf(
          if (m % 2 == 1) d(h) else (d(h - 1) + d(h)) / 2.0)
      case 3 => // DISTANCE
        var s = 0.0
        i = 1
        while (i < n) {
          val dd = x(i) - x(i - 1)
          s += math.sqrt(1.0 + dd * dd)
          i += 1
        }
        java.lang.Double.valueOf(s)
      case 4 => // AUC
        var s = 0.0
        i = 1
        while (i < n) { s += math.abs(x(i - 1) + x(i)); i += 1 }
        java.lang.Double.valueOf(s * (0.5 / fs))
      case 5 => // CENTROID_NUM
        var s = 0.0
        i = 0
        while (i < n) { s += i.toDouble * x(i) * x(i); i += 1 }
        java.lang.Double.valueOf(s / fs)
      case 6 => // ABS_DIFF_SUM
        var s = 0.0
        i = 1
        while (i < n) { s += math.abs(x(i) - x(i - 1)); i += 1 }
        java.lang.Double.valueOf(s)
      case 7 => // SUM_SQ_DIFF
        var s = 0.0
        i = 1
        while (i < n) {
          val dd = x(i) - x(i - 1)
          s += dd * dd
          i += 1
        }
        java.lang.Double.valueOf(s)
      case 8 => // IDX_DOT: Σ position·value left-to-right — linear_trend's
        // Σt·v (the only fold of that member; replaced an aggregate-HOF
        // whose transform allocated a second boxed array per window).
        // Empty array → 0.0, like aggregate(transform(...), 0.0, +).
        var s = 0.0
        i = 0
        while (i < n) { s += i.toDouble * x(i); i += 1 }
        java.lang.Double.valueOf(s)
    }
  }

  /** tsfresh `index_mass_quantile(q)`: walk the index-sorted |v| prefix
    * sums; first position whose cumulative mass reaches q·total (the
    * total stays the CALLER's native sum(abs(v)) aggregate, so the
    * threshold is bit-identical to the replaced struct-accumulator fold)
    * → (i+1)/n. No position reaches it (NaN-poisoned cum, or q·total a
    * hair above the final prefix sum) → null, the fold's ans-stays-null
    * branch. The caller keeps its `when(s > 0, …)` outer guard.
    */
  def indexMass(x: Array[Double], s: Double, q: Double): Any = {
    val n = x.length
    val thr = q * s
    var cum = 0.0
    var i = 0
    while (i < n) {
      cum += math.abs(x(i))
      // the hit test is SPARK's `>=` (NaN greatest, NaN == NaN), not
      // Java's: a NaN-poisoned total makes thr NaN, and the replaced fold
      // still hits at the first NaN prefix sum (cum NaN >= thr NaN) — the
      // caller's `when(s > 0, …)` guard does NOT screen NaN out because
      // Spark's NaN > 0 is TRUE
      val ge =
        if (java.lang.Double.isNaN(cum)) true
        else if (java.lang.Double.isNaN(thr)) false
        else cum >= thr
      if (ge)
        return java.lang.Double.valueOf((i + 1).toDouble / n.toDouble)
      i += 1
    }
    null
  }

  /** tsfresh `linear_trend_timewise`'s single fold: (Σt, Σt², Σt·v) over
    * the index-sorted window — `idxs` and `vals` are the two arrays of one
    * [[CollectSortedVals]] result — with t = (i − tmin)/3 600 000 000 (µs →
    * hours), accumulated left-to-right in exactly the replaced
    * struct-fold's order — bit-identical sums; the OLS finish stays in the
    * caller's Column form. The two arrays pair up position by position
    * over the shorter one's length (the series input prep drops null
    * indexes, so the sorted collect's two arrays have equal lengths).
    */
  def lttFold(idxs: Array[Double], vals: Array[Double], tmin: Double): InternalRow = {
    val n = math.min(idxs.length, vals.length)
    var st = 0.0
    var stt = 0.0
    var stv = 0.0
    var i = 0
    while (i < n) {
      val t = (idxs(i) - tmin) / 3600000000.0
      st += t
      stt += t * t
      stv += t * vals(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](st, stt, stv))
  }
  /** Spark SQL's double comparison for `>`: NaN is GREATER than every
    * non-NaN and equal to itself. The kernels below replace Column forms
    * whose comparisons inherited that ordering, so Java's NaN-always-false
    * primitive compare would silently diverge on NaN windows — each use
    * site is differential-pinned against the replaced form, NaN windows
    * included (contrast [[neighbourhoodPeaks]], which deliberately keeps
    * Java semantics — documented in the module note).
    */
  private def gtSpark(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b)
    else if (java.lang.Double.isNaN(b)) false
    else a > b

  /** tsfresh `number_crossing_m` core: count of consecutive pairs of the
    * index-sorted window strictly straddling `thr` (touching is not a
    * crossing). 0 for windows shorter than 2.
    */
  def crossings(x: Array[Double], thr: Double): Long = {
    val n = x.length
    if (n <= 1) return 0L
    var c = 0L
    var prev = gtSpark(x(0), thr)
    var i = 1
    while (i < n) {
      val cur = gtSpark(x(i), thr)
      if (cur != prev) c += 1
      prev = cur
      i += 1
    }
    c
  }

  /** tsfresh `autocorrelation` numerator: Σ_{t<n−lag} (x_t−μ)(x_{t+lag}−μ)
    * / (n−lag), left-to-right (μ is the caller's NATIVE avg aggregate).
    * (n−lag) ≤ 0 gives 0.0/0 = NaN — exactly the replaced fold over empty
    * slices divided by a zero count (the caller's n > lag guard discards
    * it either way).
    */
  def autocorrCov(x: Array[Double], mu: Double, lag: Int): Double = {
    val n = x.length
    val m = math.max(n - lag, 0)
    var s = 0.0
    var i = 0
    while (i < m) {
      s += (x(i) - mu) * (x(i + lag) - mu)
      i += 1
    }
    s / m.toDouble
  }

  /** tsfresh `binned_entropy` (nats): Shannon entropy of the histogram
    * over `bins` equal-width bins spanning [min, max] of the window
    * itself; a window without a positive range (constant, or NaN-poisoned
    * min/max under Spark's NaN-greatest ordering) puts every sample in
    * bin 1, giving entropy 0 — matching the replaced Column chain's
    * `when(mx > mn, …).otherwise(0)` bin rule and floor(NaN)→0 cast.
    */
  def binnedEntropy(x: Array[Double], bins: Int): Double = {
    val n = x.length
    if (n == 0) return 0.0
    // Spark's min/max aggregates use the same NaN-greatest ordering:
    // max picks NaN when any sample is NaN, min only when all are
    var mn = x(0)
    var mx = x(0)
    var i = 1
    while (i < n) {
      if (gtSpark(mn, x(i))) mn = x(i)
      if (gtSpark(x(i), mx)) mx = x(i)
      i += 1
    }
    val counts = new Array[Long](bins)
    val ranged = gtSpark(mx, mn)
    i = 0
    while (i < n) {
      val b =
        if (!ranged) 0
        else {
          val raw = math.floor((x(i) - mn) / (mx - mn) * bins).toLong
          if (raw > bins - 1) bins - 1 else raw.toInt
        }
      counts(b) += 1
      i += 1
    }
    var h = 0.0
    var b = 0
    val nd = n.toDouble
    while (b < bins) {
      val c = counts(b).toDouble
      // StrictMath.log: Spark's ln expression delegates there, and
      // Math.log's platform intrinsic can differ by 1 ulp — observed as a
      // differential-spec failure against the replaced Column chain
      if (c > 0) h += -(c / nd) * java.lang.StrictMath.log(c / nd)
      b += 1
    }
    h
  }

  /** tsfresh `longest_strike_above_mean` core: longest run of consecutive
    * index-sorted values strictly above `mu` (the caller's native avg).
    */
  def longestStrike(x: Array[Double], mu: Double): Long = {
    val n = x.length
    var best = 0L
    var cur = 0L
    var i = 0
    while (i < n) {
      cur = if (gtSpark(x(i), mu)) cur + 1 else 0L
      if (cur > best) best = cur
      i += 1
    }
    best
  }

  /** tsfresh `ratio_beyond_r_sigma` core: fraction of samples with
    * |x − μ| > r·σ (μ, σ the caller's native aggregates; the r·σ product
    * is computed here with the same IEEE multiply the Column form used).
    * NaN samples count as beyond (|NaN − μ| = NaN sorts above every
    * finite bound under Spark's ordering).
    */
  def ratioBeyond(x: Array[Double], mu: Double, sd: Double, r: Double): Double = {
    val n = x.length
    val bound = r * sd
    var c = 0L
    var i = 0
    while (i < n) {
      if (gtSpark(math.abs(x(i) - mu), bound)) c += 1
      i += 1
    }
    c.toDouble / n.toDouble
  }

  /** One-pass Hjorth variance pair over the index-sorted window (reference:
    * the antropy `hjorth_params` member of the integration surface,
    * tests/test_features_integration.py:375-380): var_pop of the first and
    * second differences in ONE primitive pass — the replaced Column form
    * materialized the dx and ddx arrays (slice + zip_with, one boxed element
    * per step) and folded each through an `aggregate` lambda. Accumulation
    * order and the (n, Σ, Σ²) finish are the replaced chains' exactly
    * (differential-pinned in SortedCollectSpec): dx_j = x[j+1] − x[j] summed
    * left-to-right into (s, s²) interleaved per element; ddx likewise over
    * the dx values; finish (Σd² − (Σd)²/n)/n. `vdx` is null for windows
    * shorter than 2, `vddx` shorter than 3 — the empty-array aggregate's
    * null finish. var_pop(x) itself stays the caller's native order-free
    * aggregate, as before.
    */
  def hjorthFold(x: Array[Double]): InternalRow = {
    val n = x.length
    var n1 = 0L; var s1 = 0.0; var q1 = 0.0
    var n2 = 0L; var s2 = 0.0; var q2 = 0.0
    var prevDx = 0.0
    var i = 1
    while (i < n) {
      val dx = x(i) - x(i - 1)
      n1 += 1; s1 += dx; q1 += dx * dx
      if (i >= 2) {
        val dd = dx - prevDx
        n2 += 1; s2 += dd; q2 += dd * dd
      }
      prevDx = dx
      i += 1
    }
    val vdx: Any = if (n1 > 0) {
      val d = n1.toDouble
      java.lang.Double.valueOf((q1 - s1 * s1 / d) / d)
    } else null
    val vddx: Any = if (n2 > 0) {
      val d = n2.toDouble
      java.lang.Double.valueOf((q2 - s2 * s2 / d) / d)
    } else null
    new GenericInternalRow(Array[Any](vdx, vddx))
  }

  /** Sign-change count of the first differences over the index-sorted window
    * (reference: the antropy `petrosian_fd` N_Δ term of the integration
    * surface's fractal sweep). Replaces the signum-transform array plus the
    * zip_with/aggregate fold: one pass tracking the previous difference's
    * signum, counting pairs whose signums differ under Spark SQL `=!=`
    * semantics (−0.0 equals 0.0; NaN equals NaN — so a NaN-signum pair
    * contributes 0, exactly as `when(a =!= b, 1.0)` evaluated). The count
    * accumulates as the same left-to-right double sum of 1.0s; windows with
    * fewer than two differences return 0.0 (the empty fold's base).
    */
  def petrosianNd(x: Array[Double]): Double = {
    val n = x.length
    if (n < 3) return 0.0
    var nd = 0.0
    var prevSg = 0.0
    var i = 1
    while (i < n) {
      val sg = math.signum(x(i) - x(i - 1))
      if (i >= 2 && !(sg == prevSg || (sg != sg && prevSg != prevSg))) nd += 1.0
      prevSg = sg
      i += 1
    }
    nd
  }
}
