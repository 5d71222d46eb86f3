package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import scala.collection.immutable.BitSet

/** catch22 kernel: the COMPLETE catch22 canonical feature battery
  * (Lubba et al. 2019, "catch22: CAnonical Time-series
  * CHaracteristics") — tranche 1 (r11, eleven members) + tranche 2 (r11,
  * four more) + tranche 3 (r11, the final seven: outlier-inclusion
  * medians, the transition-matrix trace, the 2-embedding exp-fit
  * distance, the two two-regime fluctuation-analysis members, and the
  * Wang periodicity detector) — computed in ONE pass over an
  * index-ordered window array. The reference integrates the battery via
  * `catch22_wrapper(catch22_all)` — a single 22-output FuncWrapper
  * (reference: tsflex/features/integrations.py:282-337, exercised by
  * tests/test_features_integration.py:326-343); this is the same shape — a
  * single multi-output aggregate evaluated once per window — with the
  * members re-derived from the published C definitions.
  *
  * Documented conventions (mirrored exactly by the DuckDB oracle twins):
  *  - members are computed on the RAW window values (pycatch22's
  *    `catch22_all` passes the raw series to the C kernels; callers who
  *    want the z-scored variant can z-score with a SeriesProcessor first);
  *  - ACF is the standard biased estimator
  *    ac(τ) = Σ_{t<n−τ} (x_t−μ)(x_{t+τ}−μ) / (n·σ²_pop), ac(0)=1;
  *  - SP_Summaries_welch_rect_centroid uses the rect-window periodogram at
  *    the window's native length n (no next-pow-2 zero padding; the Welch
  *    scale factors cancel inside the cumulative-power comparison).
  *
  * Cost shape: most members are O(n). The exceptions:
  *  - the ACF members: lazy, O(n·k) where k is the stopping lag — worst
  *    case O(n²/2) on pathological monotone windows;
  *  - the spectral members: the direct O(n²/2) DFT up to
  *    [[Fft.directThreshold]] samples, Bluestein O(n log n) above; the Wang
  *    periodicity ACF is one zero-padded O(n log n) FFT pair;
  *  - the two fluctuation-analysis members: O(n) per scale over ≤ 50
  *    scales;
  *  - the outlier-inclusion pair: O((n + T) log n) for its T thresholds
  *    (T ≈ 100·max z-score ≤ 100·√n) — the samples are bucketed by the
  *    threshold they fall below and ONE Fenwick-tree sweep reads each
  *    threshold's position median.
  * Like the DFT kernel, this is a deliberate per-WINDOW cost bounded by
  * window length — the 100 TB axis is window count, which parallelizes
  * embarrassingly.
  *
  * Members evaluate on demand: [[compute]] takes the set of members to
  * compute and leaves the others null, and the intermediates several
  * members share (the ACF, the periodogram) are lazy, built only when a
  * member that needs them is asked for. The whole battery is the
  * all-members set ([[members]]); a query reading a few members gets a
  * kernel narrowed to them ([[NarrowKernels]]), so it never pays for the
  * spectral, fluctuation-analysis or periodicity members it drops.
  */
object Catch22Util {

  val names: Seq[String] = Seq(
    "DN_HistogramMode_5",
    "DN_HistogramMode_10",
    "SB_BinaryStats_mean_longstretch1",
    "SB_BinaryStats_diff_longstretch0",
    "CO_f1ecac",
    "CO_FirstMin_ac",
    "CO_trev_1_num",
    "MD_hrv_classic_pnn40",
    "FC_LocalSimple_mean3_stderr",
    "FC_LocalSimple_mean1_tauresrat",
    "SP_Summaries_welch_rect_centroid",
    // tranche 2 (r11): four further members.
    "CO_HistogramAMI_even_2_5",
    "IN_AutoMutualInfoStats_40_gaussian_fmmi",
    "SP_Summaries_welch_rect_area_5_1",
    "SB_MotifThree_quantile_hh",
    // tranche 3 (r11): the final seven, closing the battery at 22/22.
    // Documented conventions where the published C kernel assumes z-scored
    // input or leaves scale ambiguous (each mirrored exactly by the DuckDB
    // oracle twin):
    //  - DN_OutlierInclude_{p,n}: the 0.01 threshold grid is calibrated to
    //    unit variance, so the member z-scores ITS OWN input (population σ)
    //    before the sweep — the battery-level raw-input convention is
    //    preserved and the member stays well-defined on raw windows;
    //  - SC_FluctAnal_2_*: computed on the raw window, which is EXACTLY the
    //    z-scored value — the per-buffer linear detrend absorbs the mean's
    //    linear cumsum contribution and log F shifts uniformly by −log σ,
    //    leaving the two-regime split-fit residuals (and hence prop_r1)
    //    invariant under any affine input transform (spec-verified);
    //  - PD_PeriodicityWang: the detrended series is autocorrelated with
    //    the NORMALIZED Pearson ACF so the 0.01 peak-prominence threshold
    //    is scale-invariant on raw input (the C kernel's unnormalized
    //    autocovariance is only meaningful after z-scoring); the cubic
    //    spline detrend is the C² one-interior-knot least-squares fit
    //    (basis {1,u,u²,u³,(u−½)³₊}, u = t/(n−1)) solved by classical
    //    Gram–Schmidt — the same arithmetic as the oracle's SQL.
    "DN_OutlierInclude_p_001_mdrmd",
    "DN_OutlierInclude_n_001_mdrmd",
    "SB_TransitionMatrix_3ac_sumdiagcov",
    "CO_Embed2_Dist_tau_d_expfit_meandiff",
    "SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1",
    "SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1",
    "PD_PeriodicityWang_th0_01")

  val dataType: StructType =
    StructType(names.map(n => StructField(n, DoubleType, nullable = true)))

  /** catch24 = the 22-member battery + mean and SAMPLE std (ddof=1 — the
    * pycatch22 C `stddev` helper divides by n−1), appended LAST in
    * pycatch22's `catch22_all(catch24=True)` order (reference surface:
    * tests/test_features_integration.py:341-357 via
    * tsflex/features/integrations.py:281-337).
    */
  val names24: Seq[String] = names ++ Seq("DN_Mean", "DN_Spread_Std")

  val dataType24: StructType =
    StructType(names24.map(n => StructField(n, DoubleType, nullable = true)))

  private val all22 = BitSet(names.indices: _*)
  private val all24 = BitSet(names24.indices: _*)

  /** Every member ordinal of the battery: the mask of the whole kernel. */
  def members(catch24: Boolean): BitSet = if (catch24) all24 else all22

  /** Lazily-extended ACF: values are computed on first demand per lag and
    * memoized, so crossing searches pay O(n·k) for stopping lag k instead
    * of the full O(n²/2). `null`-equivalent: NaN when σ² = 0.
    */
  private final class Acf(x: Array[Double]) {
    private val n = x.length
    private val mu = { var s = 0.0; var i = 0; while (i < n) { s += x(i); i += 1 }; if (n > 0) s / n else 0.0 }
    private val c = { val a = new Array[Double](n); var i = 0; while (i < n) { a(i) = x(i) - mu; i += 1 }; a }
    private val denom = { var s = 0.0; var i = 0; while (i < n) { s += c(i) * c(i); i += 1 }; s }
    val defined: Boolean = denom > 0.0
    private val memo = new Array[Double](n)
    private val have = new Array[Boolean](n)
    /** ac(τ) for 0 ≤ τ < n; NaN outside or when undefined. */
    def apply(tau: Int): Double = {
      if (!defined || tau < 0 || tau >= n) return Double.NaN
      if (tau == 0) return 1.0
      if (!have(tau)) {
        var s = 0.0; var t = 0
        while (t < n - tau) { s += c(t) * c(t + tau); t += 1 }
        memo(tau) = s / denom; have(tau) = true
      }
      memo(tau)
    }
    /** co_firstzero: first τ with ac(τ) ≤ 0, capped at maxtau (the C helper
      * iterates `while(ac[ind] > 0 && ind < maxtau)`). */
    def firstZero(maxtau: Int): Int = {
      var i = 0
      while (i < maxtau && apply(i) > 0) i += 1
      i
    }
  }

  private def histMode(x: Array[Double], nb: Int): Any = {
    val n = x.length
    if (n == 0) return null
    var mn = x(0); var mx = x(0); var i = 1
    while (i < n) { if (x(i) < mn) mn = x(i); if (x(i) > mx) mx = x(i); i += 1 }
    if (mx <= mn) return java.lang.Double.valueOf(mn) // constant window: the value
    val step = (mx - mn) / nb
    val counts = new Array[Int](nb)
    i = 0
    while (i < n) {
      var b = ((x(i) - mn) / step).toInt
      if (b >= nb) b = nb - 1 // the max lands in the last bin (C clamp)
      counts(b) += 1
      i += 1
    }
    var maxC = 0; i = 0
    while (i < nb) { if (counts(i) > maxC) maxC = counts(i); i += 1 }
    var s = 0.0; var k = 0; i = 0
    while (i < nb) {
      if (counts(i) == maxC) { s += mn + (i + 0.5) * step; k += 1 }
      i += 1
    }
    java.lang.Double.valueOf(s / k)
  }

  /** Longest run of `true` under `pred` over t = lo..hi−1. */
  private def longestRun(lo: Int, hi: Int, pred: Int => Boolean): Long = {
    var best = 0L; var cur = 0L; var t = lo
    while (t < hi) {
      if (pred(t)) { cur += 1; if (cur > best) best = cur } else cur = 0
      t += 1
    }
    best
  }

  /** Midpoint-convention median of the first `len` entries of a SORTED
    * array (even count averages the two middle values — the C helper's and
    * DuckDB `median`'s convention).
    */
  private def medianSorted(a: Array[Double], len: Int): Double =
    if (len % 2 == 1) a(len / 2) else (a(len / 2 - 1) + a(len / 2)) / 2.0

  /** Continuous (numpy / DuckDB quantile_cont) quantile of a SORTED array:
    * linear interpolation at position (len−1)·p.
    */
  private def quantileCont(sorted: Array[Double], len: Int, p: Double): Double = {
    val pos = (len - 1) * p
    val lo = pos.toInt
    val frac = pos - lo
    if (lo + 1 < len) sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
    else sorted(lo)
  }

  /** OLS slope/intercept of y(lo..lo+len) over x(lo..lo+len). Zero-spread
    * x → slope 0 (degenerate guard, mirrored by the oracle's CASE).
    */
  private def linreg(x: Array[Double], y: Array[Double], lo: Int, len: Int): (Double, Double) = {
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
    var i = 0
    while (i < len) {
      val xv = x(lo + i); val yv = y(lo + i)
      sx += xv; sy += yv; sxx += xv * xv; sxy += xv * yv
      i += 1
    }
    val den = len * sxx - sx * sx
    val m = if (den == 0) 0.0 else (len * sxy - sx * sy) / den
    (m, (sy - m * sx) / len)
  }

  /** DN_OutlierInclude_{p,n}_001_mdrmd: sweep thresholds 0, 0.01, 0.02, …
    * over the internally z-scored window (sign −1 flips it first); at each
    * threshold record the median RELATIVE POSITION (1-based index median
    * over n/2, minus 1) of the exceeding samples; trim the sweep at the
    * last threshold keeping >2 % exceedances (and at the first with <2
    * exceedances), and return the median of the recorded position medians.
    * Constant window (σ = 0) or max z-score below one grid step → 0 (the
    * C kernel's convention); empty window → null.
    */
  private def outlierInclude(x: Array[Double], sign: Double): Any = {
    val n = x.length
    if (n == 0) return null
    var mu = 0.0; var i = 0
    while (i < n) { mu += x(i); i += 1 }
    mu /= n
    var sq = 0.0; i = 0
    while (i < n) { val c = x(i) - mu; sq += c * c; i += 1 }
    val sig = math.sqrt(sq / n)
    if (sig == 0.0) return java.lang.Double.valueOf(0.0)
    val inc = 0.01
    val yW = new Array[Double](n)
    var tot = 0
    var maxVal = Double.NegativeInfinity
    i = 0
    while (i < n) {
      yW(i) = sign * (x(i) - mu) / sig
      if (yW(i) >= 0) tot += 1
      if (yW(i) > maxVal) maxVal = yW(i)
      i += 1
    }
    if (maxVal < inc) return java.lang.Double.valueOf(0.0)
    var nThresh = (maxVal / inc).toInt + 1
    val msDti3 = new Array[Double](nThresh)
    val msDti4 = new Array[Double](nThresh)
    val thin = new Array[Boolean](nThresh) // fewer than 2 exceedances
    // Threshold j keeps {i : yW(i) >= j·inc}; sets only shrink as j rises.
    // Bucket every sample by the first j whose threshold it falls below
    // (compared against the same j·inc products, so membership is exact;
    // nThresh = never leaves within the sweep), then sweep once: drop each
    // bucket from a Fenwick tree of 1-based positions and read the
    // position median by k-th-element descent. hs and the positions stay
    // exact integers. yW is finite here — the sig and maxVal returns above
    // turn every NaN/Inf window away.
    val leaveAt = new Array[Int](n)
    val bucketN = new Array[Int](nThresh + 2)
    i = 0
    while (i < n) {
      val y = yW(i)
      var g = 0
      if (!(y < 0.0)) {
        g = (y / inc).toInt + 1 // ≤ nThresh: y ≤ maxVal
        while (g > 1 && y < (g - 1) * inc) g -= 1
        while (g < nThresh && !(y < g * inc)) g += 1
      }
      leaveAt(i) = g
      bucketN(g + 1) += 1
      i += 1
    }
    var b = 1
    while (b <= nThresh + 1) { bucketN(b) += bucketN(b - 1); b += 1 }
    val byLeave = new Array[Int](n) // sample positions, grouped by leaveAt
    i = 0
    while (i < n) { byLeave(bucketN(leaveAt(i))) = i; bucketN(leaveAt(i)) += 1; i += 1 }
    // Fenwick tree over positions 1..n, every sample present: node p
    // counts the (p & −p) positions ending at p
    val fen = new Array[Int](n + 1)
    var p = 1
    while (p <= n) { fen(p) = p & -p; p += 1 }
    val topBit = Integer.highestOneBit(n)
    // 1-based position of the k-th (1-based) present sample
    def kth(k: Int): Double = {
      var pos = 0; var rem = k; var step = topBit
      while (step > 0) {
        val q = pos + step
        if (q <= n && fen(q) < rem) { pos = q; rem -= fen(q) }
        step >>= 1
      }
      (pos + 1).toDouble
    }
    var hs = n
    var next = 0 // byLeave cursor: samples before it have left
    var j = 0
    while (j < nThresh) {
      while (next < n && leaveAt(byLeave(next)) <= j) {
        var q = byLeave(next) + 1
        while (q <= n) { fen(q) -= 1; q += q & -q }
        hs -= 1
        next += 1
      }
      if (hs == 0) {
        // float boundary: ⌊max/inc⌋·inc can exceed max by an ulp, leaving
        // the top threshold's exceedance set empty — truncate the sweep
        // there (sets shrink monotonically, so all later sets are empty
        // too); the oracle's join-based sweep drops the row the same way
        nThresh = j
      } else {
        msDti3(j) = (hs - 1) * 100.0 / tot
        // midpoint median of the ascending positions (medianSorted's rule)
        val med =
          if (hs % 2 == 1) kth(hs / 2 + 1) else (kth(hs / 2) + kth(hs / 2 + 1)) / 2.0
        msDti4(j) = med / (n / 2.0) - 1.0
        thin(j) = hs < 2
      }
      j += 1
    }
    var mj = 0; var fbi = nThresh - 1
    j = 0
    while (j < nThresh) {
      if (msDti3(j) > 2.0) mj = j
      if (thin(nThresh - 1 - j)) fbi = nThresh - 1 - j
      j += 1
    }
    val lim = math.min(mj, fbi)
    val m4 = java.util.Arrays.copyOfRange(msDti4, 0, lim + 1)
    java.util.Arrays.sort(m4)
    java.lang.Double.valueOf(medianSorted(m4, lim + 1))
  }

  /** SB_TransitionMatrix_3ac_sumdiagcov: downsample at the ACF first-zero
    * lag, coarse-grain into a 3-letter alphabet at the continuous terciles
    * (quantileCont convention, same letter rule as MotifThree: ≤q⅓ → 0,
    * ≤q⅔ → 1, else 2), build the (nDown−1)-normalized 3×3 transition
    * matrix, and return the trace of its column covariance (sum of the
    * three per-column ddof-1 variances). Null when the ACF is undefined
    * (constant window) or fewer than 2 downsampled points remain.
    */
  private def transitionMatrix3(x: Array[Double], acf: Acf): Any = {
    val n = x.length
    if (n < 3 || !acf.defined) return null
    val tau = acf.firstZero(n)
    val nDown = (n - 1) / tau + 1
    if (nDown < 2) return null
    val yD = new Array[Double](nDown)
    var i = 0
    while (i < nDown) { yD(i) = x(i * tau); i += 1 }
    val sorted = java.util.Arrays.copyOf(yD, nDown)
    java.util.Arrays.sort(sorted)
    val q1 = quantileCont(sorted, nDown, 1.0 / 3)
    val q2 = quantileCont(sorted, nDown, 2.0 / 3)
    def letter(v: Double): Int = if (v <= q1) 0 else if (v <= q2) 1 else 2
    val t = new Array[Double](9) // row-major counts
    i = 0
    while (i < nDown - 1) { t(3 * letter(yD(i)) + letter(yD(i + 1))) += 1.0; i += 1 }
    val den = (nDown - 1).toDouble
    var out = 0.0
    var c = 0
    while (c < 3) {
      val a = t(c) / den; val b = t(3 + c) / den; val d = t(6 + c) / den
      val m = (a + b + d) / 3.0
      out += ((a - m) * (a - m) + (b - m) * (b - m) + (d - m) * (d - m)) / 2.0
      c += 1
    }
    java.lang.Double.valueOf(out)
  }

  /** CO_Embed2_Dist_tau_d_expfit_meandiff: embed at (x_t, x_{t+τ}) with
    * τ = min(ACF first-zero, ⌊n/10⌋), take the Euclidean distances between
    * SUCCESSIVE embedded points, and compare their histogram (Scott-rule
    * bin count, probability MASS per bin — the published kernel's quirk)
    * against the ML exponential density at the bin centres: the member is
    * the mean absolute difference over bins. Distance spread below 0.001 →
    * 0 (the C bin-count guard); constant window or <2 distances → null.
    */
  private def embed2DistExpFit(x: Array[Double], acf: Acf): Any = {
    val n = x.length
    if (n < 4 || !acf.defined) return null
    var tau = acf.firstZero(n)
    if (tau > n / 10.0) tau = n / 10
    val m = n - tau - 1
    if (m < 2) return null
    val d = new Array[Double](m)
    var mn = Double.MaxValue; var mx = -Double.MaxValue
    var s = 0.0
    var i = 0
    while (i < m) {
      val dx = x(i + 1) - x(i); val dy = x(i + tau + 1) - x(i + tau)
      d(i) = math.sqrt(dx * dx + dy * dy)
      s += d(i)
      if (d(i) < mn) mn = d(i)
      if (d(i) > mx) mx = d(i)
      i += 1
    }
    val l = s / m
    var ss = 0.0; i = 0
    while (i < m) { val c = d(i) - l; ss += c * c; i += 1 }
    val sd = math.sqrt(ss / (m - 1))
    if (sd < 0.001) return java.lang.Double.valueOf(0.0)
    val nBins = math.ceil((mx - mn) / (3.5 * sd / math.cbrt(m.toDouble))).toInt
    if (nBins <= 0) return java.lang.Double.valueOf(0.0)
    val width = (mx - mn) / nBins
    val counts = new Array[Int](nBins)
    i = 0
    while (i < m) {
      var b = ((d(i) - mn) / width).toInt
      if (b >= nBins) b = nBins - 1
      counts(b) += 1
      i += 1
    }
    var out = 0.0; i = 0
    while (i < nBins) {
      val centre = mn + (i + 0.5) * width
      out += math.abs(counts(i).toDouble / m - math.exp(-centre / l) / l)
      i += 1
    }
    java.lang.Double.valueOf(out / nBins)
  }

  /** SC_FluctAnal_2_{dfa,rsrangefit}: cumulative-sum profile over every
    * `lag`-th sample, 50-point log-spaced scale grid τ ∈ [5, n/2]
    * (rounded, deduped), per-scale fluctuation F(τ) from per-buffer linear
    * detrends (dfa: RMS residual; rsrangefit: RMS residual range), then the
    * best two-regime split of the (log τ, log F) curve — segments share the
    * split point; cost is ‖r‖₁ of the two Euclidean residual norms — and
    * the member is splitIndex/nτ (proportion of scales in the first
    * regime). Invariant under affine input transforms (see [[names]]), so
    * the raw-window value equals the published z-scored one. Grid shorter
    * than 12 scales (n < ~32) → 0 (C convention); any F(τ) ≤ 0 (constant
    * window) → null; empty window → null.
    */
  private def fluctAnal(x: Array[Double], lag: Int, dfa: Boolean): Any = {
    val n = x.length
    if (n == 0) return null
    if (n < 10) return java.lang.Double.valueOf(0.0)
    val nTauSteps = 50
    val linLow = math.log(5.0)
    val linHigh = math.log((n / 2).toDouble)
    val tauStep = (linHigh - linLow) / (nTauSteps - 1)
    val tauBuf = new Array[Int](nTauSteps)
    var i = 0
    while (i < nTauSteps) {
      tauBuf(i) = math.round(math.exp(linLow + i * tauStep)).toInt
      i += 1
    }
    var nTau = nTauSteps
    i = 0
    while (i < nTau - 1) { // C-style adjacent dedup (grid is monotone)
      while (i < nTau - 1 && tauBuf(i) == tauBuf(i + 1)) {
        var j = i + 1
        while (j < nTau - 1) { tauBuf(j) = tauBuf(j + 1); j += 1 }
        nTau -= 1
      }
      i += 1
    }
    if (nTau < 12) return java.lang.Double.valueOf(0.0)
    val sizeCS = n / lag
    val yCS = new Array[Double](sizeCS)
    var acc = 0.0
    i = 0
    while (i < sizeCS) { acc += x(i * lag); yCS(i) = acc; i += 1 }
    val logtt = new Array[Double](nTau)
    val logFF = new Array[Double](nTau)
    // Σ(k+1) and Σ(k+1)² over k < τ are the same in every buffer: one
    // running pair, extended over the ascending τ grid by left-to-right
    // additions — the same bits as summing 1..τ afresh per buffer (exact
    // integers below 2⁵³) — and den with them
    var sx = 0.0; var sxx = 0.0; var kx = 0
    i = 0
    while (i < nTau) {
      val tau = tauBuf(i)
      val nBuffer = sizeCS / tau
      if (nBuffer == 0) return null
      while (kx < tau) { kx += 1; val xv = kx.toDouble; sx += xv; sxx += xv * xv }
      val den = tau * sxx - sx * sx
      var f = 0.0
      var j = 0
      while (j < nBuffer) {
        val lo = j * tau
        var sy = 0.0; var sxy = 0.0
        var k = 0
        while (k < tau) {
          val yv = yCS(lo + k)
          sy += yv; sxy += (k + 1).toDouble * yv
          k += 1
        }
        val mm = if (den == 0) 0.0 else (tau * sxy - sx * sy) / den
        val bb = (sy - mm * sx) / tau
        if (dfa) {
          k = 0
          while (k < tau) {
            val rr = yCS(lo + k) - (mm * (k + 1) + bb); f += rr * rr; k += 1
          }
        } else {
          var rmn = Double.MaxValue; var rmx = -Double.MaxValue
          k = 0
          while (k < tau) {
            val rr = yCS(lo + k) - (mm * (k + 1) + bb)
            if (rr < rmn) rmn = rr
            if (rr > rmx) rmx = rr
            k += 1
          }
          f += (rmx - rmn) * (rmx - rmn)
        }
        j += 1
      }
      val fv = if (dfa) math.sqrt(f / (nBuffer * tau)) else math.sqrt(f / nBuffer)
      if (!(fv > 0.0)) return null
      logtt(i) = math.log(tau.toDouble)
      logFF(i) = math.log(fv)
      i += 1
    }
    val minPoints = 6
    var best = Double.MaxValue
    var bestI = -1
    var sp = minPoints
    while (sp <= nTau - minPoints) {
      val (m1, b1) = linreg(logtt, logFF, 0, sp)
      val (m2, b2) = linreg(logtt, logFF, sp - 1, nTau - sp + 1)
      var s1 = 0.0
      var j = 0
      while (j < sp) { val rr = logtt(j) * m1 + b1 - logFF(j); s1 += rr * rr; j += 1 }
      var s2 = 0.0
      j = sp - 1
      while (j < nTau) { val rr = logtt(j) * m2 + b2 - logFF(j); s2 += rr * rr; j += 1 }
      val e = math.sqrt(s1) + math.sqrt(s2)
      if (e < best) { best = e; bestI = sp }
      sp += 1
    }
    java.lang.Double.valueOf(bestI.toDouble / nTau)
  }

  /** PD_PeriodicityWang_th0_01: detrend with the C² one-interior-knot
    * cubic spline (least squares over {1, u, u², u³, (u−½)³₊}, u =
    * t/(n−1), by classical Gram–Schmidt — identical arithmetic to the
    * oracle SQL), autocorrelate the residual with the Pearson ACF up to
    * ⌈n/3⌉, and return the first ACF peak (local max) that sits ≥ 0, has a
    * preceding trough (local min), and rises ≥ 0.01 above it — the
    * detected period — else 1. Null for n < 7 (no interior lag to test).
    */
  private def periodicityWang(x: Array[Double]): Any = {
    val n = x.length
    if (n < 7) return null
    val th = 0.01
    val basis = Array.ofDim[Double](5, n)
    var t = 0
    while (t < n) {
      val u = t.toDouble / (n - 1)
      basis(0)(t) = 1.0
      basis(1)(t) = u
      basis(2)(t) = u * u
      basis(3)(t) = u * u * u
      val up = u - 0.5
      basis(4)(t) = if (up > 0) up * up * up else 0.0
      t += 1
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val u = Array.ofDim[Double](5, n)
    var k = 0
    while (k < 5) {
      System.arraycopy(basis(k), 0, u(k), 0, n)
      var j = 0
      while (j < k) {
        val nrm = dot(u(j), u(j))
        val c = if (nrm > 0) dot(basis(k), u(j)) / nrm else 0.0
        var i = 0
        while (i < n) { u(k)(i) -= c * u(j)(i); i += 1 }
        j += 1
      }
      k += 1
    }
    val ySub = java.util.Arrays.copyOf(x, n)
    k = 0
    while (k < 5) {
      val nrm = dot(u(k), u(k))
      val c = if (nrm > 0) dot(x, u(k)) / nrm else 0.0
      var i = 0
      while (i < n) { ySub(i) -= c * u(k)(i); i += 1 }
      k += 1
    }
    val acmax = math.ceil(n / 3.0).toInt
    val ac = new Array[Double](acmax + 2) // 1-based lag; [0] unused
    // r17: the truncated-Pearson ACF used one O(n−τ) pass PER LAG — an
    // O(n²/3) scan that profiled as ~40% of the whole catch24 battery on
    // q109's 3.3k-sample windows. Same statistics, near-linear:
    //  - prefix sums give every lag's a-side sums in the SAME left-to-right
    //    order the replaced loop used (sa/saa bit-identical) and the b-side
    //    as whole-minus-prefix complements (one extra rounding);
    //  - Σ yᵢ·yᵢ₊τ for ALL lags is one zero-padded FFT autocorrelation
    //    (~1e-13 relative vs the direct sum).
    // The per-lag r values therefore move at ulp scale, exactly as the
    // DuckDB oracle's own arbitrary-order SUMs already do vs the replaced
    // loop; the output is an integer lag whose peak margins dwarf both.
    val ps = new Array[Double](n + 1)
    val pss = new Array[Double](n + 1)
    var pi = 0
    while (pi < n) {
      val v = ySub(pi)
      ps(pi + 1) = ps(pi) + v
      pss(pi + 1) = pss(pi) + v * v
      pi += 1
    }
    var m2 = 1
    while (m2 < n + acmax + 1) m2 <<= 1 // pad past acmax: no circular wrap
    val fr = new Array[Double](m2)
    val fi = new Array[Double](m2)
    System.arraycopy(ySub, 0, fr, 0, n)
    Fft.radix2(fr, fi)
    var q = 0
    while (q < m2) {
      val pw = fr(q) * fr(q) + fi(q) * fi(q)
      fr(q) = pw; fi(q) = 0.0
      q += 1
    }
    // inverse of a REAL spectrum: IFFT(X) = conj(FFT(conj(X)))/m2 and X is
    // real, so the forward transform's real part over m2 IS the autocorr
    Fft.radix2(fr, fi)
    var tau = 1
    while (tau <= acmax) {
      val m = n - tau
      val sa = ps(m)
      val saa = pss(m)
      val sb = ps(n) - ps(tau)
      val sbb = pss(n) - pss(tau)
      val sab = fr(tau) / m2
      val cov = sab - sa * sb / m
      val va = saa - sa * sa / m
      val vb = sbb - sb * sb / m
      ac(tau) = cov / math.sqrt(va * vb) // NaN on zero variance: never a peak
      tau += 1
    }
    // troughs/peaks over interior lags 2..acmax−1, then the C pairing scan
    val kind = new Array[Int](acmax + 1) // 0 none, 1 trough, 2 peak
    var lag = 2
    while (lag <= acmax - 1) {
      val slopeIn = ac(lag) - ac(lag - 1)
      val slopeOut = ac(lag + 1) - ac(lag)
      if (slopeIn < 0 && slopeOut > 0) kind(lag) = 1
      else if (slopeIn > 0 && slopeOut < 0) kind(lag) = 2
      lag += 1
    }
    var out = 1.0
    var lastTrough = -1
    var done = false
    lag = 2
    while (!done && lag <= acmax - 1) {
      if (kind(lag) == 1) lastTrough = lag
      else if (kind(lag) == 2 && lastTrough >= 0 &&
        ac(lag) >= 0 && ac(lag) - ac(lastTrough) >= th) {
        out = lag.toDouble; done = true
      }
      lag += 1
    }
    java.lang.Double.valueOf(out)
  }

  /** The battery over one index-ordered window: the members in `need`
    * (ordinals into [[names]] / [[names24]]), every other field null. A
    * member's value is the same bits whichever other members are computed
    * with it.
    */
  def compute(x: Array[Double], catch24: Boolean, need: BitSet): InternalRow = {
    val n = x.length
    val mu = {
      var s = 0.0; var i = 0
      while (i < n) { s += x(i); i += 1 }
      if (n > 0) s / n else 0.0
    }
    val out = new Array[Any](if (catch24) names24.length else names.length)

    if (need(0)) out(0) = histMode(x, 5)
    if (need(1)) out(1) = histMode(x, 10)

    // SB_BinaryStats_mean_longstretch1: binarize by the mean (1 = strictly
    // above), longest run of 1s. Empty window → null; no value above → 0.
    if (need(2)) out(2) = if (n == 0) null
      else java.lang.Double.valueOf(longestRun(0, n, t => x(t) > mu).toDouble)

    // SB_BinaryStats_diff_longstretch0: binarize successive diffs (0 =
    // strict decrease), longest run of 0s = longest run of decreases.
    if (need(3)) out(3) = if (n < 2) null
      else java.lang.Double.valueOf(
        longestRun(0, n - 1, t => x(t + 1) - x(t) < 0).toDouble)

    lazy val acf = new Acf(x)

    // CO_f1ecac: first 1/e crossing of the ACF, linearly interpolated
    // between the straddling lags (C: out = i + (thresh − ac_i)/(ac_{i+1} −
    // ac_i) at the first i with ac_{i+1} < 1/e); n if no crossing.
    if (need(4)) out(4) = if (n < 3 || !acf.defined) null else {
      val thresh = 1.0 / math.E
      var res = n.toDouble
      var j = 0
      var done = false
      while (!done && j < n - 2) {
        val a0 = acf(j); val a1 = acf(j + 1)
        if (a1 < thresh) { res = j + (thresh - a0) / (a1 - a0); done = true }
        j += 1
      }
      java.lang.Double.valueOf(res)
    }

    // CO_FirstMin_ac: lag of the first local ACF minimum (ac(i) below both
    // neighbors, 1 ≤ i ≤ n−2); n if none.
    if (need(5)) out(5) = if (n < 3 || !acf.defined) null else {
      var res = n.toDouble
      var j = 1
      var done = false
      while (!done && j < n - 1) {
        if (acf(j) < acf(j - 1) && acf(j) < acf(j + 1)) { res = j.toDouble; done = true }
        j += 1
      }
      java.lang.Double.valueOf(res)
    }

    // CO_trev_1_num: mean cubed successive difference.
    if (need(6)) out(6) = if (n < 2) null else {
      var s = 0.0; var t = 0
      while (t < n - 1) { val d = x(t + 1) - x(t); s += d * d * d; t += 1 }
      java.lang.Double.valueOf(s / (n - 1))
    }

    // MD_hrv_classic_pnn40: fraction of successive diffs with |Δ| > 0.04
    // (the C kernel scales |Δ|·1000 against the 40 ms HRV threshold).
    if (need(7)) out(7) = if (n < 2) null else {
      var k = 0; var t = 0
      while (t < n - 1) { if (math.abs(x(t + 1) - x(t)) > 0.04) k += 1; t += 1 }
      java.lang.Double.valueOf(k.toDouble / (n - 1))
    }

    // FC_LocalSimple_mean3_stderr: sample std (ddof=1) of the residuals of
    // a trailing-mean-3 forecast: r_i = x_{i+3} − mean(x_i, x_{i+1}, x_{i+2}).
    if (need(8)) out(8) = if (n < 5) null else {
      // two-pass variance: the one-pass (ss - s*s/m) form cancels
      // catastrophically when the residuals are (near-)constant — e.g. a
      // perfectly linear window, whose mean3 residuals are all 2b — and
      // sqrt of the tiny negative remainder returned NaN instead of 0
      val m = n - 3
      var s = 0.0; var t = 0
      while (t < m) {
        s += x(t + 3) - (x(t) + x(t + 1) + x(t + 2)) / 3.0; t += 1
      }
      val mu = s / m
      var ssd = 0.0; t = 0
      while (t < m) {
        val d = x(t + 3) - (x(t) + x(t + 1) + x(t + 2)) / 3.0 - mu
        ssd += d * d; t += 1
      }
      java.lang.Double.valueOf(math.sqrt(ssd / (m - 1)))
    }

    // FC_LocalSimple_mean1_tauresrat: first-zero ACF lag of the mean-1
    // forecast residuals (= successive diffs) over that of the window.
    if (need(9)) out(9) = if (n < 3) null else {
      val res = new Array[Double](n - 1)
      var t = 0
      while (t < n - 1) { res(t) = x(t + 1) - x(t); t += 1 }
      val acfR = new Acf(res)
      if (!acf.defined || !acfR.defined) null
      else java.lang.Double.valueOf(
        acfR.firstZero(n - 1).toDouble / acf.firstZero(n).toDouble)
    }

    // Shared rect-window periodogram of the de-meaned window, bins
    // k = 1..⌊n/2⌋ (DC bin is zero by construction); FFT/DFT split via
    // [[Fft.halfPsd]]. Consumed by the centroid and area_5_1 members, and
    // built only when one of them is computed.
    // `specOk` is the relative zero-energy guard, same convention as
    // SpectralEntropyUtil.
    val nb = n / 2
    lazy val (spec, specTotal, specOk) =
      if (n < 4) (new Array[Double](0), 0.0, false)
      else {
        val d = new Array[Double](n)
        var sxx = 0.0
        var t0 = 0
        while (t0 < n) { d(t0) = x(t0) - mu; sxx += d(t0) * d(t0); t0 += 1 }
        val s = Fft.halfPsd(d)
        var total = 0.0
        var si = 0
        while (si < nb) { total += s(si); si += 1 }
        (s, total, total > 1e-9 * sxx * n)
      }

    // SP_Summaries_welch_rect_centroid: first w_k = 2πk/n whose cumulative
    // power strictly exceeds half the total.
    if (need(10)) out(10) = if (!specOk) null else {
      val half = specTotal / 2.0
      var cs = 0.0
      var kk = 0
      var res = Double.NaN
      var done = false
      while (!done && kk < nb) {
        cs += spec(kk)
        if (cs > half) { res = 2.0 * math.Pi * (kk + 1) / n; done = true }
        kk += 1
      }
      java.lang.Double.valueOf(res)
    }

    // CO_HistogramAMI_even_2_5: auto mutual information at lag 2 over a
    // 5×5 joint histogram of (x_t, x_{t+2}); bin edges are the 5 even bins
    // over the WHOLE window's [min, max] (the DN_HistogramMode grid);
    // AMI = Σ p_ij ln(p_ij / (p_i·p_j)) in nats, marginals taken over the
    // paired samples. Null for n < 3 or a constant window.
    if (need(11)) out(11) = if (n < 3) null else {
      var mn = x(0); var mx = x(0); var i2 = 1
      while (i2 < n) { if (x(i2) < mn) mn = x(i2); if (x(i2) > mx) mx = x(i2); i2 += 1 }
      if (mx <= mn) null else {
        val step = (mx - mn) / 5
        def bin(v: Double): Int = {
          var b = ((v - mn) / step).toInt
          if (b >= 5) b = 4
          b
        }
        val joint = new Array[Long](25)
        val bigN = (n - 2).toDouble
        var t = 0
        while (t < n - 2) { joint(5 * bin(x(t)) + bin(x(t + 2))) += 1; t += 1 }
        val r = new Array[Long](5); val cc = new Array[Long](5)
        var ij = 0
        while (ij < 25) { r(ij / 5) += joint(ij); cc(ij % 5) += joint(ij); ij += 1 }
        var ami = 0.0
        ij = 0
        while (ij < 25) {
          val c = joint(ij)
          if (c > 0) ami += (c / bigN) *
            math.log(c * bigN / (r(ij / 5).toDouble * cc(ij % 5)))
          ij += 1
        }
        java.lang.Double.valueOf(ami)
      }
    }

    // IN_AutoMutualInfoStats_40_gaussian_fmmi: Gaussian auto-MI curve
    // A(τ) = −½·ln(1 − ac(τ)²) over τ = 1..min(40, n−1); the feature is
    // the first local minimum's lag (A below both neighbors, 2 ≤ τ ≤ L−1),
    // L if none — the ACF-based estimator over the biased global-mean ACF,
    // like the other CO members.
    if (need(12)) out(12) = if (n < 3 || !acf.defined) null else {
      val L = math.min(40, n - 1)
      def ami(tau: Int): Double = {
        val r = acf(tau)
        -0.5 * math.log(math.max(1.0 - r * r, 1e-300))
      }
      var res = L.toDouble
      var j = 2
      var done = false
      while (!done && j <= L - 1) {
        if (ami(j) < ami(j - 1) && ami(j) < ami(j + 1)) { res = j.toDouble; done = true }
        j += 1
      }
      java.lang.Double.valueOf(res)
    }

    // SP_Summaries_welch_rect_area_5_1: power in the lowest fifth of the
    // spectrum as a FRACTION of total power (the raw C member is the same
    // sum under Welch scale factors, which cancel under normalization —
    // documented deviation, mirrored by the oracle). Bin count max(1, nb/5).
    if (need(13)) out(13) = if (!specOk) null else {
      val kc = math.max(1, nb / 5)
      var s5 = 0.0
      var kk = 0
      while (kk < kc) { s5 += spec(kk); kk += 1 }
      java.lang.Double.valueOf(s5 / specTotal)
    }

    // SB_MotifThree_quantile_hh: tertile alphabet by continuous quantiles
    // (position (n−1)·q, linear interpolation — the numpy/DuckDB
    // quantile_cont convention; letter = 0 for v ≤ q⅓, 1 for v ≤ q⅔,
    // else 2), then the Shannon entropy (nats) of the 2-letter motif
    // distribution over the n−1 index-consecutive pairs.
    if (need(14)) out(14) = if (n < 2) null else {
      val sorted = java.util.Arrays.copyOf(x, n)
      java.util.Arrays.sort(sorted)
      // shared continuous-quantile rule: transitionMatrix3 (the other
      // tercile-alphabet member) uses the same helper, so a convention
      // change cannot diverge the two letter rules
      val q1 = quantileCont(sorted, n, 1.0 / 3)
      val q2 = quantileCont(sorted, n, 2.0 / 3)
      def letter(v: Double): Int = if (v <= q1) 0 else if (v <= q2) 1 else 2
      val counts = new Array[Long](9)
      var t = 0
      while (t < n - 1) { counts(3 * letter(x(t)) + letter(x(t + 1))) += 1; t += 1 }
      val bigN = (n - 1).toDouble
      var h = 0.0
      var ij = 0
      while (ij < 9) {
        if (counts(ij) > 0) {
          val p = counts(ij) / bigN
          h -= p * math.log(p)
        }
        ij += 1
      }
      java.lang.Double.valueOf(h)
    }

    // ---- tranche 3 ------------------------------------------------------
    if (need(15)) out(15) = outlierInclude(x, 1.0)
    if (need(16)) out(16) = outlierInclude(x, -1.0)
    if (need(17)) out(17) = transitionMatrix3(x, acf)
    if (need(18)) out(18) = embed2DistExpFit(x, acf)
    if (need(19)) out(19) = fluctAnal(x, lag = 2, dfa = true)
    if (need(20)) out(20) = fluctAnal(x, lag = 1, dfa = false)
    if (need(21)) out(21) = periodicityWang(x)

    if (catch24) {
      // DN_Mean / DN_Spread_Std (sample std, n−1): pycatch22's two extras
      if (need(22)) out(22) = if (n == 0) null else java.lang.Double.valueOf(mu)
      if (need(23)) out(23) = if (n < 2) null else {
        var ss = 0.0; var t = 0
        while (t < n) { val d = x(t) - mu; ss += d * d; t += 1 }
        java.lang.Double.valueOf(math.sqrt(ss / (n - 1)))
      }
    }

    new GenericInternalRow(out)
  }
}
