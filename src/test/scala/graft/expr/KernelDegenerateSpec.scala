package graft.expr

import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input parity rows for the seven r15 native kernels (wpe,
  * perm_entropy, shannon_freq, apen_binned, sampen_binned — EntropyKernels;
  * neighbourhood_peaks, hist_counts — TemporalKernels). The Column
  * formulations they replaced are deleted, so kernel-vs-Column
  * differentials can no longer run; these hand-computed NaN / Inf /
  * empty / single-element / constant-window rows are the remaining guard
  * for the off-path divergence class the DuckDB oracle gate never sees
  * (the oracle corpus has no NaN/Inf samples and no degenerate windows).
  * Conventions pinned here, where they deviate from the reference libs,
  * are documented in the kernel scaladocs:
  *  - NaN ordering/equality: the deleted Column forms inherited SPARK
  *    semantics (NaN = NaN, NaN greatest) where these kernels use JAVA
  *    primitive comparisons (NaN incomparable). shannonFreq explicitly
  *    re-groups NaN runs to keep the Spark/Column convention; the others
  *    (wpe variance poisoning, neighbourhoodPeaks never counting a NaN
  *    centre) keep Java semantics, documented in their scaladocs.
  *  - binned ApEn/SampEn quantization maps NaN to cell 0 — exactly what
  *    the Column form's floor(NaN/w).cast(long) did (NaN.toLong == 0).
  */
class KernelDegenerateSpec extends AnyFunSuite {
  import EntropyKernelUtil.{wpe, permEntropyArr, shannonFreq, apenBinned,
    sampenBinned}
  import TemporalKernelUtil.{neighbourhoodPeaks, histCounts}

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity
  private def ad(xs: Double*): Array[Double] = xs.toArray
  private def d(a: Any): Double = a.asInstanceOf[java.lang.Double].doubleValue()
  private def close(a: Any, expect: Double, tol: Double = 1e-12): Unit = {
    assert(a != null, s"expected ~$expect, got null")
    assert(math.abs(d(a) - expect) <= tol, s"expected ~$expect, got ${d(a)}")
  }
  private val log2_3 = math.log(3.0) / math.log(2.0)

  // ---- wpe (weighted permutation entropy, order 3) ----------------------

  test("wpe: empty / single / shorter-than-order windows are null") {
    assert(wpe(ad(), 3, normalize = false) == null)
    assert(wpe(ad(1.0), 3, normalize = false) == null)
    assert(wpe(ad(1.0, 2.0), 3, normalize = false) == null)
  }

  test("wpe: constant window carries zero total weight -> null") {
    assert(wpe(ad(5.0, 5.0, 5.0, 5.0), 3, normalize = false) == null)
  }

  test("wpe: single weighted pattern -> exactly 0") {
    // tuples (0,0,0) var 0 and (0,0,1) var 2/9: one pattern holds all the
    // weight, so H = log2(W) - W*log2(W)/W = 0 with no cancellation error
    close(wpe(ad(0.0, 0.0, 0.0, 1.0), 3, normalize = false), 0.0, 0.0)
  }

  test("wpe: NaN or Inf anywhere poisons the tuple variance -> null") {
    // (x - mu) with mu = NaN/Inf makes the weight sum NaN; !(NaN > 0)
    // takes the zero-weight exit — same null the constant window gets
    assert(wpe(ad(1.0, nan, 2.0, 3.0, 4.0), 3, normalize = false) == null)
    assert(wpe(ad(inf, 1.0, 2.0), 3, normalize = false) == null)
    assert(wpe(ad(1.0, 2.0, -inf, 3.0), 3, normalize = false) == null)
  }

  // ---- permEntropyArr (Bandt-Pompe, order 3) -----------------------------

  test("perm entropy kernel: empty / short windows null, one tuple -> 0") {
    assert(permEntropyArr(ad(), 3, normalize = false) == null)
    assert(permEntropyArr(ad(1.0, 2.0), 3, normalize = false) == null)
    close(permEntropyArr(ad(1.0, 2.0, 3.0), 3, normalize = false), 0.0, 0.0)
  }

  test("perm entropy kernel: constant window -> 0 (stable argsort ties)") {
    close(permEntropyArr(ad(4.0, 4.0, 4.0, 4.0), 3, normalize = false), 0.0, 0.0)
  }

  test("perm entropy kernel: NaN is incomparable (Java semantics), hand case") {
    // [NaN,1,2,3]: tuple (NaN,1,2) codes as (0,0,1) — every comparison
    // against NaN is false, so NaN and 1 both rank 0; tuple (1,2,3) codes
    // as (0,1,2). Two singleton patterns over m=2 tuples -> H = log2 2 = 1.
    // (Spark's NaN-greatest ordering would rank NaN above 2 instead; NaN
    // windows are outside the oracle contract — this row pins the
    // documented Java convention.)
    close(permEntropyArr(ad(nan, 1.0, 2.0, 3.0), 3, normalize = false), 1.0)
    close(permEntropyArr(ad(nan, 1.0, 2.0, 3.0), 3, normalize = true),
      1.0 / (math.log(6.0) / math.log(2.0)))
  }

  // ---- shannonFreq (value-frequency entropy, bits) -----------------------

  test("shannonFreq: empty null; single and constant windows -> 0") {
    assert(shannonFreq(ad()) == null)
    close(shannonFreq(ad(3.0)), 0.0, 0.0)
    close(shannonFreq(ad(2.0, 2.0, 2.0, 2.0)), 0.0, 0.0)
  }

  test("shannonFreq: NaNs group into ONE run (Spark/Column convention)") {
    // sorted [1, NaN, NaN]: the isNaN-pair check keeps the NaN run
    // contiguous where primitive == (NaN != NaN) would split it into two
    // singletons (H = log2 3). pyentrp itself (float hashing) would also
    // split; the pinned convention is the replaced Column form's NaN = NaN.
    close(shannonFreq(ad(nan, 1.0, nan)), log2_3 - 2.0 / 3.0)
  }

  test("shannonFreq: -0.0 groups with 0.0; infinities are ordinary values") {
    close(shannonFreq(ad(-0.0, 0.0)), 0.0, 0.0)
    // sorted [-Inf, Inf, Inf]: run of two +Inf
    close(shannonFreq(ad(inf, inf, -inf)), log2_3 - 2.0 / 3.0)
  }

  // ---- apenBinned / sampenBinned (m = 2, cell width w) -------------------

  test("binned ApEn/SampEn: non-positive cell width -> null") {
    assert(apenBinned(ad(1.0, 2.0, 3.0), 0.0, 2) == null)
    assert(apenBinned(ad(1.0, 2.0, 3.0), -1.0, 2) == null)
    assert(sampenBinned(ad(1.0, 2.0, 3.0), 0.0, 2) == null)
  }

  test("binned ApEn/SampEn: empty / shorter than m+1 -> null") {
    assert(apenBinned(ad(), 1.0, 2) == null)
    assert(apenBinned(ad(1.0, 2.0), 1.0, 2) == null)
    assert(sampenBinned(ad(), 1.0, 2) == null)
    assert(sampenBinned(ad(1.0, 2.0), 1.0, 2) == null) // one template, 0 pairs
  }

  test("binned ApEn: constant window -> exactly 0") {
    // all templates share one cell code: phi(m) = phi(m+1) = 0
    close(apenBinned(ad(4.2, 4.2, 4.2, 4.2, 4.2), 1.0, 2), 0.0, 0.0)
  }

  test("binned SampEn: constant window -> ln 2; all-distinct cells -> null") {
    // n=5 constant: B = C(4,2) = 6 matched pairs at m, A = C(3,2) = 3 at
    // m+1 -> ln 6 - ln 3 = ln 2
    close(sampenBinned(ad(4.2, 4.2, 4.2, 4.2, 4.2), 1.0, 2), math.log(2.0))
    // strictly increasing unit steps: every cell distinct, B = 0 -> null
    assert(sampenBinned(ad(0.0, 1.0, 2.0, 3.0, 4.0), 1.0, 2) == null)
  }

  test("binned ApEn: NaN quantizes to cell 0 (same as the Column floor)") {
    // floor(NaN / w).toLong == 0 — both the kernel and the replaced
    // Column cast — so NaN collides with the [0, w) cell: here all three
    // samples land in cell 0 and ApEn degenerates to the constant case
    close(apenBinned(ad(nan, 0.5, 0.3), 1.0, 2), 0.0, 0.0)
  }

  // ---- neighbourhoodPeaks (tsfel, n = 1) ---------------------------------

  test("neighbourhoodPeaks: empty / single / shorter than 2n+1 -> 0") {
    assert(neighbourhoodPeaks(ad(), 1) == 0L)
    assert(neighbourhoodPeaks(ad(1.0), 1) == 0L)
    assert(neighbourhoodPeaks(ad(1.0, 2.0), 1) == 0L)
  }

  test("neighbourhoodPeaks: constant window has no strict peaks") {
    assert(neighbourhoodPeaks(ad(5.0, 5.0, 5.0, 5.0), 1) == 0L)
  }

  test("neighbourhoodPeaks: NaN never counts and never lets a neighbour count") {
    // Java comparisons: x > NaN and NaN > x are both false — a NaN centre
    // is never a peak (Spark's NaN-greatest ordering would count it; NaN
    // windows are outside the oracle contract, Java convention documented
    // in the module scaladoc) and a NaN neighbour blocks the centre
    assert(neighbourhoodPeaks(ad(1.0, nan, 0.0), 1) == 0L)
    assert(neighbourhoodPeaks(ad(nan, 5.0, 1.0), 1) == 0L)
    assert(neighbourhoodPeaks(ad(1.0, 5.0, nan), 1) == 0L)
  }

  test("neighbourhoodPeaks: +Inf is an ordinary (always-winning) sample") {
    assert(neighbourhoodPeaks(ad(1.0, inf, 0.0), 1) == 1L)
    assert(neighbourhoodPeaks(ad(inf, 1.0, inf), 1) == 0L)
  }

  // ---- histCounts (tsfel hist, equal-width bins) --------------------------

  private def hist(a: Array[Double], bins: Int): Seq[Long] = {
    val row = histCounts(a, bins)
    (0 until bins).map(row.getLong)
  }

  test("histCounts: empty and all-NaN windows -> all-zero counts") {
    assert(hist(ad(), 3) == Seq(0L, 0L, 0L))
    assert(hist(ad(nan, nan), 3) == Seq(0L, 0L, 0L))
  }

  test("histCounts: single-element and constant windows fill bin 1") {
    assert(hist(ad(2.0), 3) == Seq(1L, 0L, 0L))
    assert(hist(ad(7.0, 7.0), 3) == Seq(2L, 0L, 0L))
  }

  test("histCounts: right-inclusive last bin; NaN samples skipped") {
    // [0,1,2,3] over 3 bins of width 1: 0->b0, 1->b1, 2->b2, 3 (== max,
    // right edge) -> clamped into the last bin (np.histogram convention)
    assert(hist(ad(0.0, 1.0, 2.0, 3.0), 3) == Seq(1L, 1L, 2L))
    // NaN neither moves min/max nor lands in a bin (r15 advisory fix —
    // the Column form's floor(NaN) -> null matched no bin either)
    assert(hist(ad(nan, 0.0, 3.0), 3) == Seq(1L, 0L, 1L))
  }

  test("histCounts: an infinite range degrades every finite sample to bin 1") {
    // (x - min) / (max - min) is 0 for finite x when the range is Inf, and
    // NaN for the Inf endpoint itself (floor(NaN).toInt == 0) — all counts
    // collapse into bin 1. np.histogram raises on an infinite range; the
    // Column form dropped only the Inf endpoint. Outside the oracle
    // contract; pinned so a rewrite cannot change it silently.
    assert(hist(ad(0.0, 1.0, inf), 3) == Seq(3L, 0L, 0L))
  }
}
