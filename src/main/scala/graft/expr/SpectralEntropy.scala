package graft.expr

/** Runtime kernel: Shannon entropy (nats) of the DC-excluded periodogram of
  * an index-ordered window. For frequency bins k = 1..⌊n/2⌋,
  * psd_k = |Σ_t x_t·e^{−2πikt/n}|²; the feature is −Σ p_k ln p_k over
  * p = psd/Σpsd, optionally normalized by ln(#bins). The DC bin is
  * excluded so the (usually dominant) mean does not flatten the spectrum —
  * the entropy reads the SHAPE of the oscillatory content (reference
  * surface: tsflex/features/integrations.py wraps antropy
  * spectral_entropy; this is the windowed-periodogram member of that
  * family with our own documented bin convention, mirrored exactly by the
  * DuckDB oracle).
  *
  * Direct DFT, O(n²/2) multiply-adds per window — a DELIBERATE per-window
  * kernel cost (like any FFT-library call), bounded by the window length,
  * not the corpus; rolling windows are thousands of samples, and the
  * 100 TB axis is window COUNT. Returns null for windows shorter than 4
  * samples or with zero oscillatory energy (constant windows).
  */
object SpectralEntropyUtil {
  def entropy(x: Array[Double], normalize: Boolean): Any = {
    val n = x.length
    if (n < 4) return null
    var i = 0
    var sxx = 0.0
    while (i < n) { sxx += x(i) * x(i); i += 1 }
    val nb = n / 2
    // O(n log n) Bluestein FFT above [[Fft.directThreshold]] samples, the
    // trig-table direct DFT below — identical X_k mathematics either way
    // (differential-tested in FftSpec), so the 6-decimal oracle contract
    // is unaffected while 64k-sample windows drop from O(n²/2) to n log n
    val psd = Fft.halfPsd(x)
    var total = 0.0
    var j0 = 0
    while (j0 < nb) { total += psd(j0); j0 += 1 }
    // "zero oscillatory energy" must be judged RELATIVE to the signal: a
    // constant window's bins carry FP dust (~1e-32 of the energy), not
    // exact zeros. Threshold = 1e-9 · Σx² · n (≈ AC amplitude above
    // ~3e-5 of the DC level counts as signal) — mirrored in the oracle.
    if (!(total > 1e-9 * sxx * n)) return null
    var h = 0.0
    var j = 0
    while (j < nb) {
      val p = psd(j) / total
      if (p > 0.0) h -= p * math.log(p)
      j += 1
    }
    if (normalize) h / math.log(nb.toDouble) else h
  }
}
