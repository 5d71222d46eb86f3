package graft.expr

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** tsfel spectral-shape battery (r11 tranche 4 — the spectral members of
  * the reference's tsfel integration surface: `spectral_centroid`,
  * `spectral_spread`, `spectral_skewness`, `spectral_kurtosis`,
  * `spectral_decrease`, `spectral_rolloff`, `median_frequency`,
  * `max_power_spectrum`, `fundamental_frequency`, `fft_mean_coeff` —
  * reference: tsflex/features/integrations.py:102-173, exercised at
  * tests/test_features_integration.py:218-283) as ONE multi-output kernel
  * over the window's DC-excluded periodogram.
  *
  * Documented conventions (mirrored exactly by the DuckDB oracle):
  *  - bins k = 1..⌊n/2⌋ of the raw rect-window periodogram |X_k|²
  *    ([[Fft.halfPsd]]: Bluestein FFT above 256 samples, trig-table DFT
  *    below — identical X_k mathematics); DC excluded, like
  *    [[SpectralEntropyUtil]];
  *  - frequency axis f_k = k·fs/n;
  *  - every power-valued output is NORMALIZED by total oscillatory power
  *    (max_power and the fft_mean_coeff bands are relative power): the
  *    raw |X_k|² scale is ~1e10 at real window lengths, where the
  *    FFT-vs-naive-DFT associativity gap (~1e-10 relative) would break a
  *    6-decimal absolute compare — ratios keep both engines inside it;
  *  - `fundamental_frequency` is the argmax bin's frequency (tsfel's
  *    peak-picking heuristic replaced by the dominant bin — documented
  *    deviation);
  *  - null when the window is shorter than 4 samples or carries no
  *    oscillatory energy (the [[SpectralEntropyUtil]] 1e-9·Σx²·n fence);
  *  - skewness/kurtosis null on zero spread; decrease null when all
  *    energy sits in the first bin.
  */
object SpectralShapeUtil {

  val names: Seq[String] = Seq(
    "spec_centroid", "spec_spread", "spec_skew", "spec_kurt",
    "spec_decrease", "spec_rolloff", "median_freq", "max_power_rel",
    "fund_freq", "fft_mc_1", "fft_mc_2", "fft_mc_3", "fft_mc_4")

  val dataType: StructType =
    StructType(names.map(StructField(_, DoubleType)))

  def compute(x: Array[Double], fs: Double): Any = {
    val n = x.length
    if (n < 4) return null
    var i = 0
    var sxx = 0.0
    while (i < n) { sxx += x(i) * x(i); i += 1 }
    val psd = Fft.halfPsd(x)
    val bigK = psd.length
    var tot = 0.0
    i = 0
    while (i < bigK) { tot += psd(i); i += 1 }
    if (!(tot > 1e-9 * sxx * n)) return null

    def f(k0: Int): Double = (k0 + 1).toDouble * fs / n // psd(k0) is bin k0+1

    // centroid
    var sc = 0.0
    i = 0
    while (i < bigK) { sc += f(i) * psd(i); i += 1 }
    val c = sc / tot
    // central moments 2..4 of the frequency distribution
    var m2 = 0.0; var m3 = 0.0; var m4 = 0.0
    i = 0
    while (i < bigK) {
      val d = f(i) - c
      val w = psd(i) / tot
      m2 += d * d * w; m3 += d * d * d * w; m4 += d * d * d * d * w
      i += 1
    }
    val spread = math.sqrt(m2)
    val skew: Any =
      if (spread > 0) java.lang.Double.valueOf(m3 / (spread * spread * spread))
      else null
    val kurt: Any =
      if (spread > 0) java.lang.Double.valueOf(m4 / (m2 * m2)) else null
    // decrease (bins 2..K against bin 1)
    var den = 0.0; var num = 0.0
    i = 1
    while (i < bigK) {
      den += psd(i); num += (psd(i) - psd(0)) / i
      i += 1
    }
    val dec: Any =
      if (den > 0) java.lang.Double.valueOf(num / den) else null
    // rolloff (0.85) and median frequency (0.5) on the ordered cumsum
    var cum = 0.0
    var roll = -1.0; var med = -1.0
    i = 0
    while (i < bigK && (roll < 0 || med < 0)) {
      cum += psd(i)
      if (med < 0 && cum >= 0.5 * tot) med = f(i)
      if (roll < 0 && cum >= 0.85 * tot) roll = f(i)
      i += 1
    }
    // dominant bin
    var mx = psd(0); var mi = 0
    i = 1
    while (i < bigK) { if (psd(i) > mx) { mx = psd(i); mi = i }; i += 1 }
    // four equal k-bands of relative power
    val mc = new Array[Double](4)
    i = 0
    while (i < bigK) {
      mc(math.min(3, i * 4 / bigK)) += psd(i) / tot
      i += 1
    }
    val out = new Array[Any](names.length)
    out(0) = c
    out(1) = spread
    out(2) = skew
    out(3) = kurt
    out(4) = dec
    out(5) = roll
    out(6) = med
    out(7) = mx / tot
    out(8) = f(mi)
    out(9) = mc(0); out(10) = mc(1); out(11) = mc(2); out(12) = mc(3)
    new GenericInternalRow(out)
  }
}

/** tsfresh `spkt_welch_density` (r11 tranche 4): scipy-convention Welch
  * PSD at the first `nCoef` frequency bins — nperseg = min(256, n),
  * noverlap = nperseg//2, PERIODIC Hann window, per-segment constant
  * detrend, density scaling (fs = 1), one-sided doubling except DC and
  * Nyquist — reported as RELATIVE density among the nCoef coefficients
  * (pxx_k / Σ pxx): raw |X|²-scale outputs cannot survive a 6-decimal
  * absolute oracle compare across engines (documented deviation, same
  * rationale as [[SpectralShapeUtil]]'s normalized outputs). Null when
  * the window is shorter than 4 samples or total reported density is 0.
  */
object WelchRelUtil {
  def names(nCoef: Int): Seq[String] = (0 until nCoef).map(k => s"welch_rel_$k")

  // One trig table per segment length: cosT(i) = cos(2π·i/m). The DFT
  // argument 2π·k·t/m only ever needs the reduced index (k·t) mod m, so the
  // per-(k,t) math.cos/math.sin pair in the hot loop (the q105 100× CPU
  // profile: nseg·kMax·m·2 trig calls per WINDOW) collapses to two array
  // reads; the reduced-argument table is also the numerically better value
  // (no rounding in the 2π·k·t/m product for large k·t). m = min(256, n) is
  // bounded, so the cache never exceeds 253 entries of ≤ 2×256 doubles.
  private val trigCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Double], Array[Double])]()
  private def trigFor(m: Int): (Array[Double], Array[Double]) =
    trigCache.computeIfAbsent(m, mm => {
      val c = new Array[Double](mm)
      val s = new Array[Double](mm)
      var i = 0
      while (i < mm) {
        val a = 2.0 * math.Pi * i / mm
        c(i) = math.cos(a); s(i) = math.sin(a); i += 1
      }
      (c, s)
    })

  def compute(x: Array[Double], nCoef: Int): Any = {
    val n = x.length
    if (n < 4) return null
    val m = math.min(256, n)
    val step = m - m / 2
    val nseg = (n - m) / step + 1
    val (cosT, sinT) = trigFor(m)
    val w = new Array[Double](m)
    var u = 0.0
    var t = 0
    while (t < m) {
      // Hann from the same table: cosT(t) IS cos(2π·t/m)
      w(t) = 0.5 - 0.5 * cosT(t)
      u += w(t) * w(t)
      t += 1
    }
    val kMax = math.min(nCoef, m / 2 + 1)
    val sumP = new Array[Double](kMax)
    // detrended+windowed segment, built ONCE per segment instead of being
    // recomputed inside every coefficient's inner loop (kMax× redundant)
    val y = new Array[Double](m)
    var s = 0
    while (s < nseg) {
      val o = s * step
      var mu = 0.0
      t = 0
      while (t < m) { mu += x(o + t); t += 1 }
      mu /= m
      t = 0
      while (t < m) { y(t) = (x(o + t) - mu) * w(t); t += 1 }
      var k = 0
      while (k < kMax) {
        var re = 0.0
        var im = 0.0
        var idx = 0 // (k·t) mod m, maintained by stepping (k < m always)
        t = 0
        while (t < m) {
          re += y(t) * cosT(idx)
          im += y(t) * sinT(idx)
          idx += k; if (idx >= m) idx -= m
          t += 1
        }
        sumP(k) += re * re + im * im
        k += 1
      }
      s += 1
    }
    val pxx = new Array[Double](nCoef)
    var k = 0
    var tot = 0.0
    while (k < kMax) {
      val fac = if (k == 0 || 2 * k == m) 1.0 else 2.0
      pxx(k) = sumP(k) / nseg * fac / u
      tot += pxx(k)
      k += 1
    }
    if (!(tot > 0)) return null
    val out = new Array[Any](nCoef)
    k = 0
    while (k < nCoef) {
      out(k) = if (k < kMax) java.lang.Double.valueOf(pxx(k) / tot) else null
      k += 1
    }
    new GenericInternalRow(out)
  }
}
