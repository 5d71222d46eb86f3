package graft.expr

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** tsfel wavelet battery (r11 tranche 5 — the CWT members of the
  * reference's tsfel advanced surface: `wavelet_entropy`,
  * `wavelet_abs_mean`, `wavelet_std`, `wavelet_energy`; reference:
  * tsflex/features/integrations.py:102-173, exercised at
  * tests/test_features_integration.py:218-283): a scipy-convention
  * continuous wavelet transform with the Ricker (Mexican-hat) wavelet,
  * one row per width, computed in ONE kernel pass per window.
  *
  * Documented conventions (mirrored exactly by the DuckDB oracle):
  *  - Ricker ψ of `points = min(10·w, n)` samples at width w:
  *    A = 2/(√(3w)·π^¼), tᵢ = i − (points−1)/2,
  *    ψᵢ = A·(1 − (tᵢ/w)²)·e^(−tᵢ²/(2w²)) (scipy.signal.ricker);
  *  - per-width row = np.convolve(x, ψ, mode='same'):
  *    y_t = Σ_j x_j·ψ[t − j + (points−1)//2] over valid taps;
  *  - per width: abs-mean Σ|y|/n, population std √((Σy² − (Σy)²/n)/n),
  *    RMS energy √(Σy²/n);
  *  - wavelet_entropy = Shannon entropy (bits) of the per-width energy
  *    distribution E_w = Σy²_w normalized over the width set; null when
  *    total energy is 0.
  *  - null row for windows shorter than 2 samples.
  *
  * Cost: O(n·Σ min(10w, n)) multiply-adds per window — a bounded
  * per-window kernel like the FFT members; the 100 TB axis is window
  * count.
  */
object WaveletUtil {

  def names(widths: Seq[Int]): Seq[String] =
    Seq("wavelet_entropy") ++
      widths.flatMap(w => Seq(s"wam_$w", s"wsd_$w", s"wen_$w"))

  def compute(x: Array[Double], widths: Seq[Int]): Any = {
    val n = x.length
    if (n < 2) return null
    var i = 0
    val out = new Array[Any](1 + 3 * widths.length)
    val energy = new Array[Double](widths.length)
    var wi = 0
    while (wi < widths.length) {
      val w = widths(wi)
      val m = math.min(10 * w, n)
      val off = (m - 1) / 2
      val amp = 2.0 / (math.sqrt(3.0 * w) * math.pow(math.Pi, 0.25))
      val psi = new Array[Double](m)
      i = 0
      while (i < m) {
        val t = i - (m - 1) / 2.0
        psi(i) = amp * (1.0 - (t / w) * (t / w)) *
          math.exp(-t * t / (2.0 * w.toDouble * w))
        i += 1
      }
      var sa = 0.0; var ss = 0.0; var s2 = 0.0
      var t = 0
      while (t < n) {
        var y = 0.0
        val jLo = math.max(0, t + off - m + 1)
        val jHi = math.min(n - 1, t + off)
        var j = jLo
        while (j <= jHi) { y += x(j) * psi(t - j + off); j += 1 }
        sa += math.abs(y); ss += y; s2 += y * y
        t += 1
      }
      out(1 + 3 * wi) = java.lang.Double.valueOf(sa / n)
      out(2 + 3 * wi) =
        java.lang.Double.valueOf(math.sqrt(math.max(0.0, (s2 - ss * ss / n) / n)))
      out(3 + 3 * wi) = java.lang.Double.valueOf(math.sqrt(s2 / n))
      energy(wi) = s2
      wi += 1
    }
    var tot = 0.0
    wi = 0
    while (wi < energy.length) { tot += energy(wi); wi += 1 }
    if (tot > 0) {
      var h = 0.0
      wi = 0
      while (wi < energy.length) {
        val p = energy(wi) / tot
        if (p > 0) h -= p * math.log(p) / math.log(2.0)
        wi += 1
      }
      out(0) = java.lang.Double.valueOf(h)
    } else out(0) = null
    new GenericInternalRow(out)
  }
}

/** Two more tsfel spectral members on the shared periodogram path:
  * `human_range_energy` generalized to a parametric band-energy ratio
  * (Σ psd over f ∈ [lo, hi] / Σ psd — tsfel's fixed 0.6–2.5 Hz band is a
  * parameter choice), and `spectral_distance` normalized to
  * Σ(linspace(0, ΣM, K) − cumsum(M)) / (K·ΣM) over the DC-excluded
  * MAGNITUDE spectrum M_k = |X_k| (tsfel's raw sum scales with |X|·K,
  * which cannot survive a 6-decimal absolute compare — same
  * normalization rationale as [[SpectralShapeUtil]]). Null under the
  * shared short-window / zero-energy fences; spec_dist_rel needs K ≥ 2.
  */
object SpectralExtrasUtil {
  val names: Seq[String] = Seq("band_energy", "spec_dist_rel")
  val dataType: StructType = StructType(names.map(StructField(_, DoubleType)))

  def compute(x: Array[Double], fs: Double, lo: Double, hi: Double): Any = {
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
    var band = 0.0
    i = 0
    while (i < bigK) {
      val f = (i + 1).toDouble * fs / n
      if (f >= lo && f <= hi) band += psd(i)
      i += 1
    }
    val out = new Array[Any](2)
    out(0) = java.lang.Double.valueOf(band / tot)
    if (bigK >= 2) {
      var mtot = 0.0
      val mags = new Array[Double](bigK)
      i = 0
      while (i < bigK) { mags(i) = math.sqrt(psd(i)); mtot += mags(i); i += 1 }
      if (mtot > 0) {
        var cum = 0.0
        var sd = 0.0
        i = 0
        while (i < bigK) {
          cum += mags(i)
          val lin = i.toDouble * mtot / (bigK - 1)
          sd += lin - cum
          i += 1
        }
        out(1) = java.lang.Double.valueOf(sd / (bigK * mtot))
      } else out(1) = null
    } else out(1) = null
    new GenericInternalRow(out)
  }
}
