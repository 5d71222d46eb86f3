package graft.expr

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** tsfel `mfcc` (the last widely-used member of the reference's tsfel
  * advanced integration surface — reference:
  * tsflex/features/integrations.py:102-173, exercised with
  * `fs=4, num_ceps=6` at tests/test_features_integration.py:256): mel
  * filterbank log-energies followed by an orthonormal DCT-II, the classic
  * speech-feature chain, re-derived from tsfel's published algorithm.
  *
  * Documented conventions (mirrored exactly by the DuckDB oracle, whose
  * filterbank table is generated INDEPENDENTLY by a numpy model and
  * pasted as literals — the two derivations cross-check each other):
  *  - pre-emphasis y₀ = x₀, yᵢ = xᵢ − 0.97·xᵢ₋₁ over the time-sorted
  *    window;
  *  - `np.fft.rfft(y, nfft=512)` semantics: the first min(n, 512) samples
  *    (truncation!) zero-padded to 512, power spectrum
  *    P_k = |X_k|²/512 for k = 0..256;
  *  - triangular mel filterbank of `nfilt=40` filters on the
  *    floor-quantized bin grid: mel(f) = 2595·log₁₀(1 + f/700),
  *    `nfilt+2` equally-mel-spaced points from 0 to mel(fs/2) mapped
  *    back to Hz, bin(p) = ⌊513·hz(p)/fs⌋, filter m rising over
  *    [bin(m−1), bin(m)) and falling over [bin(m), bin(m+1)) with
  *    slopes computed against the FLOOR-QUANTIZED interval ends —
  *    exactly tsfel's integer-bin formulation;
  *  - log energies: fb_m = 20·log₁₀(max(Σ_k P_k·w_{mk}, ε)) with
  *    ε = 2.220446049250313e−16 (np.finfo(float).eps);
  *  - orthonormal DCT-II keeping coefficients 1..num_ceps (0th dropped):
  *    c_j = √(2/40)·Σ_m fb_m·cos(π·j·(2m+1)/80);
  *  - mean normalization c_j −= (mean(c) + 1e−8) over the KEPT slice;
  *  - sinusoidal liftering c_j *= 1 + 11·sin(π·(j−1)/22) (cep_lifter=22,
  *    index restarting at 0 on the kept slice);
  *  - null row for windows shorter than 2 samples.
  *
  * Cost: one 512-point radix-2 FFT + a 40×257 dense mat-vec per window —
  * a bounded per-window kernel; the 100 TB axis is window count.
  */
object MfccUtil {

  val Nfft = 512
  val Nfilt = 40
  val PreEmphasis = 0.97
  val CepLifter = 22
  val Eps = 2.220446049250313e-16

  def names(numCeps: Int): Seq[String] = (1 to numCeps).map(c => s"mfcc$c")

  /** Dense mel filterbank rows [nfilt][nfft/2+1] for a sample rate. At
    * high fs the lowest-mel intervals CAN floor-quantize to zero width;
    * that is harmless — both fill loops skip an empty interval, leaving
    * the filter zero there (its division is never evaluated), matching
    * the reference's behavior. Validated against the numpy model at
    * fs = 0.04 and fs = 4 (the two rates the queries use).
    */
  def filterbank(fs: Double): Array[Array[Double]] = {
    val highMel = 2595.0 * math.log10(1.0 + (fs / 2.0) / 700.0)
    val fbin = Array.tabulate(Nfilt + 2) { i =>
      val mel = highMel * i / (Nfilt + 1)
      val hz = 700.0 * (math.pow(10.0, mel / 2595.0) - 1.0)
      math.floor((Nfft + 1) * hz / fs)
    }
    val fb = Array.ofDim[Double](Nfilt, Nfft / 2 + 1)
    var m = 1
    while (m <= Nfilt) {
      var k = fbin(m - 1).toInt
      while (k < fbin(m).toInt) {
        fb(m - 1)(k) = (k - fbin(m - 1)) / (fbin(m) - fbin(m - 1))
        k += 1
      }
      while (k < fbin(m + 1).toInt) {
        fb(m - 1)(k) = (fbin(m + 1) - k) / (fbin(m + 1) - fbin(m))
        k += 1
      }
      m += 1
    }
    fb
  }

  def compute(x: Array[Double], fbank: Array[Array[Double]],
              numCeps: Int): Any = {
    val n = x.length
    if (n < 2) return null
    val take = math.min(n, Nfft)
    val re = new Array[Double](Nfft)
    val im = new Array[Double](Nfft)
    // pre-emphasis is local (yᵢ needs xᵢ₋₁ only), so emphasizing just the
    // kept prefix equals tsfel's emphasize-then-truncate
    re(0) = x(0)
    var i = 1
    while (i < take) {
      re(i) = x(i) - PreEmphasis * x(i - 1)
      i += 1
    }
    Fft.radix2(re, im)
    val nb = Nfft / 2 + 1
    val pow = new Array[Double](nb)
    var k = 0
    while (k < nb) {
      pow(k) = (re(k) * re(k) + im(k) * im(k)) / Nfft
      k += 1
    }
    val fb = new Array[Double](Nfilt)
    var m = 0
    while (m < Nfilt) {
      val row = fbank(m)
      var s = 0.0
      k = 0
      while (k < nb) { s += pow(k) * row(k); k += 1 }
      fb(m) = 20.0 * math.log10(if (s == 0.0) Eps else s)
      m += 1
    }
    val scale = math.sqrt(2.0 / Nfilt)
    val ceps = new Array[Double](numCeps)
    var mean = 0.0
    var c = 1
    while (c <= numCeps) {
      var s = 0.0
      m = 0
      while (m < Nfilt) {
        s += fb(m) * math.cos(math.Pi * c * (2 * m + 1) / (2.0 * Nfilt))
        m += 1
      }
      ceps(c - 1) = scale * s
      mean += ceps(c - 1)
      c += 1
    }
    mean = mean / numCeps + 1e-8
    val out = new Array[Any](numCeps)
    i = 0
    while (i < numCeps) {
      val lift = 1.0 + (CepLifter / 2.0) * math.sin(math.Pi * i / CepLifter)
      out(i) = java.lang.Double.valueOf((ceps(i) - mean) * lift)
      i += 1
    }
    new GenericInternalRow(out)
  }
}
