package graft.expr

/** Exact O(n log n) DFT for ARBITRARY length via Bluestein's chirp-z
  * transform over an iterative radix-2 Cooley–Tukey core. This is the
  * scale path for the per-window spectral kernels ([[SpectralEntropyUtil]],
  * [[Catch22Util]]'s welch_rect centroid): the direct trig-table DFT is
  * O(n²/2) per window — fine at thousands of samples, quadratic pain at
  * 64k+ — while Bluestein computes the SAME X_k values (identical
  * mathematics, FP rounding ~1e-12 relative, differential-tested against
  * the direct DFT in FftSpec) at O(n log n) for any n, no zero-padding
  * semantics change.
  *
  * Identity: jk = (j² + k² − (k−j)²)/2, so
  * X_k = e^{−iπk²/n} · Σ_j (x_j e^{−iπj²/n}) · e^{+iπ(k−j)²/n} — a linear
  * convolution with the chirp, computed by three power-of-two FFTs. Chirp
  * angles are reduced mod 2n BEFORE the trig call (j²π/n with j² up to
  * 10¹⁰ would lose the angle to FP cancellation).
  *
  * The radix-2 core's twiddle tables are cached per power-of-two size, so
  * repeated same-size transforms (Bluestein's three, a window battery's
  * several) compute each table's cos/sin once; a cached table holds
  * exactly the values a fresh one would (FftSpec pins the bits).
  */
object Fft {

  /** Sizes up to this share one cached twiddle table per size (at most
    * 2¹⁷ entries of 16 B each: the whole cache stays under 4 MB); larger
    * transforms build theirs per call.
    */
  private val CachedTwiddleMax = 1 << 18

  private val twiddleCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Double], Array[Double])]()

  /** Half-size twiddle table W_n^t = e^{-2πit/n}, t = 0..n/2−1, for a
    * power-of-two n — exact trig per entry, no cumulative rotation error.
    * Read-only once built; cached tables hold the values a fresh one would.
    */
  private def twiddles(n: Int): (Array[Double], Array[Double]) =
    if (n <= CachedTwiddleMax) twiddleCache.computeIfAbsent(n, m => twiddleTable(m))
    else twiddleTable(n)

  private def twiddleTable(n: Int): (Array[Double], Array[Double]) = {
    val half = n >> 1
    val twR = new Array[Double](half)
    val twI = new Array[Double](half)
    var t = 0
    while (t < half) {
      val a = -2.0 * math.Pi * t / n
      twR(t) = math.cos(a); twI(t) = math.sin(a)
      t += 1
    }
    (twR, twI)
  }

  /** In-place iterative radix-2 FFT (decimation-in-time); length must be a
    * power of two. Twiddles come from the size's cached half table (see
    * [[twiddles]]), so a window's several same-size transforms — five per
    * catch22 window — share one set of n/2 cos/sin pairs.
    */
  def radix2(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, "radix2 length must be a power of 2")
    if (n <= 1) return
    // bit-reversal permutation
    var i = 1; var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    // stage `len` uses stride n/len into the half-size table
    val (twR, twI) = twiddles(n)
    var len = 2
    while (len <= n) {
      val stride = n / len
      var k = 0
      while (k < n) {
        var p = 0
        while (p < (len >> 1)) {
          val wi = p * stride
          val cr = twR(wi); val ci = twI(wi)
          val a1 = k + p; val a2 = k + p + (len >> 1)
          val vr = re(a2) * cr - im(a2) * ci
          val vi = re(a2) * ci + im(a2) * cr
          re(a2) = re(a1) - vr; im(a2) = im(a1) - vi
          re(a1) += vr; im(a1) += vi
          p += 1
        }
        k += len
      }
      len <<= 1
    }
  }

  /** Full complex DFT of a real input of ANY length n:
    * returns (Re X_k, Im X_k) for k = 0..n−1, X_k = Σ_j x_j e^{−2πijk/n}.
    */
  def dftReal(x: Array[Double]): (Array[Double], Array[Double]) = {
    val n = x.length
    if (n == 0) return (new Array[Double](0), new Array[Double](0))
    var m = 1
    while (m < 2 * n - 1) m <<= 1
    // chirp c_j = e^{-iπ j²/n}, angle reduced mod 2n in exact Long math
    val cr = new Array[Double](n)
    val ci = new Array[Double](n)
    var j = 0
    while (j < n) {
      val ang = math.Pi * ((j.toLong * j) % (2L * n)).toDouble / n
      cr(j) = math.cos(ang); ci(j) = math.sin(ang)
      j += 1
    }
    val ar = new Array[Double](m); val ai = new Array[Double](m)
    val br = new Array[Double](m); val bi = new Array[Double](m)
    j = 0
    while (j < n) {
      // a_j = x_j · e^{-iθ_j}; b_t = e^{+iθ_t}, symmetric (t and −t ≡ m−t)
      ar(j) = x(j) * cr(j); ai(j) = -x(j) * ci(j)
      br(j) = cr(j); bi(j) = ci(j)
      if (j != 0) { br(m - j) = cr(j); bi(m - j) = ci(j) }
      j += 1
    }
    radix2(ar, ai); radix2(br, bi)
    var k = 0
    while (k < m) {
      val r = ar(k) * br(k) - ai(k) * bi(k)
      val s = ar(k) * bi(k) + ai(k) * br(k)
      ar(k) = r; ai(k) = s
      k += 1
    }
    // inverse FFT via conjugation
    k = 0
    while (k < m) { ai(k) = -ai(k); k += 1 }
    radix2(ar, ai)
    val outR = new Array[Double](n)
    val outI = new Array[Double](n)
    k = 0
    while (k < n) {
      val r = ar(k) / m
      val s = -ai(k) / m
      // X_k = (r + is) · e^{-iθ_k}
      outR(k) = r * cr(k) + s * ci(k)
      outI(k) = s * cr(k) - r * ci(k)
      k += 1
    }
    (outR, outI)
  }

  /** Power-spectrum bins |X_k|² for k = 1..⌊n/2⌋ of a real input — the
    * shared shape both spectral kernels consume. Chooses Bluestein above
    * [[directThreshold]] samples, the trig-table direct DFT below (lower
    * constant, and the sf0.001/sf0.01 oracle gates exercise it).
    */
  val directThreshold = 256

  def halfPsd(x: Array[Double]): Array[Double] = {
    val n = x.length
    val nb = n / 2
    val psd = new Array[Double](nb)
    if (nb == 0) return psd
    if (n > directThreshold) {
      val (re, im) = dftReal(x)
      var k = 1
      while (k <= nb) { psd(k - 1) = re(k) * re(k) + im(k) * im(k); k += 1 }
    } else {
      val cosT = new Array[Double](n)
      val sinT = new Array[Double](n)
      var ti = 0
      while (ti < n) {
        val a = 2.0 * math.Pi * ti / n
        cosT(ti) = math.cos(a); sinT(ti) = math.sin(a)
        ti += 1
      }
      var k = 1
      while (k <= nb) {
        var re = 0.0; var im = 0.0; var idx = 0; var t = 0
        while (t < n) {
          re += x(t) * cosT(idx); im += x(t) * sinT(idx)
          idx += k; if (idx >= n) idx -= n
          t += 1
        }
        psd(k - 1) = re * re + im * im
        k += 1
      }
    }
    psd
  }
}
