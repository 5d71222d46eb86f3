package graft.expr

import org.scalatest.funsuite.AnyFunSuite

/** Bluestein FFT vs direct DFT differential: identical X_k mathematics, FP
  * agreement far inside the engine's 6-decimal oracle rounding; and the
  * cached radix-2 twiddle tables ≡ the fresh per-call table they replaced,
  * bit-for-bit.
  */
class FftSpec extends AnyFunSuite {

  private def directDft(x: Array[Double]): (Array[Double], Array[Double]) = {
    val n = x.length
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    for (k <- 0 until n; t <- 0 until n) {
      val a = -2.0 * math.Pi * k * t / n
      re(k) += x(t) * math.cos(a)
      im(k) += x(t) * math.sin(a)
    }
    (re, im)
  }

  private def series(n: Int, seed: Int): Array[Double] = {
    val rng = new scala.util.Random(seed)
    var x = 50.0
    Array.fill(n) { x += rng.nextDouble() * 10 - 5; x }
  }

  test("dftReal matches the direct DFT at awkward and power-of-two lengths") {
    for (n <- Seq(1, 2, 3, 5, 16, 100, 257, 345, 1024, 3450)) {
      val x = series(n, n)
      val (fr, fi) = Fft.dftReal(x)
      val (dr, di) = directDft(x)
      val scale = math.max(1.0, x.map(math.abs).sum)
      for (k <- 0 until n) {
        assert(math.abs(fr(k) - dr(k)) / scale < 1e-10, s"n=$n k=$k re")
        assert(math.abs(fi(k) - di(k)) / scale < 1e-10, s"n=$n k=$k im")
      }
    }
  }

  test("halfPsd agrees across the direct/Bluestein threshold") {
    // same series evaluated by both paths: force each by length choice
    // around directThreshold = 256, and cross-check against the direct DFT
    for (n <- Seq(255, 256, 257, 512)) {
      val x = series(n, 7 * n)
      val psd = Fft.halfPsd(x)
      val (dr, di) = directDft(x)
      val tot = psd.sum
      for (k <- 1 to n / 2) {
        val exp = dr(k) * dr(k) + di(k) * di(k)
        assert(math.abs(psd(k - 1) - exp) <= 1e-9 * math.max(tot, 1.0),
          s"n=$n k=$k")
      }
    }
  }

  test("pure tone lands all power in its bin either path") {
    for (n <- Seq(64, 1000)) {
      val f = 5
      val x = Array.tabulate(n)(t => math.cos(2.0 * math.Pi * f * t / n))
      val psd = Fft.halfPsd(x)
      val hot = psd(f - 1)
      assert(math.abs(hot - n.toDouble * n / 4) < 1e-6 * n * n)
      assert(psd.zipWithIndex.filter(_._2 != f - 1).map(_._1).max < 1e-12 * n * n)
    }
  }

  /** The replaced radix-2 core, verbatim: a fresh twiddle table per call. */
  private def freshRadix2(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    if (n <= 1) return
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
    val half = n >> 1
    val twR = new Array[Double](half)
    val twI = new Array[Double](half)
    var t = 0
    while (t < half) {
      val a = -2.0 * math.Pi * t / n
      twR(t) = math.cos(a); twI(t) = math.sin(a)
      t += 1
    }
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

  test("radix2 on warm cached twiddles ≡ a fresh table, bit-for-bit, sizes interleaved") {
    val rng = new scala.util.Random(5)
    val sizes = (0 to 14).map(1 << _)
    // two rounds over a shuffled size order: round 1 builds (or reuses)
    // each size's table, round 2 reads every one warm, with other sizes'
    // transforms in between
    for (round <- 1 to 2; n <- rng.shuffle(sizes)) {
      val re0 = Array.fill(n)(rng.nextGaussian() * 1e3)
      val im0 = Array.fill(n)(if (round == 1) 0.0 else rng.nextGaussian())
      val (gr, gi) = (re0.clone(), im0.clone())
      val (wr, wi) = (re0.clone(), im0.clone())
      Fft.radix2(gr, gi)
      freshRadix2(wr, wi)
      for (k <- 0 until n) {
        assert(java.lang.Double.doubleToRawLongBits(gr(k)) ==
          java.lang.Double.doubleToRawLongBits(wr(k)), s"round $round n=$n k=$k re")
        assert(java.lang.Double.doubleToRawLongBits(gi(k)) ==
          java.lang.Double.doubleToRawLongBits(wi(k)), s"round $round n=$n k=$k im")
      }
    }
  }
}
