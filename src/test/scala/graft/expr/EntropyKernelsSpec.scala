package graft.expr

import org.scalatest.funsuite.AnyFunSuite

/** r11 tranche-4 kernels: LZ76, SVD entropy (closed-form vs Jacobi),
  * exact SampEn vs a spec-local naive reimplementation, MSPE vs the
  * hand-computed Bandt–Pompe entropy.
  */
class EntropyKernelsSpec extends AnyFunSuite {
  import EntropyKernelUtil._

  private def bits(s: String): Array[Byte] =
    s.map(c => (c - '0').toByte).toArray

  test("lz76 on the canonical examples") {
    // antropy's documentation example: lziv_complexity('1001111011000010')
    // == 6 (phrases 1|0|011110|1100|0010)
    assert(lz76(bits("1001111011000010")) == 6)
    // periodic: 0|1|010101...
    assert(lz76(bits("0101010101")) == 3)
    // constant: 0|000
    assert(lz76(bits("0000")) == 2)
    assert(lz76(bits("01")) == 2)
    assert(lz76(bits("0")) == 1)
    assert(lz76(Array.empty[Byte]) == 0)
  }

  test("eigen3 closed form matches Jacobi on random symmetric matrices") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val m = Array.fill(3, 3)(0.0)
      for (i <- 0 until 3; j <- i until 3) {
        val v = rnd.nextGaussian() * 100
        m(i)(j) = v; m(j)(i) = v
      }
      val norm = m.flatten.map(math.abs).max.max(1.0)
      val cf = eigen3(m(0)(0), m(0)(1), m(0)(2), m(1)(1), m(1)(2), m(2)(2))
        .sorted
      val jc = jacobiEigen(m.map(_.clone()), 3).sorted
      for (k <- 0 until 3)
        assert(math.abs(cf(k) - jc(k)) < 1e-9 * norm,
          s"eig mismatch: ${cf.toList} vs ${jc.toList}")
    }
  }

  test("sampEnExact matches a naive reimplementation") {
    def naive(x: Array[Double], m: Int, r: Double): Double = {
      val n = x.length
      def count(mm: Int): Long = {
        var c = 0L
        for (i <- 0 until n - m; j <- i + 1 until n - m)
          if ((0 until mm).forall(k => math.abs(x(i + k) - x(j + k)) <= r))
            c += 1
        c
      }
      val b = count(m); val a = count(m + 1)
      if (a == 0 || b == 0) Double.NaN else -math.log(a.toDouble / b)
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val x = Array.fill(40)(rnd.nextDouble() * 10)
      val got = sampEnExact(x, x.length, 2, 2.5)
      val exp = naive(x, 2, 2.5)
      assert((got.isNaN && exp.isNaN) || math.abs(got - exp) < 1e-12)
    }
    // past the 64-template switch the banded counter runs (r17): counts
    // are integers, so the result must be BIT-identical to the naive scan
    for (t <- 1 to 10) {
      val n = 80 + t * 17
      val x = Array.fill(n)(rnd.nextDouble() * 10)
      for (m <- Seq(1, 2, 3); r <- Seq(0.4, 2.5)) {
        val got = sampEnExact(x, n, m, r)
        val exp = naive(x, m, r)
        assert((got.isNaN && exp.isNaN) ||
          java.lang.Double.doubleToLongBits(got) ==
            java.lang.Double.doubleToLongBits(exp), s"n=$n m=$m r=$r")
      }
    }
    // duplicate-heavy values (band full of ties) stay exact
    val dup = Array.tabulate(120)(i => (i % 5).toDouble)
    assert(java.lang.Double.doubleToLongBits(sampEnExact(dup, 120, 2, 1.0)) ==
      java.lang.Double.doubleToLongBits(naive(dup, 2, 1.0)))
    // a NaN sample routes to the scan fallback, whose NaN semantics are
    // ASYMMETRIC by the kernel's long-standing contract: the B template
    // check is `!(abs > r)` (NaN diff = match) while the A extension is
    // `abs <= r` (NaN diff = no match) — the spec-local `naive` above uses
    // `<= r` throughout and is deliberately NOT the expectation here
    def kernelNaN(x: Array[Double], m: Int, r: Double): Double = {
      val nT = x.length - m
      var a = 0L; var b = 0L
      for (i <- 0 until nT; j <- i + 1 until nT)
        if ((0 until m).forall(k => !(math.abs(x(i + k) - x(j + k)) > r))) {
          b += 1
          if (math.abs(x(i + m) - x(j + m)) <= r) a += 1
        }
      if (a == 0 || b == 0) Double.NaN else -math.log(a.toDouble / b)
    }
    val withNaN = Array.fill(100)(rnd.nextDouble() * 10)
    withNaN(37) = Double.NaN
    val gotN = sampEnExact(withNaN, 100, 2, 2.5)
    val expN = kernelNaN(withNaN, 2, 2.5)
    assert((gotN.isNaN && expN.isNaN) ||
      java.lang.Double.doubleToLongBits(gotN) ==
        java.lang.Double.doubleToLongBits(expN))
  }

  test("svd entropy: degenerate windows give 0 or null") {
    def arr(xs: Double*) = xs.toArray
    // constant window: rank-1 embedding, single nonzero singular value
    assert(svdEntropy(arr(1, 1, 1, 1, 1), 3, 1, false) == 0.0)
    // alternating +-1: rank-1 again
    assert(svdEntropy(arr(1, -1, 1, -1, 1, -1), 3, 1, false) == 0.0)
    // all-zero: no spectrum
    assert(svdEntropy(arr(0, 0, 0, 0), 3, 1, false) == null)
    // too short for the embedding
    assert(svdEntropy(arr(1, 2), 3, 1, false) == null)
    // normalized entropy of an order-3 spectrum is in [0, 1]
    val rnd = new scala.util.Random(3)
    val x = Array.fill(50)(rnd.nextGaussian())
    val h = svdEntropy(x, 3, 1, true)
      .asInstanceOf[Double]
    assert(h > 0.0 && h <= 1.0)
  }

  test("kde/gauss entropy: numpy-generated vectors, guards, scale invariance") {
    def arr(xs: Double*) = xs.toArray
    def d(a: Any) = a.asInstanceOf[java.lang.Double].doubleValue()
    // vectors generated by an independent numpy model of the documented
    // convention (Silverman bandwidth on sample std incl. self term; gauss
    // pdf on population std; entropy normalized by log2 n)
    val v1 = arr(1.0, 2.0, 4.0, 7.0, 11.0, 11.5, 3.25, -2.0)
    assert(math.abs(d(kdeEntropy(v1, gauss = false)) - 0.9860896266115526) < 1e-12)
    assert(math.abs(d(kdeEntropy(v1, gauss = true)) - 0.9577072025650665) < 1e-12)
    val v4 = (0 until 25).map(i => math.sin(i * 0.9) + 0.2 * i).toArray
    assert(math.abs(d(kdeEntropy(v4, gauss = false)) - 0.9896941356462368) < 1e-12)
    assert(math.abs(d(kdeEntropy(v4, gauss = true)) - 0.9720302026858585) < 1e-12)
    // guards: constant window -> null (kde: singular covariance) / 0 (gauss);
    // n == 2 -> 0 (tsfel's log2(len)==1 guard); n < 2 -> null
    assert(kdeEntropy(arr(0.5, 0.5, 0.5, 0.5, 0.5, 0.5), gauss = false) == null)
    assert(d(kdeEntropy(arr(0.5, 0.5, 0.5), gauss = true)) == 0.0)
    assert(d(kdeEntropy(arr(1.0, 5.0), gauss = false)) == 0.0)
    assert(d(kdeEntropy(arr(1.0, 5.0), gauss = true)) == 0.0)
    assert(kdeEntropy(arr(3.0), gauss = false) == null)
    // non-finite samples poison every probability -> null, never a
    // confident-looking 0.0
    assert(kdeEntropy(arr(1.0, Double.NaN, 3.0), gauss = false) == null)
    assert(kdeEntropy(arr(1.0, Double.PositiveInfinity, 3.0), gauss = true) == null)
    // scale/shift invariance (what makes tsfel's max-abs rescale a no-op)
    val v1s =
      Array(1.0, 2.0, 4.0, 7.0, 11.0, 11.5, 3.25, -2.0).map(x => x * 137.0 - 40.0)
    assert(math.abs(d(kdeEntropy(v1s, gauss = false)) -
      d(kdeEntropy(v1, gauss = false))) < 1e-9)
  }

  test("svd entropy is scale-invariant down to tiny amplitudes (relative Jacobi tol)") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(60)(rnd.nextGaussian())
    def h(scale: Double, order: Int): Double =
      svdEntropy(base.map(_ * scale), order, 1, false)
        .asInstanceOf[Double]
    for (order <- Seq(2, 3, 4)) {
      val h1 = h(1.0, order)
      // the old ABSOLUTE 1e-28 sweep cutoff skipped every rotation at
      // amplitude ~1e-10 (Gram entries ~1e-17), returning ~log2(order)
      assert(math.abs(h(1e-10, order) - h1) < 1e-6,
        s"order $order: tiny-amplitude entropy ${h(1e-10, order)} != $h1")
      assert(math.abs(h(1e8, order) - h1) < 1e-6)
    }
  }

  test("mspe scale 1 equals plain permutation entropy; known hand case") {
    // (1,2,3,2,1,2): four distinct patterns over four tuples -> 2 bits
    val h = permEntropy(Array(1, 2, 3, 2, 1, 2.0), 6, 3)
    assert(math.abs(h - 2.0) < 1e-12)
    // coarse-grain at scale 2 of (1,3, 5,1, 2,2, 4,0) -> (2,3,2,2):
    // tuples (2,3,2),(3,2,2): patterns argsort -> distinct -> H = 1 bit
    val row = mspe(Array(1, 3, 5, 1, 2, 2, 4, 0.0), 3, 2)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
  }
}
