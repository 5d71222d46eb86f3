package graft.expr

import org.scalatest.funsuite.AnyFunSuite

/** Ricker-CWT wavelet battery + spectral extras (r11 tranche 5):
  * differential against a naive convolution reimplementation, plus
  * hand-computable spectral concentration cases.
  */
class WaveletSpec extends AnyFunSuite {

  private def ricker(points: Int, w: Int): Array[Double] = {
    val amp = 2.0 / (math.sqrt(3.0 * w) * math.pow(math.Pi, 0.25))
    Array.tabulate(points) { i =>
      val t = i - (points - 1) / 2.0
      amp * (1.0 - (t / w) * (t / w)) * math.exp(-t * t / (2.0 * w.toDouble * w))
    }
  }

  /** np.convolve(x, psi, mode='same') reimplemented naively. */
  private def convSame(x: Array[Double], psi: Array[Double]): Array[Double] = {
    val n = x.length; val m = psi.length
    val off = (m - 1) / 2
    Array.tabulate(n) { t =>
      var y = 0.0
      for (j <- 0 until n) {
        val i = t - j + off
        if (i >= 0 && i < m) y += x(j) * psi(i)
      }
      y
    }
  }

  test("wavelet battery matches the naive CWT on random windows") {
    val rnd = new scala.util.Random(5)
    val x = Array.fill(60)(rnd.nextGaussian() * 10 + 3)
    val widths = Seq(1, 2, 3)
    val row = WaveletUtil.compute(x, widths)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val energies = widths.zipWithIndex.map { case (w, wi) =>
      val y = convSame(x, ricker(math.min(10 * w, x.length), w))
      val n = x.length
      val sa = y.map(math.abs).sum / n
      val ss = y.sum
      val s2 = y.map(v => v * v).sum
      assert(math.abs(row.getDouble(1 + 3 * wi) - sa) < 1e-9, s"wam w=$w")
      assert(math.abs(row.getDouble(2 + 3 * wi)
        - math.sqrt((s2 - ss * ss / n) / n)) < 1e-9, s"wsd w=$w")
      assert(math.abs(row.getDouble(3 + 3 * wi)
        - math.sqrt(s2 / n)) < 1e-9, s"wen w=$w")
      s2
    }
    val tot = energies.sum
    val h = -energies.map(_ / tot).filter(_ > 0)
      .map(p => p * math.log(p) / math.log(2.0)).sum
    assert(math.abs(row.getDouble(0) - h) < 1e-9)
  }

  test("wavelet: short window is null") {
    assert(WaveletUtil.compute(Array(1.0), Seq(1, 2)) == null)
  }

  test("band energy concentrates on the driving bin") {
    val n = 64
    val x = Array.tabulate(n)(t => math.sin(2 * math.Pi * 4 * t / n))
    // fs = 64 -> f_k = k; tone at k = 4
    val inBand = SpectralExtrasUtil.compute(x, 64, 3, 5)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(inBand.getDouble(0) > 0.999)
    val outBand = SpectralExtrasUtil.compute(x, 64, 10, 20)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(outBand.getDouble(0) < 1e-3)
    // single-bin magnitude concentration at i = 3 of K = 32:
    // spec_dist_rel = 3/K - 1/2 + (small truncation noise)
    assert(math.abs(inBand.getDouble(1) - (3.0 / 32 - 0.5)) < 1e-3)
  }

  test("spectral extras: zero-energy and short windows are null") {
    assert(SpectralExtrasUtil.compute(
      Array(5.0, 5, 5, 5, 5), 1, 0, 1) == null)
    assert(SpectralExtrasUtil.compute(
      Array(1.0, 2, 3), 1, 0, 1) == null)
  }
}
