package graft.expr

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow

/** tsfel mfcc kernel (r12): hand-oracled against an INDEPENDENT numpy
  * model of tsfel's published algorithm (pre-emphasis → rfft(·, 512)
  * power spectrum → 40-filter mel bank → dB → ortho DCT-II coeffs 1..6 →
  * mean normalization → sinusoidal lifter) at fs = 0.04. The expected
  * vectors were computed by numpy and hard-coded; the inputs are exact
  * closed-form sequences both sides reproduce bit-identically.
  */
class MfccSpec extends AnyFunSuite {

  private val fbank = MfccUtil.filterbank(0.04)

  private def run(x: Array[Double]): Array[Double] = {
    val row = MfccUtil.compute(x, fbank, 6)
      .asInstanceOf[InternalRow]
    Array.tabulate(6)(row.getDouble)
  }

  private def close(got: Array[Double], exp: Array[Double]): Unit =
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"mfcc${i + 1}: got $g expected $e")
    }

  test("ramp window (n=20, zero-pad path) matches the numpy model") {
    val x = Array.tabulate(20)(i => i * 0.5 - 3.0)
    close(run(x), Array(2.368463519, 3.308764482, 1.860470071,
      -3.552974775, -8.774801518, -18.138280598))
  }

  test("sine window (n=300) matches the numpy model") {
    val x = Array.tabulate(300)(i =>
      math.sin(2 * math.Pi * 0.002 * i * 25.0) * 2.0 + 1.0)
    close(run(x), Array(44.984984098, 47.398372654, 2.763209828,
      -67.562650401, -154.893087626, -243.706371006))
  }

  test("Weyl-noise window (n=600 > nfft, truncation path) matches") {
    val x = Array.tabulate(600)(i =>
      ((i.toLong * 2654435761L) % 100000L) / 25000.0 - 2.0)
    close(run(x), Array(-48.458232745, -26.257847340, 91.575996618,
      18.685441393, 115.165048617, 134.702191608))
  }

  test("short window fence: n < 2 yields null") {
    assert(MfccUtil.compute(Array(1.5), fbank, 6) == null)
    assert(MfccUtil.compute(Array.empty[Double], fbank, 6) == null)
  }

  test("filterbank shape invariants (fs=0.04): 40 rows, unit peaks, " +
    "monotone triangular supports") {
    assert(fbank.length == 40)
    fbank.foreach { row =>
      assert(row.length == 257)
      val nz = row.zipWithIndex.filter(_._1 != 0.0)
      assert(nz.nonEmpty)
      // contiguous support
      val ks = nz.map(_._2)
      assert(ks.last - ks.head == ks.length - 1)
      assert(row.forall(w => w >= 0.0 && w <= 1.0))
    }
  }
}
