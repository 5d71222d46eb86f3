package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.BitSet

/** A narrowed catch22/catch24 kernel computes exactly the members it is
  * asked for: every read member has the whole kernel's bits, every other
  * member is null, and the narrowing names its members in the kernel's
  * identity.
  */
class Catch22MaskSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(22)
  private val windows: Seq[Array[Double]] =
    Seq(0, 1, 2, 3, 4, 5, 17, 64, 300).map(n => Array.fill(n)(rng.nextGaussian())) ++ Seq(
      Array.fill(40)(2.5), // constant
      Array.tabulate(50)(t => 0.3 * t - 1.0), // linear
      Array.tabulate(64)(t => if (t % 9 == 4) Double.NaN else math.sin(t * 0.4)))

  private def bits(row: InternalRow, f: Int): Option[Long] =
    if (row.isNullAt(f)) None
    else Some(java.lang.Double.doubleToRawLongBits(row.getDouble(f)))

  private def run(k: Kernel, x: Array[Double]): InternalRow =
    k.body(Array(x.clone()), Array.empty[Double]).asInstanceOf[InternalRow]

  for (catch24 <- Seq(false, true)) {
    val whole = Kernels.catch22(catch24)
    val width = Catch22Util.members(catch24).size
    val masks = (0 until width).map(BitSet(_)) ++
      Seq.fill(6)(BitSet((0 until width).filter(_ => rng.nextBoolean()): _*)) :+
      BitSet(0, 1, 2, 3, 6, 7, 8)

    test(s"${whole.name}: each narrowing matches the whole kernel on its members, null elsewhere") {
      for (x <- windows) {
        val all = run(whole, x)
        assert(all.numFields == width)
        for (m <- masks) {
          val got = run(whole.narrow(m), x)
          assert(got.numFields == width)
          for (f <- 0 until width) {
            if (m(f)) assert(bits(got, f) == bits(all, f),
              s"member $f under mask $m at n=${x.length}")
            else assert(got.isNullAt(f), s"unread member $f under mask $m at n=${x.length}")
          }
        }
      }
    }

    test(s"${whole.name}: a narrowing is part of the kernel's identity") {
      val all = Catch22Util.members(catch24)
      assert(whole.params.isEmpty && whole.narrowable)
      assert(whole.narrow(all) == whole)
      val a = whole.narrow(BitSet(0, 1))
      assert(a.params == Seq(BitSet(0, 1)) && a != whole)
      assert(a != whole.narrow(BitSet(0, 2)))
      assert(a == whole.narrow(BitSet(0, 1)))
      // narrowing again only intersects: members it dropped stay dropped
      assert(a.narrow(BitSet(1, 5)) == whole.narrow(BitSet(1)))
      assert(a.narrow(all) == a)
    }
  }

  test("kernels without independent members do not narrow") {
    val k = Kernels.welchRel(4)
    assert(!k.narrowable && (k.narrow(BitSet(0)) eq k))
  }
}
