package graft.expr

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The one window-kernel expression: null elements are skipped for every
  * kernel, equal calls are structurally equal whatever closure they hold,
  * `toString` is deterministic, the SQL registry keeps its signatures, and
  * the ArrayData → `double[]` conversion stays in one place.
  */
class WindowKernelSpec extends SparkSpec {

  private val n = 48
  // small positive integers: the binned and exact SampEn members find
  // matches, and a null read as 0.0 would break every run above 0.5
  private val vals = (0 until n).map(i => math.round(math.sin(i * 0.7) * 3).toDouble + i * 7 % 3 + 4)
  private val idxs = (0 until n).map(i => 1.7e15 + i * 3.6e9)
  /** the same values with a null inserted before every 7th one */
  private def holed(xs: Seq[Double]): Seq[Option[Double]] =
    xs.zipWithIndex.flatMap { case (x, i) =>
      if (i % 7 == 3) Seq(None, Some(x)) else Seq(Some(x)) }

  private def args(k: Kernel, arrays: Seq[Column]): Seq[Column] =
    arrays.take(k.arrays) ++ Seq.fill(k.scalars)(lit(0.5))

  test("every kernel skips null elements: k([a, null, b, …]) ≡ k([a, b, …])") {
    import spark.implicits._
    val df = Seq((vals, idxs, holed(vals), holed(idxs),
        Seq(Option.empty[Double], None), Seq.empty[Double]))
      .toDF("v", "i", "hv", "hi", "allNull", "empty")
    assert(!df.schema("v").dataType.asInstanceOf[ArrayType].containsNull)
    assert(df.schema("hv").dataType.asInstanceOf[ArrayType].containsNull)
    for (k <- Kernels.table) {
      // ltt_fold reads (index, value): the nulls sit at the same positions
      val dense = args(k, if (k.arrays == 2) Seq(col("i"), col("v")) else Seq(col("v")))
      val holey = args(k, if (k.arrays == 2) Seq(col("hi"), col("hv")) else Seq(col("hv")))
      val r = df.select(k(holey: _*), k(dense: _*),
        k(args(k, Seq.fill(2)(col("allNull"))): _*),
        k(args(k, Seq.fill(2)(col("empty"))): _*)).head()
      // rendered, so NaN matches NaN (Double.toString round-trips exactly)
      def same(i: Int, j: Int) = String.valueOf(r.get(i)) == String.valueOf(r.get(j))
      assert(same(0, 1), s"${k.name}: ${r.get(0)} vs ${r.get(1)}")
      assert(same(2, 3), s"${k.name} all-null: ${r.get(2)} vs ${r.get(3)}")
    }
    // the SQL surface, on the example a null used to read as 0.0 in
    GraftFunctions.register(spark)
    val sql = spark.sql("select catch22(array(1.0D, null, 3.0D, 7.0D)), " +
      "catch22(array(1.0D, 3.0D, 7.0D))").head()
    assert(sql.get(0) == sql.get(1))
  }

  private val v = AttributeReference("v", ArrayType(DoubleType, containsNull = false))()
  private val s = AttributeReference("s", DoubleType)()
  private def exprOf(k: Kernel) =
    k.expr(Seq.fill(k.arrays)(v) ++ Seq.fill(k.scalars)(s): _*)

  test("equal kernel calls are semanticEquals, whatever closure they hold") {
    // the table builds fresh kernels (fresh closures) on every call
    for ((a, b) <- Kernels.table.zip(Kernels.table)) {
      assert(a == b && a.hashCode == b.hashCode, a.name)
      assert(exprOf(a).semanticEquals(exprOf(b)), a.name)
      assert(exprOf(a).semanticHash() == exprOf(b).semanticHash(), a.name)
    }
    assert(Kernels.svdEntropy(3, 1, normalize = true) !=
      Kernels.svdEntropy(4, 1, normalize = true))
    assert(!exprOf(Kernels.temporalFold(TemporalKernelUtil.DISTANCE))
      .semanticEquals(exprOf(Kernels.temporalFold(TemporalKernelUtil.AUC))))
    assert(Kernels.kdeEntropy(gauss = true) != Kernels.kdeEntropy(gauss = false))
  }

  test("toString names the kernel and its parameters, never a lambda") {
    for (k <- Kernels.table) {
      val str = exprOf(k).toString
      assert(str.startsWith(s"${k.name}($v"), str)
      assert(!str.contains("Lambda") && !k.toString.contains("Lambda"), str)
      assert(str == exprOf(Kernels.table.find(_.name == k.name).get).toString)
    }
    assert(exprOf(Kernels.svdEntropy(3, 1, normalize = true)).toString ==
      s"svd_entropy($v, 3, 1, true)")
    assert(exprOf(Kernels.ratioBeyond(2.0)).toString == s"ratio_beyond_sigma($v, $s, $s, 2.0)")
  }

  test("SQL kernel arity errors are unchanged") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(Tuple1(vals)).toDF("v").createOrReplaceTempView("__wk")
    for ((bad, msg) <- Seq("mfcc(v)" -> "mfcc expects 3 arguments, got 1",
        "entropy_kde(v, 5)" -> "entropy_kde expects 1 arguments, got 2",
        "spectral_band(v, 4.0)" -> "spectral_band expects 4 arguments, got 2")) {
      val e = intercept[Exception](spark.sql(s"select $bad from __wk").head())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(msg)), s"$bad: got $e")
    }
  }

  test("one conversion point: no per-kernel base trait or ArrayData copy loop in src/main") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new File(".").getAbsolutePath}")
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val copyLoop = """\)\s*=\s*\w+\.getDouble\(\w+\)""".r
    val offenders = for {
      f <- files(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("ArrayDoubleKernel") || line.contains("ArrayScalarKernel") ||
        (f.getName != "WindowKernel.scala" && copyLoop.findFirstIn(line).isDefined)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
