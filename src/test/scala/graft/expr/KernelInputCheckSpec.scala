package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._

/** Every array<double> window kernel (the whole [[Kernels.table]]) rejects a
  * wrongly-typed input at analysis, with an error naming the kernel — never
  * a ClassCastException inside a task.
  */
class KernelInputCheckSpec extends SparkSpec {

  private def frame = spark.range(3).select(col("id").as("b"),
    array(lit(1), lit(2)).as("ai"), array(lit(1.0), lit(2.0)).as("ad"),
    lit(0.5).as("d"))

  private def rejects(k: Kernel, args: Column*): Unit = {
    val err = intercept[AnalysisException] {
      frame.select(k(args: _*))
    }
    assert(err.getMessage.contains(s"${k.name} requires"),
      s"${k.name}: ${err.getMessage}")
  }

  test("unary and binary kernels reject bigint and array<int> inputs, naming the kernel") {
    for (k <- Kernels.table) {
      val good = Seq.fill(k.arrays)(col("ad")) ++ Seq.fill(k.scalars)(col("d"))
      // each array slot gets a bigint / array<int>, each scalar slot a bigint
      for (i <- 0 until k.arrays; bad <- Seq("b", "ai"))
        rejects(k, good.updated(i, col(bad)): _*)
      for (i <- k.arrays until good.length)
        rejects(k, good.updated(i, col("b")): _*)
      // the well-typed call still resolves
      frame.select(k(good: _*))
    }
  }
}
