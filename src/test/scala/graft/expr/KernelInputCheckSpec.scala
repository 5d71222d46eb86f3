package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Every array<double> window kernel (the `ArrayDoubleKernel` unary and
  * `ArrayScalarKernel` binary bases) rejects a wrongly-typed input at
  * analysis, with an error naming the kernel — never a ClassCastException
  * inside a task.
  */
class KernelInputCheckSpec extends SparkSpec {

  private val unary: Seq[Expression => Expression] = Seq(
    HjorthFoldK(_), PetrosianNdK(_), NeighbourhoodPeaksK(_, 1),
    HistCountsK(_, 5), TemporalFoldK(_, 0, 1.0), BinnedEntropyK(_, 5),
    SpectralEntropy(_, true), PercentilesK(_, Seq(0.5)),
    PercentileSpanK(_, 0.25, 0.75), Catch22Slice(_), Catch22Slice(_, true),
    MfccSlice(_, 100.0, 12), WelchRel(_, 4), SpectralShape(_, 100.0),
    SvdEntropy(_, 3, 1, true), KdeEntropy(_, true), LzivComplexity(_, true),
    Mspe(_, 3, 2), MseExact(_, 2, 0.2, 2), Wpe(_, 3, true),
    PermEntropyK(_, 3, true), ShannonFreq(_), WaveletSlice(_, Seq(1, 2)),
    SpectralExtras(_, 100.0, 1.0, 10.0))

  private val binary: Seq[(Expression, Expression) => Expression] = Seq(
    CrossingsK(_, _), AutocorrCovK(_, _, 1), LongestStrikeK(_, _),
    IndexMassK(_, _, 0.5), ApenBinned(_, _, 2), SampenBinned(_, _, 2))

  private def frame = spark.range(3).select(col("id").as("b"),
    array(lit(1), lit(2)).as("ai"), array(lit(1.0), lit(2.0)).as("ad"),
    lit(0.5).as("d"))

  private def rejects(build: Seq[Column] => Expression, args: Column*): Unit = {
    val e = build(args)
    val err = intercept[AnalysisException] {
      frame.select(ColumnBridge.column(e))
    }
    assert(err.getMessage.contains(s"${e.prettyName} requires"),
      s"${e.prettyName}: ${err.getMessage}")
  }

  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  test("unary and binary kernels reject bigint and array<int> inputs, naming the kernel") {
    for (k <- unary; bad <- Seq("b", "ai")) {
      rejects(a => k(ex(a.head)), col(bad))
    }
    for (k <- binary) {
      for (bad <- Seq("b", "ai")) rejects(a => k(ex(a(0)), ex(a(1))), col(bad), col("d"))
      rejects(a => k(ex(a(0)), ex(a(1))), col("ad"), col("b"))
    }
    // the well-typed call still resolves
    frame.select(ColumnBridge.column(ShannonFreq(ex(col("ad")))),
      ColumnBridge.column(CrossingsK(ex(col("ad")), ex(col("d")))))
  }
}
