package graft.proc

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Series

/** Grid-edge regressions for the resampler (the bulk semantics are
  * oracle-checked by q47/q48).
  */
class ResampleSpec extends SparkSpec {

  test("the final grid point survives FP division (0.3/0.1 case)") {
    import spark.implicits._
    // (0.3 - 0.0) / 0.1 = 2.9999999999999996 — a bare floor dropped the
    // documented last-step-at-max grid row
    val df = Seq((0.0, 1.0), (0.3, 9.0)).toDF("i", "v")
    val out = Resample.asofGrid(Series("v", df, "i", "v"), 0.1)
      .orderBy("i").collect()
    assert(out.length == 4, s"expected grid 0.0,0.1,0.2,0.3 got ${out.toSeq}")
    // the last grid coordinate is lo + 3*0.1 = 0.30000000000000004 (plain
    // FP accumulation); what matters is that the point EXISTS and carries
    // the sample sitting at 0.3
    assert(math.abs(out.last.getDouble(0) - 0.3) < 1e-12)
    assert(out.last.getDouble(1) == 9.0)
  }

  test("zero step and empty series raise clear errors") {
    import spark.implicits._
    val df = Seq((0.0, 1.0)).toDF("i", "v")
    val e1 = intercept[IllegalArgumentException](
      Resample.asofGrid(Series("v", df, "i", "v"), 0.0))
    assert(e1.getMessage.contains("step"))
    val empty = Seq.empty[(Double, Double)].toDF("i", "v")
    val e2 = intercept[IllegalArgumentException](
      Resample.asofGrid(Series("v", empty, "i", "v"), 1.0))
    assert(e2.getMessage.contains("no non-null"))
  }

  test("a NaN or infinite index bound raises instead of shrinking the grid") {
    import spark.implicits._
    def series(extra: Seq[Double]) = Series("v",
      ((0 until 10).map(_.toDouble) ++ extra).map((_, 1.0)).toDF("i", "v"), "i", "v")
    assert(Resample.asofGrid(series(Nil), 1.0).count() == 10)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val e = intercept[IllegalArgumentException](Resample.asofGrid(series(Seq(bad)), 1.0))
      assert(e.getMessage.contains("series 'v' has a non-finite index bound"),
        s"$bad: ${e.getMessage}")
    }
  }
}
