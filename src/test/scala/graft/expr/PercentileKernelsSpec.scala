package graft.expr

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential spec for the r18 percentile kernels.
  *
  * [[Kernels.percentiles]] / [[Kernels.percentileSpan]] must reproduce the REPLACED
  * `percentile(v, q)` aggregate bit-for-bit through a real grouped
  * aggregation: the kernel's sort + interpolation is pinned to
  * `PercentileBase.getPercentile` ((n−1)·q position, (hi−pos)·lo +
  * (pos−lo)·hi interpolation, equal-value short-circuit), so every random
  * and degenerate battery below compares raw double BITS, not rounded
  * values.
  */
class PercentileKernelsSpec extends SparkSpec {

  private def bits(d: java.lang.Double): Long =
    if (d == null) Long.MinValue
    else java.lang.Double.doubleToLongBits(d.doubleValue())

  private val QS = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)

  test("PercentilesK ≡ percentile aggregate through aggregation (random + ties)") {
    import spark.implicits._
    val r = new scala.util.Random(43)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, java.lang.Double)]()
    for (g <- 0 until 60; _ <- 0 until (1 + r.nextInt(40))) {
      val v: java.lang.Double = r.nextInt(6) match {
        case 0 => null // percentile skips nulls; collect_list must too
        case 1 => r.nextInt(4).toDouble // heavy ties
        case 2 => -0.0
        case 3 => 0.0
        case _ => r.nextGaussian() * 100
      }
      rows += ((g, v))
    }
    // plus degenerate groups: singleton, two elements, all-null, all-equal
    rows += ((1000, 7.5))
    rows += ((1001, 1.0)); rows += ((1001, 2.0))
    rows += ((1002, null))
    for (_ <- 0 until 5) rows += ((1003, 3.25))
    val df = rows.toSeq.toDF("g", "v")

    val oldAggs = QS.zipWithIndex.map { case (q, i) =>
      percentile(col("v"), lit(q)).as(s"o$i") }
    val newAgg = Kernels.percentiles(QS)(collect_list(col("v").cast("double"))).as("p")
    val out = df.groupBy("g")
      .agg(newAgg, oldAggs: _*)
      .collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      val arr = if (row.isNullAt(1)) null
        else row.getSeq[Double](1)
      QS.indices.foreach { i =>
        val old = if (row.isNullAt(2 + i)) null
          else java.lang.Double.valueOf(row.getDouble(2 + i))
        val nw = if (arr == null) null else java.lang.Double.valueOf(arr(i))
        assert(bits(nw) == bits(old),
          s"g=${row.get(0)} q=${QS(i)}: kernel=$nw aggregate=$old")
      }
    }
  }

  test("PercentileSpanK ≡ percentile(hi) − percentile(lo) through aggregation") {
    import spark.implicits._
    val r = new scala.util.Random(44)
    val rows = for {
      g <- 0 until 40; _ <- 0 until (1 + r.nextInt(25))
    } yield (g, if (r.nextInt(5) == 0) r.nextInt(3).toDouble
             else r.nextGaussian() * 10)
    val df = rows.toDF("g", "v")
    val out = df.groupBy("g")
      .agg(Kernels.percentileSpan(0.25, 0.75)(collect_list(col("v").cast("double")))
             .as("nw"),
        (percentile(col("v"), lit(0.75)) - percentile(col("v"), lit(0.25)))
          .as("old"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      assert(bits(row.getDouble(1)) == bits(row.getDouble(2)),
        s"g=${row.get(0)}: span kernel=${row.get(1)} aggregates=${row.get(2)}")
    }
  }

  test("iqr/median/quantile FeatureFuncs survive an empty-ish window (null on empty)") {
    import spark.implicits._
    // one group whose every value is null — the aggregate path returned
    // null; the kernel path must too (empty collected array → null)
    val df = Seq((1, null: java.lang.Double), (1, null: java.lang.Double))
      .toDF("g", "v")
    val row = df.groupBy("g").agg(
      Kernels.percentiles(Seq(0.5))(collect_list(col("v").cast("double"))).as("p"),
      Kernels.percentileSpan(0.25, 0.75)(collect_list(col("v").cast("double")))
        .as("s"),
      percentile(col("v"), lit(0.5)).as("o")).collect().head
    assert(row.isNullAt(1) && row.isNullAt(2) && row.isNullAt(3))
  }

  test("kernels skip null ARRAY ELEMENTS like Percentile.update (r19 guard)") {
    import spark.implicits._
    // The collect_list feeds never contain null elements, but the kernels
    // accept array<double> with containsNull=true — a foreign caller
    // handing [null, 1.0, null, 3.0] must get the percentiles of
    // [1.0, 3.0], not of [0.0, 1.0, 0.0, 3.0]; an all-null array is null.
    val df = Seq(
      (1, Seq[java.lang.Double](null, 1.0, null, 3.0)),
      (2, Seq[java.lang.Double](null, null))
    ).toDF("g", "a")
    val out = df.select(col("g"),
      Kernels.percentiles(Seq(0.0, 0.5, 1.0))(col("a").cast("array<double>")).as("p"),
      Kernels.percentileSpan(0.0, 1.0)(col("a").cast("array<double>")).as("s"))
      .collect().sortBy(_.getInt(0))
    val p1 = out(0).getSeq[Double](1)
    assert(p1 == Seq(1.0, 2.0, 3.0), s"got $p1")
    assert(out(0).getDouble(2) == 2.0)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }
}
