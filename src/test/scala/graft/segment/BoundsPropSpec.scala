package graft.segment

import java.lang.Double.doubleToRawLongBits
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.SparkSpec
import graft.core.Series

/** Property tests for `Segmenter.summary` and the bounds read off it: its
  * one-job per-partition fold returns what Spark's `agg(min, max)` returns,
  * bit for bit, and the row count `count()` returns; the bounds fail the
  * same way on series they cannot segment, and run one Spark job per
  * distinct source.
  */
class BoundsPropSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("idx", DoubleType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  /** `idx` values in `parts` partitions, in order. */
  private def frame(idx: Seq[Option[Double]], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      idx.map(t => Row(t.map(Double.box).orNull, 1.0)), parts), schema)

  private def series(df: DataFrame) = Series("v", df, "idx", "v")

  /** (min, max) of `__idx` as Spark's aggregate returns them. */
  private def aggregated(s: Series): (Double, Double) = {
    val r = s.internal.agg(min(col("__idx")), max(col("__idx"))).head()
    (r.getDouble(0), r.getDouble(1))
  }

  private def bits(p: (Double, Double)) =
    (doubleToRawLongBits(p._1), doubleToRawLongBits(p._2))

  private def folded(s: Series): (Double, Double) = {
    val b = Segmenter.bounds(Seq(s), "outer")
    (b.start, b.end)
  }

  /** 30 seeded random series: nulls, duplicates, negatives, and every third
    * one over more partitions than rows. Each comes with its case number and
    * partition count.
    */
  private def randomSeries(): Seq[(Int, Series, Int)] = {
    val rnd = new scala.util.Random(42)
    (1 to 30).map { i =>
      val n = 1 + rnd.nextInt(40)
      val scale = math.pow(10, rnd.nextInt(7) - 2)
      val drawn = scala.collection.mutable.ArrayBuffer.empty[Double]
      val idx = (0 until n).map { _ =>
        rnd.nextInt(6) match {
          case 0 => None
          case 1 if drawn.nonEmpty => Some(drawn(rnd.nextInt(drawn.length)))
          case _ =>
            val t = (rnd.nextDouble() - 0.5) * scale
            drawn += t
            Some(t)
        }
      } :+ Some((rnd.nextDouble() - 0.7) * scale)
      val parts = if (i % 3 == 0) idx.length + 1 + rnd.nextInt(5) else 1 + rnd.nextInt(4)
      (i, series(frame(rnd.shuffle(idx), parts)), parts)
    }
  }

  test("the fold equals agg(min, max) bit for bit: nulls, duplicates, negatives, more partitions than rows") {
    randomSeries().foreach { case (i, s, parts) =>
      assert(bits(folded(s)) == bits(aggregated(s)),
        s"case $i: ${folded(s)} vs ${aggregated(s)} over $parts partitions")
    }
  }

  test("the fold's n equals count(): nulls, duplicates, negatives, more partitions than rows") {
    randomSeries().foreach { case (i, s, parts) =>
      val rows = Segmenter.summary(s).map(_.n)
      assert(rows.contains(s.internal.count()), s"case $i: n $rows over $parts partitions")
    }
  }

  test("an empty or all-null series has no summary") {
    for (idx <- Seq(Nil, Seq(None, None, None)); parts <- Seq(1, 4))
      assert(Segmenter.summary(series(frame(idx, parts))).isEmpty, s"$idx over $parts")
  }

  test("signed zeros compare equal and the first one seen is kept, as in agg") {
    for (idx <- Seq(Seq(0.0, -0.0, 1.0), Seq(-0.0, 0.0, 1.0), Seq(-1.0, 0.0, -0.0),
        Seq(-1.0, -0.0, 0.0))) {
      val s = series(frame(idx.map(Some(_)), 1))
      assert(bits(folded(s)) == bits(aggregated(s)), idx)
    }
    assert(bits(folded(series(frame(Seq(Some(-0.0), Some(0.0)), 1)))) ==
      bits((-0.0, -0.0)))
  }

  private def failure(idx: Seq[Option[Double]], parts: Int = 2): String =
    intercept[IllegalArgumentException](folded(series(frame(idx, parts)))).getMessage

  test("empty and all-null series fail with the series named") {
    for (idx <- Seq(Nil, Seq(None, None, None))) {
      val m = failure(idx)
      assert(m == "requirement failed: series 'v' has no non-null indexed rows — " +
        "cannot derive segmentation bounds", m)
    }
  }

  test("a NaN or infinite index fails with its bounds, NaN ranked highest") {
    for ((idx, shown) <- Seq(
        Seq(Some(1.0), Some(Double.NaN), Some(-2.0)) -> "[-2.0, NaN]",
        Seq(Some(Double.NaN), Some(Double.NaN)) -> "[NaN, NaN]",
        Seq(Some(1.0), None, Some(Double.PositiveInfinity)) -> "[1.0, Infinity]",
        Seq(Some(Double.NegativeInfinity), Some(3.0)) -> "[-Infinity, 3.0]",
        Seq(Some(Double.PositiveInfinity), Some(Double.NaN)) -> "[Infinity, NaN]")) {
      val m = failure(idx, parts = 3)
      assert(m == s"requirement failed: series 'v' has a non-finite index bound $shown " +
        "— cannot segment NaN or infinite indexes", m)
      // the same pair agg(min, max) returns
      val a = aggregated(series(frame(idx, 3)))
      assert(shown == s"[${a._1}, ${a._2}]")
    }
  }

  test("one Spark job per distinct source, whatever the partition count") {
    val a = frame((0 until 50).map(i => Some(i.toDouble)), 16)
    val b = frame((0 until 20).map(i => Some(-i.toDouble)), 3)
    def jobs(ss: Seq[Series]): Int = jobsOf(Segmenter.bounds(ss, "outer"))._2
    assert(jobs(Seq(series(a))) == 1)
    // a second series over the same frame and index is the same source
    assert(jobs(Seq(series(a), Series("w", a, "idx", "v"), series(b))) == 2)
  }
}
