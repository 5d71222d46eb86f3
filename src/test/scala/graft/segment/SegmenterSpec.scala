package graft.segment

import java.io.File
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Segment-generation goldens ported from the reference
  * (tests/test_strided_rolling.py:139-211 `test_sequence_stroll_indexing`
  * and :59-118 last-window-full cases). The numeric expectations are
  * engine-independent.
  */
class SegmenterSpec extends SparkSpec {
  private val b04 = Bounds(0, 4) // pd.Series([0..4]) bounds

  private def starts(b: Bounds, w: Double, st: Seq[Double],
                     fin: Boolean = false): Seq[Double] =
    Segmenter.regular(spark, b, w, st, fin, "t").segments
      .orderBy("__seg_start").select("__seg_start")
      .collect().map(_.getDouble(0)).toSeq

  test("W1 start generation, no final window (reference goldens)") {
    assert(starts(b04, 3, Seq(1)) == Seq(0, 1))
    assert(starts(b04, 3, Seq(2)) == Seq(0))
    assert(starts(b04, 3, Seq(3)) == Seq(0))
    assert(starts(b04, 3, Seq(50)) == Seq(0))
    assert(starts(b04, 4, Seq(1)) == Seq(0))
    assert(starts(b04, 5, Seq(1)) == Seq())
    assert(starts(b04, 6, Seq(2)) == Seq())
  }

  test("W1 include_final_window (reference goldens)") {
    assert(starts(b04, 3, Seq(1), fin = true) == Seq(0, 1, 2))
    assert(starts(b04, 3, Seq(2), fin = true) == Seq(0, 2))
    assert(starts(b04, 3, Seq(4), fin = true) == Seq(0, 4))
    assert(starts(b04, 3, Seq(5), fin = true) == Seq(0))
    assert(starts(b04, 4, Seq(1), fin = true) == Seq(0, 1))
    assert(starts(b04, 5, Seq(1), fin = true) == Seq(0))
    assert(starts(b04, 6, Seq(2), fin = true) == Seq(0))
  }

  test("W1 last-window-full boundary (reference :59-91)") {
    // data [0..n-1], window=1000, stride=200, window_idx=end
    def lastEnd(n: Int): Double = {
      val plan = Segmenter.regular(spark, Bounds(0, n - 1), 1000, Seq(200), false, "t")
      plan.segments.orderBy("__seg_start").select("__seg_end")
        .collect().map(_.getDouble(0)).last
    }
    assert(lastEnd(2198) == 2000)
    assert(lastEnd(2199) == 2000)
    assert(lastEnd(2200) == 2000)
    assert(lastEnd(2201) == 2200)
    assert(lastEnd(2202) == 2200)
  }

  test("W2 multi-stride union is deduped and sorted") {
    assert(starts(Bounds(0, 10), 2, Seq(2, 3)) == Seq(0, 2, 3, 4, 6, 8))
    // duplicate strides collapse (M5)
    assert(starts(Bounds(0, 10), 2, Seq(2, 2)) == Seq(0, 2, 4, 6, 8))
  }

  test("W5 half-open assignment: row at segment end is excluded") {
    import spark.implicits._
    val rows = Seq(0.0, 1.0, 2.0, 3.0, 4.0).toDF("__idx")
      .withColumn("__v", org.apache.spark.sql.functions.col("__idx"))
    val plan = Segmenter.regular(spark, b04, 3, Seq(1), false, "t")
    val assigned = Segmenter.assign(rows, plan)
      .groupBy("__seg_id").count().orderBy("__seg_id")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // [0,3) -> {0,1,2}; [1,4) -> {1,2,3}
    assert(assigned == Seq((0.0, 3L), (1.0, 3L)))
  }

  test("W6 anchors") {
    intercept[IllegalArgumentException](Segmenter.anchor("nope"))
  }

  test("a -Inf index bound, or an infinite grid bound, fails loudly") {
    // NaN and +Inf index values: FeatureCollectionSpec, through calculate
    import spark.implicits._
    import graft.core.Series
    val s = Series("v", ((0 until 10).map(_.toDouble) :+ Double.NegativeInfinity)
      .map((_, 1.0)).toDF("idx", "v"), "idx", "v")
    val e = intercept[IllegalArgumentException](Segmenter.bounds(Seq(s)))
    assert(e.getMessage.contains("series 'v' has a non-finite index bound"), e.getMessage)
    intercept[IllegalArgumentException](
      Segmenter.regular(spark, Bounds(0, Double.PositiveInfinity), 3, Seq(1), false, "t"))
  }

  test("one window-grid arithmetic: segment/ keeps no Column-DSL copy of it") {
    // which windows hold a row, and how many a grid has, live in
    // graft.expr.AssignKernelUtil; the segmenter explodes its kernel
    val root = new File("src/main/scala/graft/segment")
    assert(root.isDirectory, s"source root not found from ${new File(".").getAbsolutePath}")
    val banned = Seq("nbSegments", "sequence(", "transform(", "array_distinct")
    val offenders = for {
      f <- root.listFiles().toSeq if f.getName.endsWith(".scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("P3 bound methods") {
    import spark.implicits._
    import graft.core.Series
    val a = Series("a", Seq((0.0, 1.0), (10.0, 1.0)).toDF("idx", "a"), "idx", "a")
    val b = Series("b", Seq((2.0, 1.0), (8.0, 1.0)).toDF("idx", "b"), "idx", "b")
    assert(Segmenter.bounds(Seq(a, b), "inner") == Bounds(2, 8))
    assert(Segmenter.bounds(Seq(a, b), "inner-outer") == Bounds(2, 10))
    assert(Segmenter.bounds(Seq(a, b), "outer") == Bounds(0, 10))
  }
}
