package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.SparkSpec
import graft.core.{Gates, NaryFuncs, Series, Win}

/** Differential spec for the r19 same-source TUPLE fusion in
  * `FeatureCollection.calculate`: when every series of an n-ary feature
  * wraps one frame and index column, the fused single-scan wide assignment
  * must be row-identical to the generic per-series assign + (segment,
  * index) join plan (`Gates.scoped(fuse = false)`), across null values
  * on any tuple member, multiple strides, includeFinalWindow, and 2- and
  * 3-series tuples. Indexes are unique — a duplicated index cross-
  * multiplies in the JOIN plan only (documented in the fusion's gate
  * comment), so it is not differential material. The gate's negative
  * (genuinely different sources) keeps the generic plan.
  */
class NaryFusedSpec extends SparkSpec {
  import spark.implicits._

  private def r9(a: Any): Any = a match {
    case d: Double => math.rint(d * 1e9) / 1e9
    case x => x
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("idx").collect().toSeq.map(_.toSeq.map(r9))

  private def randomFrame(n: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    var idx = 0L
    (0 until n).map { _ =>
      idx += 1 + r.nextInt(3)
      (idx,
        if (r.nextInt(7) == 0) null else r.nextGaussian() * 5: java.lang.Double,
        if (r.nextInt(9) == 0) null else r.nextGaussian() * 3: java.lang.Double,
        (1.0 + r.nextInt(5)): java.lang.Double)
    }.toDF("idx", "a", "b", "w").repartition(5)
  }

  private def compare(fc: FeatureCollection, data: Seq[Series]): Unit = {
    val fused = fc.calculate(data)
    val generic = Gates.scoped(fuse = false) { fc.calculate(data) }
    assert(fused.columns.toSeq == generic.columns.toSeq)
    val (f, g) = (rowsOf(fused), rowsOf(generic))
    assert(f.size == g.size, s"rows: fused=${f.size} generic=${g.size}")
    f.zip(g).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  fused:   $x\n  generic: $y")
    }
  }

  test("2-series corr/covar tuple: fused ≡ join plan (nulls, 2 strides)") {
    val df = randomFrame(300, 51)
    val win = Some(Win.seq(40L))
    val st = Some(Seq(Win.seq(10L), Win.seq(15L)))
    val fc = FeatureCollection(
      NaryFeatureDescriptor(NaryFuncs.corr2, Seq("a", "b"), win, st),
      NaryFeatureDescriptor(NaryFuncs.covar, Seq("a", "b"), win, st))
    compare(fc, Seq(Series("a", df, "idx", "a"), Series("b", df, "idx", "b")))
  }

  test("3-series wcorr tuple: fused ≡ join plan, includeFinalWindow") {
    val df = randomFrame(400, 52)
    val fc = FeatureCollection(
      NaryFeatureDescriptor(NaryFuncs.wcorr, Seq("a", "b", "w"),
        Some(Win.seq(60L)), Some(Seq(Win.seq(20L)))))
    val out = fc.calculate(
      Seq(Series("a", df, "idx", "a"), Series("b", df, "idx", "b"),
        Series("w", df, "idx", "w")), includeFinalWindow = true)
    val gen = Gates.scoped(fuse = false) {
      fc.calculate(
        Seq(Series("a", df, "idx", "a"), Series("b", df, "idx", "b"),
          Series("w", df, "idx", "w")), includeFinalWindow = true)
    }
    assert(rowsOf(out) == rowsOf(gen))
  }

  test("separate reads of one path fuse (sameResult); different sources do not change results") {
    val dir = java.nio.file.Files.createTempDirectory("naryfused").toString
    randomFrame(200, 53).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val p1 = spark.read.parquet(s"$dir/t.parquet")
    val p2 = spark.read.parquet(s"$dir/t.parquet")
    val fc = FeatureCollection(
      NaryFeatureDescriptor(NaryFuncs.corr2, Seq("a", "b"),
        Some(Win.seq(30L)), Some(Seq(Win.seq(10L)))))
    compare(fc, Seq(Series("a", p1, "idx", "a"), Series("b", p2, "idx", "b")))
    // a filtered second source must NOT fuse — the gate falls back and the
    // two entry points agree trivially
    val p3 = p1.where(col("idx") < 200)
    val gated = fc.calculate(
      Seq(Series("a", p1, "idx", "a"), Series("b", p3, "idx", "b")))
    val gen = Gates.scoped(fuse = false) {
      fc.calculate(
        Seq(Series("a", p1, "idx", "a"), Series("b", p3, "idx", "b")))
    }
    assert(rowsOf(gated) == rowsOf(gen))
  }

  test("one frame under two DST gap policies does not fuse: ≡ join plan") {
    // wall 02:30 on 2024-03-31 falls in the Brussels spring gap; the two
    // series map it to different instants (01:00Z vs 1 µs earlier), so the
    // per-series index differs on that row and one shared assignment under
    // the first series' policy would pair values the join plan keeps apart
    val walls = Seq("00:00", "00:20", "00:40", "01:00", "01:20", "01:40",
      "02:30", "03:20", "03:40", "04:00", "04:20", "04:40")
      .map(t => s"2024-03-31 $t:00")
    val r = new scala.util.Random(54)
    val df = walls.map(w => (w, r.nextGaussian(), r.nextGaussian()))
      .toDF("wall", "a", "b")
      .withColumn("wall", col("wall").cast(TimestampNTZType))
    val tz = Some("Europe/Brussels")
    val fc = FeatureCollection(
      NaryFeatureDescriptor(NaryFuncs.dot, Seq("a", "b"),
        Some(Win.time("2h")), Some(Seq(Win.time("1h")))))
    val data = Seq(
      Series("a", df, "wall", "a", tz = tz, tzNonexistent = "shift_forward"),
      Series("b", df, "wall", "b", tz = tz, tzNonexistent = "shift_backward"))
    def rows(out: DataFrame) =
      out.orderBy("wall").collect().toSeq.map(_.toSeq.map(r9))
    assert(rows(fc.calculate(data, includeFinalWindow = true)) ==
      rows(Gates.scoped(fuse = false) {
        fc.calculate(data, includeFinalWindow = true)
      }))
  }
}
