package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{FeatureFuncs, Gates, Series}
import FeatureFuncs.{len, mean, min => fMin, max => fMax, sum => fSum}

/** Differential spec for group_by_consecutive's one run scan
  * (`FeatureCollection.calculateGroupByConsecutive`): the plan that fuses
  * every same-source series into the group's wide frame must be
  * ROW-IDENTICAL to its twin, where `Gates.scoped(fuse = false)` makes
  * every series its own source and adds its per-source rows to the scan,
  * across nulls in the group column (runs neither started nor broken),
  * nulls in values, leading rows before the first run, trailing rows
  * inside and beyond the last segment's +1unit/day close, value rows tied
  * on the run-start index, multiple value series, and both index domains.
  * Exact comparison for group/len/min/max/start/end; mean/sum compared at
  * 9 dp (aggregation order differs between the plans, like any shuffle
  * reorder). Series off another frame than the group are pinned by
  * hand-checked rows and by equality with each series computed alone.
  */
class G3FusedSpec extends SparkSpec {
  import spark.implicits._

  private def fc2 = FeatureCollection(
    FeatureDescriptor(mean, "value", None, None),
    FeatureDescriptor(len, "value", None, None),
    FeatureDescriptor(fMin, "value", None, None),
    FeatureDescriptor(fMax, "value", None, None))

  private def r9(d: Any): Any = d match {
    case x: Double => math.rint(x * 1e9) / 1e9
    case x => x
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("__start").collect().toSeq
      .map(_.toSeq.map(r9))

  private def compare(data: Seq[Series], group: Series,
                      fc: FeatureCollection = fc2): Unit = {
    val fused = fc.calculateGroupByConsecutive(data, group)
    val perSource = Gates.scoped(fuse = false) {
      fc.calculateGroupByConsecutive(data, group)
    }
    assert(fused.columns.toSeq == perSource.columns.toSeq)
    val (f, g) = (rowsOf(fused), rowsOf(perSource))
    assert(f.size == g.size, s"row counts: fused=${f.size} per-source rows=${g.size}")
    f.zip(g).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs:\n  fused:   $a\n  per-source rows: $b")
    }
  }

  test("random sequence-domain battery: nulls in group and value, repartitioned") {
    val r = new scala.util.Random(47)
    // runs of random length; ~15% null group cells; ~20% null values;
    // repeated group values across gaps (A,null,A merges; A,B,A re-starts).
    // Indexes are UNIQUE increasing (cumulative gaps) — duplicate
    // group-row indexes make the run structure order-dependent in BOTH
    // plans (arbitrary tie order inside the window sort), so they are not
    // differential material; the dedicated tie test below pins the one
    // well-defined tie case (group row vs null-group rows).
    var idx = 0L
    val rows = (0 until 400).map { _ =>
      idx += 1 + r.nextInt(3)
      val g: String = r.nextInt(20) match {
        case x if x < 3 => null
        case _ => "g" + r.nextInt(4)
      }
      val v: java.lang.Double =
        if (r.nextInt(5) == 0) null else r.nextGaussian() * 10
      (idx, v, g)
    }
    val df = rows.toDF("idx", "value", "grp").repartition(7)
    compare(Seq(Series("value", df, "idx", "value")),
      Series("grp", df, "idx", "grp"))
  }

  test("time domain: leading nulls, trailing rows inside and beyond +1 day") {
    val day = 86400L * 1000000L
    val base = 1700000000000000L
    val rows = Seq[(Long, java.lang.Double, String)](
      (base - 500L, 1.0, null),            // before any run: dropped by both
      (base, 2.0, "a"),
      (base + 10L, 3.0, null),             // inside run a
      (base + 20L, 4.0, "a"),
      (base + 30L, 5.0, "b"),              // new run
      (base + 40L, 6.0, null),
      (base + 40L + day - 1L, 7.5, null),  // inside last seg (< end+1day)
      (base + 40L + 2 * day, 9.0, null))   // beyond close: dropped by both
    val df = rows.toDF("us", "value", "grp")
      .select(timestamp_micros(col("us")).as("ts"), col("value"), col("grp"))
      .repartition(3)
    compare(Seq(Series("value", df, "ts", "value")),
      Series("grp", df, "ts", "grp"))
  }

  test("adjacent runs with the SAME value merge across a null gap; A,B,A restarts") {
    val rows = Seq[(Long, java.lang.Double, String)](
      (0L, 1.0, "A"), (1L, 2.0, null), (2L, 3.0, "A"), // one run
      (3L, 4.0, "B"),
      (4L, 5.0, "A")) // a NEW A-run
    val df = rows.toDF("idx", "value", "grp")
    compare(Seq(Series("value", df, "idx", "value")),
      Series("grp", df, "idx", "grp"))
    val out = fc2.calculateGroupByConsecutive(
      Seq(Series("value", df, "idx", "value")), Series("grp", df, "idx", "grp"))
    assert(out.count() == 3) // A(merged), B, A
  }

  test("null-group value row TIED on a run-start index joins the new run in both plans") {
    val rows = Seq[(Long, java.lang.Double, String)](
      (0L, 1.0, "A"), (1L, 2.0, "A"),
      (2L, 30.0, null), (2L, 4.0, "B"), // tie at the B-run start
      (3L, 5.0, "B"))
    val df = rows.toDF("idx", "value", "grp")
    compare(Seq(Series("value", df, "idx", "value")),
      Series("grp", df, "idx", "grp"))
    val out = fc2.calculateGroupByConsecutive(
      Seq(Series("value", df, "idx", "value")), Series("grp", df, "idx", "grp"))
      .orderBy("__start").collect()
    // the tied null-group row (30.0) belongs to the B run: its max is 30
    assert(out(1).getAs[Double]("value__max__w=manual") == 30.0)
  }

  test("multiple value series off one frame fuse into one aggregate") {
    val r = new scala.util.Random(48)
    val rows = (0 until 200).map { i =>
      (i.toLong, r.nextGaussian(),
        if (r.nextInt(4) == 0) null else r.nextGaussian() * 3: java.lang.Double,
        if (r.nextInt(10) == 0) null else "g" + r.nextInt(3))
    }
    val df = rows.toDF("idx", "v1", "v2", "grp").repartition(5)
    val fc = FeatureCollection(
      FeatureDescriptor(fSum, "v1", None, None),
      FeatureDescriptor(len, "v1", None, None),
      FeatureDescriptor(mean, "v2", None, None))
    compare(Seq(Series("v1", df, "idx", "v1"), Series("v2", df, "idx", "v2")),
      Series("grp", df, "idx", "grp"), fc)
  }

  test("same path read twice still fuses (sameResult gate); a DIFFERENT source does not") {
    val dir = java.nio.file.Files.createTempDirectory("g3fused").toString
    val rows = (0 until 100).map(i =>
      (i.toLong, i * 1.5, if (i % 11 == 0) null else "g" + (i / 7 % 3)))
    rows.toDF("idx", "value", "grp").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val a = spark.read.parquet(s"$dir/t.parquet")
    val b = spark.read.parquet(s"$dir/t.parquet") // separate read, same source
    compare(Seq(Series("value", a, "idx", "value")),
      Series("grp", b, "idx", "grp"))
    // a filtered frame is NOT same-source: the gate must fall back (the
    // per-source rows plan and gated entry must agree trivially because the
    // gate is off)
    val c = a.where(col("idx") < 50)
    val gated = fc2.calculateGroupByConsecutive(
      Seq(Series("value", c, "idx", "value")), Series("grp", b, "idx", "grp"))
    val perSource = Gates.scoped(fuse = false) {
      fc2.calculateGroupByConsecutive(
        Seq(Series("value", c, "idx", "value")), Series("grp", b, "idx", "grp"))
    }
    assert(rowsOf(gated) == rowsOf(perSource))
  }

  test("series off another frame: hand-checked runs, an empty run, rows outside every run") {
    // runs a@[0,5), b@[5,10), a@[10,11): -1 precedes every run, 0 ties on
    // the first run's start and joins it, b holds no value row, 11 and 12
    // sit at or past the last run's +1 close
    val grp = Seq((0L, "a"), (5L, "b"), (10L, "a")).toDF("idx", "g")
    val vals = Seq((-1L, 9.0), (0L, 1.0), (3L, 2.0), (10L, 3.0), (10L, 4.0),
      (11L, 5.0), (12L, 6.0)).toDF("idx", "v")
    val fc = FeatureCollection(FeatureDescriptor(len, "v", None, None),
      FeatureDescriptor(fSum, "v", None, None))
    for (fuse <- Seq(true, false)) {
      val out = Gates.scoped(fuse = fuse) {
        fc.calculateGroupByConsecutive(Seq(Series("v", vals, "idx", "v")),
          Series("g", grp, "idx", "g"))
      }
      assert(out.columns.toSeq ==
        Seq("g", "v__len__w=manual", "v__sum__w=manual", "__start", "__end"))
      assert(out.orderBy("__start").collect().map(_.toString).toSeq ==
        Seq("[a,2,3.0,0,0]", "[b,null,null,5,5]", "[a,2,7.0,10,10]"), s"fuse=$fuse")
    }
  }

  test("a function undefined on empty input and a dotted name, off other frames") {
    // runs a@[0,5), b@[5,10), a@[10,11). `value` shares the group's frame,
    // `acc.x` and `w` each come off another frame; acc.x holds no row in
    // run b and w none in either a run. A run a source has no rows in gets
    // NULL features: the function is never called on an empty window.
    val df = Seq[(Long, String, java.lang.Double)]((0L, "a", 1.0),
      (2L, null, 4.0), (5L, "b", 2.0), (10L, "a", 3.0)).toDF("idx", "g", "value")
    val acc = Seq((-1L, 9.0), (0L, 1.0), (3L, 2.0), (10L, 3.0), (10L, 4.0),
      (11L, 5.0)).toDF("idx", "v")
    val other = Seq((6L, 7.0), (7L, 8.0)).toDF("idx", "w")
    val strictMax = FeatureFuncs.fromArray("smax", a => {
      require(a.nonEmpty, "smax of an empty window"); a.max })
    val names = Seq("value", "acc.x", "w")
    val fc = FeatureCollection.of(names.flatMap(n => Seq(
      FeatureDescriptor(len, n, None, None),
      FeatureDescriptor(strictMax, n, None, None))))
    val data = Seq(Series("value", df, "idx", "value"),
      Series("acc.x", acc, "idx", "v"), Series("w", other, "idx", "w"))
    for (fuse <- Seq(true, false)) {
      val out = Gates.scoped(fuse = fuse) {
        fc.calculateGroupByConsecutive(data, Series("g", df, "idx", "g"))
      }
      assert(out.columns.toSeq == ("g" +: Seq("acc.x", "value", "w").flatMap(n =>
        Seq(s"${n}__len__w=manual", s"${n}__smax__w=manual"))) :+ "__start" :+ "__end")
      assert(out.orderBy("__start").collect().map(_.toString).toSeq == Seq(
        "[a,2,2.0,2,4.0,null,null,0,0]",
        "[b,null,null,1,2.0,2,8.0,5,5]",
        "[a,2,4.0,1,3.0,null,null,10,10]"), s"fuse=$fuse")
    }
  }

  test("a call mixing the group's frame and another frame equals each series alone") {
    val r = new scala.util.Random(49)
    val df = (0 until 150).map { i =>
      (i.toLong * 2, r.nextGaussian(),
        if (r.nextInt(8) == 0) null else "g" + r.nextInt(3))
    }.toDF("idx", "value", "grp").repartition(3)
    val other = (0 until 120).map(i => (i.toLong * 3 - 7, r.nextGaussian()))
      .toDF("idx", "w").repartition(2)
    val group = Series("grp", df, "idx", "grp")
    val sv = Series("value", df, "idx", "value")
    val sw = Series("w", other, "idx", "w")
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "value", None, None),
      FeatureDescriptor(len, "value", None, None),
      FeatureDescriptor(fSum, "w", None, None),
      FeatureDescriptor(fMax, "w", None, None))
    val mixed = fc.calculateGroupByConsecutive(Seq(sv, sw), group)
    def alone(s: Series) =
      FeatureCollection.of(fc.descriptors.filter(_.seriesNames == Seq(s.name)))
        .calculateGroupByConsecutive(Seq(s), group)
    val both = alone(sv).join(alone(sw).drop("grp", "__end"), Seq("__start"))
      .select(mixed.columns.toSeq.map(c => col(s"`$c`")): _*)
    val m = rowsOf(mixed)
    assert(m.size > 20, "the data should hold many runs")
    assert(m == rowsOf(both))
  }
}
