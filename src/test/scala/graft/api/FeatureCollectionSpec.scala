package graft.api

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core._

/** End-to-end FeatureCollection semantics on tiny golden data (mirrors the
  * reference's e2e style, tests/test_features_feature_collection.py).
  */
class FeatureCollectionSpec extends SparkSpec {
  import FeatureFuncs._

  private def tiny = {
    import spark.implicits._
    Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("idx", "dummy")
  }
  private def tinySeries = Series("dummy", tiny, "idx", "dummy")

  test("flagship: sum over window=3 stride=1, anchor end, naming W10") {
    val fc = FeatureCollection(FeatureDescriptor(sum, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries)).orderBy("idx")
    assert(out.columns.toSeq == Seq("idx", "dummy__sum__w=3"))
    val rows = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // [0,3) -> 0+1+2 = 3 @ anchor 3; [1,4) -> 1+2+3 = 6 @ anchor 4
    assert(rows == Seq((3L, 3.0), (6.0).asInstanceOf[AnyRef] match {
      case _ => (4L, 6.0)
    }))
  }

  test("manual rename collisions fail fast with the duplicate-names error") {
    // distinct windows pass the constructor check, but both-manual segments
    // rename every output to w=manual — must raise the clear error, not a
    // late ambiguous-column failure
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "dummy", Some(Win.seq(2L)), Some(Seq(Win.seq(2L)))),
      FeatureDescriptor(mean, "dummy", Some(Win.seq(4L)), Some(Seq(Win.seq(4L)))))
    val e = intercept[IllegalArgumentException](fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(0.0)), segmentEndIdxs = Some(Seq(4.0))))
    assert(e.getMessage.contains("duplicate output names"))
  }

  test("W7: empty manual segments still emit rows; len is 0") {
    val fc = FeatureCollection(
      FeatureDescriptor(len, "dummy", None, None),
      FeatureDescriptor(mean, "dummy", None, None))
    val out = fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(100.0, 0.0)), segmentEndIdxs = Some(Seq(103.0, 3.0)))
      .orderBy("idx")
    val rows = out.collect()
    assert(rows.length == 2)
    val byAnchor = rows.map(r => r.getLong(0) -> r).toMap
    assert(byAnchor(103L).getLong(out.columns.indexOf("dummy__len__w=manual")) == 0L)
    assert(byAnchor(103L).isNullAt(out.columns.indexOf("dummy__mean__w=manual")))
    assert(byAnchor(3L).getDouble(out.columns.indexOf("dummy__mean__w=manual")) == 1.0)
  }

  test("W4: unsorted + duplicate manual segments keep input order semantics") {
    // reference: test_sequence_segment_start_and_end_idxs (starts [0,5,3,3],
    // ends [5,10,8,5]) — one output row PER input entry, duplicates kept,
    // even across multiple descriptor buckets (min has a window, len none)
    val fc = FeatureCollection(
      FeatureDescriptor(min, "dummy", Some(Win.seq(100L)), None),
      FeatureDescriptor(len, "dummy", None, None))
    val out = fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(0.0, 5.0, 3.0, 3.0)),
      segmentEndIdxs = Some(Seq(5.0, 10.0, 8.0, 5.0)),
      windowIdx = "begin")
    val rows = out.collect()
    assert(rows.length == 4) // NOT 6 — duplicate anchor 3 must not cross-join
    val anchors = rows.map(_.getLong(0)).sorted.toSeq
    assert(anchors == Seq(0L, 3L, 3L, 5L))
  }

  test("W9 x W4: sample-count windows reject manual segment idxs") {
    // reference: NotImplementedError — manual idxs are in index units,
    // sample windows segment positionally; mixing would mis-assign rows
    val fc = FeatureCollection(
      FeatureDescriptor(min, "dummy", Some(SampleWin(3)), None))
    val e = intercept[IllegalArgumentException](fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(0.0))))
    assert(e.getMessage.contains("sample-count"))
  }

  test("W4: empty manual segment arrays produce an empty, well-typed frame") {
    val fc = FeatureCollection(
      FeatureDescriptor(min, "dummy", Some(Win.seq(100L)), None),
      FeatureDescriptor(len, "dummy", None, None))
    val out = fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Nil), segmentEndIdxs = Some(Nil))
    assert(out.columns.length == 3)
    assert(out.count() == 0)
  }

  test("index dtype retention: long index stays long, anchors in index space") {
    val fc = FeatureCollection(FeatureDescriptor(max, "dummy",
      Some(Win.seq(2L)), Some(Seq(Win.seq(2L)))))
    val out = fc.calculate(Seq(tinySeries))
    assert(out.schema("idx").dataType == org.apache.spark.sql.types.LongType)
  }

  test("duplicate output names rejected (M1)") {
    intercept[IllegalArgumentException] {
      FeatureCollection(
        FeatureDescriptor(mean, "dummy", Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))),
        FeatureDescriptor(mean, "dummy", Some(Win.seq(3L)), Some(Seq(Win.seq(2L)))))
    }
  }

  test("M2 cross product and M3 reduce") {
    val ds = MultipleFeatureDescriptors(Seq(mean, max), Seq("dummy"),
      Seq(Win.seq(2L), Win.seq(3L)), Some(Seq(Win.seq(1L))))
    assert(ds.length == 4)
    val fc = FeatureCollection.of(ds)
    val red = fc.reduce(Seq("dummy__mean__w=2"))
    assert(red.descriptors.length == 1)
    intercept[IllegalArgumentException](fc.reduce(Seq("nope__mean__w=2")))
  }

  test("M4: stride override wins; segments + stride rejected") {
    val fc = FeatureCollection(FeatureDescriptor(len, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries), strideOverride = Some(Seq(Win.seq(2L))))
    assert(out.count() == 1) // stride 2 -> only start 0
    intercept[IllegalArgumentException] {
      fc.calculate(Seq(tinySeries), strideOverride = Some(Seq(Win.seq(2L))),
        segmentStartIdxs = Some(Seq(0.0)))
    }
  }

  test("a window or stride <= 0 fails loudly, naming the value") {
    def err(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    val w3 = Some(Win.seq(3L))
    assert(err(FeatureDescriptor(len, "dummy", w3, Some(Seq(Win.seq(1L), Win.seq(0L)))))
      .contains("stride must be > 0, got SeqWin(0.0,0)"))
    assert(err(FeatureDescriptor(len, "dummy", Some(Win.seq(-2L)), Some(Seq(Win.seq(1L)))))
      .contains("window must be > 0, got SeqWin(-2.0,-2)"))
    assert(err(FeatureDescriptor(len, "dummy", Some(Win.time("1h")), Some(Seq(Win.time("0h")))))
      .contains("stride must be > 0, got TimeWin(0)"))
    assert(err(NaryFeatureDescriptor(NaryFuncs.corr2, Seq("a", "b"), w3,
      Some(Seq(Win.seq(0L))))).contains("stride must be > 0"))
    // the calculate-level override: a zero stride used to return an empty frame
    val fc = FeatureCollection(FeatureDescriptor(len, "dummy", w3, Some(Seq(Win.seq(1L)))))
    assert(err(fc.calculate(Seq(tinySeries), strideOverride = Some(Seq(Win.seq(0L)))))
      .contains("stride must be > 0, got SeqWin(0.0,0)"))
    assert(err(fc.calculate(Seq(tinySeries), strideOverride = Some(Seq(Win.seq(-1.5)))))
      .contains("stride must be > 0, got SeqWin(-1.5,-1.5)"))
  }

  test("G1 group_by_all matches SQL GROUP BY") {
    import spark.implicits._
    val df = Seq((0L, 1.0, "a"), (1L, 2.0, "b"), (2L, 3.0, "a"), (3L, 4.0, "b"))
      .toDF("idx", "v", "g")
    val fc = FeatureCollection(FeatureDescriptor(sum, "v", None, None))
    val out = fc.calculateGroupByAll(
      Seq(Series("v", df, "idx", "v")), Series("g", df, "idx", "g"))
    val m = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 4.0, "b" -> 6.0))
    assert(out.columns.toSeq == Seq("g", "v__sum__w=manual"))
  }

  test("G2 pre-grouped wide frame equals G1 on explicit series") {
    import spark.implicits._
    val df = Seq((0L, 1.0, "a"), (1L, 2.0, "b"), (2L, 3.0, "a"), (3L, 4.0, "b"))
      .toDF("idx", "v", "g")
    val fc = FeatureCollection(FeatureDescriptor(sum, "v", None, None))
    val out = fc.calculateGrouped(df, "idx", "g").orderBy("g")
    val m = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 4.0, "b" -> 6.0))
  }

  test("G3 group_by_consecutive runs and boundaries") {
    import spark.implicits._
    val df = Seq((0L, 1.0, "x"), (1L, 2.0, "x"), (2L, 3.0, "y"), (3L, 4.0, "x"))
      .toDF("idx", "v", "g")
    val fc = FeatureCollection(FeatureDescriptor(sum, "v", None, None))
    val out = fc.calculateGroupByConsecutive(
      Seq(Series("v", df, "idx", "v")), Series("g", df, "idx", "g")).orderBy("__start")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    // runs: x@[0,1] (rows 0,1 -> sum 3), y@[2,2] (row 2 -> 3), x@[3,3] (row 3 -> 4)
    assert(rows == Seq(("x", 3.0, 0L, 1L), ("y", 3.0, 2L, 2L), ("x", 4.0, 3L, 3L)))
  }

  test("group-by paths expand a multi-output function into one column per output") {
    import spark.implicits._
    val df = Seq((0L, 1.0, "x"), (1L, 2.0, "x"), (2L, 3.0, "y"), (3L, 5.0, "x"))
      .toDF("idx", "v", "g")
    val fc = FeatureCollection(FeatureDescriptor(FeatureFuncs.minMax, "v", None, None))
    val names = Seq("v__mm_max__w=manual", "v__mm_min__w=manual")
    assert(fc.descriptors.flatMap(_.outputNamesAll).sorted == names)
    val data = Seq(Series("v", df, "idx", "v"))
    val group = Series("g", df, "idx", "g")
    val g1 = fc.calculateGroupByAll(data, group)
    assert(g1.columns.toSeq == "g" +: names)
    assert(g1.orderBy("g").collect().map(_.toString).toSeq ==
      Seq("[x,5.0,1.0]", "[y,3.0,3.0]"))
    for (fuse <- Seq(true, false)) {
      val g3 = graft.core.Gates.scoped(fuse = fuse) {
        fc.calculateGroupByConsecutive(data, group)
      }
      assert(g3.columns.toSeq == ("g" +: names) ++ Seq("__start", "__end"))
      assert(g3.orderBy("__start").collect().map(_.toString).toSeq ==
        Seq("[x,2.0,1.0,0,1]", "[y,3.0,3.0,2,2]", "[x,5.0,5.0,3,3]"), s"fuse=$fuse")
    }
    val keyed = KeyedFeatures.calculateGroupByConsecutive(
      df.withColumn("k", lit("a")), "k", "idx", "g", Seq("v" -> FeatureFuncs.minMax))
    assert(keyed.columns.toSeq == ("k" +: "g" +: names) ++ Seq("__start", "__end"))
    assert(keyed.orderBy("__start").collect().map(_.toString).toSeq ==
      Seq("[a,x,2.0,1.0,0,1]", "[a,y,3.0,3.0,2,2]", "[a,x,5.0,5.0,3,3]"))
  }

  test("A5 robust: min_nb_samples guard returns error_val") {
    val fc = FeatureCollection(FeatureDescriptor(mean.robust(10, -7.0), "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries))
    assert(out.collect().forall(_.getDouble(1) == -7.0))
  }

  test("W4 ends-only manual segments derive starts from the window") {
    val fc = FeatureCollection(FeatureDescriptor(len, "dummy",
      Some(Win.seq(3L)), None))
    val out = fc.calculate(Seq(tinySeries),
      segmentEndIdxs = Some(Seq(3.0, 5.0))).orderBy("idx")
    // ends 3,5 with window 3 → [0,3) holds {0,1,2}, [2,5) holds {2,3,4}
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((3L, 3L), (5L, 3L)))
  }

  test("W4 starts-only or ends-only manual segments without a window fail with a named error") {
    val fc = FeatureCollection(FeatureDescriptor(len, "dummy", None, None))
    val s = intercept[IllegalArgumentException](fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(0.0, 2.0))))
    assert(s.getMessage.contains("starts-only segments need a window"), s.getMessage)
    val e = intercept[IllegalArgumentException](fc.calculate(Seq(tinySeries),
      segmentEndIdxs = Some(Seq(3.0))))
    assert(e.getMessage.contains("ends-only segments need a window"), e.getMessage)
  }

  test("a NaN or infinite index value fails loudly instead of changing the grid") {
    import spark.implicits._
    val fc = FeatureCollection(FeatureDescriptor(len, "v",
      Some(Win.seq(10L)), Some(Seq(Win.seq(5L)))))
    def series(extra: Seq[Double]) = Series("v",
      ((0 until 100).map(_.toDouble) ++ extra).map((_, 1.0)).toDF("idx", "v"),
      "idx", "v")
    // bounds [0, 99] → floor((99 - 10) / 5) + 1 = 18 windows
    assert(fc.calculate(Seq(series(Nil))).count() == 18)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val e = intercept[IllegalArgumentException](fc.calculate(Seq(series(Seq(bad)))))
      assert(e.getMessage.contains("series 'v' has a non-finite index bound"),
        e.getMessage)
    }
  }

  test("a bad second source fails loudly and names itself") {
    import spark.implicits._
    val fc = FeatureCollection(
      FeatureDescriptor(len, "a", Some(Win.seq(10L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(len, "b", Some(Win.seq(10L)), Some(Seq(Win.seq(5L)))))
    val a = Series("a", (0 until 100).map(i => (i.toDouble, 1.0)).toDF("idx", "a"),
      "idx", "a")
    def b(idx: Seq[Double]) = Series("b", idx.map((_, 1.0)).toDF("idx", "b"), "idx", "b")
    assert(fc.calculate(Seq(a, b(Seq(0.0, 50.0))), boundMethod = "inner").count() == 9)
    // an empty second source must not vanish from the inner combine
    val empty = intercept[IllegalArgumentException](
      fc.calculate(Seq(a, b(Nil)), boundMethod = "inner"))
    assert(empty.getMessage.contains("series 'b' has no non-null indexed rows"),
      empty.getMessage)
    val nan = intercept[IllegalArgumentException](
      fc.calculate(Seq(a, b(Seq(0.0, 50.0, Double.NaN))), boundMethod = "inner"))
    assert(nan.getMessage.contains("series 'b' has a non-finite index bound"),
      nan.getMessage)
  }

  test("W9 sample windows: middle and end anchors map to existing samples") {
    import spark.implicits._
    // 10 samples at irregular timestamps (micros); window=4 samples, stride=2
    val ts = Seq(0L, 10L, 25L, 30L, 47L, 52L, 61L, 70L, 88L, 95L)
    val df = ts.zipWithIndex.map { case (t, i) =>
      (new java.sql.Timestamp(t), i.toDouble)
    }.toDF("ts", "v")
    val series = Series("v", df, "ts", "v")
    def anchors(windowIdx: String): Seq[Long] = {
      val fc = FeatureCollection(FeatureDescriptor(len, "v",
        Some(SampleWin(4)), Some(Seq(SampleWin(2)))))
      fc.calculate(Seq(series), windowIdx = windowIdx)
        .select(unix_micros(col("ts")))
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    // starts at positions 0,2,4 (nb = (9-4)/2+1 = 3)
    val tsMs = ts.map(_ * 1000) // java.sql.Timestamp(millis) → micros
    assert(anchors("begin") == Seq(0, 2, 4).map(tsMs(_)))
    // middle = pos + 2.0 exactly here; end = pos + 4
    assert(anchors("middle") == Seq(2, 4, 6).map(tsMs(_)))
    assert(anchors("end") == Seq(4, 6, 8).map(tsMs(_)))
    // every anchor resolved (no null timestamps from a failed position join)
    assert(!anchors("middle").contains(null))
  }

  test("A5 robust(0) preserves the wrapped function's empty-window contract") {
    val fc = FeatureCollection(
      FeatureDescriptor(len.robust(0, -9.0), "dummy", None, None))
    val out = fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(100.0)), segmentEndIdxs = Some(Seq(103.0)))
    // empty window, minNbSamples=0 → len's own emptyValue (0), not error_val
    assert(out.collect().head.getLong(1) == 0L)
  }

  test("A3 one-to-many: multi-output function expands struct into columns") {
    val fc = FeatureCollection(FeatureDescriptor(FeatureFuncs.minMax, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries)).orderBy("idx")
    assert(out.columns.toSeq ==
      Seq("idx", "dummy__mm_max__w=3", "dummy__mm_min__w=3"))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getDouble(out.columns.indexOf("dummy__mm_min__w=3")),
        r.getDouble(out.columns.indexOf("dummy__mm_max__w=3")))).toSeq
    assert(rows == Seq((3L, 0.0, 2.0), (4L, 1.0, 3.0)))
    // reduce keeps the descriptor when any of its outputs is requested
    assert(fc.reduce(Seq("dummy__mm_min__w=3")).descriptors.length == 1)
  }

  test("A1/A4 escape hatch: arbitrary Scala function over sorted window") {
    val range = FeatureFuncs.fromArray("range", a => if (a.isEmpty) 0.0 else a.max - a.min)
    val fc = FeatureCollection(FeatureDescriptor(range, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries)).orderBy("idx")
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(2.0, 2.0))
  }

  test("A4 index-aware escape hatch: function sees (idx, value) pairs") {
    // mean slope between consecutive samples — needs the index
    val msl = FeatureFuncs.fromPairs("msl", p =>
      if (p.length < 2) 0.0
      else p.sliding(2).map { case Seq((i1, v1), (i2, v2)) =>
        (v2 - v1) / (i2 - i1)
      }.sum / (p.length - 1))
    val fc = FeatureCollection(FeatureDescriptor(msl, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries)).orderBy("idx")
    // values = idx → slope 1.0 everywhere
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(1.0, 1.0))
  }

  test("A1 escape hatch: an order-sensitive function sees sorted values") {
    // last - first of the index-SORTED values: order-sensitive on purpose
    val delta = FeatureFuncs.fromArray("delta",
      a => if (a.isEmpty) 0.0 else a.last - a.head)
    val fc = FeatureCollection(FeatureDescriptor(delta, "dummy",
      Some(Win.seq(3L)), Some(Seq(Win.seq(1L)))))
    val out = fc.calculate(Seq(tinySeries)).orderBy("idx")
    // windows [0,3): 2-0=2; [1,4): 3-1=2
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(2.0, 2.0))
  }

  test("A1 escape hatch skips null value rows (regression: null decoded as 0.0)") {
    import spark.implicits._
    val df = Seq((1.0, Some(1.0)), (2.0, None: Option[Double]), (3.0, Some(3.0)))
      .toDF("i", "v")
    val f = FeatureFuncs.fromArray("mymin", xs => xs.min)
    // a null value decoded as 0.0 would be a phantom (2.0, 0.0) sample and
    // min would return 0.0
    assert(df.agg(f.agg(org.apache.spark.sql.functions.col("i"),
      org.apache.spark.sql.functions.col("v"))).head().getDouble(0) == 1.0)
  }

  test("windowKeep: gated calculate == ungated + post-filter (row-identical)") {
    import spark.implicits._
    // 40 samples, window 10 stride 3 — mixed window sizes incl. the W1
    // partial tail windows; keep rule = "count odd or anchor % 4 == 0"
    // (arbitrary: exercises both the count operand and the anchor operand)
    val df = (0L until 40L).map(i => (i, math.sin(i * 0.7) * 5)).toDF("idx", "s")
    val ser = Series("s", df, "idx", "s")
    val fns = Seq(len, mean, absDiffSum)
    val fc = FeatureCollection.of(fns.map(f =>
      FeatureDescriptor(f, "s", Some(Win.seq(10L)), Some(Seq(Win.seq(3L))))))
    val keep = (n: org.apache.spark.sql.Column, anchor: org.apache.spark.sql.Column) =>
      n % 2 === 1 || anchor % 4 === 0
    val gated = fc.calculate(Seq(ser), windowKeep = Some(keep))
    val manual = fc.calculate(Seq(ser))
      .where(col("s__len__w=10") % 2 === 1 || col("idx") % 4 === 0)
    assert(gated.columns.toSeq == manual.columns.toSeq)
    val a = gated.orderBy("idx").collect().toSeq
    val b = manual.orderBy("idx").collect().toSeq
    assert(a == b, s"gated:\n${a.mkString("\n")}\nmanual:\n${b.mkString("\n")}")
    // and the gate really dropped something (the differential is not vacuous)
    assert(a.nonEmpty && fc.calculate(Seq(ser)).count() > a.size)
  }

  test("windowKeep: empty windows count as 0 and pass an n<=k keep rule (W7)") {
    import spark.implicits._
    // values clustered at the start; late stride windows are EMPTY — the
    // count pass has no row for them, the gate must coalesce to 0, keep
    // them under n <= 3, and W7 still emits their empty-value rows
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (30L, 4.0)).toDF("idx", "s")
    val ser = Series("s", df, "idx", "s")
    val fc = FeatureCollection(
      FeatureDescriptor(len, "s", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))))
    val keep = (n: org.apache.spark.sql.Column,
        _: org.apache.spark.sql.Column) => n <= 3
    val gated = fc.calculate(Seq(ser), windowKeep = Some(keep))
    val manual = fc.calculate(Seq(ser)).where(col("s__len__w=5") <= 3)
    assert(gated.orderBy("idx").collect().toSeq ==
      manual.orderBy("idx").collect().toSeq)
    // the middle windows are empty (len 0) and present
    assert(gated.where(col("s__len__w=5") === 0).count() >= 1)
  }

  test("windowKeep rejects manual segments loudly") {
    val fc = FeatureCollection(
      FeatureDescriptor(len, "dummy", None, None))
    val e = intercept[IllegalArgumentException](fc.calculate(Seq(tinySeries),
      segmentStartIdxs = Some(Seq(0.0)), segmentEndIdxs = Some(Seq(3.0)),
      windowKeep = Some((n, _) => n > 0)))
    assert(e.getMessage.contains("windowKeep"))
  }

  test("windowKeep rejects multi-bucket collections loudly (ADVICE r17)") {
    import spark.implicits._
    // two windows over one series = two buckets: a window dropped in one
    // bucket but kept in the other would merge into a row with nulls — a
    // shape no post-filter produces, so the composition must fail up front
    val df = (0L until 20L).map(i => (i, i.toDouble)).toDF("idx", "s")
    val ser = Series("s", df, "idx", "s")
    val fc = FeatureCollection(
      FeatureDescriptor(len, "s", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(len, "s", Some(Win.seq(10L)), Some(Seq(Win.seq(5L)))))
    val e = intercept[IllegalArgumentException](
      fc.calculate(Seq(ser), windowKeep = Some((n, _) => n > 0)))
    assert(e.getMessage.contains("single"))
  }

  test("windowKeep: counted degrade (limit 0) un-hints the semi join, rows identical") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, math.sin(i * 0.7) * 5)).toDF("idx", "s")
    val ser = Series("s", df, "idx", "s")
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "s", Some(Win.seq(10L)), Some(Seq(Win.seq(3L)))))
    // keeps a NONEMPTY subset (all windows here hold 10 samples, so a
    // count-parity rule would keep nothing and the 0 <= 0 count check
    // would legitimately broadcast)
    val keep = (n: org.apache.spark.sql.Column, anchor: org.apache.spark.sql.Column) =>
      n > 0 && anchor % 2 === 0 // anchors 10,13,…,37 → keeps the even half
    val bcast = fc.calculate(Seq(ser), windowKeep = Some(keep))
    val degraded = Gates.scoped(broadcastRows = 0L) {
      fc.calculate(Seq(ser), windowKeep = Some(keep))
    }
    // above the limit the kept-id side must carry NO forced-broadcast hint
    // (Spark may still pick a broadcast strategy from size estimates —
    // the degrade removes the unbounded FORCE, not the planner's choice)
    assert(bcast.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "expected a broadcast hint on the under-limit path")
    assert(!degraded.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "the over-limit path must not force a broadcast")
    assert(degraded.orderBy("idx").collect().toSeq ==
      bcast.orderBy("idx").collect().toSeq)
  }
}
