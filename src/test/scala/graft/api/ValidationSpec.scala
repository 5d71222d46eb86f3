package graft.api

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core._

/** The reference's warning surface as a report frame: each test reproduces
  * one reference warning case as a `validate` report row.
  */
class ValidationSpec extends SparkSpec {
  import FeatureFuncs._

  private def seqData(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toDouble, i * 1.0)).toDF("idx", "v")
  }

  private def checks(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(2)).toMap

  test("clean input yields an empty report") {
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(2L)), Some(Seq(Win.seq(2L)))))
    val rep = fc.validate(Seq(Series("v", seqData(10), "idx", "v")))
    assert(rep.columns.toSeq == Seq("check", "subject", "detail"))
    assert(rep.count() == 0)
  }

  test("mixed window/stride dtypes across the collection are reported " +
    "(feature_collection.py:161-196)") {
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(2L)), Some(Seq(Win.seq(2L)))),
      FeatureDescriptor(len, "v", Some(Win.time("1h")), Some(Seq(Win.time("1h")))))
    val rep = checks(fc.validate(Seq(Series("v", seqData(10), "idx", "v"))))
    assert(rep.contains("mixed_window_stride_dtypes"))
    assert(rep("mixed_window_stride_dtypes").contains("sequence") &&
      rep("mixed_window_stride_dtypes").contains("time"))
  }

  test("manual segments outside the data bounds are reported " +
    "(strided_rolling.py:548-551,604-614)") {
    val fc = FeatureCollection(FeatureDescriptor(mean, "v", None, None))
    val data = Seq(Series("v", seqData(10), "idx", "v")) // bounds [0, 9]
    val oob = fc.validate(data,
      segmentStartIdxs = Some(Seq(0.0, 50.0)), segmentEndIdxs = Some(Seq(2.0, 52.0)))
    val rep = checks(oob)
    assert(rep.contains("segments_outside_data_bounds"))
    assert(rep("segments_outside_data_bounds").contains("50.0"))
    // in-bounds manual segments: no finding
    val ok = fc.validate(data,
      segmentStartIdxs = Some(Seq(0.0, 4.0)), segmentEndIdxs = Some(Seq(2.0, 6.0)))
    assert(ok.count() == 0)
  }

  test("null/NaN group rows are reported with their count " +
    "(feature_collection.py:509-519)") {
    import spark.implicits._
    val fc = FeatureCollection(FeatureDescriptor(mean, "v", None, None))
    val g = Seq((0.0, "a"), (1.0, null), (2.0, "b"), (3.0, null))
      .toDF("idx", "g")
    val rep = checks(fc.validate(Seq(Series("v", seqData(4), "idx", "v")),
      group = Some(Series("g", g, "idx", "g"))))
    assert(rep.contains("nan_group_rows"))
    assert(rep("nan_group_rows").contains("2 rows"))
  }

  test("non-monotonic input layout is reported; sorted layout is not " +
    "(feature_collection.py:455-466)") {
    import spark.implicits._
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(2L)), Some(Seq(Win.seq(2L)))))
    // scrambled physical order within one partition → out-of-order rows
    val scrambled = Seq(3.0, 0.0, 4.0, 1.0, 2.0).map(x => (x, x))
      .toDF("idx", "v").coalesce(1)
    val rep = checks(fc.validate(Seq(Series("v", scrambled, "idx", "v"))))
    assert(rep.contains("non_monotonic_input"))
    assert(rep("non_monotonic_input").contains("out of index order"))
    // index-sorted layout: no finding (clean-input test also covers this)
    assert(fc.validate(
      Seq(Series("v", seqData(10).coalesce(1), "idx", "v"))).count() == 0)
  }

  test("sparse series report nonzero ptp; approveSparsity suppresses " +
    "(strided_rolling.py:230-239)") {
    import spark.implicits._
    // bounds [0,10] with window=stride=5 → segments [0,5) and [5,10):
    // dense holds 5 rows in each (ptp 0); sparse holds 3 and 1 (ptp 2)
    val dense = Series("dense", seqData(11), "idx", "v")
    val sparse = Series("sparse",
      Seq(0.0, 1.0, 2.0, 9.0).map(x => (x, x)).toDF("idx", "w"), "idx", "w")
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "dense", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(mean, "sparse", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))))
    val rep = fc.validate(Seq(dense, sparse), boundMethod = "outer")
    val bySubject = rep.collect().map(r => r.getString(1) -> r.getString(0)).toMap
    assert(bySubject.get("sparse").contains("sparsity"))
    assert(!bySubject.contains("dense")) // dense: every segment holds 5 rows
    assert(fc.validate(Seq(dense, sparse), boundMethod = "outer",
      approveSparsity = true).count() == 0)
  }

  test("the bounds are read once, not per (window, strides) bucket or check") {
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(mean, "v", Some(Win.seq(4L)), Some(Seq(Win.seq(2L)))))
    // a gap at 6 and 7 makes the series sparse for both grids
    val data = Seq(Series("v", seqData(11).where(!col("idx").isin(6.0, 7.0)), "idx", "v"))
    // two sparsity buckets and the manual-segment check over one source
    val (rep, n) = jobsOf(fc.validate(data, segmentStartIdxs = Some(Seq(0.0, 50.0)),
      segmentEndIdxs = Some(Seq(2.0, 52.0))))
    assert(n == 1, s"$n Spark jobs to build the report")
    val found = checks(rep)
    assert(found.contains("segments_outside_data_bounds") && found.contains("sparsity"), found)
  }

  test("each sparsity bucket is sized from its own domain's bounds") {
    import spark.implicits._
    val fc = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(5L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(mean, "t", Some(Win.time("1h")), Some(Seq(Win.time("1h")))))
    // a gap at 6 and 7 makes the sequence series sparse; the time series
    // holds two samples in every hour (dense), at index values ~1.7e15 us
    val seqSeries = Series("v", seqData(11).where(!col("idx").isin(6.0, 7.0)), "idx", "v")
    val timeSeries = Series("t", (0 until 8)
      .map(i => (new java.sql.Timestamp(1704067200000L + i * 1800000L), i * 1.0))
      .toDF("ts", "t"), "ts", "t")
    def sparse(r: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      r.where(col("check") === "sparsity").collect()
        .map(x => (x.getString(1), x.getString(2))).toSeq
    val alone = sparse(FeatureCollection(fc.descriptors.head).validate(Seq(seqSeries)))
    assert(alone.map(_._1) == Seq("v"), alone)
    for (m <- Seq("inner", "outer"))
      assert(sparse(fc.validate(Seq(seqSeries, timeSeries), boundMethod = m)) == alone, m)
  }
}
