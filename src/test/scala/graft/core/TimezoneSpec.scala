package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.api.{FeatureCollection, FeatureDescriptor}
import graft.segment.{Bounds, Segmenter}

/** Timezone retention (reference: strided_rolling.py:572-596,604-614 and
  * tests/test_strided_rolling.py:1815 — tz-aware input, output index
  * converted back to the input tz). The DST fixture uses the Europe/Brussels
  * 2024-03-31 spring-forward (02:00→03:00 wall-clock gap): a wall-clock
  * engine and an instant engine disagree exactly there.
  */
class TimezoneSpec extends SparkSpec {
  import FeatureFuncs._

  /** Wall-clock samples every 30 wall minutes around the DST gap; as
    * INSTANTS they are evenly spaced 30 min (the gap is a rendering
    * artifact), so windows must be formed on instants.
    */
  private def dstFrame = {
    val walls = Seq(
      "2024-03-31 00:30:00", "2024-03-31 01:00:00", "2024-03-31 01:30:00",
      "2024-03-31 03:00:00", "2024-03-31 03:30:00", "2024-03-31 04:00:00")
    val rows = walls.zipWithIndex.map { case (w, i) => (w, (i + 1).toDouble) }
    spark.createDataFrame(rows).toDF("wall", "v")
      .withColumn("wall", col("wall").cast(TimestampNTZType))
  }

  test("NTZ + tz: windows form on instants across the DST gap") {
    val s = Series("v", dstFrame, "wall", "v", tz = Some("Europe/Brussels"))
    // instants are 23:30Z .. 02:00Z, contiguous at 30 min
    val micros = s.internal.orderBy("__idx").collect().map(_.getDouble(0).toLong)
    assert(micros.sliding(2).forall { case Array(a, b) => b - a == 1800000000L })

    val fc = FeatureCollection(FeatureDescriptor(mean, "v",
      Some(Win.time("1h")), Some(Seq(Win.time("1h")))))
    val out = fc.calculate(Seq(s), includeFinalWindow = true)
      .select(date_format(col("wall"), "yyyy-MM-dd HH:mm:ss").as("wall"),
        col("`v__mean__w=1h`").as("m"))
      .orderBy("wall").collect()
    // anchors restored to Brussels wall clock: 02:30 does not exist, the
    // third anchor renders as 04:30 (a wall-clock engine would emit 02:30)
    assert(out.map(_.getString(0)).toSeq ==
      Seq("2024-03-31 01:30:00", "2024-03-31 03:30:00", "2024-03-31 04:30:00"))
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.5, 3.5, 5.5))
  }

  test("NTZ + tz: anchors round-trip the input wall clock outside DST") {
    val df = spark.range(48).select(
      timestamp_add("HOUR", col("id"),
        lit("2024-01-10 00:00:00").cast(TimestampNTZType)).as("wall"),
      col("id").cast("double").as("v"))
    val s = Series("v", df, "wall", "v", tz = Some("Europe/Brussels"))
    val fc = FeatureCollection(FeatureDescriptor(len, "v",
      Some(Win.time("6h")), Some(Seq(Win.time("6h")))))
    val out = fc.calculate(Seq(s)).orderBy("wall").collect()
    // fixed +01:00 offset in January: wall anchors are the input wall times
    // shifted by whole windows — first end-anchor at 06:00 wall
    assert(out.head.getAs[java.time.LocalDateTime]("wall") ==
      java.time.LocalDateTime.parse("2024-01-10T06:00:00"))
    assert(out.map(_.getLong(1)).forall(_ == 6L))
  }

  test("instant (TimestampType) + tz: zone carried as anchor metadata") {
    val df = spark.range(10).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"),
      col("id").cast("double").as("v"))
    val s = Series("v", df, "ts", "v", tz = Some("Europe/Brussels"))
    val out = FeatureCollection(FeatureDescriptor(mean, "v",
      Some(Win.time("2h")), Some(Seq(Win.time("2h"))))).calculate(Seq(s))
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.schema("ts").metadata.getString("tz") == "Europe/Brussels")
  }

  test("DST fall-back ambiguous wall times raise (reference AmbiguousTimeError)") {
    // Europe/Brussels 2024-10-27: 03:00 CEST -> 02:00 CET, so 02:30 occurs
    // twice — the reference raises pandas.AmbiguousTimeError
    val df = spark.createDataFrame(Seq(("2024-10-27 02:30:00", 1.0)))
      .toDF("wall", "v").withColumn("wall", col("wall").cast(TimestampNTZType))
    val s = Series("v", df, "wall", "v", tz = Some("Europe/Brussels"))
    val e = intercept[Exception](s.internal.collect())
    assert(e.getMessage.contains("ambiguous wall time"))
  }

  test("DST gap nonexistent wall times raise (reference NonExistentTimeError)") {
    // Europe/Brussels 2024-03-31: 02:00 -> 03:00, so 02:30 never happens
    val df = spark.createDataFrame(Seq(("2024-03-31 02:30:00", 1.0)))
      .toDF("wall", "v").withColumn("wall", col("wall").cast(TimestampNTZType))
    val s = Series("v", df, "wall", "v", tz = Some("Europe/Brussels"))
    val e = intercept[Exception](s.internal.collect())
    assert(e.getMessage.contains("nonexistent wall time"))
  }

  test("pandas-parity DST policies: earliest/latest, shift_forward/backward") {
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    def inst(s: Series) = s.internal.collect().map(_.getDouble(0).toLong).head
    // fall-back 2024-10-27 (03:00 CEST -> 02:00 CET, transition 01:00Z):
    // wall 02:30 is both 00:30Z (+02, earliest) and 01:30Z (+01, latest)
    val amb = spark.createDataFrame(Seq(("2024-10-27 02:30:00", 1.0)))
      .toDF("wall", "v").withColumn("wall", col("wall").cast(TimestampNTZType))
    assert(inst(Series("v", amb, "wall", "v", tz = Some("Europe/Brussels"),
      tzAmbiguous = "earliest")) == us("2024-10-27T00:30:00Z"))
    assert(inst(Series("v", amb, "wall", "v", tz = Some("Europe/Brussels"),
      tzAmbiguous = "latest")) == us("2024-10-27T01:30:00Z"))
    // spring gap 2024-03-31 (02:00 -> 03:00, transition 01:00Z): wall 02:30
    // never happened; forward snaps to the transition instant (wall 03:00),
    // backward to the last instant before it (wall 01:59:59.999999)
    val gap = spark.createDataFrame(Seq(("2024-03-31 02:30:00", 1.0)))
      .toDF("wall", "v").withColumn("wall", col("wall").cast(TimestampNTZType))
    assert(inst(Series("v", gap, "wall", "v", tz = Some("Europe/Brussels"),
      tzNonexistent = "shift_forward")) == us("2024-03-31T01:00:00Z"))
    assert(inst(Series("v", gap, "wall", "v", tz = Some("Europe/Brussels"),
      tzNonexistent = "shift_backward")) == us("2024-03-31T01:00:00Z") - 1L)
    // unknown policy strings fail at plan construction, not per-row
    val e = intercept[IllegalArgumentException](
      Series("v", amb, "wall", "v", tz = Some("Europe/Brussels"),
        tzAmbiguous = "maybe").internal)
    assert(e.getMessage.contains("ambiguous policy"))
  }

  test("one frame under two DST gap policies: bounds per policy, not shared") {
    // the last wall time, 02:30, falls in the 2024-03-31 spring gap: its
    // instant is 01:00Z under shift_forward and 1 µs earlier under
    // shift_backward, so the two series end at different instants even
    // though they read the same frame and index column
    val df = spark.createDataFrame(Seq(
      ("2024-03-31 00:30:00", 1.0, 2.0), ("2024-03-31 01:00:00", 2.0, 3.0),
      ("2024-03-31 01:30:00", 3.0, 1.0), ("2024-03-31 02:30:00", 4.0, 5.0)))
      .toDF("wall", "a", "b")
      .withColumn("wall", col("wall").cast(TimestampNTZType))
    val tz = Some("Europe/Brussels")
    val a = Series("a", df, "wall", "a", tz = tz, tzNonexistent = "shift_forward")
    val b = Series("b", df, "wall", "b", tz = tz, tzNonexistent = "shift_backward")
    assert(!a.sameSource(b))
    val ba = Segmenter.bounds(Seq(a))
    val bb = Segmenter.bounds(Seq(b))
    assert(bb.end == ba.end - 1.0)
    assert(Segmenter.bounds(Seq(a, b)) ==
      Bounds(math.max(ba.start, bb.start), math.min(ba.end, bb.end)))
    assert(Segmenter.bounds(Seq(a, b), "outer") ==
      Bounds(math.min(ba.start, bb.start), math.max(ba.end, bb.end)))
  }

  test("mixed timezones in one calculate are rejected") {
    val a = Series("a", dstFrame.withColumnRenamed("v", "a"), "wall", "a",
      tz = Some("Europe/Brussels"))
    val b = Series("b", dstFrame.withColumnRenamed("v", "b"), "wall", "b",
      tz = Some("Asia/Tokyo"))
    val fc = FeatureCollection.of(Seq("a", "b").map(n =>
      FeatureDescriptor(mean, n, Some(Win.time("1h")), Some(Seq(Win.time("1h"))))))
    val e = intercept[IllegalArgumentException](fc.calculate(Seq(a, b)))
    assert(e.getMessage.contains("same timezone"))
    // the group-by paths join instants directly — same contract, same error
    val fcg = FeatureCollection(FeatureDescriptor(mean, "a", None, None))
    val eg = intercept[IllegalArgumentException](fcg.calculateGroupByAll(Seq(a), b))
    assert(eg.getMessage.contains("same timezone"))
    val ec = intercept[IllegalArgumentException](fcg.calculateGroupByConsecutive(Seq(a), b))
    assert(ec.getMessage.contains("same timezone"))
  }

  test("tz on a sequence-domain index is rejected") {
    val df = spark.range(5).select(col("id"), col("id").cast("double").as("v"))
    val e = intercept[IllegalArgumentException](
      Series("v", df, "id", "v", tz = Some("UTC")))
    assert(e.getMessage.contains("TIME-domain"))
  }
}
