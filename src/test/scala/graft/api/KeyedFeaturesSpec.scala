package graft.api

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core._

/** Per-key rolling: each key segments relative to its OWN bounds; empty
  * windows survive per key.
  */
class KeyedFeaturesSpec extends SparkSpec {
  import FeatureFuncs._

  test("keys get independent bounds and keep empty windows") {
    import spark.implicits._
    // key a: idx 0..6 (gap at 3-5) → windows [0,3),[3,6) + no [6,9) (6 is end)
    // key b: idx 10..13 dense — bounds independent of a
    val df = (Seq(0.0, 1.0, 2.0, 6.0).map(("a", _)) ++
      Seq(10.0, 11.0, 12.0, 13.0).map(("b", _)))
      .toDF("k", "idx").withColumn("v", col("idx") * 10)
    val out = KeyedFeatures.calculate(df, "k", "idx", "v",
      Win.seq(3L), Seq(Win.seq(3L)), Seq(len, mean), "v")
      .orderBy("k", "idx")
    val rows = out.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2))).toSeq
    // a: bounds [0,6] → nb = floor((6-3)/3)+1 = 2 → windows end at 3, 6;
    //    second window [3,6) is EMPTY but still emits len=0
    // b: bounds [10,13] → nb = 1 → window [10,13) ends at 13
    assert(rows == Seq(("a", 3.0, 3L), ("a", 6.0, 0L), ("b", 13.0, 3L)))
    val meanCol = out.columns.indexOf("v__mean__w=3")
    assert(out.collect()(1).isNullAt(meanCol)) // empty window → null mean
  }

  test("a NaN or infinite index on one key fails loudly, naming the key") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    def rows(extra: Seq[Double]) = ((0 until 100).map(i => ("a", i.toDouble)) ++
      extra.map(("b", _)) :+ (("b", 0.0))).toDF("k", "idx").withColumn("v", lit(1.0))
    def windows(df: org.apache.spark.sql.DataFrame) =
      KeyedFeatures.calculate(df, "k", "idx", "v", Win.seq(10L),
        Seq(Win.seq(5L)), Seq(len), "v").collect().count(_.getString(0) == "a")
    assert(windows(rows(Nil)) == 18)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val e = intercept[Exception](windows(rows(Seq(bad))))
      assert(msgs(e).exists(_.contains("key 'b' has a non-finite index bound")),
        s"$bad: ${msgs(e)}")
    }
    // the multi-window path shares the bounds pass
    val e = intercept[Exception](KeyedFeatures.calculateWideMulti(rows(Seq(Double.NaN)),
      "k", "idx", Seq(Win.seq(10L) -> Seq(Win.seq(5L)), Win.seq(20L) -> Seq(Win.seq(5L))),
      Seq("v" -> len)).count())
    assert(msgs(e).exists(_.contains("key 'b' has a non-finite index bound")), msgs(e))
  }

  test("wide frame: unary + n-ary fuse into one aggregate, W10 tuple names") {
    import spark.implicits._
    // y = 2x per key → corr 1 wherever a window has >= 2 distinct points
    val df = (Seq(0.0, 1.0, 2.0).map(("a", _)) ++ Seq(5.0, 6.0).map(("b", _)))
      .toDF("k", "idx")
      .withColumn("x", col("idx") * 10)
      .withColumn("y", col("idx") * 20)
    val out = KeyedFeatures.calculateWide(df, "k", "idx",
      Win.seq(2L), Seq(Win.seq(2L)),
      unary = Seq("x" -> len),
      nary = Seq(Seq("x", "y") -> NaryFuncs.corr2))
      .orderBy("k", "idx")
    assert(out.columns.toSeq ==
      Seq("k", "idx", "x__len__w=2", "x|y__corr__w=2"))
    val rows = out.collect()
    // a: bounds [0,2] → one window [0,2) with points (0,1) → corr 1
    // b: bounds [5,6] → no full window (6-5 < 2) → zero rows for b
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 2.0)))
    assert(rows(0).getLong(2) == 2L)
    assert(math.abs(rows(0).getDouble(3) - 1.0) < 1e-12)
  }

  test("keyed group_by_consecutive matches the single-series engine per key") {
    import spark.implicits._
    // null-group rows: inherit the enclosing run (idx 1), dropped when past
    // the last run's +1-unit tail (idx 4 >= 3+1)
    val rows = Seq(
      ("a", 0.0, Some("x"), 10.0), ("a", 1.0, None, 20.0), ("a", 2.0, Some("x"), 30.0),
      ("a", 3.0, Some("y"), 40.0), ("a", 4.5, None, 50.0),
      ("b", 0.0, Some("z"), 1.0), ("b", 1.0, Some("z"), 2.0), ("b", 2.0, Some("w"), 3.0))
    val df = rows.toDF("k", "idx", "g", "v")
    val keyed = KeyedFeatures.calculateGroupByConsecutive(df, "k", "idx", "g",
      Seq("v" -> len, "v" -> mean)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.map(t => (t._2, t._3, t._4, t._5, t._6)).sortBy(_._4).toSeq }
    assert(keyed("a") == Seq(("x", 3L, 20.0, 0.0, 2.0), ("y", 1L, 40.0, 3.0, 3.0)))
    for (key <- Seq("a", "b")) {
      val sub = df.where(col("k") === key)
      val single = FeatureCollection(
        FeatureDescriptor(len, "v", None, None),
        FeatureDescriptor(mean, "v", None, None))
        .calculateGroupByConsecutive(
          Seq(Series("v", sub, "idx", "v")), Series("g", sub, "idx", "g"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
        .sortBy(_._4).toSeq
      assert(keyed(key) == single, s"key $key: keyed vs single-series engine")
    }
  }

  test("multi-window: one pass equals per-window calculateWide merged on (key, anchor)") {
    import spark.implicits._
    // irregular per-key data; windows {2, 4} share the stride-2 anchor grid
    // so most anchors carry BOTH windows' features on one row (S4 merge)
    val rng = new scala.util.Random(23)
    val df = (for {
      k <- Seq("a", "b", "c"); i <- 0 until 40
    } yield (k, i.toDouble + rng.nextDouble() * 0.5, rng.nextDouble() * 100))
      .toDF("k", "idx", "x")
    val windows = Seq(
      (Win.seq(2L): Win) -> Seq(Win.seq(2L): Win),
      (Win.seq(4L): Win) -> Seq(Win.seq(2L): Win))
    val multi = KeyedFeatures.calculateWideMulti(df, "k", "idx", windows,
      unary = Seq("x" -> len, "x" -> mean))
    assert(multi.columns.toSeq == Seq("k", "idx",
      "x__len__w=2", "x__mean__w=2", "x__len__w=4", "x__mean__w=4"))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0),
      BigDecimal(r.getDouble(1)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    def cell(r: org.apache.spark.sql.Row, i: Int): Option[BigDecimal] =
      if (r.isNullAt(i)) None
      else Some(BigDecimal(r.get(i).toString).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    val got = multi.collect().map(r =>
      key(r) -> (cell(r, 2), cell(r, 3), cell(r, 4), cell(r, 5))).toMap
    // oracle: the proven single-window path, run per window, merged by anchor
    val per = windows.map { case (w, sts) =>
      KeyedFeatures.calculateWide(df, "k", "idx", w, sts,
        unary = Seq("x" -> len, "x" -> mean)).collect()
        .map(r => key(r) -> ((cell(r, 2), cell(r, 3)))).toMap
    }
    val allKeys = per.flatMap(_.keySet).toSet
    assert(got.keySet == allKeys, "anchor row set differs from the S4 merge")
    allKeys.foreach { k =>
      val (l2, m2) = per(0).getOrElse(k, (None, None))
      val (l4, m4) = per(1).getOrElse(k, (None, None))
      assert(got(k) == ((l2, m2, l4, m4)), s"at $k")
    }
    // second, independent oracle: the single-series engine run per key
    windows.zipWithIndex.foreach { case ((w, sts), wi) =>
      val cells = got.flatMap { case (k, (l2, m2, l4, m4)) =>
        val (l, m) = if (wi == 0) (l2, m2) else (l4, m4)
        l.map(_ => k -> ((l, m)))
      }
      val single = Seq("a", "b", "c").flatMap { kk =>
        FeatureCollection(
          FeatureDescriptor(len, "x", Some(w), Some(sts)),
          FeatureDescriptor(mean, "x", Some(w), Some(sts)))
          .calculate(Seq(Series("x", df.where(col("k") === kk), "idx", "x")))
          .select(col("idx"), col(s"`x__len__w=${w.render}`"),
            col(s"`x__mean__w=${w.render}`"))
          .collect().map(r => (kk, BigDecimal(r.getDouble(0))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)) -> ((cell(r, 1), cell(r, 2))))
      }
      assert(single.map(_._1).distinct.length == single.length)
      assert(cells == single.toMap, s"window ${w.render}: multi vs single-series engine")
    }
  }

  test("fractional grid: each window's cells equal the single-series engine, none twice") {
    import spark.implicits._
    // one key, index 1.0 to 4.0 step 0.05. The 0.1 window's strides share
    // starts whose offsets k·st differ in the last bit (3 × 0.1 vs 1 × 0.3)
    // while s0 + k·st is one double: the grid and the assignment must
    // agree on that start, or the window count grows.
    val df = (0 to 60).map(i => ("a", 1.0 + i * 0.05, i.toDouble))
      .toDF("k", "idx", "x")
    val windows = Seq(
      (Win.seq(0.1): Win) -> Seq[Win](Win.seq(0.1), Win.seq(0.3)),
      (Win.seq(0.2): Win) -> Seq[Win](Win.seq(0.2)))
    def r9(d: Double) = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean9(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r9(r.getDouble(i)))
    for ((w, sts) <- windows) {
      val (l, m) = (s"x__len__w=${w.render}", s"x__mean__w=${w.render}")
      val single = FeatureCollection(
        FeatureDescriptor(len, "x", Some(w), Some(sts)),
        FeatureDescriptor(mean, "x", Some(w), Some(sts)))
        .calculate(Seq(Series("x", df, "idx", "x")))
        .select(col("idx"), col(s"`$l`"), col(s"`$m`")).collect()
        .map(r => (r.getDouble(0), r.getLong(1), mean9(r, 2))).sortBy(_._1).toSeq
      // one window: bit-identical anchors
      val one = KeyedFeatures.calculateWide(df, "k", "idx", w, sts,
          unary = Seq("x" -> len, "x" -> mean))
        .select(col("idx"), col(s"`$l`"), col(s"`$m`")).collect()
        .map(r => (r.getDouble(0), r.getLong(1), mean9(r, 2))).sortBy(_._1).toSeq
      assert(one == single, s"window ${w.render}: calculateWide vs single-series engine")
      // several windows, fused and generic: anchors to 9 decimals
      for (fused <- Seq(true, false)) {
        val multi = Gates.scoped(fuse = fused) {
          KeyedFeatures.calculateWideMulti(df, "k", "idx", windows,
            unary = Seq("x" -> len, "x" -> mean))
        }.where(col(s"`$l`").isNotNull)
          .select(col("idx"), col(s"`$l`"), col(s"`$m`")).collect()
          .map(r => (r.getDouble(0), r.getLong(1), mean9(r, 2))).toSeq
        assert(multi.map(_._1).distinct.length == multi.length,
          s"window ${w.render}, fused=$fused: a (key, window, anchor) cell appears twice")
        // two windows of the single-series engine can start one ulp apart,
        // so cells are compared as multisets of rounded values
        def rounded(cs: Seq[(Double, Long, Option[BigDecimal])]) =
          cs.map { case (a, n, mu) => (r9(a), n, mu.getOrElse(BigDecimal(-1))) }.sorted
        assert(rounded(multi) == rounded(single),
          s"window ${w.render}, fused=$fused: ${multi.length} cells, " +
            s"${single.length} single-series windows")
      }
    }
  }

  test("keyed windowKeep: gated == ungated + post-filter (row-identical, W7 included)") {
    import spark.implicits._
    // irregular per-key data incl. a gap that makes EMPTY windows for key a
    // (the W7 rows must survive a keep rule that accepts count 0)
    val rng = new scala.util.Random(41)
    val df = ((0 until 25).map(i => ("a", i.toDouble)) ++
      Seq(("a", 40.0), ("a", 41.0)) ++ // gap → empty stride windows
      (0 until 30).map(i => ("b", i * 1.5)))
      .toDF("k", "idx").withColumn("x", col("idx") * 2 + lit(rng.nextDouble()))
    val keep = (n: org.apache.spark.sql.Column, anchor: org.apache.spark.sql.Column) =>
      n <= 2 || anchor % 8 === 0
    val gated = KeyedFeatures.calculateWide(df, "k", "idx",
      Win.seq(4L), Seq(Win.seq(4L)), unary = Seq("x" -> len, "x" -> mean),
      windowKeep = Some(keep))
    val manual = KeyedFeatures.calculateWide(df, "k", "idx",
      Win.seq(4L), Seq(Win.seq(4L)), unary = Seq("x" -> len, "x" -> mean))
      .where(col("`x__len__w=4`") <= 2 || col("idx") % 8 === 0)
    assert(gated.columns.toSeq == manual.columns.toSeq)
    val a = gated.orderBy("k", "idx").collect().toSeq
    val b = manual.orderBy("k", "idx").collect().toSeq
    assert(a == b, s"gated:\n${a.mkString("\n")}\nmanual:\n${b.mkString("\n")}")
    // not vacuous: something was dropped, something empty was kept
    assert(a.nonEmpty && KeyedFeatures.calculateWide(df, "k", "idx",
      Win.seq(4L), Seq(Win.seq(4L)),
      unary = Seq("x" -> len)).count() > a.size)
    assert(a.exists(r => r.getLong(2) == 0L), "expected a kept W7 empty window")
    // counted degrade: limit 0 forces the shuffled semi join, rows identical
    val degraded = Gates.scoped(broadcastRows = 0L) {
      KeyedFeatures.calculateWide(df, "k", "idx",
        Win.seq(4L), Seq(Win.seq(4L)), unary = Seq("x" -> len, "x" -> mean),
        windowKeep = Some(keep))
    }
    assert(!degraded.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "the over-limit path must not force a broadcast")
    assert(degraded.orderBy("k", "idx").collect().toSeq == a)
  }

  test("keyed windowKeep on calculateWideMulti: per-(window, anchor) cell masking") {
    import spark.implicits._
    // semantics pinned here (scaladoc'd): the gate drops (key, window,
    // anchor) CELLS — a window dropped where another is kept nulls its
    // columns on the shared pivot row; anchors with NO kept window emit
    // no row. Expected frame built from the ungated output: len_w is the
    // count operand (len of the FIRST value column), null = window absent.
    val rng = new scala.util.Random(7)
    val df = (for { k <- Seq("a", "b"); i <- 0 until 32 }
      yield (k, i.toDouble, rng.nextDouble() * 10)).toDF("k", "idx", "x")
    val windows = Seq(
      (Win.seq(2L): Win) -> Seq(Win.seq(2L): Win),
      (Win.seq(4L): Win) -> Seq(Win.seq(2L): Win))
    // count-DEPENDENT rule so the two windows (2 vs 4 samples on this
    // dense grid) decide differently at shared anchors → mixed rows
    val keep = (n: org.apache.spark.sql.Column, anchor: org.apache.spark.sql.Column) =>
      (n === 2 && anchor % 3 === 0) || (n === 4 && anchor % 4 === 0)
    val gated = KeyedFeatures.calculateWideMulti(df, "k", "idx", windows,
      unary = Seq("x" -> len, "x" -> mean), windowKeep = Some(keep))
    val ungated = KeyedFeatures.calculateWideMulti(df, "k", "idx", windows,
      unary = Seq("x" -> len, "x" -> mean))
    def keepW(lenCol: String) =
      col(s"`$lenCol`").isNotNull &&
        ((col(s"`$lenCol`") === 2 && col("idx") % 3 === 0) ||
         (col(s"`$lenCol`") === 4 && col("idx") % 4 === 0))
    val expected = ungated
      .withColumn("__k2", keepW("x__len__w=2"))
      .withColumn("__k4", keepW("x__len__w=4"))
      .where(col("__k2") || col("__k4"))
      .select(col("k"), col("idx"),
        when(col("__k2"), col("`x__len__w=2`")).as("x__len__w=2"),
        when(col("__k2"), col("`x__mean__w=2`")).as("x__mean__w=2"),
        when(col("__k4"), col("`x__len__w=4`")).as("x__len__w=4"),
        when(col("__k4"), col("`x__mean__w=4`")).as("x__mean__w=4"))
    assert(gated.columns.toSeq == expected.columns.toSeq)
    val a = gated.orderBy("k", "idx").collect().toSeq
    val b = expected.orderBy("k", "idx").collect().toSeq
    assert(a == b, s"gated:\n${a.mkString("\n")}\nexpected:\n${b.mkString("\n")}")
    // not vacuous: some shared rows carry one kept and one dropped window
    assert(a.exists(r => r.isNullAt(2) ^ r.isNullAt(4)),
      "expected at least one mixed kept/dropped pivot row")
  }

  test("wide frame: multi-output struct funcs expand per output name") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    val minmax = FeatureFunc("minmax",
      (_, v) => struct(F.min(v).as("lo"), F.max(v).as("hi")),
      outputNames = Some(Seq("lo", "hi")))
    // bounds [0,2] → one window [0,2) holding x = {1, 5}
    val df = Seq(("a", 0.0, 1.0), ("a", 1.0, 5.0), ("a", 2.0, 9.0))
      .toDF("k", "idx", "x")
    val out = KeyedFeatures.calculateWide(df, "k", "idx",
      Win.seq(2L), Seq(Win.seq(2L)), unary = Seq("x" -> minmax))
    assert(out.columns.toSeq == Seq("k", "idx", "x__lo__w=2", "x__hi__w=2"))
    val r = out.collect()(0)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 5.0)
  }

  test("keyed paths reject windows of the wrong domain and sample-count windows") {
    import spark.implicits._
    val num = Seq(("a", 0.0, 1.0), ("a", 1.0, 2.0)).toDF("k", "idx", "v")
    val ts = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "idx", "v")
    def rejected(build: => Any, what: String): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    val domain = "window/stride domain must match series domain"
    // a time window over a numeric index would run as 8.64e10 index units
    rejected(KeyedFeatures.calculate(num, "k", "idx", "v",
      Win.time("1D"), Seq(Win.time("6h")), Seq(len), "v"), domain)
    // a numeric stride under a time window over a time index
    rejected(KeyedFeatures.calculateWide(ts, "k", "idx",
      Win.time("1D"), Seq(Win.seq(2L)), Seq("v" -> len)), domain)
    rejected(KeyedFeatures.calculateWideMulti(num, "k", "idx",
      Seq(Win.seq(2L) -> Seq(Win.seq(1L)), Win.time("1h") -> Seq(Win.time("1h"))),
      Seq("v" -> len)), domain)
    // a sample-count window would run as 500 index units
    rejected(KeyedFeatures.calculate(ts, "k", "idx", "v",
      SampleWin(500), Seq(SampleWin(100)), Seq(len), "v"),
      "sample-count windows are not supported")
    // the well-typed calls still build
    KeyedFeatures.calculate(num, "k", "idx", "v", Win.seq(2L), Seq(Win.seq(1L)),
      Seq(len), "v")
    KeyedFeatures.calculate(ts, "k", "idx", "v", Win.time("1D"),
      Seq(Win.time("6h")), Seq(len), "v")
  }

  test("keyed paths reject windows and strides that are not > 0") {
    import spark.implicits._
    val ts = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 2.0)).toDF("k", "idx", "v")
    def rejected(build: => Any, what: String): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    val day = Win.time("1D")
    // a zero window used to return one all-null row per window under
    // `v__mean__w=`, a negative one under `v__mean__w=NEG1D`
    rejected(KeyedFeatures.calculate(ts, "k", "idx", "v", TimeWin(0),
      Seq(Win.time("6h")), Seq(mean), "v"), "window must be > 0, got TimeWin(0)")
    rejected(KeyedFeatures.calculate(ts, "k", "idx", "v", Win.time(-day.micros),
      Seq(Win.time("6h")), Seq(mean), "v"), "window must be > 0")
    rejected(KeyedFeatures.calculateWide(ts, "k", "idx", day, Seq(TimeWin(0)),
      Seq("v" -> mean)), "stride must be > 0, got TimeWin(0)")
    rejected(KeyedFeatures.calculateWideMulti(ts, "k", "idx",
      Seq(day -> Seq(Win.time("6h")), TimeWin(0) -> Seq(Win.time("6h"))),
      Seq("v" -> mean)), "window must be > 0, got TimeWin(0)")
  }
}
