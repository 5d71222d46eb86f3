package graft.api

import graft.SparkSpec
import graft.core._
import org.apache.spark.sql.functions._

/** Differential for the r19 fused maskable-aggregate path in
  * [[KeyedFeatures.calculateWideMulti]] vs the generic
  * aggregate+join+pivot plan it replaces (the kernel-differential
  * discipline: the replaced form stays available under
  * `Gates.scoped(fuse = false)` and is the oracle here). Row identity: same
  * (key, anchor) row set, bit-equal len/min/max cells, mean/sum within
  * double-summation regrouping (and exactly equal after the round(6)
  * every declared query applies).
  */
class Q72RollupSpec extends SparkSpec {

  import graft.core.FeatureFuncs.{len, mean, sum => fsum, min => fmin, max => fmax}

  private val H = 3600L * 1000000L // one hour in micros

  /** q72-shaped corpus: per-key event times on an irregular grid, value
    * nulls, a single-row key, a key shorter than the large window, and a
    * key whose span is an exact multiple of the stride (boundary rows).
    */
  private def corpus(seed: Int, n: Int = 400) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val rows = (for {
      k <- Seq(1L, 2L, 3L, 4L)
      i <- 0 until n
    } yield {
      val t = 1700000000000000L + k * 977L + // per-key phase
        (rng.nextDouble() * 72 * H).toLong   // ~3 days span
      (k, t, if (rng.nextInt(17) == 0) None else Some(rng.nextGaussian() * 50))
    }) ++ Seq(
      (9L, 1700000000000000L, Some(1.5)),                 // single row
      (10L, 1700000000000000L, Some(2.0)),                // short key...
      (10L, 1700000000000000L + 2 * H, Some(3.0)),        // ...span < 1D
      (11L, 1700000000000000L, Some(4.0)),                // exact-multiple span
      (11L, 1700000000000000L + 6 * H, Some(5.0)),
      (11L, 1700000000000000L + 12 * H, None))
    rows.toDF("user_id", "tmicros", "value")
      .select(col("user_id"), timestamp_micros(col("tmicros")).as("ts"),
        col("value"))
  }

  private val windows = Seq(
    (Win.time("6h"): Win) -> Seq(Win.time("6h"): Win),
    (Win.time("1D"): Win) -> Seq(Win.time("6h"): Win))

  /** Marker for which plan was taken: only the generic path materializes
    * the `__seg_start` attribute (the fused path groups on `__aoff`).
    */
  private def usesFused(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.toString.contains("__seg_start")

  private def run(df: org.apache.spark.sql.DataFrame, fused: Boolean,
                  unary: Seq[(String, FeatureFunc)],
                  windowIdx: String = "end",
                  includeFinal: Boolean = false) =
    Gates.scoped(fuse = fused) {
      KeyedFeatures.calculateWideMulti(df, "user_id", "ts", windows,
        unary = unary, windowIdx = windowIdx,
        includeFinalWindow = includeFinal)
    }

  private def keyed(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), Seq[Option[Double]]] =
    df.select(col("user_id") +: unix_micros(col("ts")).as("a") +:
        df.columns.drop(2).map(c => col(s"`$c`").cast("double")): _*)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1)) -> (2 until r.length).map(i =>
          if (r.isNullAt(i)) None else Some(r.getDouble(i)))
      }.toMap

  private def assertClose(a: Map[(Long, Long), Seq[Option[Double]]],
                          b: Map[(Long, Long), Seq[Option[Double]]]): Unit = {
    assert(a.keySet == b.keySet, {
      val d1 = (a.keySet -- b.keySet).take(5)
      val d2 = (b.keySet -- a.keySet).take(5)
      s"row sets differ: only-generic $d1, only-fused $d2"
    })
    a.keySet.foreach { k =>
      a(k).zip(b(k)).zipWithIndex.foreach {
        case ((None, None), _) => ()
        case ((Some(x), Some(y)), i) =>
          val tol = math.max(1e-9, math.abs(x) * 1e-12)
          assert(math.abs(x - y) <= tol, s"at $k col $i: $x vs $y")
        case (other, i) => fail(s"at $k col $i null mismatch: $other")
      }
    }
  }

  test("fused differential: len/mean over 6h+1D windows (the q72 shape)") {
    val df = corpus(7)
    val gen = run(df, fused = false, Seq("value" -> len, "value" -> mean))
    val fus = run(df, fused = true, Seq("value" -> len, "value" -> mean))
    assert(usesFused(fus), "fuse gate did not fire on the q72 shape")
    assert(!usesFused(gen))
    assert(fus.columns.toSeq == gen.columns.toSeq, "output schema must match")
    assertClose(keyed(gen), keyed(fus))
    // len is integral — bit-equal, not just close
    val lg = keyed(gen).view.mapValues(v => Seq(v(0), v(2))).toMap
    val lf = keyed(fus).view.mapValues(v => Seq(v(0), v(2))).toMap
    assert(lg == lf, "len cells must be exactly equal")
  }

  test("fused differential: sum/min/max exact, all windowIdx anchors") {
    val df = corpus(13, n = 250)
    for (anchor <- Seq("end", "middle", "begin")) {
      val u = Seq("value" -> fsum, "value" -> fmin, "value" -> fmax)
      val gen = keyed(run(df, fused = false, u, windowIdx = anchor))
      val fus = keyed(run(df, fused = true, u, windowIdx = anchor))
      assert(gen.keySet == fus.keySet, s"anchor $anchor")
      // min/max never re-accumulate — exact; sum within regrouping tolerance
      gen.keySet.foreach { k =>
        assert(gen(k)(1) == fus(k)(1), s"min at $k ($anchor)")
        assert(gen(k)(2) == fus(k)(2), s"max at $k ($anchor)")
        (gen(k)(0), fus(k)(0)) match {
          case (None, None) => ()
          case (Some(x), Some(y)) =>
            assert(math.abs(x - y) <= math.max(1e-9, math.abs(x) * 1e-12))
          case other => fail(s"sum at $k: $other")
        }
      }
    }
  }

  test("fused differential: includeFinalWindow tail") {
    val df = corpus(29, n = 150)
    val gen = run(df, fused = false, Seq("value" -> len, "value" -> mean),
      includeFinal = true)
    val fus = run(df, fused = true, Seq("value" -> len, "value" -> mean),
      includeFinal = true)
    assert(usesFused(fus))
    assertClose(keyed(gen), keyed(fus))
  }

  test("fused differential: sequence domain (double index)") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val df = (for { k <- Seq("a", "b", "c"); i <- 0 until 50 }
      yield (k, i.toDouble + rng.nextDouble() * 0.5, rng.nextDouble() * 100))
      .toDF("k", "idx", "x")
    val ws = Seq((Win.seq(2L): Win) -> Seq(Win.seq(2L): Win),
      (Win.seq(4L): Win) -> Seq(Win.seq(2L): Win))
    val gen = Gates.scoped(fuse = false) {
      KeyedFeatures.calculateWideMulti(df, "k", "idx", ws,
        unary = Seq("x" -> len, "x" -> mean))
    }
    val fus = KeyedFeatures.calculateWideMulti(df, "k", "idx", ws,
      unary = Seq("x" -> len, "x" -> mean))
    assert(usesFused(fus))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(9, BigDecimal.RoundingMode.HALF_UP),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) None
        else Some(BigDecimal(r.getDouble(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP)),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) None
        else Some(BigDecimal(r.getDouble(5)).setScale(9, BigDecimal.RoundingMode.HALF_UP))))
        .toSeq.sortBy(t => (t._1, t._2))
    assert(rows(gen) == rows(fus))
  }

  test("gate: non-maskable features and windowKeep fall back to the generic path") {
    val df = corpus(3, n = 60)
    // std is not in the maskable set
    val p1 = run(df, fused = true, Seq("value" -> FeatureFuncs.std))
    assert(!usesFused(p1))
    // keyed windowKeep reads the row-level explode — must gate off
    val p3 = KeyedFeatures.calculateWideMulti(df, "user_id", "ts", windows,
      unary = Seq("value" -> len, "value" -> mean),
      windowKeep = Some((n, _) => n >= 0))
    assert(!usesFused(p3))
    // a maskable func mixed with a non-maskable one gates the whole call off
    val p5 = run(df, fused = true,
      Seq("value" -> len, "value" -> FeatureFuncs.std))
    assert(!usesFused(p5))
  }

  test("renamed maskable funcs (.as) keep the fused plan: same exchanges, same rows") {
    // maskability is keyed on the registry agg closure, which .as keeps —
    // a renamed len/mean must not fall back to the 4-stage generic plan
    val df = corpus(61, n = 80)
    val plain = run(df, fused = true, Seq("value" -> len, "value" -> mean))
    val renamed = run(df, fused = true,
      Seq("value" -> len.as("n"), "value" -> mean.as("m")))
    assert(usesFused(renamed), "len.as / mean.as fell off the fused path")
    val (sp, sr) = (graft.PlanAudit.shape(plain), graft.PlanAudit.shape(renamed))
    assert(sr("shuffle_exchange") == sp("shuffle_exchange"),
      s"renamed ${graft.PlanAudit.render(sr)} vs plain ${graft.PlanAudit.render(sp)}")
    assert(renamed.columns.toSeq == Seq("user_id", "ts", "value__n__w=6h",
      "value__m__w=6h", "value__n__w=1D", "value__m__w=1D"))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(_.toSeq.map(String.valueOf)).toSeq
        .sortBy(_.mkString("|"))
    assert(rows(renamed) == rows(plain))
  }

  test("q72 declaration end-to-end: fused output equals the generic path " +
    "after the declared round(6)") {
    val df = corpus(53)
    def shaped(fused: Boolean) =
      run(df, fused, Seq("value" -> len, "value" -> mean))
        .select(col("user_id"), unix_micros(col("ts")).as("a"),
          col("`value__len__w=6h`"),
          round(col("`value__mean__w=6h`"), 6),
          col("`value__len__w=1D`"),
          round(col("`value__mean__w=1D`"), 6))
        .collect().map(_.toSeq.map(v => Option(v))).toSeq
        .sortBy(_.map(_.map(_.toString).getOrElse("")).mkString("|"))
    assert(shaped(fused = false) == shaped(fused = true))
  }
}
