package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Differential for the weighted span path ([[Scan.keyedSpanBrackets]] over
  * a `groupBy(key, value).count()` histogram) vs the RAW-ROW ranking it
  * collapses ([[Scan.keyedRank]] on every observation — the replaced
  * form stays as the oracle IN the same commit, the kernel-differential
  * discipline). The contract: a histogram row with weight w covers exactly
  * the w consecutive global ranks its duplicates would have held, so its
  * span must be (min(rawRank)−1, max(rawRank)] for that (key, value) — and
  * the quantile pipeline built on spans must be value-identical to the
  * replaced raw-row bracket aggregation.
  */
class SpanBracketsSpec extends SparkSpec {

  private val quantiles = Seq(0.0, 0.25, 0.5, 0.95, 1.0)

  test("histogram spans equal raw-row rank ranges (dups, null keys, hot key)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    // heavy duplication (9 value levels), a hot key, a NULL key, 2 metrics
    val data = (0 until 6000).map(_ => (Some(3L), rng.nextInt(2))) ++
      (0 until 900).map(_ => (Some(rng.nextInt(8).toLong), rng.nextInt(2))) ++
      (0 until 250).map(_ => (None: Option[Long], rng.nextInt(2)))
    val df = data.map { case (k, c) => (k, c, rng.nextInt(9) * 0.5) }
      .toDF("k", "c", "v").repartition(7)
    val raw = Scan.keyedRank(df, Seq("k", "c"), "v", "__rk", "__n")
      .groupBy("k", "c", "v")
      .agg((min(col("__rk")) - 1).as("lo"), max(col("__rk")).as("hi"),
        max(col("__n")).as("n"), count(lit(1)).as("w"))
    val hist = df.groupBy("k", "c", "v").agg(count(lit(1)).as("__w"))
    // pruneMinRows = 0 keeps this differential on the r18 PRUNE path (the
    // r19 small-input degrade would otherwise skip it at spec scale); the
    // degrade boundary itself is pinned in RankBracketsSpec
    val spanned = Gates.scoped(pruneMinRows = 0L) {
      Scan.keyedSpanBrackets(hist, Seq("k", "c"), "v", "__w",
        "__slo", "__shi", "__n", quantiles)
    }
    def rows(x: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      x.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "null" else v.toString)
          .mkString("|")).toSeq.sorted
    val a = rows(raw, Seq("k", "c", "v", "lo", "hi", "n", "w"))
    val b = rows(spanned, Seq("k", "c", "v", "__slo", "__shi", "__n", "__w"))
    assert(a == b, s"raw ranges:\n${a.take(12).mkString("\n")}\nvs spans:\n${
      b.take(12).mkString("\n")}")
  }

  test("weight-1 histogram reduces to keyedRankBrackets (unique values)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (0 until 3000).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(2), i * 1.0 + rng.nextDouble() * 0.1))
      .toDF("k", "c", "v").repartition(5)
    // weight-1 spans on the bracket rows ≡ the full ranking's ranks there
    // (the span path returns a superset of the bracket rows)
    val needed = quantiles.map { q =>
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
      col("__rk") === floor(pos) || col("__rk") === ceil(pos)
    }.reduce(_ || _)
    val viaRank = Scan.keyedRank(df, Seq("k", "c"), "v", "__rk", "__n")
      .select(col("k"), col("c"), col("v"), col("__rk"), col("__n"))
    val viaSpan = Gates.scoped(pruneMinRows = 0L) {
        Scan.keyedSpanBrackets(df.withColumn("__w", lit(1L)),
          Seq("k", "c"), "v", "__w", "__slo", "__shi", "__n", quantiles)
      }.select(col("k"), col("c"), col("v"), col("__shi").as("__rk"), col("__n"))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.where(needed).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(viaRank) == rows(viaSpan))
  }

  test("exactQuantilesMulti matches the replaced raw-row bracket pipeline") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    // quantized metric 1 (heavy dups), continuous metric 2, nulls in both,
    // a NULL key, an all-null-metric key
    val df = ((0 until 4000).map { _ =>
      val k = Some(rng.nextInt(10).toLong)
      (k, if (rng.nextInt(20) == 0) None else Some(rng.nextInt(12) * 2.5),
        if (rng.nextInt(25) == 0) None else Some(rng.nextGaussian() * 50))
    } ++ (0 until 200).map(_ => (None: Option[Long],
        Some(rng.nextInt(12) * 2.5), Some(rng.nextGaussian() * 50))) ++
      Seq((Some(999L), None, None)))
      .toDF("k", "m1", "m2").repartition(9)
    val qs = Seq("med" -> 0.5, "p95" -> 0.95)
    val got = GroupedStatsRawOracle.collectQuantiles(
      graft.scale.GroupedStats.exactQuantilesMulti(df, "k", Seq("m1", "m2"), qs))
    val exp = GroupedStatsRawOracle.collectQuantiles(
      GroupedStatsRawOracle.rawMulti(df, "k", Seq("m1", "m2"), qs))
    assert(got.keySet == exp.keySet)
    for (k <- got.keySet) {
      val (g, e) = (got(k), exp(k))
      assert(g.length == e.length)
      g.zip(e).foreach {
        case (None, None) => ()
        case (Some(x), Some(y)) =>
          assert(math.abs(x - y) < 1e-9, s"key $k: $x vs $y")
        case other => fail(s"key $k null mismatch: $other")
      }
    }
  }
}

/** The REPLACED raw-row quantile pipeline, kept verbatim as the spec's
  * oracle: unpivot to (key, metricIdx, value), rank every observation with
  * [[Scan.keyedRank]], aggregate the floor/ceil bracket rows.
  */
object GroupedStatsRawOracle {
  import org.apache.spark.sql.{Column, DataFrame}

  def rawMulti(df: DataFrame, keyCol: String, valCols: Seq[String],
               quantiles: Seq[(String, Double)]): DataFrame = {
    val pairs = array(valCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("__gs_c"), col(c).cast("double").as("__gs_v")) }: _*)
    val long0 = df.select(col(keyCol), explode(pairs).as("__gs_p"))
      .select(col(keyCol), col("__gs_p.__gs_c").as("__gs_c"),
        col("__gs_p.__gs_v").as("__gs_v"))
      .where(col("__gs_v").isNotNull)
    val ranked = Scan.keyedRank(
      long0, Seq(keyCol, "__gs_c"), "__gs_v", "__rk", "__n")
    val v = col("__gs_v")
    val metric = col("__gs_c")
    val aggs = for { (c, i) <- valCols.zipWithIndex; (label, q) <- quantiles }
    yield {
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
      val lo = floor(pos); val hi = ceil(pos); val frac = pos - lo
      val isC = metric === lit(i)
      val vLo = max(when(isC && col("__rk") === lo, v))
      val vHi = max(when(isC && col("__rk") === hi, v))
      (vLo * (lit(1.0) - max(when(isC && col("__rk") === lo, frac))) +
       vHi * max(when(isC && col("__rk") === hi, frac)))
        .as(s"q_${c}_$label")
    }
    val needed = quantiles.map { case (_, q) =>
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
      col("__rk") === floor(pos) || col("__rk") === ceil(pos)
    }.reduce(_ || _)
    val quantsByKey = ranked.where(needed)
      .groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    val keys = df.select(col(keyCol)).distinct()
    keys.join(quantsByKey.withColumnRenamed(keyCol, "__gs_rk"),
        col(keyCol) <=> col("__gs_rk"), "left")
      .drop("__gs_rk")
  }

  /** key → ordered quantile values (None for SQL null), keyed by the
    * row's first column rendered as a string ("null" for a NULL key).
    */
  def collectQuantiles(df: DataFrame): Map[String, Seq[Option[Double]]] =
    df.collect().map { r =>
      val k = if (r.isNullAt(0)) "null" else r.get(0).toString
      k -> (1 until r.length).map(i =>
        if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    }.toMap
}
