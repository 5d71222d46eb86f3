package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Differential for the bracket prune of [[Scan.keyedSpanBrackets]] (over
  * unit weights, whose span upper bound is the row's rank) vs the full
  * [[Scan.keyedRank]] it specializes (the kernel-differential discipline:
  * the replaced form stays as the oracle IN the same commit).
  * The bracket path keeps only the (partition, key) segments containing a
  * floor/ceil(1+(n−1)q) rank; on surviving rows its ranks must equal the
  * full ranking's, so `brackets.where(needed)` must match
  * `full.where(needed)` row-for-row. Ties are compared by CONTENT (among
  * equal order values row_number is sort-arbitrary, but tied rows carry
  * equal values, so the bracket filter selects identical row content
  * either way).
  */
class RankBracketsSpec extends SparkSpec {

  private val quantiles = Seq(0.0, 0.25, 0.5, 0.95, 1.0)

  private def full(df: org.apache.spark.sql.DataFrame) =
    Scan.keyedRank(df, Seq("k", "c"), "v", "__rk", "__n")

  /** Weight-1 bracket ranking, laid out (k, c, v, __n, __rk) like [[full]]. */
  private def brackets(df: org.apache.spark.sql.DataFrame, q: Seq[Double]) =
    Scan.keyedSpanBrackets(df.withColumn("__w", lit(1L)), Seq("k", "c"), "v",
      "__w", "__slo", "__rk", "__n", q).drop("__w", "__slo")

  private def needed = quantiles.map { q =>
    val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
    col("__rk") === floor(pos) || col("__rk") === ceil(pos)
  }.reduce(_ || _)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Option[Long],
      Option[Int], Double, Long, Long)] =
    df.where(needed).collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getDouble(2), r.getLong(3), r.getLong(4))
    }.toSeq.sorted(Ordering.by((t: (Option[Long], Option[Int], Double, Long,
      Long)) => (t._1.getOrElse(Long.MinValue), t._2.getOrElse(Int.MinValue),
      t._3, t._4)))

  test("bracket rows identical to the full ranking (composite key, ties, null keys)") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    // hot key 7 (10k rows), several small keys, a NULL key, heavy ties
    // (values quantized to 40 levels), two metrics
    val data = (0 until 10000).map(_ => (Some(7L), rng.nextInt(2))) ++
      (0 until 800).map(_ => (Some(rng.nextInt(12).toLong), rng.nextInt(2))) ++
      (0 until 300).map(_ => (None: Option[Long], rng.nextInt(2)))
    val df = data.map { case (k, c) =>
      (k, c, (rng.nextInt(40) * 0.25) + 1.0) }.toDF("k", "c", "v")
      .repartition(7)
    val brk = Gates.scoped(pruneMinRows = 0L) { brackets(df, quantiles) }
    val a = rows(full(df))
    val b = rows(brk)
    assert(a == b, s"full bracket rows:\n${a.take(20).mkString("\n")}\n" +
      s"vs targeted:\n${b.take(20).mkString("\n")}")
  }

  test("small-input degrade boundary (r19): under pruneMinRows the prune is " +
    "skipped, rows identical either side") {
    import spark.implicits._
    // one hot key over many range partitions with a single interior
    // quantile — the regime where the r18 prune both fires (selective) and
    // pays off; the r19 degrade must skip it purely on size
    val df = (0 until 40000).map(i => (1L, 0, i * 1.0)).toDF("k", "c", "v")
      .repartition(8)
    val q = Seq(0.5)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // default threshold (4M ≫ 40k rows) → degrade: no LeftSemi anywhere
      val degraded = brackets(df, q)
      assert(!degraded.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("leftsemi"),
        "under the threshold the bracket prune must be skipped")
      // threshold forced to 0 → the r18 prune path, LeftSemi present
      val pruned = Gates.scoped(pruneMinRows = 0L) { brackets(df, q) }
      assert(pruned.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("leftsemi"),
        "above the threshold the prune decision must proceed")
      // bracket rows identical on both sides of the boundary
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(0.5)
      val want = col("__rk") === floor(pos) || col("__rk") === ceil(pos)
      def picked(x: org.apache.spark.sql.DataFrame) =
        x.where(want).collect().map(_.getDouble(2)).toSeq.sorted
      assert(picked(degraded) == picked(full(df)))
      assert(picked(pruned) == picked(full(df)))
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }

  test("targeted path drops non-bracket segments (hot key across partitions)") {
    import spark.implicits._
    // one hot key spread across the session's 4 range partitions, a single
    // interior quantile → only the segment holding the median bracket (plus
    // boundary straddles) survives; at real partition counts the kept
    // fraction is ~2·|q|/P (the win the q89 100× attribution motivated)
    val df = (0 until 40000).map(i => (1L, 0, i * 1.0)).toDF("k", "c", "v")
      .repartition(8)
    // at this row count AQE coalesces the internal range exchange to ONE
    // partition (one segment per key = nothing to drop) — hold it at the
    // configured width so the partition-pinpointing is observable
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val all = full(df)
      val brk = Gates.scoped(pruneMinRows = 0L) { brackets(df, Seq(0.5)) }
      assert(brk.count() < all.count(),
        "bracket path kept as many rows as the full ranking")
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(0.5)
      val want = col("__rk") === floor(pos) || col("__rk") === ceil(pos)
      assert(brk.where(want).collect().map(_.getDouble(2)).toSeq.sorted ==
        all.where(want).collect().map(_.getDouble(2)).toSeq.sorted)
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }

  test("shuffled-stitch degrade (broadcastLimit 0) stays identical") {
    // broadcastRows = 0: every summary-sized side shuffles
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val df = (0 until 2000).map(_ =>
      (rng.nextInt(6).toLong, rng.nextInt(2), rng.nextGaussian()))
      .toDF("k", "c", "v").repartition(5)
    val brk = Gates.scoped(broadcastRows = 0L, pruneMinRows = 0L) {
      brackets(df, quantiles)
    }
    def slim(x: org.apache.spark.sql.DataFrame) =
      x.where(needed).select(col("k"), col("c"), col("v"), col("__rk"), col("__n"))
        .collect().map(_.toSeq).toSeq
        .sortBy(_.map(v => if (v == null) "" else v.toString).mkString("|"))
    assert(slim(brk) == slim(full(df)))
  }

  test("per-entity-key regime: selectivity degrade skips the semi prune") {
    import spark.implicits._
    // keys >> partitions: ~every (partition, key) segment holds a bracket
    // target, so the prune would keep everything — the counted degrade
    // must rank directly (no LeftSemi in the plan) with identical rows
    val rng = new scala.util.Random(11)
    val df = (0 until 8000).map(i =>
      (i.toLong % 2000, 0, rng.nextGaussian())).toDF("k", "c", "v")
      .repartition(5)
    val brk = Gates.scoped(pruneMinRows = 0L) { brackets(df, quantiles) }
    assert(!brk.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("leftsemi"),
      "non-selective bracket path must skip the semi prune")
    val a = rows(full(df))
    val b = rows(brk)
    assert(a == b)
  }

  test("single-key quantile pipeline unchanged end-to-end (numpy interpolation)") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val df = (0 until 5000).map(_ =>
      (rng.nextInt(9).toLong, rng.nextDouble() * 100)).toDF("k", "v")
    val got = graft.scale.GroupedStats.exactQuantiles(df, "k", "v",
      Seq("med" -> 0.5, "p95" -> 0.95))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // oracle: Spark's exact percentile aggregate (linear interpolation,
    // the same numpy/quantile_cont convention)
    val exp = df.groupBy("k").agg(
      expr("percentile(v, 0.5)").as("m"), expr("percentile(v, 0.95)").as("p"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == exp.keySet)
    got.keySet.foreach { k =>
      assert(math.abs(got(k)._1 - exp(k)._1) < 1e-9, s"median of $k")
      assert(math.abs(got(k)._2 - exp(k)._2) < 1e-9, s"p95 of $k")
    }
  }
}
