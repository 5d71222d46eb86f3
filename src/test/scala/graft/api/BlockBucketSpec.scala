package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core._
import graft.expr.{BlockSliceUtil, BlockSlices, SortedSlice}

/** The block-sliced bucket path (BlockBucket) against its differential
  * twin, the per-window explode (`Gates.fuse` off), on randomized series.
  *
  * Outputs that read only the sorted buffer, `count`, `min` or `max` must be
  * bit-identical; outputs derived from `sum` or `avg` may differ by the
  * summation order only (1e-9 relative).
  */
class BlockBucketSpec extends SparkSpec {
  import FeatureFuncs._

  private val exactFns = Seq(catch22Tranche1, absDiffSum, crossings(0.5), len,
    FeatureFuncs.min, FeatureFuncs.max)
  private val sumFns = Seq(mean, FeatureFuncs.sum, linearTrendTimewise,
    indexMassQuantile(0.5))

  private def descs(series: String, w: Win, st: Seq[Win]): Seq[FeatureDescriptor] =
    (exactFns ++ sumFns).map(f => FeatureDescriptor(f, series, Some(w), Some(st)))

  private def sumDerived(c: String): Boolean =
    Seq("__mean__", "__sum__", "__ltt_", "__index_mass_").exists(c.contains)

  private def usesBlocks(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case g: Generate => g.generator.isInstanceOf[BlockSlices]
      case _ => false
    }

  private def readsSlices(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[SortedSlice])))

  /** Build `run` on both paths, assert which path each took — block-sliced,
    * or with `perWindow` one sorted buffer per explode-path window — and
    * compare every output. */
  private def differential(run: => DataFrame, perWindow: Boolean = false): Unit = {
    val block = run
    val explode = Gates.scoped(fuse = false)(run)
    assert(usesBlocks(block) != perWindow && readsSlices(block),
      s"the bucket did not take the ${if (perWindow) "per-window buffer" else "block"} path")
    assert(!usesBlocks(explode) && !readsSlices(explode))
    assert(block.columns.toSeq == explode.columns.toSeq)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.get(0).toString)
    val (a, b) = (rows(block), rows(explode))
    assert(a.length == b.length, s"window rows: block ${a.length}, explode ${b.length}")
    assert(a.nonEmpty)
    for ((ra, rb) <- a.zip(b); (c, j) <- block.columns.zipWithIndex) {
      val (x, y) = (ra.get(j), rb.get(j))
      val where = s"$c at ${ra.get(0)}"
      (x, y) match {
        case (p: java.lang.Double, q: java.lang.Double) if sumDerived(c) =>
          val (u, v) = (p.doubleValue, q.doubleValue)
          assert(u == v || (u.isNaN && v.isNaN) ||
            math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v)),
            s"$where: $u vs $v")
        case (p: java.lang.Double, q: java.lang.Double) =>
          assert(java.lang.Double.doubleToRawLongBits(p) ==
            java.lang.Double.doubleToRawLongBits(q), s"$where: $p vs $q")
        case _ => assert(x == y, s"$where: $x vs $y")
      }
    }
  }

  /** Irregular sequence series: gaps of 0 (duplicate indexes) to 5, one
    * long gap (empty windows), a run of null values longer than a window,
    * and scattered nulls and NaNs. */
  private def irregular(seed: Int, n: Int, step: Double = 1.0): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    var t = 0.0
    val rows = (0 until n).map { i =>
      t += (if (i == n / 2) 200 * step else r.nextInt(6) * step)
      val v: java.lang.Double =
        if (i > n / 4 && i < n / 4 + 40) null
        else r.nextInt(20) match {
          case 0 => null
          case 1 => Double.NaN
          case _ => r.nextGaussian() * 10
        }
      (t, v)
    }
    scala.util.Random.shuffle(rows).toDF("idx", "v").repartition(3)
  }

  test("block path ≡ explode: irregular sampling, duplicate indexes, nulls, NaNs, empty and all-null windows") {
    val df = irregular(1, 1500)
    differential(FeatureCollection.of(descs("v", Win.seq(30L), Seq(Win.seq(10L))))
      .calculate(Seq(Series("v", df, "idx", "v"))))
  }

  test("block path ≡ explode: multiple strides with includeFinalWindow") {
    val df = irregular(2, 1200)
    differential(FeatureCollection.of(
      descs("v", Win.seq(25L), Seq(Win.seq(7L), Win.seq(10L))))
      .calculate(Seq(Series("v", df, "idx", "v")), includeFinalWindow = true))
  }

  test("block path ≡ explode: a sequence index with a fractional stride") {
    val df = irregular(3, 1500, step = 0.13)
    differential(FeatureCollection.of(descs("v", Win.seq(2.5), Seq(Win.seq(0.7))))
      .calculate(Seq(Series("v", df, "idx", "v")), windowIdx = "middle"))
  }

  test("windowKeep: the per-window buffer path ≡ explode, pruning the same windows") {
    val df = irregular(4, 1500)
    val keep: (Column, Column) => Column =
      (n, anchor) => n > lit(12) || pmod(anchor, lit(7.0)) < 3
    differential(FeatureCollection.of(descs("v", Win.seq(30L), Seq(Win.seq(10L))))
      .calculate(Seq(Series("v", df, "idx", "v")), windowKeep = Some(keep)),
      perWindow = true)
  }

  test("block path ≡ explode: a time index, a window that is not a stride multiple and one shorter than its stride") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    var t = 1600000000000000L
    val rows = (0 until 3000).map { _ =>
      t += (r.nextInt(40) * 60000000L) // 0–39 minutes, duplicates included
      (new java.sql.Timestamp(t / 1000), if (r.nextInt(15) == 0) null
        else java.lang.Double.valueOf(r.nextGaussian()))
    }
    val df = rows.toDF("ts", "v").repartition(4)
    differential(FeatureCollection.of(
      descs("v", Win.time("1D"), Seq(Win.time("7h"))) ++
        descs("v", Win.time("3h"), Seq(Win.time("7h"))))
      .calculate(Seq(Series("v", df, "ts", "v"))))
  }

  test("block path ≡ explode: sample-count windows over a time index") {
    import spark.implicits._
    val r = new scala.util.Random(6)
    var t = 1600000000000L
    val rows = (0 until 1200).map { _ =>
      t += 1 + r.nextInt(5000)
      (new java.sql.Timestamp(t), if (r.nextInt(15) == 0) null
        else java.lang.Double.valueOf(r.nextGaussian()))
    }
    val df = rows.toDF("ts", "v").repartition(2)
    differential(FeatureCollection.of(descs("v", SampleWin(40), Seq(SampleWin(15))))
      .calculate(Seq(Series("v", df, "ts", "v"))))
  }

  test("a bucket with a leaf the slice cannot reproduce keeps the explode path") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toDouble, i * 0.5)).toDF("idx", "v")
    val out = FeatureCollection(
      FeatureDescriptor(catch22Tranche1, "v", Some(Win.seq(20L)), Some(Seq(Win.seq(5L)))),
      FeatureDescriptor(std, "v", Some(Win.seq(20L)), Some(Seq(Win.seq(5L)))))
      .calculate(Seq(Series("v", df, "idx", "v")))
    assert(!usesBlocks(out) && !readsSlices(out))
    // only decomposable aggregates: untouched
    val plain = FeatureCollection(
      FeatureDescriptor(mean, "v", Some(Win.seq(20L)), Some(Seq(Win.seq(5L)))))
      .calculate(Seq(Series("v", df, "idx", "v")))
    assert(!usesBlocks(plain) && !readsSlices(plain))
  }

  test("slices of a block follow the explode path's floor arithmetic at block edges") {
    // window 3, stride 1, blocks of 4 windows: the row at t lies in the
    // windows k ∈ [t−2, t], so windows 2..3 and 4..5 straddle block edges
    val idx = Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0)
    val nb = Array(6L)
    // rows 0–3 lie only in block 0's windows, 4–5 in both blocks, 6–7 in
    // block 1's; rows outside the grid in none
    def ids(t: Double): Seq[Long] =
      BlockSliceUtil.blockIds(t, 0.0, 3.0, Array(1.0), nb, 4.0).toLongArray().toSeq
    assert(idx.toSeq.map(ids) ==
      Seq.fill(4)(Seq(0L)) ++ Seq.fill(2)(Seq(0L, 1L)) ++ Seq.fill(2)(Seq(1L)))
    for (t <- Seq(-1.0, 100.0))
      assert(ids(t).isEmpty, s"row at $t assigned to blocks ${ids(t)}")
    val b0 = BlockSliceUtil.slices(0, idx.take(6), 0.0, 3.0, Array(1.0), nb, 4.0)
    assert(b0.toSeq == Seq((0.0, 0, 3), (1.0, 1, 4), (2.0, 2, 5), (3.0, 3, 6)))
    // block 1's buffer holds only the rows its windows need
    val b1 = BlockSliceUtil.slices(1, idx.drop(4), 0.0, 3.0, Array(1.0), nb, 4.0)
    assert(b1.toSeq == Seq((4.0, 0, 3), (5.0, 1, 4)))
  }

  test("a grid is cut into at most 64 blocks of at least one window's span, at any partition count") {
    for (nb <- Seq(1L, 7L, 1196L, 100000L); p <- Seq(1, 4, 200, 5000);
         (w, st) <- Seq((4.0, 1.0), (80.0, 20.0), (2.5, 0.7))) {
      val len = BlockSliceUtil.blockLength(w, Seq(st), Seq(nb), p)
      val blocks = BlockSliceUtil.blockIds(st * (nb - 1), 0.0, w, Array(st),
        Array(nb), len).toLongArray().last + 1
      assert(blocks <= 64 && len >= w, s"nb $nb, $p partitions, w/s $w/$st: $blocks blocks of $len")
    }
  }

  /** The mechanism: a sorted-buffer `calculate` over 1,000+ windows of one
    * partition, under `partitions` shuffle partitions. Every
    * ObjectHashAggregate keeps its hash map (the per-window keys of the
    * explode path overflow it and fall back to sorting), and no Generate
    * copies a row more than twice. */
  private def mechanism(partitions: Int): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val df = (0 until 24000).map(i => (i.toDouble, r.nextGaussian())).toDF("idx", "v")
      .coalesce(1)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val out = FeatureCollection(FeatureDescriptor(absDiffSum, "v",
        Some(Win.seq(80L)), Some(Seq(Win.seq(20L)))))
        .calculate(Seq(Series("v", df, "idx", "v")))
      // collect, not count: the plan whose metrics are read must be the one run
      assert(out.collect().length >= 1000)
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case _ => p +: p.children.flatMap(nodes)
      }
      def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value)
        .getOrElse(if (p.children.size == 1) rows(p.children.head) else 0L)
      val plan = nodes(out.queryExecution.executedPlan)
      val aggs = plan.filter(_.nodeName == "ObjectHashAggregate")
      assert(aggs.nonEmpty)
      aggs.foreach(a => assert(a.metrics("numTasksFallBacked").value == 0, a.simpleString(200)))
      val gen = plan.filter(_.nodeName == "Generate").maxBy(rows)
      val (in, outRows) = (rows(gen.children.head), rows(gen))
      assert(in == 24000 && outRows <= 2 * in, s"largest Generate: $in rows in, $outRows out")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("a sorted-buffer calculate over 1,000+ windows of one partition: no sort fallback, fan-out ≤ 2") {
    mechanism(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("the same mechanism holds under Spark's default 200 shuffle partitions") {
    mechanism(200)
  }
}
