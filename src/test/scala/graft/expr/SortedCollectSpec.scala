package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential spec for the r18 sorted-window kernels.
  *
  * [[CollectSortedVals]] must reproduce the REPLACED chain
  * `transform(array_sort(collect_list(when(v.isNotNull, struct(i, v)))), _.v)`
  * bit-for-bit through a real grouped aggregation — duplicate and null
  * indexes, −0.0/0.0 ties, NaN carriers and all — and its index field the
  * same chain's `_.i` (the sorted index the `fromPairs` hatch and
  * linear_trend_timewise used to buffer separately). [[TemporalKernelUtil.hjorthFold]] and
  * [[TemporalKernelUtil.petrosianNd]] must reproduce their replaced slice+zip_with+aggregate
  * chains (kept here verbatim) on the KernelDegenerateSpec battery, and the
  * katz path's ABS_DIFF_SUM swap is pinned against the replaced
  * transform+fold form.
  */
class SortedCollectSpec extends SparkSpec {

  // ---- the replaced Column forms, verbatim --------------------------------

  private def oldSorted(i: Column, v: Column, field: String): Column =
    transform(
      array_sort(collect_list(when(v.isNotNull, struct(i.as("i"), v.as("v"))))),
      p => p.getField(field))

  private def oldSortedVals(i: Column, v: Column): Column = oldSorted(i, v, "v")

  private def arrDiffs(a: Column, m: Column): Column =
    zip_with(slice(a, lit(2), m), slice(a, lit(1), m), (b, c) => b - c)

  private def arrVarPop(arr: Column): Column =
    aggregate(arr,
      struct(lit(0L).as("n"), lit(0.0).as("s"), lit(0.0).as("s2")),
      (acc, x) => struct((acc.getField("n") + 1L).as("n"),
        (acc.getField("s") + x).as("s"),
        (acc.getField("s2") + x * x).as("s2")),
      acc => {
        val n = acc.getField("n").cast("double")
        when(acc.getField("n") > 0,
          (acc.getField("s2") - acc.getField("s") * acc.getField("s") / n) / n)
      })

  private def bits(d: java.lang.Double): Long =
    if (d == null) Long.MinValue
    else java.lang.Double.doubleToLongBits(d.doubleValue())

  test("CollectSortedVals ≡ transform(array_sort(collect_list)) through aggregation") {
    import spark.implicits._
    val r = new scala.util.Random(41)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, java.lang.Double, java.lang.Double)]()
    // dense random groups (with duplicate indexes so the v tie-break runs)
    for (g <- 0 until 6; _ <- 0 until 200) {
      val i = (r.nextInt(40) * 100).toDouble + (if (r.nextBoolean()) 0.5 else 0.0)
      rows += ((g, i, r.nextDouble() * 20 - 10))
    }
    // one large group: the merge sort's deep-recursion path
    for (_ <- 0 until 10000)
      rows += ((6, r.nextDouble() * 1e6, r.nextDouble() * 1e6 - 5e5))
    // handcrafted carriers
    rows += ((7, 1.0, 3.0)); rows += ((7, 1.0, 3.0)) // dup (i, v)
    rows += ((7, -0.0, 9.0)); rows += ((7, 0.0, -9.0)) // −0.0 == 0.0 tie → v order
    rows += ((7, 2.0, Double.NaN)); rows += ((7, 2.0, 5.0)) // NaN v after real on tie
    rows += ((7, Double.NaN, 1.0)); rows += ((7, Double.NaN, -1.0)) // NaN i last, tie by v
    rows += ((7, Double.NegativeInfinity, 7.0))
    rows += ((7, Double.PositiveInfinity, 8.0))
    rows += ((7, 3.0, null)) // null v: dropped
    rows += ((7, null, 4.0)); rows += ((7, null, -4.0)) // null i: first, tie by v
    rows += ((8, 1.0, null)); rows += ((8, 2.0, null)) // all-null group → empty array
    val df = rows.toSeq.toDF("g", "i", "v")
    val out = df.groupBy("g").agg(
      CollectSortedVals(col("i"), col("v")).as("k"),
      oldSortedVals(col("i"), col("v")).as("o"),
      oldSorted(col("i"), col("v"), "i").as("oi"))
      .select(col("g"), col("k.v"), col("o"), col("k.i"), col("oi")).collect()
    assert(out.nonEmpty)
    // raw bits: −0.0 and NaN must come through the index field unchanged
    def rawBits(d: java.lang.Double): Long =
      if (d == null) Long.MinValue
      else java.lang.Double.doubleToRawLongBits(d.doubleValue())
    out.foreach { row =>
      for ((a, b, what) <- Seq((1, 2, "v"), (3, 4, "i"))) {
        val k = row.getSeq[java.lang.Double](a)
        val o = row.getSeq[java.lang.Double](b)
        assert(k.length == o.length,
          s"g=${row.getInt(0)} $what length ${k.length} vs ${o.length}")
        k.indices.foreach { j =>
          assert(rawBits(k(j)) == rawBits(o(j)),
            s"g=${row.getInt(0)} $what pos $j: kernel=${k(j)} old=${o(j)}")
        }
      }
    }
    // the carriers actually reach the index field: two null indexes first,
    // then −0.0 (its own bits, not the sort key's normalized 0.0), NaN last
    val g7 = out.find(_.getInt(0) == 7).get.getSeq[java.lang.Double](3)
    assert(g7.take(2).forall(_ == null))
    assert(g7.exists(d => d != null &&
      java.lang.Double.doubleToRawLongBits(d) == java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(g7.last.isNaN)
    // the all-null group must yield EMPTY arrays on both sides
    val g8 = out.find(_.getInt(0) == 8).get
    assert((1 to 4).forall(c => g8.getSeq[Any](c).isEmpty))
  }

  test("CollectSortedVals over a bigint index: values and index ≡ the replaced chain") {
    import spark.implicits._
    val r = new scala.util.Random(43)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, java.lang.Long, java.lang.Double)]()
    for (g <- 0 until 4; _ <- 0 until 300)
      rows += ((g, java.lang.Long.valueOf(r.nextInt(50).toLong * 1000000007L), r.nextDouble()))
    // the extremes a bigint index may hold (Long.MinValue itself is the
    // null sentinel's key and is rejected — see the next test)
    rows += ((4, Long.MinValue + 1, 1.0)); rows += ((4, Long.MaxValue, 3.0))
    rows += ((4, 5L, null)) // null v: dropped
    rows += ((5, null, 2.0)); rows += ((5, 7L, 1.0)); rows += ((5, null, 0.5))
    val df = rows.toSeq.toDF("g", "i", "v").repartition(3)
    val out = df.groupBy("g").agg(
      CollectSortedVals(col("i"), col("v")).as("k"),
      oldSorted(col("i"), col("v"), "v").as("o"),
      oldSorted(col("i"), col("v"), "i").as("oi"))
      .select(col("g"), col("k.v"), col("o"), col("k.i"), col("oi")).collect()
    assert(out.length == 6)
    out.foreach { row =>
      val kv = row.getSeq[Double](1); val ov = row.getSeq[Double](2)
      assert(kv.map(java.lang.Double.doubleToRawLongBits) ==
        ov.map(java.lang.Double.doubleToRawLongBits), s"g=${row.getInt(0)} v")
      assert(row.getSeq[java.lang.Long](3) == row.getSeq[java.lang.Long](4),
        s"g=${row.getInt(0)} i")
    }
  }

  test("CollectSortedVals rejects a bigint Long.MinValue index, the null sentinel's key") {
    import spark.implicits._
    // sorted as the sentinel, (Long.MinValue, 1.0) and (null, 2.0) would tie
    // on the index and order by value, [1.0, 2.0] — where array_sort puts
    // the null index first
    val df = Seq[(java.lang.Long, Double)]((Long.MinValue, 1.0), (null, 2.0))
      .toDF("i", "v")
    val e = intercept[Exception](
      df.agg(CollectSortedVals(col("i"), col("v")).as("k")).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("Long.MinValue"), msgs)
  }

  // windows for the scalar kernels: random + the degenerate battery
  private def windows: Seq[Seq[Double]] = {
    val r = new scala.util.Random(59)
    val rand = Seq.fill(40)(Seq.fill(2 + r.nextInt(60))(r.nextDouble() * 20 - 10))
    rand ++ Seq(
      Seq.empty[Double], Seq(5.0), Seq(1.0, 2.0), Seq(1.0, 2.0, 4.0),
      Seq(-2.5, -2.5, -2.5, -2.5), // constant: zero diffs throughout
      Seq(0.0, -0.0, 0.0, -0.0), // ±0 diffs: signum −0.0 ≡ 0.0 under =!=
      Seq(1.0, 3.0, 3.0, 3.0, 1.0), // plateau: zero-signum run
      Seq(1.0, Double.NaN, 2.0, 5.0, 3.0), // NaN diffs: NaN =!= NaN is false
      Seq(Double.PositiveInfinity, 1.0, Double.NegativeInfinity, 2.0),
      Seq(1e300, -1e300, 1e300, -1e300),
      Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0))
  }

  test("HjorthFoldK ≡ the replaced arrVarPop(arrDiffs) chains, bit-for-bit") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
    val m1 = greatest(col("n") - 1L, lit(0L)).cast("int")
    val m2 = greatest(col("n") - 2L, lit(0L)).cast("int")
    val dx = arrDiffs(col("w"), m1)
    val ddx = arrDiffs(dx, m2)
    val hj = Kernels.hjorthFold(col("w"))
    val rows = df.select(col("w"),
      hj.getField("vdx").as("k1"), arrVarPop(dx).as("o1"),
      hj.getField("vddx").as("k2"), arrVarPop(ddx).as("o2")).collect()
    rows.foreach { r =>
      def d(idx: Int): java.lang.Double =
        if (r.isNullAt(idx)) null else java.lang.Double.valueOf(r.getDouble(idx))
      assert(bits(d(1)) == bits(d(2)),
        s"vdx diverged on ${r.getSeq[Double](0)}: kernel=${d(1)} old=${d(2)}")
      assert(bits(d(3)) == bits(d(4)),
        s"vddx diverged on ${r.getSeq[Double](0)}: kernel=${d(3)} old=${d(4)}")
    }
  }

  test("PetrosianNdK ≡ the replaced signum zip_with fold, bit-for-bit") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
    val m1 = greatest(col("n") - 1L, lit(0L)).cast("int")
    val m2 = greatest(col("n") - 2L, lit(0L)).cast("int")
    val sg = transform(arrDiffs(col("w"), m1), x => signum(x))
    val old = aggregate(
      zip_with(slice(sg, lit(2), m2), slice(sg, lit(1), m2),
        (a, b) => when(a =!= b, 1.0).otherwise(0.0)),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(col("w"), Kernels.petrosianNd(col("w")).as("k"), old.as("o"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"nd diverged on ${r.getSeq[Double](0)}: kernel=${r.getDouble(1)} old=${r.getDouble(2)}")
    }
  }

  test("katz L: ABS_DIFF_SUM fold ≡ the replaced transform+aggregate form") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
    val m1 = greatest(col("n") - 1L, lit(0L)).cast("int")
    val old = aggregate(transform(arrDiffs(col("w"), m1), x => abs(x)),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(col("w"),
      Kernels.temporalFold(TemporalKernelUtil.ABS_DIFF_SUM)(col("w")).as("k"), old.as("o"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"L diverged on ${r.getSeq[Double](0)}: kernel=${r.getDouble(1)} old=${r.getDouble(2)}")
    }
  }

  test("degenerate windows: hjorth null thresholds, petrosian base") {
    import spark.implicits._
    val df = Seq(
      Seq.empty[Double], Seq(5.0), Seq(1.0, 3.0), Seq(1.0, 2.0, 4.0))
      .toDF("w")
    val hj = Kernels.hjorthFold(col("w"))
    val got = df.select(hj.getField("vdx"), hj.getField("vddx"),
      Kernels.petrosianNd(col("w"))).collect()
    // n=0, n=1: no diffs at all
    assert(got(0).isNullAt(0) && got(0).isNullAt(1) && got(0).getDouble(2) == 0.0)
    assert(got(1).isNullAt(0) && got(1).isNullAt(1) && got(1).getDouble(2) == 0.0)
    // n=2: one dx (variance 0), no ddx, no signum pair
    assert(got(2).getDouble(0) == 0.0 && got(2).isNullAt(1) &&
      got(2).getDouble(2) == 0.0)
    // n=3: two dx (1.0, 2.0) → var_pop 0.25; one ddx → 0.0; signums equal
    assert(got(3).getDouble(0) == 0.25 && got(3).getDouble(1) == 0.0 &&
      got(3).getDouble(2) == 0.0)
  }
}
