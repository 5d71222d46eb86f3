package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential spec for [[TemporalKernelUtil.temporalFold]]: each mode must reproduce the
  * REPLACED Catalyst HOF chain bit-for-bit on random windows (the chains
  * are kept here verbatim), plus hand-computed degenerate rows (empty /
  * single / constant / NaN / Inf) in the KernelDegenerateSpec tradition.
  */
class TemporalFoldSpec extends SparkSpec {
  import TemporalKernelUtil.{ABS_DIFF_SUM, AUC, CENTROID_NUM, DISTANCE,
    IDX_DOT, MEAN_ABS_DIFF, MEDIAN_ABS_DIFF, MEDIAN_DIFF, SUM_SQ_DIFF}

  // ---- the replaced Column forms, verbatim (over a ready values array) ----

  private def arrDiffs(a: Column, m: Column): Column =
    zip_with(slice(a, lit(2), m), slice(a, lit(1), m), (b, c) => b - c)

  private def oldMeanAbsDiff(vals: Column, n: Column): Column = {
    val d = transform(arrDiffs(vals, (n - 1).cast("int")), x => abs(x))
    aggregate(d, lit(0.0), (acc, x) => acc + x) / (n - 1).cast("double")
  }

  private def oldMedian(a: Column, n: Column): Column = {
    val s = array_sort(a)
    val h = floor(n / lit(2.0)).cast("int")
    when(n >= 1,
      when(n % 2 === 1, element_at(s, h + 1))
        .otherwise((element_at(s, h) + element_at(s, h + 1)) / 2.0))
  }

  private def oldDistance(vals: Column, n: Column): Column =
    aggregate(arrDiffs(vals, (n - 1).cast("int")), lit(0.0),
      (acc, d) => acc + sqrt(lit(1.0) + d * d))

  private def oldAuc(vals: Column, n: Column, fs: Double): Column = {
    val m = greatest(n - 1, lit(0L)).cast("int")
    aggregate(
      zip_with(slice(vals, lit(1), m), slice(vals, lit(2), m),
        (a, b) => abs(a + b)),
      lit(0.0), (acc, x) => acc + x) * lit(0.5 / fs)
  }

  private def oldCentroidNum(vals: Column, fs: Double): Column =
    aggregate(transform(vals, (x, i) => i.cast("double") * x * x),
      lit(0.0), (acc, x) => acc + x) / lit(fs)

  private def oldAbsDiffSum(vals: Column, n: Column): Column = {
    val m = greatest(n - 1, lit(0L)).cast("int")
    aggregate(
      zip_with(slice(vals, lit(1), m), slice(vals, lit(2), m),
        (a, b) => abs(b - a)),
      lit(0.0), (acc, x) => acc + x)
  }

  // windows: dense random, short, spiky, negative, fractional — plus NaN
  // and Inf carriers (the HOF chains propagate them; the kernel must match
  // bit-for-bit, NaN included)
  private def windows: Seq[Seq[Double]] = {
    val r = new scala.util.Random(23)
    val rand = Seq.fill(40)(Seq.fill(2 + r.nextInt(60))(r.nextDouble() * 20 - 10))
    rand ++ Seq(
      Seq(1.0, 2.0), Seq(3.0, 1.0, 4.0, 1.0, 5.0),
      Seq(-2.5, -2.5, -2.5), Seq(0.0, -0.0, 0.0),
      Seq(1.0, Double.NaN, 2.0, 5.0),
      Seq(Double.PositiveInfinity, 1.0, -1.0),
      Seq(1e300, -1e300, 1e300))
  }

  private def bits(d: java.lang.Double): Long =
    if (d == null) Long.MinValue
    else java.lang.Double.doubleToLongBits(d.doubleValue())

  test("every mode ≡ its replaced HOF chain, bit-for-bit (NaN/Inf included)") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
    val vals = col("w")
    val fs = 0.04
    val cases: Seq[(String, Column, Column)] = Seq(
      ("mean_abs_diff", Kernels.temporalFold(MEAN_ABS_DIFF)(vals),
        oldMeanAbsDiff(vals, col("n"))),
      ("median_abs_diff", Kernels.temporalFold(MEDIAN_ABS_DIFF)(vals),
        oldMedian(transform(arrDiffs(vals, (col("n") - 1).cast("int")),
          x => abs(x)), (col("n") - 1).cast("int"))),
      ("median_diff", Kernels.temporalFold(MEDIAN_DIFF)(vals),
        oldMedian(arrDiffs(vals, (col("n") - 1).cast("int")),
          (col("n") - 1).cast("int"))),
      ("distance", Kernels.temporalFold(DISTANCE)(vals),
        oldDistance(vals, col("n"))),
      ("auc", Kernels.temporalFold(AUC, fs)(vals), oldAuc(vals, col("n"), fs)),
      ("centroid_num", Kernels.temporalFold(CENTROID_NUM, fs)(vals),
        oldCentroidNum(vals, fs)),
      ("abs_diff_sum", Kernels.temporalFold(ABS_DIFF_SUM)(vals),
        oldAbsDiffSum(vals, col("n"))))
    for ((name, kernel, old) <- cases) {
      val rows = df.select(col("w"), kernel.as("k"), old.as("o")).collect()
      rows.foreach { r =>
        val k = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
        val o = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
        assert(bits(k) == bits(o),
          s"$name diverged on ${r.getSeq[Double](0)}: kernel=$k old=$o")
      }
    }
  }

  // ---- the replaced q71/q80 Column chains, verbatim -----------------------

  private def oldCrossings(vals: Column, n: Column, thr: Column): Column = {
    val above = transform(vals, x => (x > thr).cast("int"))
    val len = greatest(n - 1, lit(0L)).cast("int")
    aggregate(
      zip_with(slice(above, lit(1), len), slice(above, lit(2), len),
        (a, b) => when(a =!= b, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  private def oldAutocorrCov(vals: Column, n: Column, mu: Column,
                             lag: Int): Column = {
    val m = greatest(n - lit(lag.toLong), lit(0L)).cast("int")
    aggregate(
      zip_with(slice(vals, lit(1), m), slice(vals, lit(1 + lag), m),
        (a, b) => (a - mu) * (b - mu)),
      lit(0.0), (acc, x) => acc + x) / m.cast("double")
  }

  private def oldBinnedEntropy(vals: Column, n: Column, mn: Column,
                               mx: Column, bins: Int): Column = {
    val binOf: Column => Column = x =>
      when(mx > mn,
        least(floor((x - mn) / (mx - mn) * lit(bins)), lit(bins - 1)).cast("int"))
        .otherwise(lit(0))
    val counts = aggregate(vals,
      array((0 until bins).map(_ => lit(0L)): _*),
      (acc, x) => {
        val b = binOf(x)
        transform(acc, (c, i) => when(i === b, c + 1L).otherwise(c))
      })
    aggregate(counts, lit(0.0), (acc, c0) => {
      val c = c0.cast("double")
      acc + when(c > 0, -(c / n.cast("double")) * log(c / n.cast("double")))
        .otherwise(lit(0.0))
    })
  }

  private def oldSumSqDiff(vals: Column, n: Column): Column = {
    val m = greatest(n - 1, lit(0L)).cast("int")
    aggregate(
      zip_with(slice(vals, lit(1), m), slice(vals, lit(2), m),
        (a, b) => (b - a) * (b - a)),
      lit(0.0), (acc, x) => acc + x)
  }

  private def oldLongestStrike(vals: Column, mu: Column): Column =
    aggregate(vals,
      struct(lit(0L).as("best"), lit(0L).as("cur")),
      (acc, x) => {
        val cur2 = when(x > mu, acc.getField("cur") + 1L).otherwise(lit(0L))
        struct(greatest(acc.getField("best"), cur2).as("best"), cur2.as("cur"))
      },
      acc => acc.getField("best"))

  private def oldRatioBeyond(vals: Column, n: Column, mu: Column, sd: Column,
                             r: Int): Column =
    size(filter(vals, x => abs(x - mu) > lit(r.toDouble) * sd))
      .cast("double") / n.cast("double")

  test("q71/q80 kernels ≡ their replaced HOF chains (NaN/Inf included)") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
      // scalar companions computed the way the wrappers compute them:
      // NATIVE aggregates over the exploded window (mean / stddev_pop with
      // Spark's own summation), min/max under NaN-greatest ordering
      .withColumn("id", monotonically_increasing_id())
    val stats = df.select(col("id"), explode(col("w")).as("x"))
      .groupBy("id").agg(avg(col("x")).as("mu"),
        stddev_pop(col("x")).as("sd"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
    val j = df.join(stats, Seq("id"))
    val vals = col("w")
    val cases: Seq[(String, Column, Column)] = Seq(
      ("crossings(3.5)", Kernels.crossings(vals, lit(3.5)),
        oldCrossings(vals, col("n"), lit(3.5))),
      ("mean_crossings", Kernels.crossings(vals, col("mu")),
        oldCrossings(vals, col("n"), col("mu"))),
      // autocorr lag 1 only here: every window has n ≥ 2, so the replaced
      // form's 0.0 / 0 divisor never evaluates. At lag 3 the OLD chain
      // THROWS DIVIDE_BY_ZERO under ANSI on n ≤ 3 windows (a latent bug
      // the production wrapper's n > lag guard never protected against —
      // CaseWhen guards the cov/varp division, not the fold's internal
      // one); the kernel's Java 0.0/0 = NaN fixes it — pinned below on
      // the n > 3 subset and in the degenerate rows.
      ("autocorr_cov(1)", Kernels.autocorrCov(1)(vals, col("mu")),
        oldAutocorrCov(vals, col("n"), col("mu"), 1)),
      ("binned_entropy(5)", Kernels.binnedEntropy(5)(vals),
        oldBinnedEntropy(vals, col("n"), col("mn"), col("mx"), 5)),
      ("sum_sq_diff", Kernels.temporalFold(SUM_SQ_DIFF)(vals),
        oldSumSqDiff(vals, col("n"))),
      ("longest_strike", Kernels.longestStrike(vals, col("mu")),
        oldLongestStrike(vals, col("mu"))),
      ("ratio_beyond(1)", Kernels.ratioBeyond(1.0)(vals, col("mu"), col("sd")),
        oldRatioBeyond(vals, col("n"), col("mu"), col("sd"), 1)))
    for ((name, kernel, old) <- cases) {
      val rows = try j.select(col("w"), kernel.cast("double").as("k"),
        old.cast("double").as("o")).collect()
      catch { case e: Throwable =>
        fail(s"case $name threw: ${e.getMessage.take(200)}") }
      rows.foreach { r =>
        val k = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
        val o = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
        assert(bits(k) == bits(o),
          s"$name diverged on ${r.getSeq[Double](0)}: kernel=$k old=$o")
      }
    }
  }

  test("autocorr_cov lag 3 ≡ old chain on n > 3; NaN (not a throw) below") {
    import spark.implicits._
    val df = windows.filter(_.size > 3)
      .toDF("w").withColumn("n", size(col("w")).cast("long"))
      .withColumn("id", monotonically_increasing_id())
    val stats = df.select(col("id"), explode(col("w")).as("x"))
      .groupBy("id").agg(avg(col("x")).as("mu"))
    val j = df.join(stats, Seq("id"))
    val rows = j.select(col("w"),
      Kernels.autocorrCov(3)(col("w"), col("mu")).as("k"),
      oldAutocorrCov(col("w"), col("n"), col("mu"), 3).as("o")).collect()
    rows.foreach { r =>
      assert(bits(java.lang.Double.valueOf(r.getDouble(1))) ==
        bits(java.lang.Double.valueOf(r.getDouble(2))),
        s"lag-3 diverged on ${r.getSeq[Double](0)}")
    }
    // n ≤ lag: the kernel yields NaN (0.0/0 in Java) where the old chain
    // threw DIVIDE_BY_ZERO under ANSI — the wrapper's n > lag guard
    // discards the value either way
    val short = Seq(Seq(1.0, 2.0)).toDF("w")
      .select(Kernels.autocorrCov(3)(col("w"), lit(1.5)).as("k")).head()
    assert(java.lang.Double.isNaN(short.getDouble(0)))
  }

  test("number_peaks_1 ≡ its replaced chain on NaN-free windows") {
    import spark.implicits._
    // NaN windows excluded BY DESIGN: the replaced chain inherited Spark's
    // NaN-greatest `>` (a NaN centre counted as a peak), the shared
    // NeighbourhoodPeaksK kernel keeps Java comparisons (it never counts) —
    // the documented deviation of the whole neighbourhood-peaks family.
    val df = windows.filterNot(_.exists(d => d.isNaN))
      .toDF("w").withColumn("n", size(col("w")).cast("long"))
    val vals = col("w")
    val m2 = greatest(col("n") - 2, lit(0L)).cast("int")
    val mid = slice(vals, lit(2), m2)
    val gtPrev = zip_with(mid, slice(vals, lit(1), m2),
      (m, p) => (m > p).cast("int"))
    val gtNext = zip_with(mid, slice(vals, lit(3), m2),
      (m, x) => (m > x).cast("int"))
    val old = when(col("n") >= 3, aggregate(
      zip_with(gtPrev, gtNext,
        (a, b) => when(a === 1 && b === 1, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)).otherwise(lit(0L))
    val rows = df.select(Kernels.neighbourhoodPeaks(1)(vals).as("k"), old.as("o"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("degenerate windows: hand-computed expectations") {
    def ad(xs: Double*): Array[Double] = xs.toArray
    def f(a: Array[Double], mode: Int, fs: Double = 1.0): Any =
      TemporalKernelUtil.temporalFold(a, mode, fs)
    // no diffs -> null for mean/median modes, 0.0 for the sum modes
    for (a <- Seq(ad(), ad(7.0))) {
      assert(f(a, MEAN_ABS_DIFF) == null)
      assert(f(a, MEDIAN_ABS_DIFF) == null)
      assert(f(a, MEDIAN_DIFF) == null)
      assert(f(a, DISTANCE) == java.lang.Double.valueOf(0.0))
      assert(f(a, AUC, 0.5) == java.lang.Double.valueOf(0.0))
      assert(f(a, ABS_DIFF_SUM) == java.lang.Double.valueOf(0.0))
    }
    // empty centroid numerator is 0; a singleton's position weight is 0·x²
    assert(f(ad(), CENTROID_NUM, 2.0) == java.lang.Double.valueOf(0.0))
    assert(f(ad(5.0), CENTROID_NUM, 2.0) == java.lang.Double.valueOf(0.0))
    // constant window: diffs all zero
    val c = ad(4.0, 4.0, 4.0, 4.0)
    assert(f(c, MEAN_ABS_DIFF) == java.lang.Double.valueOf(0.0))
    assert(f(c, MEDIAN_DIFF) == java.lang.Double.valueOf(0.0))
    assert(f(c, DISTANCE) == java.lang.Double.valueOf(3.0)) // 3 · √1
    // hand case: [0, 3, 1] -> diffs [3, -2], |diffs| [3, 2]
    val h = ad(0.0, 3.0, 1.0)
    assert(f(h, MEAN_ABS_DIFF) == java.lang.Double.valueOf(2.5))
    assert(f(h, MEDIAN_ABS_DIFF) == java.lang.Double.valueOf(2.5))
    assert(f(h, MEDIAN_DIFF) == java.lang.Double.valueOf(0.5)) // (-2+3)/2
    assert(f(h, ABS_DIFF_SUM) == java.lang.Double.valueOf(5.0))
    // auc fs=0.5: (|0+3| + |3+1|) · (0.5/0.5) = 7
    assert(f(h, AUC, 0.5) == java.lang.Double.valueOf(7.0))
    // centroid num fs=2: (0·0 + 1·9 + 2·1)/2 = 5.5
    assert(f(h, CENTROID_NUM, 2.0) == java.lang.Double.valueOf(5.5))
    // NaN poisons the mean/dist folds; median sorts NaN last (odd count
    // picks the middle finite diff)
    val nz = ad(1.0, Double.NaN, 2.0, 5.0) // diffs [NaN, NaN, 3]
    assert(java.lang.Double.isNaN(f(nz, MEAN_ABS_DIFF)
      .asInstanceOf[java.lang.Double].doubleValue()))
    assert(java.lang.Double.isNaN(f(nz, MEDIAN_ABS_DIFF)
      .asInstanceOf[java.lang.Double].doubleValue())) // middle of [3,NaN,NaN]
  }

  // ---- the replaced q105 Column forms, verbatim (r17 kernels) -------------

  // linear_trend_timewise's (Σt, Σt², Σt·v) struct fold over sorted (i, v)
  // pairs, verbatim
  private def oldLttFold(pairs: Column, tmin: Column): Column =
    aggregate(pairs,
      struct(lit(0.0).as("st"), lit(0.0).as("stt"), lit(0.0).as("stv")),
      (a, p) => {
        val t = (p.getField("i") - tmin) / lit(3600000000.0)
        struct(
          (a.getField("st") + t).as("st"),
          (a.getField("stt") + t * t).as("stt"),
          (a.getField("stv") + t * p.getField("v")).as("stv"))
      })

  test("IDX_DOT / IndexMassK / LttFoldK ≡ their replaced q105 folds, bit-for-bit") {
    import spark.implicits._
    val df = windows.toDF("w").withColumn("n", size(col("w")).cast("long"))
    val vals = col("w")

    // linear_trend's Σt·v: transform + aggregate, verbatim
    val oldIdxDot = aggregate(transform(vals, (x, i) => i.cast("double") * x),
      lit(0.0), (a, b) => a + b)
    // index_mass_quantile's struct fold, verbatim; s shared by both sides
    // so the q·s threshold is identical by construction (in the member, s
    // is the native sum(abs(v)) aggregate passed as the kernel child)
    val s = aggregate(vals, lit(0.0), (a, b) => a + abs(b))
    def oldMass(q: Double): Column = {
      val fold = aggregate(vals,
        struct(lit(0L).as("i"), lit(0.0).as("cum"),
          lit(null).cast("double").as("ans")),
        (acc, x) => {
          val cum2 = acc.getField("cum") + abs(x)
          val i2 = acc.getField("i") + 1L
          val hit = acc.getField("ans").isNull && cum2 >= lit(q) * s
          struct(i2.as("i"), cum2.as("cum"),
            when(hit, i2.cast("double") / col("n").cast("double"))
              .otherwise(acc.getField("ans")).as("ans"))
        },
        acc => acc.getField("ans"))
      when(s > 0, fold)
    }
    // linear_trend_timewise's (Σt, Σt², Σt·v) fold, verbatim — irregular
    // micro-timestamps t_i = (7i+1)·1e6 so the µs→h division is exercised
    val pairs = transform(vals, (x, i) =>
      struct(((i * 7 + 1).cast("double") * 1e6).as("i"), x.as("v")))
    val tmin = element_at(pairs, 1).getField("i")
    val oldLtt = oldLttFold(pairs, tmin)

    val rows = df.select(
      Kernels.temporalFold(IDX_DOT)(vals).as("kd"), oldIdxDot.as("od"),
      // the member guards both forms with when(s > 0, …) — compare as used
      when(s > 0, Kernels.indexMass(0.15)(vals, s)).as("k15"), oldMass(0.15).as("o15"),
      when(s > 0, Kernels.indexMass(0.5)(vals, s)).as("k50"), oldMass(0.5).as("o50"),
      when(s > 0, Kernels.indexMass(0.75)(vals, s)).as("k75"), oldMass(0.75).as("o75"),
      Kernels.lttFold(transform(pairs, p => p.getField("i")), vals, tmin).as("kl"),
      oldLtt.as("ol"),
      vals.as("w")).collect()
    def d(r: org.apache.spark.sql.Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))
    rows.foreach { r =>
      for ((a, b, what) <- Seq((0, 1, "idx_dot"), (2, 3, "mass_0.15"),
          (4, 5, "mass_0.5"), (6, 7, "mass_0.75")))
        assert(bits(d(r, a)) == bits(d(r, b)),
          s"$what diverged on ${r.getSeq[Double](10)}: ${d(r, a)} vs ${d(r, b)}")
      val kl = r.getStruct(8); val ol = r.getStruct(9)
      for (f <- 0 until 3)
        assert(bits(kl.getDouble(f)) == bits(ol.getDouble(f)),
          s"ltt field $f diverged on ${r.getSeq[Double](10)}")
    }
  }

  test("LttFoldK over one sorted-collect buffer ≡ the replaced array_sort(collect_list(struct)) fold") {
    import spark.implicits._
    val r = new scala.util.Random(31)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Double, java.lang.Double)]()
    // irregular epoch-micro indexes, duplicates included; null values
    // drop out of both sides' buffers but still count toward min(i)
    for (g <- 0 until 8; _ <- 0 until (1 + r.nextInt(400))) {
      val i = 1.7e15 + r.nextInt(5000) * 1.5e6
      rows += ((g, i, if (r.nextInt(10) == 0) null else r.nextDouble() * 100 - 50))
    }
    rows += ((8, 1.7e15, null)); rows += ((8, 1.7e15 + 1e6, null)) // all-null values
    val df = rows.toSeq.toDF("g", "i", "v").repartition(4)
    val s = CollectSortedVals(col("i"), col("v"))
    val pairs = array_sort(collect_list(
      when(col("v").isNotNull, struct(col("i").as("i"), col("v").as("v")))))
    val tmin = min(col("i"))
    val out = df.groupBy("g").agg(
      Kernels.lttFold(s.getField("i"), s.getField("v"), tmin).as("k"),
      oldLttFold(pairs, tmin).as("o")).collect()
    assert(out.length == 9)
    out.foreach { row =>
      val k = row.getStruct(1); val o = row.getStruct(2)
      for (f <- 0 until 3)
        assert(bits(k.getDouble(f)) == bits(o.getDouble(f)),
          s"g=${row.getInt(0)} ltt field $f: ${k.getDouble(f)} vs ${o.getDouble(f)}")
    }
  }
}
