package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential spec for the packed keyed-rolling kernels: the kernel +
  * decode must reproduce the REPLACED Column formulations bit-for-bit —
  * same (w, seg_start) doubles, same multiset (dedup conventions included),
  * on dense/sparse/negative/NaN indexes and fractional strides.
  */
class AssignKernelsSpec extends SparkSpec {

  private val KB = AssignKernelUtil.KBits
  private val KM = AssignKernelUtil.KMask

  // ---- the replaced Column forms, verbatim ---------------------------------

  private def oldAssign(t: Column, s0: Column,
                        ws: Seq[Double], sts: Seq[Double]): Column = {
    val arrays = ws.zip(sts).map { case (w, st) =>
      val kmin = greatest(lit(0L),
        (floor((t - s0 - lit(w)) / lit(st)) + 1).cast("long"))
      val kmax = floor((t - s0) / lit(st)).cast("long")
      when(kmax >= kmin,
        transform(sequence(kmin, kmax),
          k => struct(lit(w).as("w"), (s0 + k.cast("double") * lit(st)).as("s"))))
        .otherwise(array().cast("array<struct<w:double,s:double>>"))
    }
    if (arrays.lengthCompare(1) == 0) arrays.head
    else array_distinct(concat(arrays: _*))
  }

  private def oldSegments(s0: Column, e0: Column, w: Double, st: Double,
                          includeFinal: Boolean): Column = {
    val nb0 = greatest(floor((e0 - s0 - lit(w)) / lit(st)).cast("long") + 1,
      lit(0L))
    val nb = if (includeFinal)
      nb0 + when(s0 + lit(st) * nb0 <= e0, 1L).otherwise(0L)
    else nb0
    when(nb > 0, sequence(lit(0L), nb - 1))
      .otherwise(array().cast("array<bigint>"))
  }

  private def pick(i: Column, vals: Seq[Double]): Column =
    vals.zipWithIndex.tail.foldLeft(when(i === 0, lit(vals.head))) {
      case (acc, (v, j)) => acc.when(i === j, lit(v))
    }

  private def decode(p: Column, ws: Seq[Double], sts: Seq[Double],
                     s0: Column): (Column, Column) = {
    val si = shiftrightunsigned(p, KB).cast("int")
    (pick(si, ws), s0 + p.bitwiseAND(lit(KM)).cast("double") * pick(si, sts))
  }

  private def randDoubles(n: Int, seed: Long): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextDouble() * 40 - 5)
  }

  /** Value-level grid membership the replaced plan enforced with its
    * assignment-join-segments filter: the distinct (w, s) starts across
    * every spec's oldSegments grid. */
  private def oldGrid(s0: Column, e0: Column, ws: Seq[Double],
                      sts: Seq[Double], includeFinal: Boolean) = {
    import org.apache.spark.sql.DataFrame
    def one(base: DataFrame, w: Double, st: Double): DataFrame =
      base.select(col("t"),
          explode(oldSegments(s0, e0, w, st, includeFinal)).as("k"))
        .select(col("t"), lit(w).as("gw"),
          (s0 + col("k").cast("double") * lit(st)).as("gs"))
    (base: DataFrame) => ws.zip(sts).map { case (w, st) => one(base, w, st) }
      .reduce(_ unionAll _).select("t", "gw", "gs").distinct()
  }

  test("assign ≡ old transform form JOINED to the grid (multi-spec, clamp)") {
    import spark.implicits._
    for (includeFinal <- Seq(false, true)) {
      val ws = Seq(6.0, 6.0, 3.0)
      val sts = Seq(2.0, 3.0, 1.5)
      // s0/e0 fixed per group; e0 = 12 makes the clamp bite (unclamped kmax
      // runs past the grid for every t near the tail); t sweeps dense +
      // negative + exact-boundary + past-the-end values
      val ts = randDoubles(300, 7L) ++ Seq(0.0, 2.0, 3.0, 6.0, 6.000000001,
        -1.0, 11.999999999, 12.0, 13.5)
      val df = ts.toDF("t").withColumn("s0", lit(0.0))
        .withColumn("e0", lit(12.0))
      val got = df.select(col("t"),
          explode(AssignPacked(col("t"), col("s0"), col("e0"), ws, sts,
            includeFinal)).as("p"))
        .select(col("t"), decode(col("p"), ws, sts, lit(0.0))._1.as("w"),
          decode(col("p"), ws, sts, lit(0.0))._2.as("s"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      // the REPLACED PLAN: unclamped pairs, then an inner join discarding
      // (w, s) starts outside the key's own value-level segment grid
      val pairs = df.select(col("t"),
          explode(oldAssign(col("t"), col("s0"), ws, sts)).as("x"))
        .select(col("t"), col("x.w"), col("x.s"))
      val grid = oldGrid(lit(0.0), lit(12.0), ws, sts, includeFinal)(df)
      val want = pairs.join(grid,
          pairs("t") === grid("t") && col("w") === col("gw") &&
            col("s") === col("gs"))
        .select(pairs("t"), col("w"), col("s"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      assert(want.nonEmpty && got == want, s"includeFinal=$includeFinal")
    }
  }

  test("assign ≡ old form joined to the grid: single spec skips dedup") {
    import spark.implicits._
    val ws = Seq(4.0); val sts = Seq(1.0)
    val df = (randDoubles(100, 11L) ++ Seq(Double.NaN)).toDF("t")
      .withColumn("s0", lit(2.5)).withColumn("e0", lit(20.0))
    val got = df.select(col("t"), col("s0"),
        explode(AssignPacked(col("t"), col("s0"), col("e0"), ws, sts,
          includeFinal = false)).as("p"))
      .select(col("t"), decode(col("p"), ws, sts, col("s0"))._2.as("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq.sorted
    val pairs = df.select(col("t"),
        explode(oldAssign(col("t"), col("s0"), ws, sts)).as("x"))
      .select(col("t"), col("x.w"), col("x.s"))
    val grid = oldGrid(lit(2.5), lit(20.0), ws, sts, includeFinal = false)(df)
    val want = pairs.join(grid,
        pairs("t") === grid("t") && col("w") === col("gw") &&
          col("s") === col("gs"))
      .select(pairs("t"), col("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq.sorted
    assert(want.nonEmpty && got == want)
    // NaN t emits nothing in both forms
    assert(!got.exists(_._1.isNaN))
  }

  test("segments ≡ old per-spec sequence + distinct, both dedup conventions") {
    import spark.implicits._
    for (includeFinal <- Seq(false, true)) {
      val ws = Seq(6.0, 6.0, 3.0)
      val sts = Seq(2.0, 3.0, 1.5)
      val bounds = Seq((0.0, 17.0), (0.0, 5.9), (3.0, 3.0), (0.0, 6.0),
        (-4.5, 8.25), (2.0, 1.0) /* e0 < s0 → empty */ )
        .toDF("s0", "e0")
      // multi-window plan: union of tagged per-spec tables, row-distinct on
      // (key, w, koff) — e0 stands in for the per-key identity the real
      // plan carries through its distinct(). Every s0, w and st here is
      // dyadic, so s0 + koff is exact and the kernel's one dedup rule on
      // (w, s0 + koff) keeps the same rows.
      val want = ws.zip(sts).zipWithIndex.map { case ((w, st), i) =>
        bounds.select(col("s0"), col("e0"),
            explode(oldSegments(col("s0"), col("e0"), w, st, includeFinal))
              .as("k"))
          .select(col("s0"), col("e0"), lit(w).as("w"),
            (col("k").cast("double") * lit(st)).as("koff"))
      }.reduce(_ unionAll _).distinct()
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).toSeq.sorted
      val si = shiftrightunsigned(col("p"), KB).cast("int")
      val got = bounds.select(col("s0"), col("e0"),
          explode(SegmentsPacked(col("s0"), col("e0"), ws, sts,
            includeFinal)).as("p"))
        .select(col("s0"), col("e0"), pick(si, ws).as("w"),
          (col("p").bitwiseAND(lit(KM)).cast("double") * pick(si, sts))
            .as("koff"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).toSeq.sorted
      assert(got == want, s"multi convention, includeFinal=$includeFinal")

      // single convention: distinct on (key, s0 + koff) (only when >1 stride)
      val w1 = 6.0; val sts1 = Seq(2.0, 3.0)
      val want1 = sts1.map { st =>
        bounds.select(col("s0"), col("e0"),
            explode(oldSegments(col("s0"), col("e0"), w1, st, includeFinal))
              .as("k"))
          .select(col("s0"), col("e0"),
            (col("s0") + col("k").cast("double") * lit(st)).as("seg"))
      }.reduce(_ unionAll _).distinct()
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      val si1 = shiftrightunsigned(col("p"), KB).cast("int")
      val got1 = bounds.select(col("s0"), col("e0"),
          explode(SegmentsPacked(col("s0"), col("e0"),
            Seq.fill(sts1.length)(w1), sts1, includeFinal)).as("p"))
        .select(col("s0"), col("e0"),
          (col("s0") + col("p").bitwiseAND(lit(KM)).cast("double")
            * pick(si1, sts1)).as("seg"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      assert(got1 == want1, s"single convention, includeFinal=$includeFinal")
    }
  }

  test("assign hash-dedup path (fan-out past the linear threshold) ≡ old " +
    "form joined to the grid") {
    import spark.implicits._
    // Three specs, two identical and fine strides: mid-grid rows emit ~160
    // packed candidates — past the kernel's 64-entry linear→hash switch —
    // while edge rows stay small, so one differential covers BOTH dedup
    // implementations against the replaced Column plan (the r16 advisory's
    // quadratic-scan replacement).
    for (includeFinal <- Seq(false, true)) {
      val ws = Seq(40.0, 40.0, 20.0)
      val sts = Seq(0.5, 0.5, 0.25)
      val ts = randDoubles(60, 23L).map(_ * 2) ++
        Seq(0.0, 0.25, 30.0, 59.75, 60.0, 61.0, -1.0)
      val df = ts.toDF("t").withColumn("s0", lit(0.0))
        .withColumn("e0", lit(60.0))
      val got = df.select(col("t"),
          explode(AssignPacked(col("t"), col("s0"), col("e0"), ws, sts,
            includeFinal)).as("p"))
        .select(col("t"), decode(col("p"), ws, sts, lit(0.0))._1.as("w"),
          decode(col("p"), ws, sts, lit(0.0))._2.as("s"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      val pairs = df.select(col("t"),
          explode(oldAssign(col("t"), col("s0"), ws, sts)).as("x"))
        .select(col("t"), col("x.w"), col("x.s"))
      val grid = oldGrid(lit(0.0), lit(60.0), ws, sts, includeFinal)(df)
      val want = pairs.join(grid,
          pairs("t") === grid("t") && col("w") === col("gw") &&
            col("s") === col("gs"))
        .select(pairs("t"), col("w"), col("s"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sorted
      assert(want.length > 64 && got == want, s"includeFinal=$includeFinal")
    }
  }

  test("segments hash-dedup path (grid past the linear threshold) ≡ old " +
    "sequence + distinct") {
    import spark.implicits._
    // fine strides: per-key grids of 100-300 candidates drive the hash
    // probe; the duplicated (w, st) spec forces real dedup hits through it
    val ws = Seq(6.0, 6.0, 3.0)
    val sts = Seq(0.1, 0.1, 0.05)
    val bounds = Seq((0.0, 17.0), (-4.5, 8.25), (0.0, 6.0))
      .toDF("s0", "e0")
    val want = ws.zip(sts).map { case (w, st) =>
      bounds.select(col("s0"), col("e0"),
          explode(oldSegments(col("s0"), col("e0"), w, st,
            includeFinal = false)).as("k"))
        .select(col("s0"), col("e0"), lit(w).as("w"),
          (col("k").cast("double") * lit(st)).as("koff"))
    }.reduce(_ unionAll _).distinct()
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq.sorted
    val si = shiftrightunsigned(col("p"), KB).cast("int")
    val got = bounds.select(col("s0"), col("e0"),
        explode(SegmentsPacked(col("s0"), col("e0"), ws, sts,
          includeFinal = false)).as("p"))
      .select(col("s0"), col("e0"), pick(si, ws).as("w"),
        (col("p").bitwiseAND(lit(KM)).cast("double") * pick(si, sts))
          .as("koff"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq.sorted
    assert(want.length > 64 && got == want)
  }

  test("packed k guard: counter past 2^56 throws instead of corrupting") {
    val e = intercept[org.apache.spark.SparkException] {
      import spark.implicits._
      Seq(1e18).toDF("t").withColumn("s0", lit(0.0))
        .select(explode(AssignPacked(col("t"), col("s0"), lit(2e18),
          Seq(2.0), Seq(1e-9), includeFinal = false)).as("p"))
        .collect()
    }
    assert(e.getMessage.contains("2^56") ||
      e.getCause != null && e.getCause.getMessage.contains("2^56"))
  }
}
