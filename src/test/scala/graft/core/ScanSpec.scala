package graft.core

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Scan's two-phase distributed scans must be BIT-IDENTICAL to the global
  * single-partition window formulation at any partition count — checked on
  * irregular random data spread across many range partitions.
  */
class ScanSpec extends SparkSpec {

  // 2000 rows, irregular gaps, deterministic seed; force many partitions so
  // boundary hand-off paths are exercised
  private def data = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    var t = 0L
    (1 to 2000).map { i =>
      t += 1 + rnd.nextInt(50)
      (t, rnd.nextDouble(), if (rnd.nextInt(5) == 0) null else s"g${rnd.nextInt(3)}")
    }.toDF("idx", "v", "g")
      .repartition(16)
  }

  test("withLagged equals global lag") {
    val d = data
    val got = Scan.withLagged(d, "idx", Seq("idx", "v"))
      .select(col("idx"), col("__lag_idx"), col("__lag_v"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq
    val w = Window.orderBy("idx")
    val exp = d.select(col("idx"), lag(col("idx"), 1).over(w),
        lag(col("v"), 1).over(w))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("withLagged equals global lag on a NULL-RIDDLED lag column") {
    // every third value null — partition boundaries will land on nulls, so
    // the boundary hand-off must carry "last ROW was null", not skip to an
    // older non-null value
    val d = data.withColumn("vn", when(col("v") > 0.33, col("v")))
    val got = Scan.withLagged(d, "idx", Seq("vn"))
      .select(col("idx"), col("__lag_vn"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    val exp = d.select(col("idx"), lag(col("vn"), 1).over(Window.orderBy("idx")))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("maxGap equals the global max of consecutive diffs") {
    val d = data
    val got = Scan.maxGap(d, "idx").head.getLong(0)
    val w = Window.orderBy("idx")
    val exp = d.select((col("idx") - lag(col("idx"), 1).over(w)).as("d"))
      .agg(max(col("d"))).head.getLong(0)
    assert(got == exp)
  }

  test("runningSum equals global cumulative sum") {
    val d = data.withColumn("f", when(col("v") > 0.7, 1L).otherwise(0L))
    val got = Scan.runningSum(d, "idx", "f", "cum")
      .select("idx", "cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    val exp = d.select(col("idx"), sum(col("f")).over(w))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("position equals global row_number - 1") {
    val d = data
    val got = Scan.position(d, "idx", "pos")
      .select("idx", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val exp = d.select(col("idx"),
        (row_number().over(Window.orderBy("idx")) - 1).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("position is numbered inside its pin: two readers sort and rank nothing") {
    val pos = Scan.position(data, "idx", "pos")
    // the sample-window shape: one reader keeps the values, one only the map
    val both = pos.select("pos", "v").join(pos.select("pos", "idx"), "pos")
    assert(both.count() == 2000)
    val plan = both.queryExecution.optimizedPlan
    assert(plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      .isEmpty, plan)
    assert(plan.collect { case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }
      .isEmpty, plan)
  }

  test("lagFlagScan equals global lag->flag->cumsum (value runs)") {
    import spark.implicits._
    // few distinct values → long runs that CROSS partition boundaries
    val rnd = new scala.util.Random(11)
    var t = 0L
    val d = (1 to 2000).map { _ =>
      t += 1 + rnd.nextInt(10)
      (t, s"g${rnd.nextInt(2)}")
    }.toDF("idx", "g").repartition(16)
    val got = Scan.lagFlagScan(d, "idx", "g",
        (p, c) => p.isNull || p =!= c, "run")
      .select("idx", "run").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val w = Window.orderBy("idx")
    val exp = d
      .withColumn("f", when(lag(col("g"), 1).over(w).isNull ||
        lag(col("g"), 1).over(w) =!= col("g"), 1L).otherwise(0L))
      .select(col("idx"), sum(col("f")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("lagFlagScan equals global scan for gap thresholds") {
    val d = data
    val got = Scan.lagFlagScan(d, "idx", "idx",
        (p, c) => p.isNull || c - p > lit(25L), "chunk")
      .select("idx", "chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val w = Window.orderBy("idx")
    val exp = d
      .withColumn("f", when(lag(col("idx"), 1).over(w).isNull ||
        col("idx") - lag(col("idx"), 1).over(w) > 25L, 1L).otherwise(0L))
      .select(col("idx"), sum(col("f")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("fillForward equals global last-non-null carry") {
    val d = data
    val got = Scan.fillForward(d, Seq("idx"), "g", "gf")
      .select("idx", "gf").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    val w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    val exp = d.select(col("idx"), last(col("g"), ignoreNulls = true).over(w))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(got == exp)
  }

  test("fillForward: stable partition ids under a checkpoint-fed union (regression)") {
    // `spark_partition_id()` over a sampled range exchange was NOT stable
    // across the window subtree and the boundary-summary subtree: AQE could
    // coalesce the two reads differently, and the sampling job reran per
    // materialization with order-sensitive input (a localCheckpoint serves
    // rows in varying order). Half the fills came back stale at sf0.1 in
    // group_by_consecutive. Scan.ranged now pins the stamped frame; this
    // reconstructs the triggering shape — marker/row pairs where the marker
    // branch passes through a localCheckpoint — and asserts every row sees
    // its own marker across repeated evaluations.
    import spark.implicits._
    val n = 30000
    val markers = spark.range(n)
      .select((col("id") * 2).cast("double").as("__idx"), lit(0).as("__tag"),
        col("id").as("__mark"))
      .localCheckpoint(false)
    val rows = spark.range(n)
      .select((col("id") * 2).cast("double").as("__idx"), lit(1).as("__tag"),
        lit(null).cast("long").as("__mark"))
    val filled = Scan.fillForward(markers.unionByName(rows),
      Seq("__idx", "__tag"), "__mark", "__seg")
    (1 to 3).foreach { i =>
      val wrong = filled.where(col("__tag") === 1 &&
        (col("__seg").isNull || col("__seg") =!= (col("__idx") / 2).cast("long")))
        .count()
      assert(wrong == 0L, s"evaluation $i: $wrong rows filled with a stale marker")
    }
  }

  test("ranged: a __pid pinned on a DIFFERENT ordering is re-ranged, not reused") {
    // withLagged retains its tagged __pid by design; feeding that frame to a
    // scan over ANOTHER ordering must trigger a fresh range exchange (the
    // old name-keyed reuse silently kept the idx partitioning and produced
    // wrong prefix sums over h-order)
    val d = data.withColumn("h", md5(col("idx").cast("string")))
      .withColumn("f", lit(1L))
    val carried = Scan.withLagged(d, "idx", Seq("v")) // __pid tagged ["idx"]
    assert(carried.columns.contains("__pid"))
    def sums(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Scan.runningSum(df, "h", "f", "cum")
        .select("idx", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(sums(carried.drop("__lag_v")) == sums(d))
  }

  test("ranged: an untagged __pid column is a reserved-name collision (throws)") {
    val d = data.withColumn("__pid", lit(3))
    intercept[IllegalArgumentException] {
      Scan.runningSum(d.withColumn("f", lit(1L)), "idx", "f", "cum")
    }
    intercept[IllegalArgumentException] {
      Scan.keyedRank(d, Seq("g"), "idx", "rk", "n")
    }
  }

  test("groupRunScan: an input carrying a working or output column name is rejected") {
    // each name would otherwise be silently replaced (withColumn) or
    // duplicated (the offsets join) — e.g. a caller `__flag` column
    val d = data.withColumn("b", col("idx"))
    for (r <- Seq("__flag", "__loc", "__tot", "__first", "__last", "__gmx",
        "__prevLast", "__c", "__adj", "__off", "run", "gmax"))
      intercept[IllegalArgumentException] {
        Scan.groupRunScan(d.withColumn(r, lit(1L)), Seq("idx"), "g", "b",
          "run", "gmax")
      }
    // an untagged __pid goes through ranged's shared reserved-name check
    intercept[IllegalArgumentException] {
      Scan.groupRunScan(d.withColumn("__pid", lit(3)), Seq("idx"), "g", "b",
        "run", "gmax")
    }
  }

  test("groupRunScan equals a global-window reference") {
    import spark.implicits._
    // two group values over ~30% null groups, so equal values repeat across
    // null gaps (one run) and after another value (a new run); an index
    // step of 0 ties a row on (idx, gn) with its predecessor, and such a row
    // has a null group, so the one tie order that matters (a group row
    // before the null-group rows at its index) is fixed by gn
    val rnd = new scala.util.Random(13)
    var t = 0L
    val d = (1 to 2000).map { i =>
      val step = rnd.nextInt(4)
      t += step
      val g = if (step == 0 || rnd.nextInt(10) < 3) null else s"g${rnd.nextInt(2)}"
      (i.toLong, t, g, if (g == null) 1 else 0)
    }.toDF("id", "idx", "g", "gn").repartition(16)
    val w = Window.orderBy("idx", "gn")
    val prevNN = last(col("g"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val exp = d
      .withColumn("f", when(col("g").isNotNull &&
        (prevNN.isNull || prevNN =!= col("g")), 1L).otherwise(0L))
      .select(col("id"), sum(col("f")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)),
        max(when(col("g").isNotNull, col("idx"))).over(Window.partitionBy()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(exp.map(_._2).distinct.size > 100, "the data should hold many runs")
    // AQE off: its coalescing would merge the range partitions back into one
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (parts <- Seq(1, 4, 37)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val got = Scan.groupRunScan(d, Seq("idx", "gn"), "g", "idx", "run", "gmax")
          .select("id", "run", "gmax").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
        assert(got == exp, s"$parts partitions diverged from the global window")
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("keyedRunningSum: an input carrying a working or output column name is rejected") {
    // the working columns ride unqualified through withColumn/agg — a
    // caller column of that name would be silently replaced, not summed
    import spark.implicits._
    val df = Seq(("a", 1L, 1L), ("a", 2L, 0L), ("b", 1L, 1L)).toDF("k", "o", "f")
    for (r <- Seq("__loc", "__off", "__tot", "cum")) {
      val e = intercept[IllegalArgumentException] {
        Scan.keyedRunningSum(df.withColumn(r, lit(7L)), "k", "o", "f", "cum")
      }
      assert(e.getMessage.contains(r), e.getMessage)
    }
    val got = Scan.keyedRunningSum(df, "k", "o", "f", "cum")
      .select("k", "o", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", 1L) -> 1L, ("a", 2L) -> 1L, ("b", 1L) -> 1L))
  }

  test("keyedRank: checkpoint-fed input, stable across evaluations (regression)") {
    // same hazard class as the fillForward regression above: the local-rank
    // window and the per-(partition, key) offset summary must agree on
    // partition ids. Oracle = a driver-computed within-key rank.
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 40000).map { i =>
      (s"k${rng.nextInt(3)}", f"${rng.nextLong().abs}%020d", i.toLong)
    }
    val df = rows.toDF("key", "ord", "payload").localCheckpoint(false)
    val expect = rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy(_._2).zipWithIndex.map { case ((k, o, _), r) =>
        (k, o) -> ((r + 1).toLong, g.size.toLong) }
    }.toMap
    val ranked = Scan.keyedRank(df, Seq("key"), "ord", "rk", "n")
    (1 to 2).foreach { i =>
      val got = ranked.select("key", "ord", "rk", "n").collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expect, s"evaluation $i: keyedRank diverged from the oracle")
    }
  }

  test("keyedRank above the broadcast limit degrades to shuffled stitch joins, same result") {
    // broadcastRows = 1 forces the summary/totals joins off the explicit
    // broadcast hint (the OOM guard for high-cardinality keys); the ranks
    // must be bit-identical to the broadcast path
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0 until 5000).map { i =>
      (s"k${rng.nextInt(4)}", f"${rng.nextLong().abs}%020d", i.toLong)
    }
    val df = rows.toDF("key", "ord", "payload")
    val expect = rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy(_._2).zipWithIndex.map { case ((k, o, _), r) =>
        (k, o) -> ((r + 1).toLong, g.size.toLong) }
    }.toMap
    val got = Gates.scoped(broadcastRows = 1L) {
        Scan.keyedRank(df, Seq("key"), "ord", "rk", "n")
      }.select("key", "ord", "rk", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expect)
  }

  test("keyedRankMulti: flat composite key, NULLs in either key column") {
    // the composite (key1, key2) stays two FLAT columns through the range
    // exchange (no struct packing); every stitch equality is null-safe, so
    // a NULL in either key column is a legal group that keeps its own rows.
    // Oracle = driver-computed within-(key1, key2) rank over the order col.
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val rows = (0 until 30000).map { i =>
      val k1 = if (rng.nextInt(10) == 0) null else s"k${rng.nextInt(3)}"
      val k2 = if (rng.nextInt(10) == 0) null.asInstanceOf[java.lang.Integer]
               else java.lang.Integer.valueOf(rng.nextInt(4))
      (k1, k2, f"${rng.nextLong().abs}%020d", i.toLong)
    }
    val df = rows.toDF("key1", "key2", "ord", "payload")
    val expect = rows.groupBy(r => (r._1, r._2)).flatMap { case (_, g) =>
      g.sortBy(_._3).zipWithIndex.map { case ((k1, k2, o, _), r) =>
        (k1, k2, o) -> ((r + 1).toLong, g.size.toLong) }
    }.toMap
    for (limit <- Seq(Gates.BroadcastRows, 1L)) { // broadcast AND shuffled stitch
      val got = Gates.scoped(broadcastRows = limit) {
          Scan.keyedRank(df, Seq("key1", "key2"), "ord", "rk", "n")
        }.select("key1", "key2", "ord", "rk", "n").collect()
        .map(r => (r.getString(0),
          if (r.isNullAt(1)) null.asInstanceOf[java.lang.Integer]
          else java.lang.Integer.valueOf(r.getInt(1)), r.getString(2)) ->
          ((r.getLong(3), r.getLong(4))))
        .toMap
      assert(got == expect, s"broadcastRows=$limit diverged from the oracle")
    }
  }
}
