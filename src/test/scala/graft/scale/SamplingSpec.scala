package graft.scale

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Deterministic splits (reference has no sampling layer; these are the
  * scale additions). Regression focus: strata SMALLER than 100 rows must
  * still split proportionally — ntile(100) hands tiles 1..n one row each,
  * which dumped whole small strata into 'train'.
  */
class SamplingSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "stratum")
  }

  test("stratifiedSplit: 50-row stratum under 80/10/10 gives 40/5/5") {
    val df = docs((0L until 50L).map(i => (i, "only")))
    val out = Sampling.stratifiedSplit(df, "id", "stratum",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("train" -> 40L, "val" -> 5L, "test" -> 5L))
  }

  test("stratifiedSplit: every stratum within one row of target fraction") {
    val sizes = Seq("a" -> 7, "b" -> 50, "c" -> 100, "d" -> 123, "e" -> 1000)
    val df = docs(sizes.flatMap { case (s, n) =>
      (0 until n).map(i => (s.hashCode.toLong * 10000 + i, s)) })
    val counts = Sampling.stratifiedSplit(df, "id", "stratum",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .groupBy("stratum", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for ((s, n) <- sizes; (split, pct) <- Seq("train" -> 80, "val" -> 10, "test" -> 10)) {
      val got = counts.getOrElse((s, split), 0L).toDouble
      assert(math.abs(got - n * pct / 100.0) <= 1.0,
        s"stratum $s split $split: got $got of $n (target ${pct}%)")
    }
  }

  test("stratifiedSplit is deterministic and a pure function of the id") {
    val df = docs((0L until 200L).map(i => (i, if (i % 3 == 0) "x" else "y")))
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val once = Sampling.stratifiedSplit(df, "id", "stratum", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val again = Sampling.stratifiedSplit(df.repartition(7), "id", "stratum", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once == again)
  }

  test("stratifiedSplit plan: every window is partitioned by __pid (no per-stratum single task)") {
    val df = docs((0L until 300L).map(i => (i, if (i % 2 == 0) "x" else "y")))
    val out = Sampling.stratifiedSplit(df, "id", "stratum",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the rank window in the plan")
    windows.foreach { w =>
      val parts = w.partitionSpec.map(_.sql).mkString(",")
      assert(w.partitionSpec.nonEmpty, "unpartitioned window = one global task")
      assert(parts.contains("__pid"),
        s"window partitioned only by [$parts]: a whole stratum in one task")
    }
  }

  test("packShards matches a driver-computed greedy prefix pack and is partition-invariant") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0L until 400L).map(i => (i, 10L + rng.nextInt(500)))
    val df = rows.toDF("id", "tok")
    val budget = 5000L
    // driver oracle: md5 order, exclusive prefix sum, floor(cum/budget)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    var cum = 0L
    val expect = rows.sortBy(r => h(r._1)).map { case (id, t) =>
      val shard = cum / budget; cum += t; id -> shard
    }.toMap
    def got(d: org.apache.spark.sql.DataFrame) =
      Sampling.packShards(d, "id", "tok", budget)
        .select("id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(df) == expect)
    // shard assignment is a pure function of the data, not its layout
    assert(got(df.repartition(13)) == expect)
    // shards are dense 0..max
    val shards = expect.values.toSet
    assert(shards == (0L to shards.max).toSet)
  }

  test("packShards: input carrying a stale scan __pid is re-ranged (footgun regression)") {
    // Scan.withLagged output retains a __pid pinned on ITS ordering; feeding
    // that frame to packShards (which scans in fresh md5 order) used to
    // silently reuse the stale partitioning and mis-assign shards
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val df = (0L until 400L).map(i => (i, 10L + rng.nextInt(500))).toDF("id", "tok")
    val carried = graft.core.Scan.withLagged(df, "tok", Seq("tok")).drop("__lag_tok")
    assert(carried.columns.contains("__pid"))
    def shards(d: org.apache.spark.sql.DataFrame) =
      Sampling.packShards(d, "id", "tok", 5000L)
        .select("id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shards(carried) == shards(df))
  }

  test("capPerKey: caps each key, keeps small keys whole, is layout-invariant") {
    import spark.implicits._
    val df = ((0L until 100L).map(i => (i, "big")) ++
      (100L until 105L).map(i => (i, "small"))).toDF("id", "key")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.capPerKey(d, "id", "key", 10L).select("id", "key")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val out = run(df)
    assert(out.count(_._2 == "big") == 10)
    assert(out.count(_._2 == "small") == 5)
    // survivor set is a pure function of the data
    assert(run(df.repartition(9)) == out)
    // and matches the md5-rank oracle computed on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expectBig = (0L until 100L).sortBy(h).take(10).toSet
    assert(out.filter(_._2 == "big").map(_._1) == expectBig)
  }

  test("packShardsPerKey: shard ids restart per key and match a driver oracle") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0L until 300L).map(i =>
      (i, if (i % 5 == 0) "val" else "train", 10L + rng.nextInt(300)))
    val df = rows.toDF("id", "split", "tok")
    val budget = 2000L
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = rows.groupBy(_._2).flatMap { case (_, grp) =>
      var cum = 0L
      grp.sortBy(r => h(r._1)).map { case (id, _, t) =>
        val shard = cum / budget; cum += t; id -> shard }
    }.toMap
    def got(d: org.apache.spark.sql.DataFrame) =
      Sampling.packShardsPerKey(d, "id", "split", "tok", budget)
        .select("id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(df) == expect)
    assert(got(df.repartition(9)) == expect) // layout-invariant
    // both keys start at shard 0
    val bySplit = Sampling.packShardsPerKey(df, "id", "split", "tok", budget)
      .groupBy("split").agg(org.apache.spark.sql.functions.min("shard"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit == Map("train" -> 0L, "val" -> 0L))
    // the shuffled (above-broadcast-limit) stitch path agrees
    val viaShuffle = graft.core.Gates.scoped(broadcastRows = 1L) {
        graft.core.Scan.keyedRunningSum(
          df.withColumn("__h", md5(col("id").cast("string"))),
          "split", "__h", "tok", "__cum")
      }.withColumn("shard", floor((col("__cum") - col("tok")) / lit(budget.toDouble)).cast("long"))
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaShuffle == expect)
  }

  test("deterministicSplit covers all rows with the declared labels") {
    val df = docs((0L until 500L).map(i => (i, "s")))
    val out = Sampling.deterministicSplit(df, "id",
      Seq("train" -> 90, "test" -> 10))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("train", "test"))
    assert(out.values.sum == 500L)
  }

  test("a pre-existing __h column is rejected, not clobbered") {
    import spark.implicits._
    val df = Seq((1L, "a", "user-data", 10L)).toDF("id", "key", "__h", "tok")
    for (f <- Seq[org.apache.spark.sql.DataFrame => Any](
        d => Sampling.capPerKey(d, "id", "key", 5),
        d => Sampling.packShards(d, "id", "tok", 100),
        d => Sampling.packShardsPerKey(d, "id", "key", "tok", 100),
        d => Sampling.stratifiedSplit(d, "id", "key", Seq("train" -> 100)))) {
      val e = intercept[IllegalArgumentException](f(df))
      assert(e.getMessage.contains("__h"))
    }
  }
}
