package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.core._
import graft.scale.{Ann, Dedup}

/** Scale-up smoke: replicates sf0.1 inputs 10x (time-shifted events →
  * ~1M rows spanning ~10 months; id-shifted documents → 50k docs) and runs
  * the heavy operator families. The point is EVIDENCE for the 100 TB
  * design claims: every stage stays partition-parallel, nothing collapses
  * into a single task, runtimes grow roughly linearly with data.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt

    val ev0 = TsCompat.readEvents(spark, s"$dir/events.parquet")
    val span = ev0.agg(max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
      .head().getLong(0) + 1000000L
    // shift derived from the data: the earlier fixed k*1000 shift collided
    // with sf0.1's 1500 distinct users, merging a third of the keys across
    // copies (the keyed families measured ~0.67x the claimed key count,
    // each merged key spanning two copies' time ranges)
    val uShift = ev0.agg(max(col("user_id"))).head().getLong(0) + 1L
    val events = (0 until copies).map(k =>
      ev0.select(timestamp_micros(unix_micros(col("ts")) + lit(k * span)).as("ts"),
        col("value"), col("event_type"),
        (col("user_id") + lit(k * uShift)).as("user_id")))
      .reduce(_.unionAll(_))

    val d0 = spark.read.parquet(s"$dir/documents.parquet")
    val docs = (0 until copies).map(k =>
      d0.select((col("doc_id") + lit(k * 1000000)).as("doc_id"), col("text")))
      .reduce(_.unionAll(_))

    // Evidence for "zero single-task stages": record every stage that ran
    // with ONE task yet processed non-trivial data (>1M records or >64 MB
    // read/shuffled). Legitimate 1-task stages (tiny summaries, broadcast
    // builds, final coalesce of small results) fall under the thresholds;
    // a skew-collapsed window or un-partitioned sort would not.
    //
    // SECOND rule (r13, learned from the q72 bounds-explode trap): a stage
    // with FEW tasks but a huge OUTPUT — AQE coalesces an exchange whose
    // data is tiny, then a generator (sequence+explode) amplifies it
    // 100× inside the remaining tasks. The input-side rule above cannot
    // see it (input was genuinely small); the signature is
    // tasks ≤ cores/4 with >256 MB written to the next shuffle.
    val heavySingles = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val m = info.taskMetrics
        if (m == null) return
        val recs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val bytes = m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
        if (info.numTasks == 1 && (recs > 1000000L || bytes > 64L * 1024 * 1024))
          heavySingles.add(s"stage=${info.stageId} name=${info.name} " +
            s"records=$recs bytes=$bytes")
        // else-if against the FIRED rule, not against numTasks==1: a
        // ONE-task stage with tiny input but huge output is the worst
        // amplifier instance and must not escape just because the
        // input-side rule declined it
        else if (PlanAudit.absoluteNarrow(info.numTasks, cores,
            m.shuffleWriteMetrics.bytesWritten)) {
          heavySingles.add(s"stage=${info.stageId} name=${info.name} " +
            s"NARROW-AMPLIFIER tasks=${info.numTasks} " +
            s"shuffleWrite=${m.shuffleWriteMetrics.bytesWritten}")
        }
      }
    })

    // SPARK_GRAFT_FAMILIES=jaccard,keyed limits the run to families whose
    // name contains one of the substrings (for targeted 100x runs).
    val famFilter = sys.env.get("SPARK_GRAFT_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def time(name: String)(f: => Long): Unit =
      if (famFilter.forall(_.exists(name.contains))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"SCALESMOKE $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
        // family boundary: free this family's checkpoint blocks so the next
        // family's time measures its plan, not its predecessors' eviction
        Pinned.release()
      }

    time(s"events x$copies count")(events.count())
    time("rolling 1D/6h fused x7") {
      import FeatureFuncs._
      val fns = Seq(min, max, sum, len, std, variance, mean)
      val fc = FeatureCollection.of(fns.map(f => FeatureDescriptor(f, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h"))))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    time("keyed rolling per user") {
      import FeatureFuncs._
      KeyedFeatures.calculate(events, "user_id", "ts", "value",
        Win.time("1D"), Seq(Win.time("1D")), Seq(len, mean), "value")
        .queryExecution.toRdd.count()
    }
    time("group_by_consecutive") {
      import FeatureFuncs._
      val fc = FeatureCollection(FeatureDescriptor(mean, "value", None, None))
      fc.calculateGroupByConsecutive(
        Seq(Series("value", events, "ts", "value")),
        Series("uid", events, "ts", "user_id"))
        .queryExecution.toRdd.count()
    }
    time(s"docs x$copies minhash LSH") {
      Dedup.minhashLsh(docs, "doc_id", "text", 3, 16, 8, 0.6).count()
    }
    time(s"docs x$copies exact dedup") {
      Dedup.exactNormalized(docs, "doc_id", "text").count()
    }
    val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val embs = (0 until copies).map(k =>
      e0.select((col("vec_id") + lit(k * 1000000)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_.unionAll(_))
    time(s"embeddings x$copies LSH buckets") {
      Ann.lshBuckets(embs, "vec_id", "embedding", 8, 64).count()
    }
    time(s"docs x$copies jaccard PPJoin") {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6).count()
    }
    // Exact duplicates make ANY similarity join quadratic within each dup
    // group (every copy pairs with every other — that's real output, not a
    // plan flaw). jaccardPairs/minhashLsh pre-collapse identical shingle
    // sets internally (withExactCollapse), so the replicated corpus costs
    // candidate work proportional to the UNIQUE docs; the uncollapsed
    // variant below measures what that collapse saves.
    time(s"docs x$copies jaccard no-collapse") {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
        collapseExact = false).count()
    }
    // the q73 capstone composition: pin fan-out + PPJoin + connected
    // components + split/pack in ONE job — the only multi-stage pipeline
    // whose interaction (not just its parts) needs scale evidence
    time(s"docs x$copies corpus prep fuzzy") {
      import graft.scale.{Sampling, TextStats}
      val scrubbed = docs.select(col("doc_id"),
        TextStats.redactPii(col("text")).as("text"))
      val quality = Pinned.checkpoint(
        scrubbed.where(TextStats.tokenCount(col("text")) >= 50))
      val exact = Dedup.keepExactNormalized(quality, "doc_id", "text")
      val pairs = Dedup.jaccardPairs(exact, "doc_id", "text", 3, 0.6)
      val fuzzy = Dedup.keepRepresentatives(exact, "doc_id", pairs)
      val split = Sampling.deterministicSplit(fuzzy, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val train = split.where(col("split") === "train")
        .withColumn("__tok", TextStats.tokenCount(col("text")).cast("long"))
      val packed = Sampling.packShards(train, "doc_id", "__tok", 20000L)
        .select(col("doc_id"), col("shard"))
      split.join(packed, Seq("doc_id"), "left")
        .queryExecution.toRdd.count()
    }
    time(s"docs x$copies repetition") {
      graft.scale.TextStats.repetition(docs, "doc_id", "text").count()
    }
    // nolds family (r11): per-key quadratic-pair operators. Replication
    // multiplies KEY COUNT at constant per-key series length — exactly the
    // 100 TB axis the bounded-per-key contract claims partitions cleanly;
    // the listener asserts the self-joins never collapse to one task.
    time(s"events x$copies corr_dim") {
      graft.scale.GroupedStats.corrDim(
        events.select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", embDim = 2)
        .queryExecution.toRdd.count()
    }
    time(s"events x$copies lyap_r (1-in-10 keys)") {
      graft.scale.GroupedStats.lyapR(
        events.where(col("user_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", embDim = 3, minTsep = 5, trajLen = 6)
        .queryExecution.toRdd.count()
    }
    time(s"events x$copies multiscale entropy") {
      graft.scale.GroupedStats.multiscaleEntropy(
        events.select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", scales = Seq(1, 2, 3), m = 2, r = 10.0)
        .queryExecution.toRdd.count()
    }
    // catch22 kernel over the replicated window count (the per-window cost
    // axis: windows multiply with the time span; the kernel is constant
    // per window)
    time(s"events x$copies catch22 battery") {
      import FeatureFuncs._
      val fc = FeatureCollection(FeatureDescriptor(catch22Tranche1, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h")))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    // r11 tranche-4 battery: the remaining integration-surface members as
    // one windowed pass — same axis as catch22 (window COUNT multiplies,
    // per-window kernel cost is constant)
    time(s"events x$copies tranche4 battery") {
      import FeatureFuncs._
      val fns = Seq(shannonEntropy, weightedPermutationEntropy(3),
        svdEntropy(3), lzivComplexity(), multiscalePermEntropy(3, 3),
        spectralShape(0.04), welchDensityRel(5), linearTrend,
        indexMassQuantile(0.5), meanAbsDiff, curveDistance,
        neighbourhoodPeaks(5), histCounts(4))
      val fc = FeatureCollection.of(fns.map(f => FeatureDescriptor(f, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h"))))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    // r11 tranche-5: the CWT battery is the costliest per-window kernel
    // (O(n * sum(min(10w, n))) taps) — same window-count axis
    time(s"events x$copies wavelet battery") {
      import FeatureFuncs._
      val fns = Seq(wavelet(Seq(1, 2, 3, 4)), spectralBand(0.04, 0.002, 0.01),
        ecdfPercCount(0.2), ecdfPercCount(0.8))
      val fc = FeatureCollection.of(fns.map(f => FeatureDescriptor(f, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h"))))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    // r12: MFCC (pre-emphasis + rfft(512) + mel bank + DCT) and catch24 —
    // both constant-cost per window, so the replicated-window-count axis
    // is the whole scale story, same as catch22/wavelet above
    time(s"events x$copies mfcc+catch24 battery") {
      import FeatureFuncs._
      // entropyKde is the only O(n^2)-PER-WINDOW member here; replication
      // multiplies window COUNT at constant window length, so the family
      // still scales linearly — the per-window quadratic is the bounded
      // kernel cost, not a join shape
      val fns = Seq(mfcc(0.04, 6), catch24Battery, entropyKde, entropyGauss)
      val fc = FeatureCollection.of(fns.map(f => FeatureDescriptor(f, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h"))))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    // Eckmann spectrum: the relational O(n^2)-pairs stages replicate on
    // the KEY axis like corr_dim/lyap_r; the sequential QR chain is the
    // bounded per-key fold
    time(s"events x$copies lyap_e (1-in-10 keys)") {
      graft.scale.GroupedStats.lyapE(
        events.where(col("user_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", minTsep = 5, minNb = 6)
        .queryExecution.toRdd.count()
    }
    time(s"docs x$copies contamination") {
      // fixed eval-set size vs growing corpus — the production shape
      val bench = d0.select(col("doc_id"), col("text")).limit(500)
      Dedup.contamination(docs, "doc_id", "text",
        bench, "doc_id", "text", n = 5).count()
    }
    time(s"docs x$copies simhash") {
      Dedup.simhash32(docs, "doc_id", "text").queryExecution.toRdd.count()
    }
    time(s"docs x$copies pack shards") {
      val d = docs.select(col("doc_id"),
        graft.scale.TextStats.tokenCount(col("text")).cast("long").as("__tok"))
      graft.scale.Sampling.packShards(d, "doc_id", "__tok", 100000L)
        .groupBy("shard").count().count()
    }
    time(s"docs x$copies redact pii") {
      docs.select(graft.scale.TextStats.redactPii(col("text")))
        .queryExecution.toRdd.count()
    }
    // Replicated docs make every 8-gram corpus-frequent, so span COUNT is
    // bounded by docs (one maximal span per clone) — the gram index and the
    // per-doc island windows are what's being scale-tested here.
    time(s"docs x$copies dup spans") {
      Dedup.duplicatedSpans(docs, "doc_id", "text").count()
    }
    time(s"docs x$copies simhash pairs") {
      // replication clones collapse to Hamming-0 buckets; count pairs only
      // above distance 0 so output stays sub-quadratic while the banded
      // index still processes the full corpus
      Dedup.simhashPairs(docs, "doc_id", "text", 3, 4)
        .where(col("hamming") > 0).count()
    }
    time(s"docs x$copies source cap") {
      graft.scale.Sampling.capPerKey(
        docs.withColumn("__src", pmod(col("doc_id"), lit(20))),
        "doc_id", "__src", 1000L).count()
    }
    time(s"events x$copies asof nearest") {
      // two carries (backward + forward) composed — twice the range
      // exchanges of the backward family above; same zero-single-task bar
      val clicks = events.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.proc.AsofJoin.asofJoin(clicks, purchases,
        Seq("user_id"), "ts", "ts", "nearest").queryExecution.toRdd.count()
    }
    time(s"events x$copies multi quantiles") {
      // composite-key rank: the unpivot doubles the ranked row count
      graft.scale.GroupedStats.exactQuantilesMulti(
        events.select(col("user_id"), col("value"),
          length(col("event_type")).cast("double").as("etl")),
        "user_id", Seq("value", "etl"),
        Seq("med" -> 0.5, "p95" -> 0.95)).count()
    }
    time("rolling entropy 1D/6h") {
      import FeatureFuncs._
      val fns = Seq(permutationEntropy(3), sampleEntropyApproxAbs(2, 10.0))
      val fc = FeatureCollection.of(fns.map(f => FeatureDescriptor(f, "value",
        Some(Win.time("1D")), Some(Seq(Win.time("6h"))))))
      fc.calculate(Seq(Series("value", events, "ts", "value")))
        .queryExecution.toRdd.count()
    }
    time(s"events x$copies higuchi+dfa") {
      // per-key-series operators: replication multiplies KEYS (users),
      // series length stays constant — the documented bounded-window shape
      val src = events.select(col("user_id"), col("ts"), col("value"))
      graft.scale.GroupedStats.higuchiFd(src, "user_id", "ts", "value", 10)
        .count() +
      graft.scale.GroupedStats.dfa(src, "user_id", "ts", "value",
        Seq(4, 8, 16, 32)).count() +
      graft.scale.GroupedStats.hurstRs(src, "user_id", "ts", "value",
        Seq(8, 16, 32)).count()
    }
    time(s"events x$copies grouped quantiles") {
      graft.scale.GroupedStats.exactQuantiles(
        events.select(col("user_id"), col("value")),
        "user_id", "value", Seq("median" -> 0.5, "p90" -> 0.9)).count()
    }
    time(s"events x$copies asof join") {
      val clicks = events.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.proc.AsofJoin.asofJoin(clicks, purchases,
        Seq("user_id"), "ts", "ts").queryExecution.toRdd.count()
    }
    time(s"docs x$copies chunk text") {
      graft.scale.TextStats.chunkText(docs, "doc_id", "text", 40, 10)
        .queryExecution.toRdd.count()
    }
    time(s"docs x$copies stratified split") {
      graft.scale.Sampling.stratifiedSplit(
        docs.withColumn("__s", pmod(col("doc_id"), lit(3))),
        "doc_id", "__s", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split").count().count()
    }
    // stop() drains and shuts down the async listener bus, so every queued
    // stage-end event has been delivered before the counter is read — the
    // previous fixed sleep raced stragglers
    spark.stop()
    import scala.jdk.CollectionConverters._
    val singles = heavySingles.asScala.toList
    println(s"SCALESMOKE heavy-single-task-stages=${singles.size}")
    singles.foreach(s => println(s"SCALESMOKE SINGLE $s"))
  }
}
