package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Test-time promotion of the NARROW-AMPLIFIER smoke rule (r13, found on
  * the 100× corpus): a stage whose task count collapsed — AQE coalescing
  * an exchange whose DATA is tiny — and whose work then AMPLIFIES inside
  * those few tasks (a generator like `sequence`+`explode` turning KB of
  * bounds rows into hundreds of MB of shuffle write). The input-side
  * single-task rule can't see it (input really was small), and the plan-
  * shape spec can't either (the exchange COUNT is unchanged; only its
  * runtime width collapsed). Signature: few tasks + shuffle WRITE far
  * exceeding everything the stage read.
  *
  * This spec executes the PlanShapeSpec-pinned plans at sf0.1 — the
  * largest in-repo corpus, big enough that a reintroduced amplifier (q72's
  * pre-fix bounds explode measured ~5 MB → ~570 MB per 1× → 100× of data,
  * i.e. several MB of amplified write already at 1×) crosses the absolute
  * floor, while healthy stages stay far below the ratio gate. Thresholds:
  *
  *   tasks ≤ max(1, cores/4)  AND  writeBytes > 4 MB
  *   AND  recordsWritten > 16 × recordsRead (input + shuffle)
  *   AND  the stage reads from a shuffle (or from nothing — pure generator)
  *
  * The amplification gate is on RECORD counts, not bytes: a pruned
  * parquet scan legitimately reads 100k rows as ~3 KB of RLE'd column
  * bytes (a byte ratio would flag every narrow scan whose narrowness is
  * just "one small file = one split"), while the q72 class reads a
  * handful of post-exchange bounds ROWS and writes orders of magnitude
  * more. The shuffle-input condition encodes WHY split-bound narrowness
  * is exempt: a 1-task scan→explode (events→assignment, docs→shingles at
  * this corpus size) widens by itself at scale — more files, more splits,
  * more tasks — whereas an AQE-coalesced exchange stays narrow on any
  * cluster because the coalesce is driven by the (genuinely tiny)
  * pre-amplification data size, not by resources. Under the shared test
  * session (local[4], 4 shuffle partitions) the task floor is 1 — exactly
  * what AQE coalesces a tiny exchange to — and `spreadBounds`-style
  * pinned-width repartitions sit at 4 tasks, above it. A final self-test
  * builds a deliberate 1-task amplifier and asserts the detector FIRES,
  * so a silent listener (metrics shape change, bus race) fails loudly
  * instead of certifying nothing.
  */
class NarrowAmplifierSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.1"

  private case class Amp(stageId: Int, stage: String, tasks: Int,
                         readRec: Long, writeB: Long)

  private val flagged = new java.util.concurrent.ConcurrentLinkedQueue[Amp]()
  private val stagesSeen = new java.util.concurrent.atomic.AtomicInteger(0)

  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m == null) return
        stagesSeen.incrementAndGet()
        val inRec = m.inputMetrics.recordsRead
        val shRec = m.shuffleReadMetrics.recordsRead
        val write = m.shuffleWriteMetrics.bytesWritten
        val writeRec = m.shuffleWriteMetrics.recordsWritten
        // ONE predicate definition, shared with the at-scale probe
        if (PlanAudit.narrowAmplifier(i.numTasks,
            spark.sparkContext.defaultParallelism, inRec, shRec, write, writeRec))
          flagged.add(Amp(i.stageId, i.name.takeWhile(_ != '\n').take(80),
            i.numTasks, inRec + shRec, write))
      }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** The listener bus is async: a trailing heavy stage's event can still
    * be queued when the action returns, and a single quiet poll window is
    * not proof of delivery (a >200 ms dispatch stall would let a flagged
    * stage land AFTER the assertion — a false green). Drain
    * deterministically (waitUntilEmpty via reflection, shared helper). */
  private def drainBus(): Unit =
    // a timed-out drain means trailing stage events may still be in
    // flight — reading `flagged` then is the exact false-green the
    // deterministic drain exists to prevent, so it fails the test
    assert(PlanAudit.drainListenerBus(spark, () => stagesSeen.get.toLong),
      "listener bus failed to drain within 12 s — flags unreadable")

  for (name <- PlanAudit.PinnedPlans) {
    test(s"$name runs no narrow-amplifier stage at sf0.1") {
      listener // register once (lazy)
      drainBus(); flagged.clear() // shed any prior suite's trailing events
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      // free this query's checkpoint blocks before the next heavy test:
      // 14 heavy queries back-to-back in the shared test JVM otherwise
      // accumulate exactly the retained-storage debt Bench's boundary
      // releases — observed in an at-scale run as a 3.7 s query
      // reading 19.8 s under prior queries' checkpoints
      graft.core.Pinned.release(blocking = true)
      drainBus()
      val hits = { import scala.jdk.CollectionConverters._; flagged.asScala.toSeq }
      assert(hits.isEmpty, hits.map(a =>
        s"stage=${a.stageId} tasks=${a.tasks} recordsRead=${a.readRec} " +
          s"write=${a.writeB} [${a.stage}]").mkString("\n  ", "\n  ", ""))
    }
  }

  test("detector self-test: a deliberate 1-task amplifier is flagged") {
    listener
    drainBus(); flagged.clear()
    // The true q72 shape, reproduced: a tiny per-key aggregate whose
    // exchange AQE coalesces to one task, then an explode amplifying each
    // of the 200 post-shuffle rows into 10k incompressible hash rows
    // (probed: 1 task, 800 shuffle records in, 2M records / ~37 MB out).
    // Pitfalls this formulation dodges: coalesce(1)+repartition is folded
    // away by CollapseRepartition; groupBy on range's unique `id` plans
    // NO exchange (the aggregate is locally satisfiable); a groupBy after
    // any 1-partition child plans no exchange either (SinglePartition
    // satisfies every clustered distribution).
    spark.range(100000).selectExpr("id % 200 as k")
      .groupBy("k").count()
      .selectExpr("explode(sequence(0L, 9999L)) as v", "k")
      .selectExpr("xxhash64(v, k) as h", "v", "k")
      .repartition(4)
      .queryExecution.toRdd.count()
    drainBus()
    val hits = { import scala.jdk.CollectionConverters._; flagged.asScala.toSeq }
    assert(hits.nonEmpty,
      "the narrow-amplifier detector did not fire on a 1-task explode " +
        s"writing >4 MB (stages seen: ${stagesSeen.get})")
    flagged.clear()
  }
}
