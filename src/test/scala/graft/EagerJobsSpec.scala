package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Pins the Spark jobs a query's builder runs BEFORE any action — the
  * eager driver jobs of plan build — per module, as a budget: a change that
  * adds one fails here. Today they are the series' index summary
  * (`Segmenter.summary`: one shuffle-free (min, max, n) job per distinct
  * source, for the bounds, a sample-count grid's size and a resample
  * grid's span) and, for sample-count windows and resampling, the range
  * pin of a `Scan` (`graft.core.Pinned`: under AQE it runs the range
  * exchange's sampling and map stages at build). Opening a Parquet table
  * runs none: `TsCompat.readParquet` reads the first file's footer on the
  * driver and declares the schema.
  *
  * Table history: every row lost its `core` schema job when the opens
  * became job-free (q01, q13, q08: one each; q88's documents open too),
  * and each bounds source went from an aggregate's job pair (partial map
  * stage + final stage under AQE) to one job (q01 2 → 1, q13 4 → 2).
  * q08 went from `core 7 + api 2` to `core 2 + segment 1` when its
  * positional frame lost its second pin (5 jobs: the pin re-ran the
  * position scan's shuffle stages at build) and its `count()` (2 jobs)
  * for the index summary's n. q47 runs its fill-forward range pin
  * (`core 2`) and, since `Resample` reads its span off the index summary
  * instead of an `agg(min, max)` (`proc 2`), `segment 1`.
  *
  * The q99a whole-call count adds the five execute jobs of the
  * block-sliced path to its one build job. It holds with Spark's
  * size-based broadcast switched off: the block frame is hinted broadcast
  * from its window bound, so the W7 join never shuffles its two sides (a
  * sort-merge join, or AQE's late broadcast after both exchanges ran, adds
  * jobs here). Before the job-free open and the one-job bounds the call
  * ran 8 jobs at this scale.
  *
  * Jobs are attributed like the benchmark's trace: by the first
  * `graft.<module>.` frame of the job's call site, or of its SQL
  * execution's when adaptive execution submits it from its own thread.
  *
  * Counts are at sf0.001 under the test session (local[4], 4 shuffle
  * partitions). If a deliberate change moves a count, update the table
  * WITH the reasoning.
  */
class EagerJobsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val expected: Map[String, Map[String, Int]] = Map(
    "q01_roll_mean" -> Map("segment" -> 1),
    // two filtered sources (click, purchase): one bounds job each
    "q13_two_series_bounds" -> Map("segment" -> 2),
    "q08_sample_windows" -> Map("core" -> 2, "segment" -> 1),
    "q47_resample" -> Map("segment" -> 1, "core" -> 2),
    "q99a_catch22_dist" -> Map("segment" -> 1),
    "q88_strip_keep_first" -> Map("core" -> 3))

  private val Frame = """(?m)^graft\.([a-z]+)\.""".r
  private def moduleOf(site: String): String =
    Frame.findFirstMatchIn(site).map(_.group(1)).getOrElse("spark")

  private val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execModule.put(x.executionId, moduleOf(x.details))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
        // a job adaptive execution submits from its own thread: the module
        // of the SQL execution that started it
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).flatMap(id =>
          Option(execModule.get(id.toLong)))
        started.add(moduleOf(site) match {
          case "spark" => exec.getOrElse("spark")
          case m => m
        })
      }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def drain(): Unit =
    assert(PlanAudit.drainListenerBus(spark, () => started.size.toLong),
      "listener bus failed to drain")

  /** The modules of the jobs `body` starts. */
  private def jobsOf(body: => Any): Seq[String] = {
    listener
    drain()
    started.clear()
    body
    drain()
    started.toArray(Array.empty[String]).toSeq
  }

  /** The modules of the jobs `SparkEntry.queries(q)` starts while it builds. */
  private def buildJobs(q: String): Seq[String] = jobsOf(SparkEntry.queries(q)(spark, dir))

  /** Every job `SparkEntry.queries(q)` starts from build through forcing
    * its rows (the benchmark's action: one pass over `toRdd`). */
  private def callJobs(q: String): Int =
    jobsOf(SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()).size

  test("q99a runs 6 jobs from build through execute, with or without size-based broadcasts") {
    assert(callJobs("q99a_catch22_dist") == 6)
    // Spark's own size-based broadcast off, as where the block frame's
    // static size estimate is over the threshold (the 10x corpus): the W7
    // join still broadcasts instead of shuffling both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(callJobs("q99a_catch22_dist") == 6)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  for ((q, n) <- expected.toSeq.sortBy(_._1))
    test(s"$q runs ${n.values.sum} eager job(s) at build") {
      val jobs = buildJobs(q).groupBy(identity).map { case (m, js) => m -> js.size }
      assert(jobs == n, s"build jobs by module: $jobs")
    }
}
