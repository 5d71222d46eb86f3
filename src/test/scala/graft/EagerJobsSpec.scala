package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Pins the Spark jobs a query's builder runs BEFORE any action — the
  * eager driver jobs of plan build — per module, as a budget: a change that
  * adds one fails here. Today they are the events parquet open (one schema
  * job, `graft.core.TsCompat`), the series bounds (`Segmenter.bounds`: one
  * `min`/`max` job pair per distinct source) and, for sample-count windows,
  * the pin of the positional index (`graft.core.Pinned`: under AQE it runs
  * the position scan's stages at build) and its `count()` (`graft.api`).
  * Moving the bounds into the plan lowers the `segment` and
  * `api` counts.
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
    "q01_roll_mean" -> Map("core" -> 1, "segment" -> 2),
    // two filtered sources (click, purchase): one bounds job pair each
    "q13_two_series_bounds" -> Map("core" -> 1, "segment" -> 4),
    "q08_sample_windows" -> Map("core" -> 8, "api" -> 2))

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

  /** The modules of the jobs `SparkEntry.queries(q)` starts while it builds. */
  private def buildJobs(q: String): Seq[String] = {
    listener
    drain()
    started.clear()
    SparkEntry.queries(q)(spark, dir)
    drain()
    started.toArray(Array.empty[String]).toSeq
  }

  for ((q, n) <- expected.toSeq.sortBy(_._1))
    test(s"$q runs ${n.values.sum} eager job(s) at build") {
      val jobs = buildJobs(q).groupBy(identity).map { case (m, js) => m -> js.size }
      assert(jobs == n, s"build jobs by module: $jobs")
    }
}
