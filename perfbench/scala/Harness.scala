package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types._

/** One benchmark run inside one JVM: set up a `local[n]` session, run the
  * workload's `graft.SparkEntry.queries` calls in passes, and write every
  * measurement as JSON for `run.py` to reduce.
  *
  * Each call is timed in two parts from outside: build (the query builder
  * returning its DataFrame, eager jobs included) and execute (one action
  * that forces every output row and folds an order-insensitive digest).
  * Jobs are tied to calls and phases by job group.
  */
object Harness {
  final case class Call(name: String, layer: String)

  /** Untimed warm passes before the timed ones: the cold pass pays codegen
    * and the first JIT tiers. Later passes still speed up for about 35 s of
    * a workload's work on 4 cores, more than the suite's time budget allows
    * per run, so every run times passes 1, 2, ... of the same warm-up. */
  val Warm = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = opt("data")
    val calls = opt("calls").split(',').toSeq.map { c =>
      val Array(n, l) = c.split(':'); Call(n, l)
    }
    val tables = opt("tables").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setupReps = opt("setup-reps").toInt
    val minPasses = opt("min-passes").toInt

    // ---- set-up: fresh session + open every input, several times --------
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, opt("local-dir"))
      tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val upSetup = uptime()
    val sc = spark.sparkContext
    quietLogs()
    val rec = new Recorder
    sc.addSparkListener(rec)
    val spans = new Spans
    val wl = spans.open("workload", opt("workload"), -1)

    // ---- passes: one untimed warm pass (the cold pass: JIT, codegen), then
    // timed passes until `seconds` have elapsed -----------------------------
    val passes = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[String]
    var timedStart = 0L
    var p = 0
    while (p < Warm || p - Warm < minPasses ||
        (System.nanoTime() - timedStart) / 1e9 < seconds) {
      if (p == Warm) timedStart = System.nanoTime()
      // traced runs trace every second timed pass (2, 4, ...), so the
      // tracing overhead is measured against the untraced passes around
      // them (1, 3, ...), on the same data in the same JVM
      val tracePass = traced && p >= Warm && (p - Warm) % 2 == 1
      val ps = if (tracePass) spans.open("pass", s"p$p", wl) else -1
      System.gc()
      rec.reset()
      val cpu0 = procCpu(); val gc0 = gcMs(); val cg0 = cgCount()
      val w0 = System.nanoTime()
      for (c <- calls) execs += runCall(spark, dataDir, c, p, p >= Warm, tracePass,
        rec, spans, ps)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = procCpu() - cpu0
      val gc = (gcMs() - gc0) / 1e3
      val cg = cgCount() - cg0
      drain(sc)
      if (ps >= 0) spans.close(ps)
      passes += Json.obj("pass" -> p, "timed" -> (p >= Warm), "traced" -> tracePass,
        "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gc, "codegen_compiles" -> cg,
        "peak_mem_bytes" -> rec.peakMem)
      p += 1
    }
    spans.close(wl)
    val upPasses = uptime()
    drain(sc)
    val jobSpans = if (traced) rec.jobSpans(spans) else Nil

    val env = Json.obj("cores" -> cores, "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"))
    // JVM uptime at the end of set-up and of the passes: where a run's wall goes
    val uptimes = Json.obj("setup_end_s" -> upSetup, "passes_end_s" -> upPasses)
    val w = new PrintWriter(opt("out"))
    w.println(Json.obj("env" -> Raw(env), "uptime" -> Raw(uptimes),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "passes" -> Json.arr(passes), "execs" -> Json.arr(execs),
      "spans" -> Json.arr(spans.all.map(_.json) ++ jobSpans)))
    w.close()
    graft.core.Pinned.releaseAll()
    spark.stop()
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Checkpointed plans drop their SQL metric accumulators early; a late
    * task-end update then logs a harmless ERROR with a stack trace. */
  private def quietLogs(): Unit = Seq("org.apache.spark.scheduler.DAGScheduler",
      "org.apache.spark.util.AccumulatorContext").foreach(
    org.apache.logging.log4j.core.config.Configurator.setLevel(_,
      org.apache.logging.log4j.Level.FATAL))

  /** Build, execute and check one call; returns its JSON record. */
  private def runCall(spark: SparkSession, dataDir: String, c: Call, pass: Int,
      timed: Boolean, traced: Boolean, rec: Recorder, spans: Spans,
      passSpan: Int): String = {
    val sc = spark.sparkContext
    val cs = if (traced) spans.open("call", c.name, passSpan) else -1
    val group = s"p$pass|${c.name}"
    var buildS, execS = 0.0
    var digest = ""
    var error = ""
    var df: DataFrame = null
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(s"$group|build", c.name, interruptOnCancel = false)
      val bs = if (traced) spans.open("build", c.name, cs) else -1
      df = graft.SparkEntry.queries(c.name)(spark, dataDir)
      if (bs >= 0) spans.close(bs)
      val t1 = System.nanoTime()
      buildS = (t1 - t0) / 1e9
      sc.setJobGroup(s"$group|exec", c.name, interruptOnCancel = false)
      val es = if (traced) spans.open("execute", c.name, cs) else -1
      digest = Digest.of(df)
      if (es >= 0) spans.close(es)
      execS = (System.nanoTime() - t1) / 1e9
    } catch {
      case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
    } finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    if (cs >= 0) spans.close(cs)
    val fields = mutable.ArrayBuffer[(String, Any)]("pass" -> pass,
      "timed" -> timed, "call" -> c.name, "layer" -> c.layer, "traced" -> traced,
      "build_s" -> buildS, "exec_s" -> execS, "wall_s" -> wall,
      "digest" -> digest, "error" -> error)
    if (traced) {
      drain(sc)
      if (df != null && error.isEmpty) fields ++= PlanWalk.of(df)
      fields += "pinned" -> pinnedMaterialized()
      fields ++= rec.callStats(group)
    }
    graft.core.Pinned.release(blocking = true)
    Json.obj(fields.toSeq: _*)
  }

  /** Wait until every listener has seen every posted event. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Checkpoints the current call has materialized (`graft.core.Pinned`
    * keeps them until the release that follows each call). */
  private def pinnedMaterialized(): Int = {
    val m = graft.core.Pinned
    val f = m.getClass.getDeclaredField("tracked")
    f.setAccessible(true)
    m.synchronized {
      f.get(m).asInstanceOf[mutable.ArrayBuffer[Product]].count { e =>
        val r = e.productElement(0).asInstanceOf[java.lang.ref.WeakReference[
          org.apache.spark.rdd.RDD[_]]].get()
        r != null && r.isCheckpointed
      }
    }
  }

  def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def procCpu(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def cgCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Order-insensitive digest of a frame's rows, folded by the action that
  * forces them: a wrapping sum of per-row 64-bit hashes plus the row count. */
object Digest {
  def of(df: DataFrame): String = {
    val types = df.schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      while (it.hasNext) { h += row(it.next(), types); n += 1 }
      Iterator((n, h))
    }.collect()
    f"${parts.map(_._1).sum}%d:${parts.map(_._2).sum}%016x"
  }

  private def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < types.length) {
      val v: Long = if (r.isNullAt(i)) 0x5bd1e995L else types(i) match {
        case LongType | TimestampType | TimestampNTZType => r.getLong(i)
        case IntegerType | DateType => r.getInt(i).toLong
        case ShortType => r.getShort(i).toLong
        case ByteType => r.getByte(i).toLong
        case BooleanType => if (r.getBoolean(i)) 1L else 2L
        case DoubleType => java.lang.Double.doubleToLongBits(r.getDouble(i) + 0.0)
        case FloatType => java.lang.Float.floatToIntBits(r.getFloat(i) + 0.0f).toLong
        case StringType => r.getUTF8String(i).hashCode.toLong
        case t => r.get(i, t).toString.hashCode.toLong
      }
      h = mix(h * 31 + v)
      i += 1
    }
    h
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }
}

/** Per-operator numbers from the final adaptive plan's SQL metrics. */
object PlanWalk {
  def of(df: DataFrame): Seq[(String, Any)] = {
    var sortMs, kernelMs, aggMs = 0L
    var bcast, shuffled = 0
    // the assignment Generate of a plan is the one with the most output rows
    var bestGen = (0L, 0L)
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(if (p.children.size == 1) rows(p.children.head) else 0L)
    def ms(p: SparkPlan, key: String): Long = p.metrics.get(key).map { m =>
      if (m.metricType == "nsTiming") m.value / 1000000L else m.value
    }.getOrElse(0L)
    def visit(p: SparkPlan): Unit = {
      p.nodeName match {
        case "Generate" =>
          val o = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          if (o > bestGen._2) bestGen = (rows(p.children.head), o)
        case "Sort" => sortMs += ms(p, "sortTime")
        case "ObjectHashAggregate" | "SortAggregate" => kernelMs += ms(p, "aggTime")
        case "HashAggregate" => aggMs += ms(p, "aggTime")
        case "BroadcastHashJoin" | "BroadcastNestedLoopJoin" => bcast += 1
        case "SortMergeJoin" | "ShuffledHashJoin" | "CartesianProduct" => shuffled += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _: ReusedExchangeExec =>
        case _ => p.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(df.queryExecution.executedPlan)
    Seq("gen_in" -> bestGen._1, "gen_out" -> bestGen._2, "sort_s" -> sortMs / 1e3,
      "kernel_s" -> kernelMs / 1e3, "agg_s" -> aggMs / 1e3,
      "join_broadcast" -> bcast, "join_shuffled" -> shuffled)
  }
}

/** In-memory spans, written out when the run ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, var end: Double) {
    def json: String = Json.obj("id" -> id, "parent" -> parent,
      "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end)
  }
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val all = mutable.ArrayBuffer.empty[Span]
  private val byCall = mutable.Map.empty[String, Int]
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  def open(kind: String, name: String, parent: Int): Int = {
    all += Span(all.size, parent, kind, name, nowMs, Double.NaN)
    if (kind == "build" || kind == "execute") byCall(s"$parent|$kind") = all.size - 1
    all.size - 1
  }
  def close(id: Int): Unit = all(id).end = nowMs
  /** The build/execute span of a call span, for hanging jobs under it. */
  def phase(callSpan: Int, kind: String): Option[Int] = byCall.get(s"$callSpan|$kind")
  def callSpan(pass: Int, call: String): Option[Int] = {
    val ps = all.find(s => s.kind == "pass" && s.name == s"p$pass").map(_.id)
    ps.flatMap(p => all.find(s => s.kind == "call" && s.parent == p && s.name == call).map(_.id))
  }
}

/** Spark listener: task peak memory always; per-job, per-stage and per-task
  * accounting keyed by job group for traced passes. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, group: String, start: Long, module: String,
      stages: Seq[Int]) { var end = 0L }
  final case class StageAcc(var tasks: Int = 0, var runMs: Long = 0,
      var shufW: Long = 0, var shufR: Long = 0, var shufRecs: Long = 0,
      var inRecs: Long = 0, var spill: Long = 0, var start: Long = 0, var end: Long = 0,
      var attempts: Int = 0)
  @volatile var peakMem = 0L
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
  private val Frame = """(?m)^graft\.([a-z]+)\.""".r
  private val AnyGraft = """(?m)^graft\.""".r
  private val execModule = mutable.Map.empty[Long, String]

  def reset(): Unit = synchronized { peakMem = 0L }

  /** The module a call site's first graft frame belongs to; a top-level
    * graft frame (the query definition) reads "entry", no graft frame at all
    * (a job submitted from a Spark thread pool) reads "spark". */
  private def moduleOf(site: String): String =
    AnyGraft.findFirstMatchIn(site).map { m =>
      Frame.findFirstMatchIn(site.substring(m.start)).filter(_.start == 0)
        .map(_.group(1)).getOrElse("entry")
    }.getOrElse("spark")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execModule(x.executionId) = moduleOf(x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    // jobs that adaptive execution submits from its own threads carry no
    // graft frame: attribute them by the SQL execution that started them
    val module = moduleOf(site) match {
      case "spark" => prop("spark.sql.execution.id").flatMap(id =>
        execModule.get(id.toLong)).getOrElse("spark")
      case m => m
    }
    jobs(e.jobId) = Job(e.jobId, group, e.time, module, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, StageAcc())
    a.attempts += 1
    a.start = e.stageInfo.submissionTime.getOrElse(0L)
    a.end = e.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      val a = stages.getOrElseUpdate(e.stageId, StageAcc())
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufRecs += m.shuffleWriteMetrics.recordsWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.inRecs += m.inputMetrics.recordsRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Job, stage and task totals of one call (group prefix `p<n>|<call>`). */
  def callStats(group: String): Seq[(String, Any)] = synchronized {
    val mine = jobs.values.filter(_.group.startsWith(group + "|")).toSeq
    val build = mine.filter(_.group.endsWith("|build"))
    val exec = mine.filter(_.group.endsWith("|exec"))
    def accs(js: Seq[Job]) = js.flatMap(_.stages).distinct
      .filter(s => stageJob.get(s).exists(j => js.exists(_.id == j))).flatMap(stages.get)
    val all = accs(mine)
    val eager = Seq("segment", "core", "scale", "api").flatMap { m =>
      val js = build.filter(_.module == m)
      Seq(s"eager_jobs.$m" -> js.size, s"eager_s.$m" -> js.map(j => j.end - j.start).sum / 1e3)
    }
    eager ++ Seq(
      "eager_jobs" -> build.size,
      "jobs" -> mine.size, "stages" -> all.map(_.attempts).sum,
      "tasks" -> all.map(_.tasks).sum,
      "exec_task_s" -> accs(exec).map(_.runMs).sum / 1e3,
      "shuffle_write_bytes" -> all.map(_.shufW).sum,
      "shuffle_read_bytes" -> all.map(_.shufR).sum,
      "shuffle_records" -> all.map(_.shufRecs).sum,
      "scan_records" -> all.map(_.inRecs).sum,
      "spill_bytes" -> all.map(_.spill).sum)
  }

  /** Job and stage spans, each hung under its call's build/execute span. */
  def jobSpans(spans: Spans): Seq[String] = synchronized {
    var next = spans.all.size
    jobs.values.toSeq.flatMap { job =>
      job.group.split('|') match {
        case Array(p, call, phase) =>
          val parent = spans.callSpan(p.stripPrefix("p").toInt, call)
            .flatMap(spans.phase(_, if (phase == "build") "build" else "execute"))
          parent.toSeq.flatMap { ps =>
            val jid = next; next += 1
            val js = Json.obj("id" -> jid, "parent" -> ps, "kind" -> "job",
              "name" -> s"job${job.id}:${job.module}", "start_ms" -> job.start.toDouble,
              "end_ms" -> job.end.toDouble)
            js +: job.stages.filter(s => stageJob.get(s).contains(job.id))
              .flatMap(s => stages.get(s).filter(_.end > 0).map(s -> _)).map { case (s, a) =>
                val sid = next; next += 1
                Json.obj("id" -> sid, "parent" -> jid, "kind" -> "stage",
                  "name" -> s"stage$s", "start_ms" -> a.start.toDouble,
                  "end_ms" -> a.end.toDouble)
              }
          }
        case _ => Nil
      }
    }
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + (v match {
      case Raw(s) => s
      case x => value(x)
    }) }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): Raw = Raw(xs.mkString("[", ",", "]"))
}
final case class Raw(s: String)
