package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark harness. Two modes:
  *
  *  - `runMain graft.Bench` (no args, the driver's invocation): runs every
  *    SparkEntry query twice back-to-back (cold = suite-context cost, warm =
  *    plan cost), then — unless SPARK_GRAFT_BENCH_NOFORK=1 — forks ONE fresh
  *    child JVM that re-times the dedup family (q21/q54/q65, the queries
  *    whose in-suite time has historically swung 5x with zero code change)
  *    in isolation, publishing `queries_isolated` + the in-suite/isolated
  *    ratio alongside the in-suite vectors. The artifact therefore carries,
  *    for every run, the evidence needed to attribute a blowup: per-query GC
  *    time, post-GC heap, and codegen-compilation counts (the three JVM-
  *    lifecycle suspects diagnosed in SCALE.md "Suite-context variance"),
  *    plus — r17 — per-boundary system-load samples (load_mean/load_max,
  *    descriptive), the suite's executor-CPU totals (cpu_total +
  *    queries_cpu_warm, wall-independent so sustained host noise is
  *    attributable against a committed idle-box artifact), the FOREIGN
  *    CPU fraction over the measured passes (whole-host /proc/stat
  *    busy+steal minus this JVM's process CPU — self-load cancels), and a
  *    storm-GATED third warm pass over the whole suite feeding the
  *    structural line — armed by foreign CPU >10%, a mid-run membw
  *    divergence, or (r18) a median per-query CPU ratio >1.15 vs the
  *    committed idle-box reference vector (bench_ref.json) — plus
  *    cpu_ratio_vs_ref / wall_ratio_vs_ref cells and a
  *    structural_normalized line (structural divided by the wall ratio
  *    when >1; the CPU ratio corroborates) so a contended run
  *    self-normalizes from the artifact alone (extra_pass:true records
  *    the gate).
  *  - `runMain graft.Bench <name>...`: isolated-child mode — times ONLY the
  *    named queries with the same 2-pass protocol and prints the same JSON
  *    line (no fork, no file write unless SPARK_GRAFT_BENCH_OUT is set).
  */
object Bench {
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  private def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20
  private def cgCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** The family whose in-suite timing is the round-over-round variance
    * suspect; re-timed in a forked JVM each full run. */
  private val isolateFamily =
    Seq("q21_dedup_jaccard", "q54_dup_clusters", "q65_dedup_keep_one")

  /** Committed idle-box reference vector for the CPU-ratio storm
    * normalization (r18): the per-query executor-CPU map
    * (`queries_cpu_warm`) of the best quiet-window artifact, parsed from
    * `SPARK_GRAFT_BENCH_REF` when set. CPU time
    * is code-determined up to contention: on identical code a quiet run's
    * per-query ratio vs this vector reads ~1.0, a bandwidth/SMT storm
    * reads the r17-measured 1.3-1.5x UNIFORMLY — and the MEDIAN over the
    * full suite is robust to the handful of queries a round's code changes
    * legitimately move. Best-effort: absent/corrupt file → empty map →
    * the ratio publishes -1 and the structural line stays raw.
    *
    * The DEFAULT ref is keyed on the data directory (r19, VERDICT r18 item
    * 6: the 100× v13 run silently loaded the sf0.1 vector and published a
    * meaningless 112× ratio): `bench_ref.json` only serves runs whose
    * `$SPARK_GRAFT_SF_DIR` basename is `sf0.1` (the data the committed
    * vector was measured on); any other directory looks for
    * `bench_ref_<basename>.json` and otherwise publishes -1 rather than a
    * cross-scale ratio.
    */
  private[graft] def loadRef(sfDir: String): (Map[String, Double], Map[String, Double]) = try {
    val base = java.nio.file.Paths.get(sfDir).getFileName.toString
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      if (base == "sf0.1") "bench_ref.json" else s"bench_ref_$base.json")
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return (Map.empty, Map.empty)
    parseRef(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
  } catch { case _: Throwable => (Map.empty, Map.empty) }

  /** (cpu, wall) reference vectors out of a bench/ref artifact string.
    * Whitespace-tolerant flat-block find: the ref may be pretty-printed
    * ("queries_cpu_warm": { on its own line, tools/make_bench_ref.py) or
    * compact (a raw bench artifact). Quoted key lookups, so "queries"
    * never re-matches inside "queries_cpu_warm". Best-effort: a missing
    * or malformed block parses to an empty map (ratio publishes -1).
    */
  private[graft] def parseRef(s: String): (Map[String, Double], Map[String, Double]) = {
    def block(key: String): Map[String, Double] = {
      val k0 = s.indexOf("\"" + key + "\"")
      if (k0 < 0) return Map.empty
      val i = s.indexOf('{', k0)
      if (i < 0) return Map.empty
      val j = s.indexOf('}', i + 1)
      if (j < 0) return Map.empty
      val re = "\"([^\"]+)\"\\s*:\\s*([0-9.Ee+-]+)".r
      re.findAllMatchIn(s.substring(i + 1, j))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    (block("queries_cpu_warm"), block("queries"))
  }

  private case class QRun(name: String, cold: Double, warm: Double,
                          gcColdMs: Long, gcWarmMs: Long, heapMb: Long,
                          cgCold: Long, cgWarm: Long, cpuWarm: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = args.toSeq
    // Session-private scratch so the boundary drain below can observe (and
    // the end of main can remove) THIS run's shuffle/spill footprint
    // without counting neighbors sharing /tmp. The p<pid>_ name shape is
    // what Sink.sweepDead matches, so a crashed/SIGKILLed bench (which
    // never runs its shutdown hook) is cleaned up by the NEXT run instead
    // of leaking multi-GB scratch per kill; deleteOnExit covers the
    // normal-exit and fork-timeout-destroyForcibly-of-parent paths.
    val localDir = s"/tmp/graft-bench-localp${ProcessHandle.current.pid}_scratch"
    graft.scale.Sink.sweepDead("/tmp", "graft-bench-local")
    graft.scale.Sink.deleteOnExit(localDir)
    // spark.local.dir is IGNORED when SPARK_LOCAL_DIRS is exported (the
    // env var wins in Utils.getConfiguredLocalDirs) — observe whichever
    // dirs Spark will actually use, else the 256 MB gate below never opens
    // and the drain silently stops draining. ALL comma-separated entries
    // are summed (Spark round-robins blocks across them, so watching one
    // sees ~1/n of the footprint). When the env var is set the dirs are
    // host-shared, not session-private — other tenants' files count too,
    // which the artifact notes via "scratch" below.
    val observedLocals: Seq[String] = sys.env.get("SPARK_LOCAL_DIRS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(Seq(localDir))
    // derived from the PARSED list, not the raw env var: a degenerate
    // SPARK_LOCAL_DIRS ("," / whitespace) falls back to the private dir
    // and must be annotated as such
    val scratchShared = observedLocals != Seq(localDir)
    def observedDu(): Long = observedLocals.map(graft.core.Scratch.duBytes).sum
    // shared dirs carry other tenants' (possibly static, possibly large)
    // files — gate the per-boundary drain on OUR footprint, i.e. growth
    // over this baseline, or foreign bytes hold the gate open at all ~230
    // boundaries (3+ polls × 200 ms × full tree walks each, for nothing).
    // The baseline tracks the MINIMUM ever observed: a tenant deleting
    // its files mid-run would otherwise leave the baseline inflated and
    // hold the gate CLOSED over our own multi-GB footprint.
    var scratchBaseline: Long = if (scratchShared) observedDu() else 0L
    // rebase bookkeeping (see the drain block): a rebase silently widens
    // the gate's blind spot, so it must be (a) confirmed by CONSECUTIVE
    // no-delete drains, not one — our own retained shuffle can
    // legitimately be uncollected at a single boundary — and (b) counted
    // into the artifact so an inert gate is visible in the record
    var noDeleteDrains = 0
    var scratchRebases = 0
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      // The whole-stage-codegen class cache is bounded at 100 entries by
      // default; a cold pass over this 116-query suite compiles ~3.2k
      // generated classes, so by the time a second pass (or the warm
      // repeat of a late query) runs, the early classes are evicted and
      // Janino recompiles them mid-measurement — the r11 driver artifact
      // showed q21 warm at 2.88x its own isolated run with cg_warm=45
      // recompiles and 2.9 s of GC. Any long-lived JVM serving >100
      // distinct large plans needs this raised (static conf, so it must
      // be set at session creation); 8192 holds the full suite with
      // headroom at <1 GiB worst-case for the cached class metadata.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Queries that materialize a localCheckpoint (Dedup, G3) discard the
    // checkpoint's internal plan right after it is computed; its SQLMetric
    // accumulators are weakly referenced, so when a straggler task-end
    // event races a GC the DAGScheduler logs "Failed to update accumulator"
    // with a stack trace. The update loss affects UI metrics only — never
    // results — but it pollutes the bench stderr, so the bench harness
    // (and only it) raises those two loggers above ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.FATAL)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.util.AccumulatorContext",
      // FATAL, not ERROR: the "Failed to update accumulator" message this
      // block exists to silence is itself logged at ERROR
      org.apache.logging.log4j.Level.FATAL)
    // Warm the JVM + codegen + parquet footers once so the first measured
    // query doesn't absorb session startup (~7 s of pure warmup otherwise —
    // whichever query happens to iterate first would be charged for it).
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q00_tpch_q1").foreach(_(spark, sfDir)
        .queryExecution.toRdd.count())
    } catch { case _: Throwable => }
    // Each query runs TWICE back-to-back: the first run pays the suite
    // context (first-time Janino compilation of this query's generated
    // classes — with the cache raised to 8192 above, first-time is the
    // ONLY compilation; at the default 100 entries the suite thrashed the
    // cache and recompiled mid-measurement, the r8-diagnosed wobble); the
    // immediate repeat hits the codegen cache and measures the PLAN. The
    // warm vector is the headline (round-over-round comparable); the cold
    // vector stays in the artifact as the suite-context number.
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (only.isEmpty) names0 else names0.filter(only.contains)
    // queries that threw: published as "failed":[...] in BOTH JSON outputs
    // so an artifact with a deflated time (time-to-throw) is self-
    // describing — previously a child-JVM failure was invisible (stderr
    // discarded) and read as a genuine 30x suite-context blowup
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Ambient-noise record (r16: the driver artifact's warm headline
    // inflated 1.21× UNIFORMLY — including code-untouched queries — on
    // host neighbor noise, and two warm passes plus a 12-query min-warm
    // list could not settle sustained elevation).
    //
    //  - one 1-minute load-average sample per query boundary
    //    (load_mean/load_max): descriptive only — a 32-wide suite's OWN
    //    bursts dominate the 1-minute average, so load cannot gate
    //    anything without tripping on self-load;
    //  - FOREIGN CPU, the gating signal: /proc/stat whole-host busy+steal
    //    jiffies minus THIS JVM's process CPU over the measured passes.
    //    Self-load cancels exactly (our own burn is subtracted), hypervisor
    //    steal is included — the two components of "the box was not ours".
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def hostBusySteal(): (Double, Double) = try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      // cpu  user nice system idle iowait irq softirq steal [guest ...]
      val t = line.trim.split("\\s+").drop(1).map(_.toDouble)
      val idle = t(3) + (if (t.length > 4) t(4) else 0.0)
      val steal = if (t.length > 7) t(7) else 0.0
      // guest/guest_nice (fields 8/9) are already folded into user/nice by
      // the kernel — summing the first 8 fields avoids double-counting
      val total = t.take(8).sum
      val hz = 100.0 // USER_HZ is 100 on every mainstream linux
      ((total - idle) / hz, steal / hz)
    } catch { case _: Throwable => (-1.0, -1.0) }
    def procCpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case o: com.sun.management.OperatingSystemMXBean =>
          val ns = o.getProcessCpuTime
          if (ns < 0) -1.0 else ns / 1e9
        case _ => -1.0
      }
    def once(name: String): (Double, Long, Long) = {
      val gc0 = gcMs(); val cg0 = cgCount()
      val t0 = System.nanoTime()
      // toRdd.count() forces full materialization of every output row
      // (a bare DataFrame.count() lets Catalyst prune the projections,
      // under-measuring compute-heavy queries).
      try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // diag deltas are snapshotted HERE, before the boundary cleanup:
      // gc_*_ms counts only GC that ran inside the measured region (the
      // boundary System.gc below used to be charged to the query's diag
      // row, putting a uniform ~250 ms floor in every cell and masking
      // real in-region GC)
      val gcIn = gcMs() - gc0
      val cgIn = cgCount() - cg0
      // free this query's checkpoint blocks so the next query's time
      // measures ITS plan, not the eviction of accumulated storage debt
      // (observed: a stable ~3.7 s CC query reading 19.8 s under prior
      // queries' retained checkpoints)
      graft.core.Pinned.release(blocking = true)
      // ContextCleaner reclaims dead broadcast/shuffle/accumulator state
      // only when a GC collects their weak references; ~180 query-runs in
      // one JVM accumulate enough un-collected debris that the heaviest
      // multi-round queries (CC fixpoints) read 5-7x slow late in the
      // suite even on an immediate repeat. A GC at the query boundary
      // makes reclamation deterministic instead of landing mid-measurement.
      System.gc()
      // ...but the GC only ENQUEUES the dead weak refs; the ContextCleaner
      // thread then issues the removeBroadcast/removeShuffle RPCs
      // asynchronously. A short settle window drains that work at the
      // boundary instead of letting it contend inside the NEXT query's
      // timed region (untimed; 116x2 boundaries ~= 28 s of wall).
      Thread.sleep(120)
      // Size-gated shuffle-file drain: at 100x-probe scale a single query
      // retains a multi-GB shuffle footprint past the 120 ms settle (a q76
      // experiment measured 2.6 GB deleted in 1.7-2.9 s once the
      // cleaner's weak refs are collected), and in a plain boundary that
      // deletion lands inside the NEXT query's timed region. Poll the
      // session-private local dir until it stops shrinking (bounded) so
      // every measurement starts from a deterministic disk state. Gated at
      // 256 MB: at driver scale (sf0.1) footprints are MBs and this is one
      // stat() — zero added wall. NOTE (measured, SCALE.md round-13
      // probe): this buys determinism of the boundary, not a variance fix
      // — the remaining 100x run-over-run spread is page-cache/GC-timing
      // environmental.
      val duNow = observedDu()
      if (scratchShared) scratchBaseline = math.min(scratchBaseline, duNow)
      if (duNow - scratchBaseline > (256L << 20)) {
        val t0 = System.nanoTime()
        var last = observedDu()
        var stable = 0
        while (stable < 3 && (System.nanoTime() - t0) / 1e6 < 30000) {
          Thread.sleep(200)
          val now = observedDu()
          if (now >= last - (16L << 20)) stable += 1 else stable = 0
          last = now
        }
        // a drain that deleted nothing SUGGESTS the excess over baseline
        // is foreign growth (a co-tenant writing into the shared dirs) —
        // but one no-delete drain can also be our own shuffle whose weak
        // refs simply weren't collected yet, so require two CONSECUTIVE
        // no-delete drains before rebasing (by the second boundary the
        // cleaner has had two GC + settle windows), and count rebases
        // into the artifact so a ratcheted-inert gate is self-describing
        if (scratchShared && last > duNow - (32L << 20)) {
          noDeleteDrains += 1
          if (noDeleteDrains >= 2) {
            scratchBaseline = math.max(scratchBaseline, last - (128L << 20))
            scratchRebases += 1
          }
        } else noDeleteDrains = 0
      }
      val la = osBean.getSystemLoadAverage
      if (la >= 0) loadSamples += la
      (sec, gcIn, cgIn)
    }
    // Child (isolated) mode may run EXTRA passes per query: a fresh JVM's
    // second pass is codegen-cached but still JIT-COLD (C2 has seen each
    // generated loop once), so a 2-pass child over-states plan cost by
    // 2-3x on the heaviest queries and the in-suite/isolated ratio loses
    // its ~1 meaning (r12: q21 ratio 0.36). With N passes the LAST pass is
    // published as warm — by then the JIT has had N-1 runs of this query's
    // code, matching the in-suite steady state the ratio compares against.
    val passes =
      if (only.nonEmpty)
        math.max(2, sys.env.get("SPARK_GRAFT_BENCH_PASSES")
          .flatMap(_.toIntOption).getOrElse(2))
      else 2
    // Always-on executor-CPU accounting for the WHOLE suite: the per-query
    // warm CPU seconds (last pass) plus the run's cpu_total. CPU time is
    // wall-independent — ambient contention inflates wall, not CPU — so a
    // run whose wall total inflated over a committed idle-box artifact
    // while cpu_total stayed flat self-attributes the gap to host noise
    // from the two artifacts alone (the r16 regression's missing evidence).
    // Per-query cells are APPROXIMATE (the listener bus is async and query
    // boundaries don't drain it — a trailing task-end can credit the next
    // query), but the sum is conserved; the strict-drain protocol stays on
    // the slow-list queries_cpu vector below, which reads this same
    // counter's delta between two drains (taskEvents is the drain's
    // progress signal).
    val cpuAllNs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskEvents = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuAllL = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskEvents.incrementAndGet()
        if (e.taskMetrics != null) cpuAllNs.addAndGet(e.taskMetrics.executorCpuTime)
      }
    }
    spark.sparkContext.addSparkListener(cpuAllL)
    // Memory-bandwidth self-calibration (r17): the round's neighbor storm
    // inflated executor CPU-TIME 1.3-2.7x with steal at ~1.5% — bandwidth/
    // SMT contention is invisible to busy-minus-self AND steal. A fixed
    // single-thread 256 MB sweep before and after the measured passes
    // publishes the direct signal (GB/s). ~100 ms each — noise against a
    // multi-minute suite.
    //
    // Calibration caveat (r18, measured on this box): inside a stock JVM
    // the sweep is TLB-bound near ~6 GB/s (4 KB pages over a 256 MB walk;
    // the same loop under +UseTransparentHugePages reads ~8, numpy on THP
    // memory ~9-11 on the SAME idle-CPU box whose quiet signature was
    // once ~40) — so the ABSOLUTE value cannot carry a storm floor. What
    // the pair still signals reliably is DIVERGENCE: conditions changing
    // between the before and after cells. The absolute storm signal moved
    // to cpu_ratio_vs_ref below, which compares this run's per-query
    // executor-CPU against a committed reference vector directly.
    //
    // One buffer reused across calls (the r17 form allocated 256 MB per
    // call — an OOM risk on small-heap runs and a major-GC perturbation of
    // the 'after' cell), guarded on maxMemory so a constrained child JVM
    // skips the probe (-1.0 = not measured) instead of dying on it.
    var membwBuf: Array[Double] = null
    def memBwGbps(): Double = {
      if (Runtime.getRuntime.maxMemory < (1L << 31)) return -1.0
      if (membwBuf == null) {
        membwBuf = new Array[Double](32 * 1024 * 1024) // 256 MB, beyond any LLC
        java.util.Arrays.fill(membwBuf, 1.0)
      }
      val a = membwBuf
      var best = 0.0
      var r = 0
      while (r < 3) {
        val t0 = System.nanoTime()
        // four independent accumulators: a single dependent-add chain is
        // LATENCY-bound (~5 GB/s regardless of host state) and would not
        // see contention; unrolled, the sweep saturates a core's share of
        // real bandwidth
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < a.length) {
          s0 += a(i); s1 += a(i + 1); s2 += a(i + 2); s3 += a(i + 3)
          i += 4
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (s0 + s1 + s2 + s3 > 0 && 0.256 / dt > best) best = 0.256 / dt
        r += 1
      }
      (best * 10).round / 10.0
    }
    val membw0 = memBwGbps()
    val (busy0, steal0) = hostBusySteal()
    val proc0 = procCpuSec()
    val wall0 = System.nanoTime()
    val timed = names.map { n =>
      val (cold, gcC, cgC) = once(n)
      var c1 = cpuAllNs.get
      var (warm, gcW, cgW) = once(n)
      var cpuW = (cpuAllNs.get - c1) / 1e9
      val passSecs = scala.collection.mutable.ArrayBuffer(cold, warm)
      var k = 2
      while (k < passes) {
        c1 = cpuAllNs.get
        val r = once(n); warm = r._1; gcW = r._2; cgW = r._3
        cpuW = (cpuAllNs.get - c1) / 1e9
        passSecs += r._1; k += 1
      }
      if (passes > 2)
        // pass-by-pass curve for the isolation/ambient attribution; the
        // parent's JSON-line scraper ignores non-{"metric" lines
        // Locale.ROOT: a default-locale %.3f can print a comma decimal
        // separator, which the parent's comma-separated curve parse would
        // silently mis-split into wrong integers
        println(s"""[bench-passes] $n ${passSecs.map(s =>
          "%.3f".formatLocal(java.util.Locale.ROOT, s)).mkString(",")}""")
      QRun(n, cold, warm, gcC, gcW, heapUsedMb(), cgC, cgW, cpuW)
    }
    def jnum(f: QRun => Double) =
      timed.map(t => "\"" + t.name + "\":" + f(t)).mkString("{", ",", "}")
    val qs = jnum(_.warm)      // headline: warm (plan cost, codegen cached)
    val qsCold = jnum(_.cold)  // suite-context cost (cache-eviction noise in)
    // JVM-lifecycle diagnostics, one row per query: GC wall-ms inside the
    // cold and warm runs, post-GC heap after the query, and the number of
    // Janino compilations each pass triggered (warm-pass compilations != 0
    // mean the codegen cache evicted this query's classes mid-suite — the
    // variance suspect). These make a one-off blowup attributable from the
    // artifact alone, without a repro.
    val diag = timed.map { t =>
      s""""${t.name}":{"gc_cold_ms":${t.gcColdMs},"gc_warm_ms":${t.gcWarmMs},""" +
        s""""heap_after_mb":${t.heapMb},"cg_cold":${t.cgCold},"cg_warm":${t.cgWarm}}"""
    }.mkString("{", ",", "}")
    val total = timed.map(_.warm).sum
    val totalCold = timed.map(_.cold).sum
    val cpuTotalWarm = timed.map(_.cpuWarm).sum

    // Foreign-CPU-gated extra structural pass (r17 hardening): when
    // neighbors burned more than 10% of the box's CPU during the measured
    // passes, every query gets ONE more warm pass and the structural line
    // takes the per-query min over all of them. Two warm passes + a
    // 12-query min-warm list settle ambient SPIKES but not sustained
    // neighbor load (the r16 artifact regressed 18% with uniform 1.21×
    // inflation across code-untouched queries while its 1-min load read a
    // harmless 4.3 — whole-host minus self CPU is the signal that episode
    // actually moves); the extra suite pass costs wall only on runs that
    // are already compromised, and the artifact records it via
    // "extra_pass" + "foreign_frac".
    val coresN = Runtime.getRuntime.availableProcessors
    val loadMean =
      if (loadSamples.isEmpty) -1.0 else loadSamples.sum / loadSamples.size
    val loadMax = if (loadSamples.isEmpty) -1.0 else loadSamples.max
    val wallDelta = (System.nanoTime() - wall0) / 1e9
    val (busy1, steal1) = hostBusySteal()
    val proc1 = procCpuSec()
    val measurable = busy0 >= 0 && busy1 >= 0 && proc0 >= 0 && proc1 >= 0
    // steal is not part of busy (it is time the host WANTED to run but the
    // hypervisor gave elsewhere) — count it into the foreign burn
    val foreignCpu =
      if (!measurable) -1.0
      else math.max(0.0, (busy1 - busy0) - (proc1 - proc0)) +
        math.max(0.0, steal1 - steal0)
    val foreignFrac =
      if (!measurable || wallDelta <= 0) -1.0
      else foreignCpu / (coresN * wallDelta)
    // membw_after straddles exactly the measured passes (r18; the r17 form
    // sampled it at JSON-build time, after the extra/minwarm/fork passes,
    // diluting the divergence signal the pair exists to carry)
    val membw1 = memBwGbps()
    val membwDiverge = membw0 > 0 && membw1 > 0 &&
      math.abs(membw0 - membw1) / math.max(membw0, membw1) > 0.35
    // Ratios vs the committed idle-box reference — the DIRECT storm
    // signals (r17's storms inflated executor CPU 1.3-1.5x on identical
    // code with steal ~1.5% and the absolute membw cell TLB-pinned near
    // its floor — both prior gates blind). CPU ratio: wall-independent
    // contention DETECTOR (arms the extra pass). Wall ratio: the
    // NORMALIZER — bandwidth contention inflates wall super-
    // proportionally to CPU (measured this round: wall ×1.24 at CPU
    // ×1.17), and a median over the full suite is untouched-query-
    // dominated, so a uniform wall elevation is ambient, not code (a
    // real regression moves a handful of cells, not the median of ~114).
    // Medians over every query with a non-noise reference cell; -1 when
    // no usable reference.
    val (refCpu, refWall) =
      if (only.isEmpty) loadRef(sfDir)
      else (Map.empty[String, Double], Map.empty[String, Double])
    def medianRatio(cur: String => Double, ref: Map[String, Double],
                    floorSec: Double): Double = {
      val rs = timed.flatMap { t =>
        ref.get(t.name).filter(_ >= floorSec).map(r => cur(t.name) / r) }.sorted
      if (rs.length < 20) -1.0
      else (rs(rs.length / 2) * 1000).round / 1000.0
    }
    val byName = timed.map(t => t.name -> t).toMap
    val cpuRatioVsRef = medianRatio(n => byName(n).cpuWarm, refCpu, 0.2)
    val wallRatioVsRef = medianRatio(n => byName(n).warm, refWall, 0.3)
    // The extra structural pass now arms on ANY of the three storm
    // signals: foreign CPU burn (neighbor processes visible to /proc),
    // a mid-run membw shift (conditions changed between the cells), or
    // uniform CPU inflation vs the committed reference (the r17 blind
    // spot: bandwidth/SMT contention with no steal and no foreign burn).
    val extraPass = only.isEmpty && (
      (measurable && foreignFrac > 0.10) || membwDiverge ||
      cpuRatioVsRef > 1.15 || wallRatioVsRef > 1.25)
    val warm3: Map[String, Double] =
      if (!extraPass) Map.empty
      else {
        val m = names.filterNot(failed.contains).map(n => n -> once(n)._1)
        // a pass that threw publishes time-to-throw — drop it (the name is
        // in failed:[...], the honest record) rather than deflate the min
        m.filterNot { case (n, _) => failed.contains(n) }.toMap
      }

    // --- per-query min-of-warm + executor-CPU-time vectors (slow list) ---
    // Three EXTRA in-suite passes per slow-list query publish, per name,
    // the MIN wall over all four warm passes and the MIN summed
    // executorCpuTime over the extra passes. Min-of-warm is robust to an
    // ambient spike landing in any one pass (the q72 pattern: three rounds
    // of a single warm cell reading 20-40% over its committed structural
    // value purely from boundary timing), and CPU time is wall-independent
    // — contention inflates wall, not CPU — so a high-wall/flat-CPU cell
    // is attributable to ambient load from the artifact alone.
    val slowN = 12
    val slowest = timed.sortBy(-_.warm).take(slowN)
    val (minWarmVec, cpuVec): (Seq[(String, Double)], Seq[(String, Double)]) =
      if (only.nonEmpty) (Nil, Nil)
      else {
        val rows = slowest.filterNot(t => failed.contains(t.name)).flatMap { t =>
          var minWall = t.warm
          var minCpu = Double.MaxValue
          var k = 0
          var broke = false
          while (k < 3 && !broke) {
            // the bus is async: drain BEFORE reading the CPU baseline so
            // a prior query's trailing task-end events can't leak into
            // this pass's delta, and AFTER the run so this pass's trailing
            // events are counted before the read
            val drainedPre = PlanAudit.drainListenerBus(spark, () => taskEvents.get)
            val cpu0 = cpuAllNs.get
            val (sec, _, _) = once(t.name) // full boundary hygiene inside
            val drainedPost = PlanAudit.drainListenerBus(spark, () => taskEvents.get)
            // a pass that THREW returns its time-to-throw — taking that
            // min would silently deflate the cell and structural_total;
            // drop the whole cell instead (the name lands in failed:[...],
            // which is the honest record)
            if (failed.contains(t.name)) broke = true
            else {
              minWall = math.min(minWall, sec)
              // a timed-out drain on EITHER side means this pass's CPU sum
              // may be missing trailing task-end events (understated) or
              // carrying a prior pass's (overstated) — the same undrained-
              // read hazard the specs fail on; skip the CPU sample
              // (wall is listener-independent and stays)
              if (drainedPre && drainedPost)
                minCpu = math.min(minCpu, (cpuAllNs.get - cpu0) / 1e9)
            }
            k += 1
          }
          // minwarm survives even if every CPU sample was drain-skipped —
          // wall needs no listener; only the cpu cell goes missing
          if (broke) None
          else Some((t.name -> minWall,
            if (minCpu == Double.MaxValue) None else Some(t.name -> minCpu)))
        }
        (rows.map(_._1), rows.flatMap(_._2))
      }
    def r3(d: Double) = (d * 1000).round / 1000.0
    def jmap(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val minwarmJson = jmap(minWarmVec)
    val cpuJson = jmap(cpuVec)
    // MEASURED structural total: the warm headline with each slow-list
    // cell replaced by its min-of-warm. Retires the r14 practice of
    // deriving the structural 100× number by SUBTRACTING documented
    // ambient inversions in SCALE.md — the artifact now carries the
    // number directly, from the same run.
    val minwarmMap = minWarmVec.toMap
    val structuralTotal =
      timed.map { t =>
        math.min(minwarmMap.getOrElse(t.name, t.warm),
          warm3.getOrElse(t.name, Double.MaxValue))
      }.sum
    // Storm-normalized structural line (r18, mechanizing the SCALE.md r17
    // untouched-query ratio method): when the suite's median per-query
    // WALL ratio vs the committed idle-box reference reads above 1, the
    // whole box was contended by that factor and the structural wall is
    // divided by it (wall normalizes wall; the CPU ratio corroborates in
    // the same artifact). A ratio at-or-under 1 (quiet box, or code got
    // faster) leaves the line untouched — the cell never inflates a good
    // run — and the RAW structural/value lines stay alongside, so the
    // normalized view hides nothing.
    val structuralNormalized =
      if (wallRatioVsRef > 1.0) structuralTotal / wallRatioVsRef
      else structuralTotal

    // Forked-JVM isolation pass: a fresh child JVM (same classpath + module
    // opens, inherited env) times the dedup family alone. Ratio in-suite /
    // isolated ~1 certifies the suite context added nothing this run; a
    // future blowup shows up as ratio >> 1 with the diag vectors saying why.
    // The artifact also carries the child's full pass curve and a system
    // load reading, so a slow "isolated" number is attributable from the
    // artifact alone: a curve converging to the in-suite number says JIT
    // warmup; a flat-high curve with load >> parent-idle says ambient
    // contention in the harness environment, not plan cost.
    val isolated: Option[IsoResult] =
      if (only.nonEmpty || sys.env.contains("SPARK_GRAFT_BENCH_NOFORK")) None
      else forkIsolated(isolateFamily)
    val isoJson = isolated.map { r =>
      // Isolated baseline = MIN over the child's warm passes (2..N), not
      // the last pass: the r13 driver artifact showed q54's isolated curve
      // RISING 5.0→25.0 s as the host's 1-min load climbed past the core
      // count mid-fork — ambient contention landing in whichever pass runs
      // latest. Min over post-warmup passes still excludes JIT cold-start
      // (pass 1 is dropped) but is robust to a spike hitting one pass.
      // Torn-line guard: the child's stdout is drained on a racing thread,
      // so a truncated [bench-passes] line can still parse token-wise —
      // "25.0" torn to "2" or "5." goes through toDoubleOption and would
      // publish a bogus LOW isolated min, inflating insuite_over_isolated.
      // The child prints each pass as Locale.ROOT %.3f, so a healthy curve
      // has EXACTLY childPasses tokens all shaped \d+.\d{3}; anything else
      // falls back to the parsed warm value (never throws in main after
      // the whole suite already ran — that would lose both JSON artifacts)
      val childPasses = math.max(2, sys.env.get("SPARK_GRAFT_BENCH_PASSES")
        .flatMap(_.toIntOption).getOrElse(4)) // 4 = forkIsolated's default
      def minWarm(n: String): Option[Double] =
        r.passes.get(n)
          .flatMap { c =>
            val toks = c.split(',')
            if (toks.length < childPasses ||
                !toks.forall(_.matches("""\d+\.\d{3}"""))) None
            else toks.drop(1).flatMap(_.toDoubleOption).minOption
          }
          .orElse(r.warm.get(n))
      // (the LAST pass per query is not re-published separately: it is the
      // final element of each isolated_passes curve, and the compact stdout
      // line's ~1.8 KB budget is the scarce resource here)
      val v = isolateFamily.flatMap(n => minWarm(n).map(n -> _)).sortBy(_._1)
        .map { case (k, s) => s""""$k":${(s * 1000).round / 1000.0}""" }
        .mkString("{", ",", "}")
      val ratios = isolateFamily.flatMap { n =>
        for (i <- minWarm(n); t <- timed.find(_.name == n); if i > 0)
          yield s""""$n":${(t.warm / i * 100).round / 100.0}"""
      }.mkString("{", ",", "}")
      // ratio acceptance gate, calibrated against the two failure modes:
      // load before the fork is MOSTLY neighbors (the parent's own
      // just-finished suite still bleeds into the 1-min average — ~2 on
      // this 32-core box — so the threshold is floored at 6 to keep
      // small-core hosts from self-invalidating every healthy run) and
      // gates at cores/2 (r13's incident started at 22.9 on 32 cores,
      // under a naive <cores test); load AFTER the fork includes the
      // child's OWN tail (trio queries run 4–8 wide; measured 3.7 after
      // a clean fork) so it gates at the full core count — high enough
      // not to self-invalidate, low enough to catch the r13 mid-fork
      // climb to 37.9.
      val cores = Runtime.getRuntime.availableProcessors
      val loadOk = r.loadBefore >= 0 &&
        r.loadBefore < math.max(cores / 2.0, 6.0) &&
        r.loadAfter >= 0 && r.loadAfter < cores
      // cap each published curve at its LAST 8 passes: the compact stdout
      // line must stay under the driver's ~1.8KB tail capture even if the
      // parent environment exports a large SPARK_GRAFT_BENCH_PASSES (the
      // child inherits it); the tail of the curve is the attribution-
      // relevant part (convergence toward the warm number)
      val curves = r.passes.toSeq.sortBy(_._1)
        .map { case (k, c) =>
          s""""$k":[${c.split(',').takeRight(8).mkString(",")}]""" }
        .mkString("{", ",", "}")
      val env = s"""{"load_before":${r.loadBefore},"load_after":${r.loadAfter},""" +
        s""""cores":$cores,"load_ok":$loadOk,""" +
        s""""wall_sec":${(r.wallSec * 10).round / 10.0}}"""
      s""","queries_isolated":$v""" +
        s""","insuite_over_isolated":$ratios,"ratio_valid":$loadOk""" +
        s""","isolated_passes":$curves,"iso_env":$env"""
    }.getOrElse("")

    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warm3Json = jmap(warm3.toSeq.sortBy(_._1))
    val cpuWarmAllJson = jmap(timed.map(t => t.name -> t.cpuWarm))
    val loadJson = s""""load_mean":${r3(loadMean)},"load_max":${r3(loadMax)},""" +
      s""""foreign_frac":${r3(foreignFrac)},"steal_cpu":${r3(
        if (measurable) math.max(0.0, steal1 - steal0) else -1.0)},""" +
      s""""membw_gbps_before":$membw0,"membw_gbps_after":$membw1,""" +
      s""""cpu_ratio_vs_ref":$cpuRatioVsRef,""" +
      s""""wall_ratio_vs_ref":$wallRatioVsRef,""" +
      s""""structural_normalized":${r3(structuralNormalized)},""" +
      s""""extra_pass":$extraPass,"cpu_total":${r3(cpuTotalWarm)}"""
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold_total":$totalCold,"queries_cold":$qsCold,"sf":"$sfDir","passes":$passes,"headline":"warm","scratch":"${if (scratchShared) "shared" else "private"}","scratch_dirs":${observedLocals.size},"scratch_rebases":$scratchRebases,"structural_total":$structuralTotal,"queries_minwarm":$minwarmJson,"queries_cpu":$cpuJson,"queries_cpu_warm":$cpuWarmAllJson,"queries_warm3":$warm3Json,$loadJson,"failed":$failedJson,"diag":$diag$isoJson}"""
    // The driver records only the LAST ~2000 chars of stdout and tries to
    // json-parse the bench line; once the suite passed ~90 queries the full
    // artifact line outgrew that capture, so every round since r03 recorded
    // "parsed": null and the judge had to read raw tail fragments. stdout
    // therefore gets a COMPACT line (headline totals, the N slowest warm
    // queries, the isolation ratios — guaranteed < 1800 chars); the complete
    // per-query + diag artifact goes to the file only.
    // child-mode runs (<= a handful of named queries) publish ALL of them —
    // forkIsolated's parent-side regex reads the warm vector from this line
    val compactWarm =
      if (only.nonEmpty) jmap(timed.map(t => t.name -> t.warm))
      else jmap(slowest.map(t => t.name -> t.warm))
    val compactCold =
      if (only.nonEmpty) jmap(timed.map(t => t.name -> t.cold))
      else jmap(slowest.map(t => t.name -> t.cold))
    val outEnv = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val out = if (only.isEmpty) outEnv.orElse(Some("bench_local.json")) else outEnv
    // Full-suite mode trades the compact line's queries_cold vector (still
    // in the file artifact) for queries_minwarm + structural_total: the
    // driver records only the last ~2000 stdout chars, and min-of-warm is
    // the vector that settles ambient-vs-structural attribution from the
    // driver artifact alone. queries_cpu lives in the FILE artifact only —
    // with it inline, the line was sized within ~130 B of the capture edge
    // (r14 measured 1,417 B with the iso fields; +cpu would reach ~1,810),
    // and a single failed:[...] entry or a longer slow-list name would tip
    // it over and the driver would record parsed:null. Child mode keeps
    // queries_cold — forkIsolated's parse uses it as the warm-window
    // delimiter.
    // the compact line carries the four ambient-attribution scalars (the
    // r17 hardening: load_mean/load_max say whether the host was elevated,
    // cpu_total is the wall-independent number a committed idle-box run
    // can be reconciled against, extra_pass records whether the structural
    // line got its load-gated third pass) — ~90 bytes, inside the ~1.8 KB
    // driver capture with the r14-measured margin
    val compactVecs =
      if (only.nonEmpty) s""""queries":$compactWarm,"queries_cold":$compactCold"""
      else s""""structural_total":${r3(structuralTotal)},$loadJson,""" +
        s""""queries":$compactWarm,"queries_minwarm":$minwarmJson"""
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","n_queries":${timed.size},"passes":$passes,""" +
      s""""headline":"warm","cold_total":${r3(totalCold)},""" +
      s""""failed":$failedJson,""" +
      compactVecs +
      s"""$isoJson,"full_artifact":"${out.getOrElse("none")}"}"""
    println(compact)
    out.foreach { o =>
      java.nio.file.Files.write(java.nio.file.Paths.get(o),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    // the scratch dir is this pid's own; Spark removes its subdirs on stop
    // but leaves the parent we created via the conf (the deleteOnExit hook
    // would also catch it — this just frees the space promptly)
    graft.core.Scratch.rmTree(new java.io.File(localDir))
  }

  /** Child-JVM isolation result: published warm vector (last pass), the
    * full pass-by-pass curve per query, and the 1-minute system load
    * average straddling the fork (ambient-contention evidence). */
  private case class IsoResult(warm: Map[String, Double],
                               passes: Map[String, String],
                               loadBefore: Double, loadAfter: Double,
                               wallSec: Double)

  /** Fork a fresh JVM running `Bench <names>` and parse its stdout JSON's
    * warm vector. Best-effort: any failure (classpath not file-based, child
    * crash, unparseable output) returns None rather than failing the bench.
    */
  private def forkIsolated(names: Seq[String]): Option[IsoResult] = try {
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    val tFork0 = System.nanoTime()
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    // same module opens the parent got from build.sbt (Spark 4 on JDK 17+)
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-Xmx") || a.startsWith("-Dspark."))
    val cmd = (Seq(javaBin) ++ opens ++ Seq("-cp", cp, "graft.Bench") ++ names).asJava
    val pb = new ProcessBuilder(cmd)
    // discard child stderr (Spark WARN spam) — an un-drained pipe would
    // fill its buffer and deadlock the child mid-suite
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    pb.environment().remove("SPARK_GRAFT_BENCH_OUT") // child prints, never writes
    // 4 passes: the child's published warm = pass 4, past the fresh JVM's
    // JIT warmup (r12 showed a 2-pass child's warm at 2.8x the in-suite
    // number purely from C2 cold-start, inverting the ratio's meaning)
    if (!pb.environment().containsKey("SPARK_GRAFT_BENCH_PASSES"))
      pb.environment().put("SPARK_GRAFT_BENCH_PASSES", "4")
    val p = pb.start()
    // drain stdout on its own thread: a blocking readAllBytes HERE would
    // make the 20-minute timeout below unreachable — a hung child would
    // hang the whole bench forever, the exact failure the timeout guards
    val buf = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => {
      try p.getInputStream.transferTo(buf) catch { case _: Throwable => }
    }, "bench-fork-drain")
    drain.setDaemon(true)
    drain.start()
    if (!p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)) { p.destroyForcibly(); return None }
    drain.join(10000)
    val outLines = buf.toString("UTF-8")
    // the JSON line is the only stdout line starting with {"metric"
    val line = outLines.linesIterator.find(_.startsWith("{\"metric\"")).getOrElse(return None)
    // minimal extraction: "queries":{"name":num,...} — names are known, so
    // regex per name is robust without a JSON parser on the classpath
    val m = names.flatMap { n =>
      val re = ("\"" + java.util.regex.Pattern.quote(n) + "\":([0-9.Ee+-]+)").r
      // first occurrence after "queries": is the warm vector (it serializes first)
      val qIdx = line.indexOf("\"queries\":")
      val coldIdx = line.indexOf("\"queries_cold\":")
      val window = if (qIdx >= 0 && coldIdx > qIdx) line.substring(qIdx, coldIdx) else line
      re.findFirstMatchIn(window).map(mm => n -> mm.group(1).toDouble)
    }.toMap
    // a query that THREW in the child publishes its time-to-throw — drop
    // such names instead of letting a bogus "isolated" number masquerade
    // as a suite-context blowup (the r12 child-failure-invisibility fix,
    // re-applied to this parse)
    val childFailed: Set[String] = {
      val fIdx = line.indexOf("\"failed\":[")
      if (fIdx < 0) Set.empty
      else line.substring(fIdx + 10, line.indexOf(']', fIdx) max (fIdx + 10))
        .split(',').map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSet
    }
    val ok = m -- childFailed
    // the child's per-query pass curves ("[bench-passes] name a,b,c,d")
    val passRe = """\[bench-passes\] (\S+) ([0-9.,Ee+-]+)""".r
    val curves = outLines.linesIterator.collect {
      case passRe(n, c) if ok.contains(n) => n -> c
    }.toMap
    val wall = (System.nanoTime() - tFork0) / 1e9
    if (ok.isEmpty) None
    else Some(IsoResult(ok, curves, loadBefore, osBean.getSystemLoadAverage, wall))
  } catch { case _: Throwable => None }
}
