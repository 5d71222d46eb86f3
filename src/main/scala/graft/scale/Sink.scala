package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus write layout — the sink side of the training-data pipeline.
  *
  * A 100 TB corpus is consumed by a trainer that reads shard directories in
  * parallel; the writer's job is (a) hive-partitioned layout so the trainer
  * (and any later Spark/DuckDB reader) prunes partitions from the path
  * alone, (b) a BOUNDED file count per partition (the default write after a
  * wide shuffle sprays one file per task per partition — millions of tiny
  * files at scale, the classic small-files failure), and (c) deterministic
  * row order within files so byte-identical re-runs are possible.
  */
object Sink {

  import org.apache.spark.sql.types.MapType
  import graft.core.Scan.containsMapType

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // ONE shutdown hook draining the whole set, registered on first use —
  // not one thread per path (a JVM touching many scratch layouts would
  // otherwise pile up redundant identically-named hook threads)
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rm); f.delete()
      }
      cleanupRegistered.forEach { p =>
        try rm(new java.io.File(p)) catch { case _: Throwable => }
      }
    }, "sink-cleanup"))

  /** Register `path` for recursive deletion at JVM exit (idempotent per
    * path). For SCRATCH shard layouts only (e.g. the q111 round-trip
    * audit) — a pid-scoped tmp dir would otherwise leak one full corpus
    * copy per JVM across repeated bench/verify rounds until /tmp fills.
    * (A SIGKILLed JVM skips hooks — pair with [[sweepDead]] so the next
    * run removes what a killed one left behind.) */
  def deleteOnExit(path: String): Unit =
    if (cleanupRegistered.add(path)) cleanupHook

  /** Remove sibling scratch layouts left by DEAD JVMs: scans `dir` for
    * names `<prefix>p<pid>_...` and deletes those whose pid no longer
    * names a live process (a SIGKILLed/OOM-killed JVM never ran its
    * shutdown hook). Call before creating a layout under the same prefix.
    *
    * The pid test alone is unreliable both ways under pid recycling — a
    * dead JVM's pid reused by ANY live process would keep its multi-GB
    * layout alive forever, and the isAlive check races process exit.
    * Two guards close both holes without ever touching a LIVE owner's
    * scratch (an age-cap alone would: a >cap run would have its active
    * dirs reaped mid-run by any sibling sweep): layouts younger than
    * `minAgeMs` are never touched even when the pid looks dead (the
    * exit/start race window), and a pid that looks alive is treated as
    * RECYCLED — hence dead — when its process STARTED after the layout
    * already existed (the original owner must have died first; slack
    * absorbs clock/registration skew). One blind spot remains: a pid
    * recycled WITHIN the slack of the layout's last write looks like the
    * owner for the recycler's whole lifetime — `maxAgeMs` (48 h; no graft
    * JVM lives a hundredth of that) backstops it without re-creating the
    * live-owner-reap hazard the 12 h cap had. */
  def sweepDead(dir: String, prefix: String,
                minAgeMs: Long = 60L * 1000,
                maxAgeMs: Long = 48L * 3600 * 1000): Unit = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) return
    val re = (java.util.regex.Pattern.quote(prefix) + """p(\d+)_.*""").r
    def rm(x: java.io.File): Unit = {
      val c = x.listFiles(); if (c != null) c.foreach(rm); x.delete()
    }
    val self = ProcessHandle.current().pid()
    val now = System.currentTimeMillis()
    val slackMs = 60L * 1000
    fs.foreach { f =>
      f.getName match {
        case re(pid) if pid.toLong != self =>
          val age = now - f.lastModified()
          val h = ProcessHandle.of(pid.toLong)
          val alive = h.map[java.lang.Boolean](_.isAlive).orElse(false): Boolean
          val startMs: Option[Long] =
            if (!alive) None
            else h.flatMap(x => x.info().startInstant())
              .map[Option[Long]](st => Some(st.toEpochMilli))
              .orElse(None)
          // mtime is set at creation and only moves FORWARD on writes, so
          // (start > mtime + slack) can only be true when the layout
          // predates the process wearing the pid — a recycle, not the owner
          val recycled = startMs.exists(_ > f.lastModified() + slackMs)
          // ...and the converse (alive, start STRICTLY predates the layout
          // — no slack here) is the proven-owner case: the maxAge backstop
          // must not reap a legitimately long-lived owner mid-read. A pid
          // whose start falls INSIDE the slack window stays un-proven:
          // that window is exactly the recycled-within-slack blind spot
          // the backstop exists for, so it must keep firing there.
          val provenOwner = startMs.exists(_ <= f.lastModified())
          if (((!alive || recycled) && age >= minAgeMs) ||
              (age >= maxAgeMs && !provenOwner))
            try rm(f) catch { case _: Throwable => }
        case _ =>
      }
    }
  }

  /** Write `df` as parquet hive-partitioned by `partitionCols`, at most
    * `filesPerPartition` files per leaf directory, rows sorted by
    * `sortCols` within each file.
    *
    * Scale shape: ONE shuffle — `repartition(partitionCols :+ bucket)`
    * co-locates each output file's rows on one task (the bucket column
    * splits big partitions across `filesPerPartition` tasks so a giant
    * split/shard pair is not one task's file), then a task-local sort
    * orders rows; no global sort, no driver collect. The bucket column is
    * derived from a hash of `sortCols`, so the file assignment is a pure
    * function of the data (re-runs produce identical files).
    */
  def writeShards(df: DataFrame, path: String, partitionCols: Seq[String],
                  sortCols: Seq[String], filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    require(sortCols.nonEmpty,
      "need sort columns (they also derive the in-partition file split)")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val bucket = pmod(xxhash64(sortCols.map(col): _*), lit(filesPerPartition))
    // xxhash64 over the hashable columns breaks sort-key ties
    // deterministically: without it, rows equal on sortCols would keep
    // their shuffle arrival order and re-runs could differ byte-for-byte.
    // hash on MapType is disallowed (map key order is undefined), so
    // TOP-LEVEL map columns participate via a canonicalized projection —
    // array_sort(map_entries(c)) is an order-deterministic, hashable
    // array<struct<key,value>> — keeping rows that differ only in a map
    // column inside the determinism contract. Only maps nested deeper
    // inside structs/arrays (or maps of maps) stay excluded; likewise two
    // distinct rows colliding on the 64-bit hash — both windows are
    // negligible but real.
    val hashableCols = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case m: MapType if !containsMapType(m.keyType) && !containsMapType(m.valueType) =>
          Some(array_sort(map_entries(col(f.name))))
        case dt if !containsMapType(dt) => Some(col(f.name))
        case _ => None
      }
    }
    val tiebreak =
      if (hashableCols.nonEmpty) xxhash64(hashableCols: _*) else lit(0L)
    df.withColumn("__file", bucket)
      .repartition((partitionCols :+ "__file").map(col): _*)
      .drop("__file")
      // sort by the DATA columns only: a task holding several buckets of
      // one leaf dir still writes a single fully-sorted file for it
      .sortWithinPartitions(
        (partitionCols ++ sortCols).map(col) :+ tiebreak: _*)
      .write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)
  }
}
