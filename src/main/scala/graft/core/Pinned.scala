package graft.core

import java.lang.ref.WeakReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Per-session registry of the engine's lazily-localCheckpointed frames.
  *
  * Every operator that pins an intermediate (`Scan.pinPartitions`, the dedup
  * family's shingle sets / candidate tables / rep maps, the CC edge rounds)
  * routes through [[checkpoint]], which records a weak handle to the
  * checkpointed RDD. Without an explicit release, checkpoint blocks are only
  * freed when the DRIVER garbage-collects the RDD object and the
  * ContextCleaner's weak references fire — on a large driver heap that can be
  * minutes of accumulated executor storage, and the eviction stall lands on
  * whichever query materializes next (observed: a 3.6 s CC query reading
  * 19.8 s under the debt of prior queries). Long-running pipelines call
  * [[release]] between logical jobs — `Bench` and `Verify` do, after each
  * query's result is materialized.
  *
  * '''Lazy defers only the pinned stage.''' `localCheckpoint(eager = false)`
  * still calls `executedPlan.execute()` to build the RDD it pins. Under AQE
  * that runs every shuffle stage below the pin while the frame is BUILT —
  * build-time jobs on the calling thread; only the pinned stage itself and
  * its block storage wait for the first action. (Measured: q08's range
  * pin runs 2 build-time jobs; a second pin over its positions ran 5 more.)
  *
  * [[release]] is deliberately conservative on the two hazards of a naive
  * global sweep:
  *
  *   - '''Never-materialized pins are skipped.''' A lazy localCheckpoint
  *     that no job has computed yet still owns its range-exchange sampling;
  *     unpersisting the marker would let a later materialization re-sample
  *     boundaries, resurrecting the unstable-`__pid` wrong-results bug
  *     pinning exists to prevent. Skipped pins stay tracked and are swept by
  *     a later release once materialized (or by GC, as before).
  *   - '''Only the calling thread's pins are swept.''' Entries are tagged
  *     with the thread that built the plan, so a release at one pipeline's
  *     boundary cannot truncate the lineage of a frame another thread is
  *     still computing. Single-threaded harnesses see the full sweep.
  *
  * Handles are WEAK: an un-released frame still degrades to today's
  * GC-driven cleanup, never a leak. A released MATERIALIZED frame cannot be
  * recomputed (its lineage is truncated) — release only at pipeline
  * boundaries, after the frames' consumers have run.
  */
object Pinned {

  private final case class Entry(ref: WeakReference[RDD[_]], owner: Long)

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Entry]

  /** Above this size, [[checkpoint]] drops cleared weak references before
    * appending — bounds the registry in long-lived sessions that never call
    * [[release]] (each entry is tiny, but "forever" isn't a bound).
    */
  private val PruneAt = 256

  /** The checkpointed RDDs embedded in a frame's analyzed plan. A LAZY
    * localCheckpoint creates the RDD object up front (its own stage is
    * deferred; the stages below it are not — see the class note), so the
    * handle is available immediately.
    */
  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** `df.localCheckpoint(eager = false)` + register the handle. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = false)
    val rdds = rddsOf(out)
    val tid = Thread.currentThread().getId
    synchronized {
      if (tracked.size >= PruneAt) tracked.filterInPlace(_.ref.get() != null)
      rdds.foreach(r => tracked += Entry(new WeakReference(r), tid))
    }
    out
  }

  /** Unpersist the checkpoint blocks behind `df` (a frame returned by
    * [[checkpoint]]) right now — for operators that KNOW an intermediate is
    * dead (e.g. the previous CC round's edge list once the next round is
    * materialized), so multi-round jobs run at constant storage.
    */
  def unpersist(df: DataFrame): Unit =
    rddsOf(df).foreach(_.unpersist(blocking = false))

  /** A locally-checkpointed RDD is materialized once its first job has run
    * (`doCheckpoint` flips `isCheckpointed`); before that, the persist
    * marker is load-bearing — see the scaladoc hazards.
    */
  private def materialized(r: RDD[_]): Boolean = r.isCheckpointed

  /** Unpersist every MATERIALIZED checkpoint pinned by the CURRENT thread
    * and drop it from the registry. Frames checkpointed before the call must
    * not be reused after it (their lineage is truncated). Never-materialized
    * pins and other threads' pins are left intact (still tracked).
    *
    * `blocking = true` waits until the blocks are actually removed — for
    * MEASUREMENT boundaries: a non-blocking release queues multi-GB block
    * removals that then execute inside the NEXT query's run (the r13 100x
    * probe measured big pinned-scan queries 6-9x slower on their warm
    * repeat than cold, with 10-14 s of in-region GC, purely from the cold
    * pass's async eviction landing in the warm pass's timed region).
    * Operators' internal frees stay non-blocking — there the next job
    * overlapping the eviction is throughput, not a measurement error.
    */
  def release(blocking: Boolean = false): Unit =
    sweep(Thread.currentThread().getId, blocking)

  /** [[release]] across ALL owner threads — harness/session teardown only,
    * when no pipeline can still be in flight anywhere.
    */
  def releaseAll(): Unit = sweep(-1L, blocking = false)

  private def sweep(owner: Long, blocking: Boolean): Unit = synchronized {
    tracked.filterInPlace { e =>
      val r = e.ref.get()
      if (r == null) false
      else if ((owner == -1L || e.owner == owner) && materialized(r)) {
        r.unpersist(blocking); false
      } else true
    }
  }

  /** Number of live tracked handles (test/diagnostic hook). */
  def liveCount: Int = synchronized { tracked.count(_.ref.get() != null) }
}
