package graft.core

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's build-time gates, in one place.
  *
  * Every gate is decided while a DataFrame is BUILT, on the calling thread,
  * from a row count the engine pays for anyway (the counted side is pinned
  * for its other consumers) or a row bound it already holds:
  *
  *   - '''broadcast''' — a pinned join side is hinted `broadcast` only while
  *     its count is at or under [[BroadcastRows]]; above it the join
  *     shuffles, so a high-cardinality side costs a shuffle instead of a
  *     driver/executor OOM (`Scan`'s keyed stitch, the windowKeep prune,
  *     the dedup verify/gram joins). A side whose row count is bounded on
  *     the driver is hinted with no count when that many rows of its width
  *     fit the same bytes (the block-sliced bucket at the W7 join: at most
  *     one row per window of its grid);
  *   - '''bracket prune''' — `Scan.keyedSpanBrackets` runs its segment prune
  *     only above [[PruneMinRows]] ranked rows;
  *   - '''driver collect''' — `Components.connectedComponents` solves edge
  *     lists at or under [[DriverEdgeRows]] on the driver;
  *   - '''fusion''' — the same-source tuple fusion, the keyed maskable
  *     aggregate and the block-sliced sorted-buffer bucket replace their
  *     generic plans; G3 has one plan, and fusion only reads every series
  *     that shares the group's source off the group's frame (off, every
  *     series adds its own rows to the run scan).
  *
  * Production code never overrides these. Specs reach the degrade branches
  * and the generic differential twins through [[scoped]], which holds for
  * the build inside its body only (a `DynamicVariable`, so other threads
  * keep the defaults).
  */
object Gates {

  /** Largest counted join side that is still broadcast (~64 MB of
    * (long, long) rows — well under executor memory).
    */
  val BroadcastRows: Long = 4000000L

  /** Ranked-row total at or under which the bracket prune is skipped
    * outright: deciding the prune costs a second summary job + a checkpoint
    * and, when it fires, a semi-join pass over the ranked rows — ~0.5-1 s of
    * fixed overhead that at driver scale (sf0.1: ≤ ~1.3M histogram rows for
    * q89) exceeds the window sort it would save. Above it the sort over
    * non-bracket segments dominates and the prune decision proceeds.
    */
  val PruneMinRows: Long = 4000000L

  /** Deduped edge lists at or under this row count are solved driver-side
    * with union-find: the iterative star rounds each cost several shuffle
    * jobs, so for a broadcast-sized edge list the round overhead dominates.
    */
  val DriverEdgeRows: Long = 1000000L

  private final case class Settings(broadcastRows: Long, pruneMinRows: Long,
                                    driverEdgeRows: Long, fuse: Boolean)

  private val current = new DynamicVariable(
    Settings(BroadcastRows, PruneMinRows, DriverEdgeRows, fuse = true))

  /** Build `body` under overridden gates; the previous values return when
    * it exits, normally or by an exception.
    */
  private[graft] def scoped[T](broadcastRows: Long = current.value.broadcastRows,
                               pruneMinRows: Long = current.value.pruneMinRows,
                               driverEdgeRows: Long = current.value.driverEdgeRows,
                               fuse: Boolean = current.value.fuse)(body: => T): T =
    current.withValue(
      Settings(broadcastRows, pruneMinRows, driverEdgeRows, fuse))(body)

  /** True when a side of `n` rows may be broadcast. */
  private[graft] def broadcastable(n: Long): Boolean =
    n <= current.value.broadcastRows

  /** Counts `pinned` once; the returned function hints a side derived from
    * it `broadcast` when the count is at or under the limit, else leaves it
    * to a shuffled join.
    */
  private[graft] def hint(pinned: DataFrame): DataFrame => DataFrame =
    if (broadcastable(pinned.count())) broadcast(_) else identity

  /** `side` hinted `broadcast` when `maxRows` rows of its schema's
    * default width fit the bytes [[BroadcastRows]] stands for (16-byte
    * (long, long) rows), else as it is: the broadcast gate for a side whose
    * row count is bounded on the driver, so deciding it costs no job.
    */
  private[graft] def hintBounded(side: DataFrame, maxRows: BigInt): DataFrame =
    if (maxRows * side.schema.defaultSize <= BigInt(current.value.broadcastRows) * 16)
      broadcast(side)
    else side

  /** True when a bracket prune over `rankedRows` rows is worth deciding. */
  private[graft] def prunes(rankedRows: Long): Boolean =
    rankedRows > current.value.pruneMinRows

  /** Counts `edges` once: true when they are few enough to solve on the
    * driver.
    */
  private[graft] def driverSized(edges: DataFrame): Boolean =
    edges.count() <= current.value.driverEdgeRows

  /** True when the fused plans replace their generic twins. */
  private[graft] def fuse: Boolean = current.value.fuse
}
