package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape fingerprint: counts of the operators that determine
  * scale behavior (shuffle exchanges, join strategies, cartesian products).
  *
  * Counted from `explainString(SimpleMode)` text rather than a SparkPlan
  * traversal: with AQE enabled the pre-execution plan root is an
  * `AdaptiveSparkPlanExec` whose inner plan is not public API, while the
  * explain text prints the full initial plan deterministically on every
  * Spark version. The counts describe the STATIC planner output (AQE may
  * still improve a shape at runtime — e.g. SMJ → broadcast — but can only
  * start from what is counted here, so a regression in the static shape is
  * a regression in the best case too).
  *
  * Used by PlanShapeSpec to pin the audited shape of the most expensive
  * queries: the timing bench would eventually catch a plan regressing to
  * an extra shuffle, but only as an unattributed slowdown — this turns it
  * into a named spec failure at the query that changed.
  */
object PlanAudit {
  /** Operator-class keys, in the order they are reported. */
  val Keys: Seq[String] = Seq(
    "shuffle_exchange", "broadcast_exchange", "reused_exchange",
    "broadcast_hash_join", "sort_merge_join", "shuffled_hash_join",
    "broadcast_nested_loop_join", "cartesian_product")

  private val patterns: Seq[(String, java.util.regex.Pattern)] = Seq(
    // "Exchange hashpartitioning(...)", "Exchange rangepartitioning(...)",
    // "Exchange SinglePartition" — but not "BroadcastExchange"/"Reused"
    "shuffle_exchange" -> "(?m)^[^A-Za-z]*Exchange ",
    "broadcast_exchange" -> "(?m)^[^A-Za-z]*BroadcastExchange",
    "reused_exchange" -> "(?m)^[^A-Za-z]*ReusedExchange",
    "broadcast_hash_join" -> "(?m)^[^A-Za-z]*BroadcastHashJoin",
    "sort_merge_join" -> "(?m)^[^A-Za-z]*SortMergeJoin",
    "shuffled_hash_join" -> "(?m)^[^A-Za-z]*ShuffledHashJoin",
    "broadcast_nested_loop_join" -> "(?m)^[^A-Za-z]*BroadcastNestedLoopJoin",
    "cartesian_product" -> "(?m)^[^A-Za-z]*CartesianProduct"
  ).map { case (k, re) => k -> java.util.regex.Pattern.compile(re) }

  /** Shape of a DataFrame's pre-execution physical plan (zero counts
    * included, so a spec diff names every class that moved). */
  def shape(df: DataFrame): Map[String, Int] = {
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    patterns.map { case (k, p) =>
      val m = p.matcher(txt)
      var n = 0
      while (m.find()) n += 1
      k -> n
    }.toMap
  }

  /** One-line rendering for spec failure messages. */
  def render(s: Map[String, Int]): String =
    Keys.map(k => s"$k=${s.getOrElse(k, 0)}").mkString(", ")

  /** The pinned heavy-plan set: ONE definition, consumed by PlanShapeSpec
    * (shape pinning) and NarrowAmplifierSpec (test-time amplifier gate) —
    * a plan added to the audit set is then covered by both with no silent
    * drift. */
  val PinnedPlans: Seq[String] = Seq(
    "q12_group_by_consecutive", "q21_dedup_jaccard", "q32_dedup_embed",
    "q54_dup_clusters", "q65_dedup_keep_one", "q72_keyed_multiwin",
    "q73_corpus_prep_fuzzy", "q76_simhash_near", "q79_wav_decode",
    "q82_asof_join", "q85_pack_per_split", "q89_multi_quantiles",
    "q99a_catch22_dist", "q99d_mse", "q105_tsfresh_comb", "q110_entropy_kde")

  /** The NARROW-AMPLIFIER stage predicate (NarrowAmplifierSpec's gate):
    * few tasks, multi-MB shuffle write, >16× record amplification,
    * and the input came from a shuffle (or nothing — a generator). The
    * record-level ratio and the shuffle-input condition are what separate
    * the q72 class (an AQE-coalesced exchange stays narrow on any cluster)
    * from a split-bound scan (self-heals at scale); see
    * NarrowAmplifierSpec's scaladoc for the full derivation. */
  def narrowAmplifier(numTasks: Int, cores: Int, inRec: Long, shRec: Long,
                      writeBytes: Long, writeRec: Long): Boolean =
    numTasks <= math.max(1, cores / 4) && writeBytes > (4L << 20) &&
      writeRec > 16L * math.max(inRec + shRec, 1L) && (shRec > 0 || inRec == 0)

  /** The ABSOLUTE few-task rule (ScaleSmoke's r13 listener): few tasks carrying >256 MB of shuffle write is a
    * serialization point regardless of how it arose. One definition, so a
    * threshold recalibration cannot leave one consumer gating stale. */
  def absoluteNarrow(numTasks: Int, cores: Int, writeBytes: Long): Boolean =
    numTasks <= math.max(1, cores / 4) && writeBytes > (256L << 20)

  /** Deterministically drain the async listener bus (reflection:
    * LiveListenerBus.waitUntilEmpty is private[spark]); falls back to a
    * 3-consecutive-quiet-windows poll over `progress` if the method moves.
    * A FIXED sleep is not a drain — a dispatch stall longer than it loses
    * trailing stage events, the bug ScaleSmoke/NarrowAmplifierSpec each
    * fixed once already.
    *
    * Returns true when the bus is PROVEN drained (waitUntilEmpty returned,
    * or the poll saw 3 quiet windows) and false when the fallback poll
    * timed out (60 tries × 200 ms) with events possibly still in flight —
    * a caller reading flags after a false return may be reading them
    * before trailing stage events landed, so the amplifier spec
    * must FAIL on false rather than proceed as if drained. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
                       progress: () => Long): Boolean = {
    val drained = try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map { m => m.invoke(bus); true }
        .getOrElse(false)
    } catch { case _: Throwable => false }
    if (drained) true
    else {
      var last = -1L
      var quiet = 0
      var tries = 0
      while (quiet < 3 && tries < 60) {
        // ONE read per window: reading twice would let an event arriving
        // between the reads count the window as quiet AND hide the change
        // from the next comparison
        val now = progress()
        if (now == last) quiet += 1 else quiet = 0
        last = now; tries += 1; Thread.sleep(200)
      }
      quiet >= 3
    }
  }
}
