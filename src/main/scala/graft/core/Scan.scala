package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** Distributed ordered-scan primitives.
  *
  * A naive `Window.orderBy(idx)` with no partition key collapses the whole
  * dataset into ONE task (Spark warns "No Partition Defined for Window
  * operation") — fine at 60k rows, fatal at 100 TB. Every scan here uses the
  * classic two-phase formulation instead:
  *
  *   1. `repartitionByRange(idx)` so partitions hold contiguous index
  *      ranges; run the window function WITHIN each partition (parallel);
  *   2. fix up partition boundaries with a per-partition summary table
  *      (numPartitions rows), combined via a tiny triangular self-join —
  *      no global window anywhere in the plan.
  *
  * The result is bit-identical to the global window at any partition count.
  * This powers gap chunking (C1), group_by_consecutive (G3), and positional
  * indexes (W9) — the reference's cumsum/shift patterns, distributed.
  */
object Scan {

  /** Every `__pid` this module stamps carries the ordering it was ranged on
    * in the column's METADATA, so reuse is validated, not assumed by name.
    */
  private val PinKey = "graft.pin.orderCols"

  private def pinTag(orderCols: Seq[String]): Metadata =
    new MetadataBuilder().putString(PinKey, orderCols.mkString("\u0000")).build()

  /** The ordering recorded on a frame's `__pid`, if the column is one of
    * ours. A bare `__pid` with NO tag is caller data colliding with the
    * reserved name — fail loudly rather than silently skip the range
    * exchange (which would produce wrong scan results) or silently drop a
    * user column.
    */
  private def pinnedOrder(df: DataFrame): Option[String] =
    df.schema.fields.find(_.name == "__pid").map { f =>
      require(f.metadata.contains(PinKey),
        "column name __pid is reserved by graft.core.Scan; rename or drop it first")
      f.metadata.getString(PinKey)
    }

  /** Range-partition + pin, REUSING an existing pinned frame: if `df`
    * already carries a `__pid` TAGGED with the same `orderCols` (it came out
    * of [[pinned]] / another Scan op over the SAME ordering), no second
    * exchange or checkpoint is created — composed scans (e.g. `withLagged` +
    * `runningSum`, or a caller-pinned frame feeding `withLagged` AND
    * `maxGap`) share ONE materialization. A `__pid` pinned on a DIFFERENT
    * ordering is dropped and re-ranged; an untagged `__pid` throws (see
    * [[pinnedOrder]]).
    */
  private def ranged(df: DataFrame, orderCols: Seq[String]): DataFrame =
    pinnedOrder(df) match {
      case Some(tag) if tag == orderCols.mkString("\u0000") => df
      case Some(_) => pinPartitions(
        df.drop("__pid").repartitionByRange(orderCols.map(col): _*), orderCols)
      case None => pinPartitions(
        df.repartitionByRange(orderCols.map(col): _*), orderCols)
    }

  /** Pre-pin a frame for several Scan ops over the same ordering: returns
    * `df` range-partitioned on `orderCols`, stamped with a tagged `__pid`
    * and pinned (one lazy localCheckpoint). Feed the result to any Scan op
    * with the same ordering and it is reused as-is. Drop `__pid` when done.
    */
  def pinned(df: DataFrame, orderCols: Seq[String]): DataFrame =
    ranged(df, orderCols)

  /** `spark_partition_id()` over a range exchange is NOT stable across the
    * several subtrees that consume it: range boundaries come from a
    * SAMPLING job that reruns per materialization (order-sensitive — a
    * localCheckpoint upstream can serve rows in varying order), and AQE may
    * coalesce different reads of the same exchange differently. Either way
    * the window pass and the boundary-summary pass can silently disagree on
    * `__pid` — observed at sf0.1 as rows carrying a stale run id in
    * group_by_consecutive (half the fills wrong under AQE, a handful at
    * partition edges without it). Pinning the stamped frame with a lazy
    * localCheckpoint makes every consumer read the SAME materialized
    * partitioning; the cost is one extra write of the (narrow) scan frame,
    * the same order as the range shuffle it sits behind. Registered with
    * [[Pinned]] so pipeline boundaries can free the blocks explicitly.
    */
  private def pinPartitions(df: DataFrame, orderCols: Seq[String]): DataFrame =
    Pinned.checkpoint(
      df.select(col("*"), spark_partition_id().as("__pid", pinTag(orderCols))))

  /** For each `__pid` of `summary` (a tiny per-partition table), aggregate
    * over all STRICTLY PRECEDING pids — the prefix-combine step, as a
    * triangular self-join on numPartitions rows. `aggs` reference the
    * predecessor rows' columns prefixed `b_`.
    */
  private def overPrev(summary: DataFrame, aggs: Seq[Column]): DataFrame = {
    val b = summary.toDF(summary.columns.toIndexedSeq.map(c => s"b_$c"): _*)
    summary.select(col("__pid"))
      .join(b, col("b___pid") < col("__pid"), "left")
      .groupBy("__pid").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row lag of `lagCols` in `orderCol` order (null for the first row),
    * computed with partition-local windows + a boundary hand-off. Output
    * columns are named `__lag_<c>`; the helper `__pid` column is retained
    * so downstream scans can reuse the partitioning.
    */
  def withLagged(df: DataFrame, orderCol: String, lagCols: Seq[String]): DataFrame = {
    val p = ranged(df, Seq(orderCol))
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    var out = p.withColumn("__rn", row_number().over(w))
    lagCols.foreach { c =>
      out = out.withColumn(s"__lag_$c", lag(col(c), 1).over(w))
    }
    // each partition's first row receives the value of the last ROW of the
    // nearest preceding NON-EMPTY partition. The struct wrapper keeps a
    // null-VALUED last row distinct from an absent partition (empty range
    // partitions have no summary row at all), so the hand-off stays
    // bit-identical to the global window even when a lag column is null at
    // a partition boundary.
    val lastAggs = lagCols.map(c =>
      max_by(struct(col(c).as("v")), col(orderCol)).as(s"__pl_$c"))
    val perPid = p.groupBy("__pid").agg(lastAggs.head, lastAggs.tail: _*)
    val handoff = overPrev(perPid, lagCols.map(c =>
      max_by(col(s"b___pl_$c"), col("b___pid")).as(s"__pl_$c")))
    out = out.join(broadcast(handoff), Seq("__pid"), "left")
    lagCols.foreach { c =>
      out = out.withColumn(s"__lag_$c",
        when(col("__rn") === 1, col(s"__pl_$c").getField("v"))
          .otherwise(col(s"__lag_$c")))
    }
    out.drop("__rn" +: lagCols.map(c => s"__pl_$c"): _*)
  }

  /** Running (inclusive) sum of `flagCol` in `orderCol` order → `outCol`.
    * If the frame already carries `__pid` from a prior scan over the same
    * ordering, that partitioning is reused (no second range shuffle) — see
    * the `ranged` contract.
    */
  def runningSum(df: DataFrame, orderCol: String, flagCol: String,
                 outCol: String): DataFrame = {
    val p = ranged(df, Seq(orderCol))
    val w = Window.partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = p.withColumn("__loc", sum(col(flagCol)).over(w))
    val perPid = p.groupBy("__pid").agg(sum(col(flagCol)).as("__tot"))
    val offsets = overPrev(perPid,
      Seq(coalesce(sum(col("b___tot")), lit(0L)).as("__off")))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__loc") + col("__off"))
      .drop("__loc", "__off")
  }

  /** 0-based position of each row in `orderCol` order (distributed
    * row_number), numbered inside the range pin: every reader reads the
    * same positions and none runs an exchange, sort or window.
    * `monotonically_increasing_id` keeps the partition id in its upper 31
    * bits, the record number in the sorted partition in the lower 33. Ties
    * are broken by partition-local order.
    */
  def position(df: DataFrame, orderCol: String, outCol: String): DataFrame = {
    pinnedOrder(df)
    val p = Pinned.checkpoint(df.drop("__pid")
      .repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
      .withColumn("__mid", monotonically_increasing_id()))
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
    val perPid = p.groupBy("__pid").agg(count(lit(1)).as("__tot"))
    val offsets = overPrev(perPid,
      Seq(coalesce(sum(col("b___tot")), lit(0L)).as("__off")))
    p.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, (col("__mid") bitwiseAND ((1L << 33) - 1)) + col("__off"))
      .drop("__mid", "__off", "__pid")
  }

  /** 1-based rank of each row WITHIN its `keyCols` group in `orderCol`
    * order, plus the group's total row count, without ever putting a whole
    * group through one task. `row_number() over (partition by key)`
    * serializes each key into a single window task — strata in a
    * training-data pipeline are few and HUGE (source, language), so at scale
    * one task sorts billions of rows. The [[keyedStitch]] core with unit
    * weight: ties in `orderCol` get distinct consecutive ranks, as
    * row_number gives them.
    *
    * A composite key stays several FLAT columns all the way through the
    * range exchange, the sort, the summary and the stitch joins (which AND
    * one null-safe equality per key column): a packed struct key would ride
    * every exchanged row as a pointer + nested-row blob (~2-3× the bytes of
    * the flat fields) and add an interpreted hop to every comparison.
    */
  def keyedRank(df: DataFrame, keyCols: Seq[String], orderCol: String,
                rankCol: String, countCol: String): DataFrame =
    keyedStitch(df, keyCols, orderCol, lit(1L), rankCol, Some(countCol))

  /** Quantile-bracket ranking of pre-aggregated (histogram) rows: each input
    * row carries `weightCol` ≥ 1 identical underlying observations of its
    * `orderCol` value, and the output attaches the half-open GLOBAL span
    * `(loCol, hiCol]` of ranks the row covers within its key (in `orderCol`
    * order), plus the key's total weight `countCol`. With all weights 1,
    * `hiCol` is exactly [[keyedRank]]'s rank.
    *
    * This is the 100 TB quantile shape: a map-side-combining
    * `groupBy(key, value).count()` collapses repeated values BEFORE any
    * range exchange, so the exchange + pid-pin checkpoint + window sort run
    * over the DISTINCT (key, value) set, not every observation. Worst case
    * (all values unique) the histogram is a single extra linear
    * map-combined pass.
    *
    * A quantile needs ranks only at floor/ceil(1+(n−1)q), and each such
    * global rank falls inside exactly ONE (partition, key) segment of the
    * range exchange — so above [[Gates.PruneMinRows]] ranked rows the
    * per-(partition, key) summary pinpoints the segments that contain a
    * bracket target and a left-semi join keeps ONLY those segments' rows
    * (≈ 2·|quantiles|/P of the input at P partitions) for the window sort
    * and stitch. When the needed list covers ≥70% of the segments
    * (per-entity keys, keys ≫ partitions) the prune is skipped and
    * everything is ranked directly. Spans on surviving rows are identical
    * either way: the kept segments retain all their rows.
    *
    * Returns the kept segments' rows — a SUPERSET of the bracket rows; a
    * target rank t belongs to the unique row with lo < t ≤ hi, and the
    * caller applies that filter exactly as it would on the full ranking.
    * Weights must be non-null positive integers — the contract of a count
    * aggregate.
    */
  def keyedSpanBrackets(df: DataFrame, keyCols: Seq[String], orderCol: String,
                        weightCol: String, loCol: String, hiCol: String,
                        countCol: String, quantiles: Seq[Double]): DataFrame = {
    require(df.columns.contains(weightCol), s"missing weight column $weightCol")
    require(quantiles.nonEmpty, "need at least one quantile")
    require(!df.columns.contains(loCol),
      s"output column $loCol already exists on the input")
    val weight = col(weightCol).cast("long")
    keyedStitch(df, keyCols, orderCol, weight, hiCol, Some(countCol), quantiles)
      .withColumn(loCol, col(hiCol) - weight)
  }

  /** Running (inclusive) sum of `flagCol` WITHIN each `keyCol` group in
    * `orderCol` order — the keyed sibling of [[runningSum]]: the
    * [[keyedStitch]] core with the flag column as weight and no totals join.
    */
  def keyedRunningSum(df: DataFrame, keyCol: String, orderCol: String,
                      flagCol: String, outCol: String): DataFrame =
    keyedStitch(df, Seq(keyCol), orderCol, col(flagCol), outCol, None)

  /** The keyed stitch behind [[keyedRank]], [[keyedSpanBrackets]] and
    * [[keyedRunningSum]]: `outCol` = the running INCLUSIVE sum of `weight`
    * within each key in `orderCol` order, plus (when `countCol` is given)
    * the key's total weight.
    *
    * The data is range-partitioned on (keys, order) — a big group SPANS
    * many partitions — summed partition-locally, and stitched with a
    * per-(partition, key) offset join computed on the tiny summary table
    * (≤ numPartitions + numKeys − 1 rows: each partition holds a contiguous
    * (key, order) range, so keys split across partitions only at
    * boundaries). Key totals fall out of the same summary for free.
    *
    * The summary-sized sides broadcast to the stitch joins only while the
    * COUNTED summary is [[Gates.broadcastable]] — its size is driven by the
    * KEY CARDINALITY, so a high-cardinality key (per-entity ids; use
    * `KeyedFeatures` for those) degrades to shuffled stitch joins instead
    * of a driver/executor OOM. One summary job serves every gate: the
    * summary is checkpointed anyway so its consumers don't recompute it.
    * Non-empty `quantiles` turn on the bracket prune of
    * [[keyedSpanBrackets]] (requires `countCol`).
    */
  private def keyedStitch(df: DataFrame, keyCols: Seq[String],
                          orderCol: String, weight: Column, outCol: String,
                          countCol: Option[String],
                          quantiles: Seq[Double] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    quantiles.foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]"))
    // the working columns ride unqualified through withColumn/agg below — a
    // caller column with one of those names would be silently REPLACED
    // (withColumn semantics), corrupting data instead of failing loudly
    Seq("__loc", "__off", "__tot", "__hn", "__tr").foreach(r =>
      require(!df.columns.contains(r), s"$r is reserved by the keyed stitch"))
    // same loud-failure rule for the OUTPUT names (r17 sweep)
    (outCol +: countCol.toSeq).foreach(r =>
      require(!df.columns.contains(r),
        s"output column $r already exists on the input"))
    pinnedOrder(df) // validate: untagged __pid is reserved-name collision
    val p = pinPartitions(
      df.drop("__pid").repartitionByRange((keyCols :+ orderCol).map(col): _*),
      keyCols :+ orderCol)
    val perPid = Pinned.checkpoint(
      p.groupBy(("__pid" +: keyCols).map(col): _*)
        .agg(sum(weight).as("__tot"), count(lit(1)).as("__hn")))
    // ONE summary job serving every gate: segment count (broadcast) and
    // ranked-row total (the bracket prune's small-input degrade)
    val srow = perPid.agg(count(lit(1)), sum(col("__hn"))).head
    val perPidCnt = srow.getLong(0)
    val rankedRows = if (srow.isNullAt(1)) 0L else srow.getLong(1)
    val hint: DataFrame => DataFrame =
      if (Gates.broadcastable(perPidCnt)) broadcast(_) else identity
    def renamed(prefix: String): Seq[Column] =
      keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"${prefix}$i") }
    def eqTo(prefix: String): Column =
      keyCols.zipWithIndex.map { case (k, i) => col(s"${prefix}$i") <=> col(k) }
        .reduce(_ && _)
    val b = perPid.select(col("__pid").as("b___pid") +:
      renamed("b___key") :+ col("__tot").as("b___tot"): _*)
    // per-(partition, key) weight span: (__off, __off + __tot]. Every key
    // equality in the stitch is NULL-SAFE (<=>): a NULL key is a legal group
    // (SQL GROUP BY convention) and plain EqualTo would silently drop its
    // rows at the inner stitch joins; <=> is still an equi-join key for
    // broadcast/sort-merge, so the plan shape is unchanged
    val spans = perPid
      .join(b, eqTo("b___key") && col("b___pid") < col("__pid"), "left")
      .groupBy(("__pid" +: keyCols).map(col): _*)
      .agg(coalesce(sum(col("b___tot")), lit(0L)).as("__off"),
        first(col("__tot")).as("__tot"))
    val totals = countCol.map(c => perPid.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__tot")).as(c))
      .select(renamed("t___key") :+ col(c): _*))
    val kept = (totals, countCol) match {
      // at or under Gates.PruneMinRows ranked rows the bracket prune is
      // skipped before its decision machinery is even built — no `needed`
      // join/checkpoint/count job — exactly the prune-rejected plan
      case (Some(t), Some(c)) if quantiles.nonEmpty && Gates.prunes(rankedRows) =>
        // the distinct bracket ranks per key: floor/ceil of 1 + (n-1)q
        val trExprs = quantiles.flatMap { q =>
          val pos = lit(1.0) + (col(c) - 1.0) * lit(q)
          Seq(floor(pos).cast("long"), ceil(pos).cast("long"))
        }
        val targets = t.select(
          keyCols.indices.map(i => col(s"t___key$i")) :+
            explode(array_distinct(array(trExprs: _*))).as("__tr"): _*)
        // segments containing a target — summary-sized equi join + span filter
        val needed = Pinned.checkpoint(spans
          .join(targets,
            keyCols.indices.map(i => col(s"t___key$i") <=> col(keyCols(i)))
              .reduce(_ && _) &&
              col("__tr") > col("__off") && col("__tr") <= col("__off") + col("__tot"))
          .select(col("__pid").as("n___pid") +: renamed("n___key"): _*)
          .distinct())
        // Selectivity degrade: when key cardinality rivals the partition
        // count, nearly EVERY segment contains a bracket target and the semi
        // prune keeps ~everything — rank everything directly in that regime
        val neededCnt = needed.count()
        if (neededCnt >= perPidCnt * 0.7) p
        else p.join(
          (if (Gates.broadcastable(neededCnt)) broadcast(needed) else needed),
          col("__pid") === col("n___pid") && eqTo("n___key"), "left_semi")
      case _ => p
    }
    val w = Window.partitionBy(("__pid" +: keyCols).map(col): _*)
      .orderBy(orderCol)
    // running INCLUSIVE weight in (pid, key)-local order — with weight 1 this
    // is exactly row_number (ROWS frame: tied orderCol values get distinct
    // consecutive positions)
    val local = kept.withColumn("__loc",
      sum(weight).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = spans.select(col("__pid").as("o___pid") +:
      renamed("o___key") :+ col("__off"): _*)
    val stitched = local.join(hint(offsets),
      col("__pid") === col("o___pid") && eqTo("o___key"))
    totals.fold(stitched)(t => stitched.join(hint(t), eqTo("t___key")))
      .withColumn(outCol, col("__loc") + col("__off"))
      .drop(Seq("__loc", "__off", "__pid", "o___pid") ++
        keyCols.indices.flatMap(i => Seq(s"o___key$i", s"t___key$i")): _*)
  }

  /** Fused lag → change-flag → inclusive running count in ONE ranged scan:
    * `outCol` counts the rows at-or-before each row (in `orderCol` order)
    * where `startFlag(prev, cur)` holds, with `prev` = the previous row's
    * `valCol` (null for the global first row). Equivalent to
    * `withLagged` + a flag projection + `runningSum`, but with a single
    * range shuffle, ONE window pass and ONE per-partition summary — the
    * boundary fix-up (each partition's first row was flagged against a null
    * prev; the true prev is the previous partition's last value) is a
    * per-partition CORRECTION computed on the numPartitions-row summary.
    *
    * Contract: `startFlag(null, cur)` must be TRUE (a first row always
    * starts a run), and `valCol` values must be non-null (filter first).
    */
  def lagFlagScan(df: DataFrame, orderCol: String, valCol: String,
                  startFlag: (Column, Column) => Column,
                  outCol: String): DataFrame = {
    val p = ranged(df, Seq(orderCol))
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    val flag = when(startFlag(lag(col(valCol), 1).over(w), col(valCol)), 1L)
      .otherwise(0L)
    val local = p.withColumn("__flag", flag)
      .withColumn("__loc", sum(col("__flag")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val perPid = local.groupBy("__pid").agg(
      sum(col("__flag")).as("__tot"),
      min_by(col(valCol), col(orderCol)).as("__first"),
      max_by(col(valCol), col(orderCol)).as("__last"))
    // nearest preceding NON-EMPTY partition's last value (empty range
    // partitions have no summary row)
    val prevLast = overPrev(perPid, Seq(
      max_by(col("b___last"), col("b___pid")).as("__prevLast")))
    // correction c_p = 1 when the partition's first row is NOT a true start
    // — its tentative flag (1, null prev) over-counted
    val corr = perPid.join(prevLast, Seq("__pid"))
      .withColumn("__c", when(col("__prevLast").isNotNull &&
        !startFlag(col("__prevLast"), col("__first")), 1L).otherwise(0L))
      .withColumn("__adj", col("__tot") - col("__c"))
    val offs = overPrev(corr, Seq(
        coalesce(sum(col("b___adj")), lit(0L)).as("__off")))
      .join(corr.select(col("__pid"), col("__c")), Seq("__pid"))
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn(outCol, col("__loc") + col("__off") - col("__c"))
      .drop("__flag", "__loc", "__off", "__c", "__pid")
  }

  /** Fused group-run assignment over EVERY row (the single-scan G3 kernel):
    * rows ordered by `orderCols` get the 1-based id of the consecutive run
    * of equal NON-NULL `grpCol` values they fall in (`runCol`), where
    * null-`grpCol` rows neither start nor break runs — they carry the last
    * preceding run (0 before the first run). `gmaxCol` is added holding the
    * GLOBAL max of `boundCol` over the grp-non-null rows (every row gets
    * the same value — the G3 last-segment terminator bound, read off the
    * same per-partition summary for free).
    *
    * Equivalent to `fillForward`(last-non-null grp) + change-flag +
    * `runningSum` over the same ordering, but in ONE ranged scan: one range
    * exchange, one pinned materialization, two window frames over one sort,
    * one summary aggregation. The boundary algebra extends [[lagFlagScan]]:
    *   - per-partition summary: tentative flag total `__tot`, first/last
    *     non-null grp value in order, max bound among grp rows;
    *   - carry: nearest PRECEDING partition's last non-null grp (skipping
    *     partitions with no grp rows, the [[fillForward]] pattern);
    *   - correction `__c` = 1 when the partition's first grp row was
    *     tentatively flagged (local prev is always null there) but its value
    *     EQUALS the carried prev — the run continues across the boundary;
    *   - row id = `__off + greatest(__loc − __c, 0)`: rows at/after the
    *     partition's first flag subtract the over-count; leading
    *     null-grp rows (`__loc` = 0) take the prior partitions' run id
    *     unchanged (they belong to the last run already counted).
    *
    * Ties in `orderCols` between a grp row and null-grp rows are the
    * caller's to order (G3 appends a grp-is-null tiebreaker so the run's
    * first row sorts before null rows at the same index: those rows join
    * the run that starts there).
    */
  def groupRunScan(df: DataFrame, orderCols: Seq[String], grpCol: String,
                   boundCol: String, runCol: String,
                   gmaxCol: String): DataFrame = {
    // the working columns ride unqualified through withColumn/agg/join
    // below — a caller column with one of those names would be silently
    // REPLACED or duplicated, corrupting run ids instead of failing loudly
    // (`__pid` is validated by `ranged`: untagged throws, tagged is reuse)
    Seq("__flag", "__loc", "__tot", "__first", "__last", "__gmx",
      "__prevLast", "__c", "__adj", "__off").foreach(r =>
      require(!df.columns.contains(r), s"$r is reserved by groupRunScan"))
    Seq(runCol, gmaxCol).foreach(r =>
      require(!df.columns.contains(r),
        s"output column $r already exists on the input"))
    val p = ranged(df, orderCols)
    val ord = orderCols.map(col)
    val w = Window.partitionBy("__pid").orderBy(ord: _*)
    // last non-null grp STRICTLY BEFORE the row, partition-local; the
    // second frame (inclusive running flag sum) shares the same sort
    val prevNN = last(col(grpCol), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flag = when(col(grpCol).isNotNull &&
      (prevNN.isNull || prevNN =!= col(grpCol)), 1L).otherwise(0L)
    val local = p.withColumn("__flag", flag)
      .withColumn("__loc", sum(col("__flag")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val ordKey = struct(ord: _*)
    val grpNN = col(grpCol).isNotNull
    val perPid = local.groupBy("__pid").agg(
      sum(col("__flag")).as("__tot"),
      min_by(col(grpCol), when(grpNN, ordKey)).as("__first"),
      max_by(col(grpCol), when(grpNN, ordKey)).as("__last"),
      max(when(grpNN, col(boundCol))).as("__gmx"))
    val prevLast = overPrev(perPid, Seq(
      max_by(col("b___last"), when(col("b___last").isNotNull, col("b___pid")))
        .as("__prevLast")))
    val corr = perPid.join(prevLast, Seq("__pid"))
      .withColumn("__c", when(col("__prevLast").isNotNull &&
        col("__prevLast") === col("__first"), 1L).otherwise(0L))
      .withColumn("__adj", col("__tot") - col("__c"))
    val offs = overPrev(corr, Seq(
        coalesce(sum(col("b___adj")), lit(0L)).as("__off")))
      .join(corr.select(col("__pid"), col("__c")), Seq("__pid"))
      // the global bound rides the same broadcast: one value for all pids
      .crossJoin(corr.agg(max(col("__gmx")).as(gmaxCol)))
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn(runCol, col("__off") + greatest(col("__loc") - col("__c"), lit(0L)))
      .drop("__flag", "__loc", "__off", "__c", "__pid")
  }

  /** Largest gap between CONSECUTIVE values of `orderCol` as a one-row
    * frame (column `__maxgap`) — max over the partition-local lag diffs and
    * the cross-boundary diffs derived from the per-partition summary.
    * To share one range exchange + checkpoint with another Scan op over the
    * same input (e.g. `withLagged`), pre-pin the input with [[pinned]] and
    * pass the SAME pinned frame to both — each op's own `ranged` call
    * otherwise pins its own copy (per-op checkpoints don't canonicalize to
    * one exchange).
    */
  def maxGap(df: DataFrame, orderCol: String): DataFrame = {
    val p = ranged(df, Seq(orderCol))
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    val local = p.withColumn("__d", col(orderCol) - lag(col(orderCol), 1).over(w))
    val perPid = local.groupBy("__pid").agg(
      max(col("__d")).as("__lm"),
      min(col(orderCol)).as("__mn"), max(col(orderCol)).as("__mx"))
    // boundary gap of pid = its min minus the max of the nearest preceding
    // NON-EMPTY partition (empty range partitions carry null summaries)
    val prev = overPrev(perPid, Seq(
      max_by(col("b___mx"), when(col("b___mx").isNotNull, col("b___pid")))
        .as("__prev_mx")))
    perPid.join(broadcast(prev), Seq("__pid"))
      .agg(max(greatest(col("__lm"), col("__mn") - col("__prev_mx")))
        .as("__maxgap"))
  }

  /** True when `dt` contains a MapType anywhere in its tree — maps are
    * neither orderable nor hashable, so callers gate sort/hash
    * participation on this (AsofJoin tie ordering, Sink tiebreak hash).
    */
  def containsMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMapType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType =>
        containsMapType(a.elementType)
      case _ => false
    }

  /** Last non-null `valCol` at-or-before each row in `orderCols` order
    * (distributed forward fill / as-of carry) → `outCol`.
    */
  def fillForward(df: DataFrame, orderCols: Seq[String], valCol: String,
                  outCol: String): DataFrame = {
    val p = ranged(df, orderCols)
    val w = Window.partitionBy("__pid").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = p.withColumn("__loc",
      last(col(valCol), ignoreNulls = true).over(w))
    val ordKey = struct(orderCols.map(col): _*)
    val perPid = p.groupBy("__pid").agg(
      max_by(col(valCol), when(col(valCol).isNotNull, ordKey)).as("__pl"))
    val carry = overPrev(perPid, Seq(
      max_by(col("b___pl"), when(col("b___pl").isNotNull, col("b___pid")))
        .as("__carry")))
    local.join(broadcast(carry), Seq("__pid"))
      .withColumn(outCol, coalesce(col("__loc"), col("__carry")))
      .drop("__loc", "__carry", "__pid")
  }
}
