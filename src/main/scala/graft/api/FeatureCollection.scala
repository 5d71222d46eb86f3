package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.expr.NarrowKernels
import graft.segment.{Bounds, Segmenter}

/** Common surface of unary and tuple-series feature descriptors — the
  * reference's `series_name: Union[str, Tuple[str, ...]]`
  * (tsflex/features/feature.py:121-168). Output naming joins the tuple with
  * `|` (W10, reference: strided_rolling.py:502-507).
  */
sealed trait AnyFeatureDescriptor {
  def seriesNames: Seq[String]
  def window: Option[Win]
  def strides: Option[Seq[Win]]
  def funcName: String
  def funcOutputNames: Option[Seq[String]]
  def emptyValue: Option[Column]

  /** Build the aggregate over the per-window rows: `idx` is the internal
    * index, `vs` one value column per series in `seriesNames` order.
    */
  def aggOver(idx: Column, vs: Seq[Column]): Column

  final def winRender: String = window.map(_.render).getOrElse("manual")
  final def outputName: String = Win.outputName(seriesNames, funcName, winRender)

  /** All output column names — one per entry of the function's
    * `outputNames` (multi-output FuncWrapper, A3), else the single name.
    */
  final def outputNamesAll: Seq[String] = funcOutputNames match {
    case Some(os) => os.map(o => Win.outputName(seriesNames, o, winRender))
    case None     => Seq(outputName)
  }
}

/** One feature: a function applied to strided windows of one series
  * (reference: tsflex/features/feature.py:121-168).
  *
  * @param function   the aggregation (FeatureFuncs registry or custom)
  * @param seriesName input series name
  * @param window     window size (None only valid with manual segments)
  * @param strides    stride(s); duplicates deduped & sorted (M5,
  *                   reference: feature.py:130)
  */
final case class FeatureDescriptor(
    function: FeatureFunc,
    seriesName: String,
    window: Option[Win] = None,
    strides: Option[Seq[Win]] = None) extends AnyFeatureDescriptor {
  require(window.forall(w => strides.forall(_.forall(_.domain == w.domain))),
    "window and strides must share the same domain (reference: feature.py:142-151)")
  Win.requirePositive(window, strides)

  def seriesNames: Seq[String] = Seq(seriesName)
  def funcName: String = function.name
  def funcOutputNames: Option[Seq[String]] = function.outputNames
  def emptyValue: Option[Column] = function.emptyValue
  def aggOver(idx: Column, vs: Seq[Column]): Column = function.agg(idx, vs.head)
}

/** A feature over a TUPLE of series (arity >= 2): each series is windowed
  * independently by the shared segment table, the per-window views are
  * paired by (segment, index), and `function` aggregates the paired columns
  * (reference: feature.py:121-168 tuple series_name; tests
  * test_features_feature_collection.py:1752-1838).
  */
final case class NaryFeatureDescriptor(
    function: NaryFunc,
    override val seriesNames: Seq[String],
    window: Option[Win] = None,
    strides: Option[Seq[Win]] = None) extends AnyFeatureDescriptor {
  require(seriesNames.lengthCompare(2) >= 0,
    "an n-ary feature needs at least two series (use FeatureDescriptor for one)")
  require(seriesNames.lengthCompare(function.arity) == 0,
    s"${function.name} consumes ${function.arity} series, got " +
      s"${seriesNames.length}: ${seriesNames.mkString("|")}")
  require(window.forall(w => strides.forall(_.forall(_.domain == w.domain))),
    "window and strides must share the same domain (reference: feature.py:142-151)")
  Win.requirePositive(window, strides)

  def funcName: String = function.name
  def funcOutputNames: Option[Seq[String]] = function.outputNames
  def emptyValue: Option[Column] = function.emptyValue
  def aggOver(idx: Column, vs: Seq[Column]): Column = function.agg(idx, vs)
}

/** M2: cross product functions × series × windows, strides shared
  * (reference: tsflex/features/feature.py:203-283).
  */
object MultipleFeatureDescriptors {
  def apply(functions: Seq[FeatureFunc], seriesNames: Seq[String],
            windows: Seq[Win], strides: Option[Seq[Win]] = None): Seq[FeatureDescriptor] =
    for {
      s <- seriesNames
      w <- windows
      f <- functions
    } yield FeatureDescriptor(f, s, Some(w), strides)
}

/** The feature-extraction plan + orchestrator — Spark-first analog of the
  * reference's `FeatureCollection` (tsflex/features/feature_collection.py).
  *
  * Physical plan per (series, window, strides) bucket: one lazy segment
  * table (W1-W4) → arithmetic window assignment (W5, zero-shuffle codegen)
  * → ONE fused `groupBy(__seg_id).agg(f1, f2, …)` over every feature in the
  * bucket (the reference runs each function as a separate task over the same
  * segmentation — fusing them is strictly better) → left join from the
  * segment table so empty windows survive (W7) → W10 naming → full-outer
  * merge of buckets on the anchor (S4). All aggregates are algebraic native
  * functions, so Spark's partial aggregation (map-side combine) keeps the
  * single shuffle tiny at scale.
  */
class FeatureCollection(val descriptors: Seq[AnyFeatureDescriptor]) {
  // col() with backtick quoting: feature names may contain dots
  // (e.g. quantile_0.25), which bare col() would parse as field access.
  private def qc(name: String): Column = col(s"`$name`")

  /** The group-by paths (G1/G3) operate on plain single-series features —
    * tuple features have no per-group pairing semantics in the reference.
    */
  private def groupedUnary: Seq[(String, Seq[AnyFeatureDescriptor])] = {
    require(descriptors.forall(_.seriesNames.lengthCompare(1) == 0),
      "group-by calculations support single-series features only")
    requireDistinctManualNames()
    descriptors.groupBy(_.seriesNames.head).toSeq
  }

  /** All TIME series of one call must share a timezone (reference:
    * strided_rolling.py:572-580): calculate() segments them together, and
    * G1/G3 join per-series instants directly, so mixed timezones would
    * silently misalign rather than error.
    */
  private def requireSameTz(all: Seq[Series]): Unit = {
    val tzs = all.filter(_.domain == Domain.Time).map(_.tz).distinct
    require(tzs.lengthCompare(1) <= 0,
      s"all series must share the same timezone, got: " +
        tzs.map(_.getOrElse("<none>")).mkString(", "))
  }

  /** Manual renames (`w=manual`) collapse the window out of the output name,
    * so descriptors that pass the constructor's duplicate check (distinct
    * windows) can still collide. Re-validate the EFFECTIVE names wherever the
    * manual rename applies, turning a late ambiguous-column failure into the
    * clear duplicate-names error.
    */
  private def requireDistinctManualNames(): Unit = {
    val eff = descriptors.flatMap(d => expand(d, manualName(d), "manual").map(_._1))
    require(eff.distinct.length == eff.length,
      s"duplicate output names under manual segments: " +
        eff.diff(eff.distinct).distinct.mkString(", "))
  }

  /** The `w=manual` name of a descriptor's aggregate column. */
  private def manualName(d: AnyFeatureDescriptor): String =
    Win.outputName(d.seriesNames, d.funcName, "manual")

  /** A descriptor's output columns ([[Win.outputColumns]]) off its
    * aggregate column `aggName`, the W10 name under window render `winR`.
    */
  private def expand(d: AnyFeatureDescriptor, aggName: String,
                     winR: String): Seq[(String, Column)] =
    Win.outputColumns(d.seriesNames, d.funcName, d.funcOutputNames, winR, qc(aggName))

  /** The group-by paths' (G1/G3) feature columns, sorted by name, off
    * aggregate columns named [[manualName]].
    */
  private def manualOutputs: Seq[Column] =
    descriptors.flatMap(d => expand(d, manualName(d), "manual"))
      .sortBy(_._1).map(_._2)

  {
    val names = descriptors.flatMap(_.outputNamesAll)
    require(names.distinct.length == names.length,
      s"duplicate output names: ${names.diff(names.distinct).mkString(", ")}")
  }

  /** M1: register additional descriptors. */
  def add(more: Seq[AnyFeatureDescriptor]): FeatureCollection =
    new FeatureCollection(descriptors ++ more)

  /** P1: only these series need to be read (column pruning). */
  def requiredSeries: Seq[String] = descriptors.flatMap(_.seriesNames).distinct

  /** M3: rebuild the minimal collection producing `outputNames`
    * (reference: feature_collection.py:1282-1353).
    */
  def reduce(outputNames: Seq[String]): FeatureCollection = {
    val keep = outputNames.toSet
    val kept = descriptors.filter(d => d.outputNamesAll.exists(keep))
    val missing = keep -- kept.flatMap(_.outputNamesAll).toSet
    require(missing.isEmpty, s"unknown output names: ${missing.mkString(", ")}")
    new FeatureCollection(kept)
  }

  /** Main entry point (reference: feature_collection.py:840-1262).
    *
    * @param data              the series (each with its own independent index)
    * @param strideOverride    calculate-level stride, wins over descriptor
    *                          strides (M4)
    * @param segmentStartIdxs  manual segment starts in INTERNAL index units
    *                          (epoch micros for TIME, raw for SEQUENCE) — W4
    * @param segmentEndIdxs    manual segment ends, same units
    * @param windowIdx         output anchor: "begin" | "middle" | "end" (W6)
    * @param includeFinalWindow W1 final-window rule
    * @param boundMethod       "inner" | "inner-outer" | "outer" (P3)
    * @param windowKeep        window-level sampling gate: given
    *                          (sampleCount, anchor) builds a predicate;
    *                          windows failing it are PRUNED BEFORE the
    *                          feature aggregation and emit no output row.
    *                          For super-linear per-window members
    *                          (O(n²) pair scans, CWT convolutions) this is
    *                          the engine-side mirror of an oracle's early
    *                          keep-CTE: a cheap count-only pass per segment,
    *                          a distributed filter over the SEGMENTS frame
    *                          (never a driver collect), and a left-semi
    *                          prune of the assigned rows — broadcast while
    *                          the kept-segment COUNT passes the counted
    *                          gate (`graft.core.Gates`), a shuffled semi
    *                          join above it — so unkept windows never pay the
    *                          collect buffers or the kernel, and a
    *                          keep-almost-everything predicate degrades to
    *                          a shuffle instead of an executor OOM.
    *                          Restricted to single-bucket collections (one
    *                          (series, window, strides) group): there the
    *                          output is identical — rows, values, names —
    *                          to calculating everything and filtering
    *                          afterwards. (Across SEVERAL buckets the
    *                          full-outer anchor merge would null out the
    *                          dropped bucket's columns instead of dropping
    *                          rows — a shape no post-filter produces — so
    *                          that composition is rejected loudly.)
    */
  def calculate(
      data: Seq[Series],
      strideOverride: Option[Seq[Win]] = None,
      segmentStartIdxs: Option[Seq[Double]] = None,
      segmentEndIdxs: Option[Seq[Double]] = None,
      windowIdx: String = "end",
      includeFinalWindow: Boolean = false,
      boundMethod: String = "inner",
      windowKeep: Option[(Column, Column) => Column] = None): DataFrame = {
    require(windowKeep.isEmpty || (segmentStartIdxs.isEmpty &&
      segmentEndIdxs.isEmpty),
      "windowKeep is not supported with manual segments")
    require(segmentStartIdxs.isEmpty && segmentEndIdxs.isEmpty || strideOverride.isEmpty,
      "cannot pass both segment indexes and a stride (M4)")
    Win.requirePositive(None, strideOverride)
    val byName = data.map(s => s.name -> s).toMap
    val used = requiredSeries.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"series $n not in data")))
    requireSameTz(used)
    used.headOption.foreach(s => NarrowKernels.install(s.df.sparkSession))
    val manualSegs = segmentStartIdxs.isDefined || segmentEndIdxs.isDefined

    // One bucket per (series tuple, window, effective strides): shared
    // segmentation, fused aggregation (reference buckets at
    // feature_collection.py:88-96).
    val buckets = descriptors.groupBy { d =>
      (d.seriesNames, d.window, if (manualSegs) None else strideOverride.orElse(d.strides))
    }
    // windowKeep's "identical to filter-afterwards" contract holds only
    // within one bucket — across buckets the full-outer anchor merge would
    // turn a window dropped in one bucket but kept in another into a row
    // with nulls for the dropped bucket's features (no single post-filter
    // produces that shape), so reject the composition loudly (ADVICE r17)
    require(windowKeep.isEmpty || buckets.size == 1,
      s"windowKeep requires a single (series, window, strides) bucket, " +
        s"got ${buckets.size}: split the calculate() call per bucket")

    // Both segment arrays given → window ignored → names use w=manual
    // (reference: strided_rolling.py:198-211, _create_feat_col_name).
    val bothManual = segmentStartIdxs.isDefined && segmentEndIdxs.isDefined
    if (bothManual) requireDistinctManualNames()
    def nameOf(d: AnyFeatureDescriptor): String =
      if (bothManual) manualName(d) else d.outputName

    // lazy: manual-segment and pure sample-window plans never read the
    // bounds, which cost one eager scan per source
    lazy val b: Bounds = Segmenter.bounds(used, boundMethod)

    val bucketFrames = buckets.toSeq.map { case ((sNames, win, strides), ds) =>
      val seriesSeq = sNames.map(byName)
      require(seriesSeq.map(_.domain).distinct.lengthCompare(1) == 0,
        s"all series of a tuple feature must share a domain: ${sNames.mkString("|")}")
      val series = seriesSeq.head
      val spark = series.df.sparkSession
      val isSample = win.exists(_.isInstanceOf[SampleWin])
      require(!isSample || seriesSeq.lengthCompare(1) == 0,
        "sample-count windows support single-series features only")
      // manual segment arrays are in INDEX units; a sample-count window
      // segments in positional space — mixing them would silently assign
      // the wrong rows (reference raises NotImplementedError,
      // strided_rolling.py sample-based + segment idxs)
      require(!(isSample && manualSegs),
        "segment start/end idxs are not supported for sample-count windows")

      // W9: sample-count windows over a TIME index — segment in positional
      // space, stitch the time index back on via the position (reference:
      // strided_rolling.py:627-698).
      val (rows, bounds, posToIdx) =
        if (isSample) {
          require(series.domain == Domain.Time,
            "sample-count windows require a TIME-indexed series")
          // distributed positional index (no single-partition row_number),
          // numbered inside Scan.position's range pin, which the assignment
          // branch and the anchor-stitch idxMap join both read. n is the
          // index summary's row count (one shuffle-free job)
          val n = Segmenter.summary(series).fold(0L)(_.n)
          (Scan.position(series.internal, "__idx", "__posl").select(
            col("__posl").cast("double").as("__idx"), col("__v"), col("__idx").as("__orig_idx")),
            Bounds(0.0, (n - 1).toDouble), true)
        } else (series.internal, b, false)

      val plan =
        if (manualSegs)
          Segmenter.manual(spark, segmentStartIdxs, segmentEndIdxs,
            win.map(_.amount))
        else {
          val w = win.getOrElse(throw new IllegalArgumentException(
            "cannot calculate features without a window or segment indexes"))
          val st = strides.getOrElse(throw new IllegalArgumentException(
            "cannot calculate features without a stride or segment indexes"))
          if (!isSample) require(
            w.domain == series.domain && st.forall(_.domain == series.domain),
            s"window/stride domain must match series domain for ${sNames.mkString("|")}")
          Segmenter.regular(spark, bounds, w.amount, st.map(_.amount),
            includeFinalWindow, w.render)
        }

      // Unary: one assigned frame, values in __v. Tuple: each series is
      // assigned independently by the SAME plan, then the per-window views
      // pair by (segment, index) — one co-partitioned equi-join per extra
      // series, each side shuffled on the same key (reference passes one
      // windowed view per series, strided_rolling.py:455-470).
      // r19 same-source tuple fusion (guide §2.4): when every tuple series
      // wraps the SAME frame and index column (Series.sameSource, like the
      // G3 fusion), the per-series assignment + (segment, index) equi-join
      // chain is the identity — ONE wide assignment off one scan carries
      // every value column, deleting n−1 scans, n−1 assignment exchanges
      // and n−1 joins (q38's corr/covar pair and q51's 3-series wcorr were
      // 2–3 full scans + self-joins of the same 10M-row frame). Rows with
      // a DUPLICATED index are a semantic edge: the join path
      // cross-multiplies them per series while the wide path keeps them
      // row-aligned — the fused form matches the reference (one windowed
      // view per column of one frame) and the DuckDB twins; the join path
      // keeps serving genuinely different sources, where duplicates keep
      // their documented KNOWN-LIMITATION behavior (see the anchor-join
      // note below).
      // `Gates.fuse` off forces the per-series join plan — the differential
      // twin (NaryFusedSpec)
      val sameSourceTuple = Gates.fuse &&
        seriesSeq.lengthCompare(1) > 0 && !isSample &&
        seriesSeq.tail.forall(series.sameSource)
      val (assigned, valueCols) =
        if (seriesSeq.lengthCompare(1) == 0)
          (Segmenter.assign(rows, plan), Seq(col("__v")))
        else if (sameSourceTuple) {
          val wide = series.internalPlus(seriesSeq.tail.zipWithIndex.map {
            case (s2, i) => s2.valueCol -> s"__v${i + 1}" }: _*)
            .withColumnRenamed("__v", "__v0")
          (Segmenter.assign(wide, plan),
            seriesSeq.indices.map(i => col(s"__v$i")))
        } else {
          val parts = seriesSeq.zipWithIndex.map { case (s2, i) =>
            Segmenter.assign(s2.internal, plan)
              .select(col("__seg_id"), col("__idx"), col("__v").as(s"__v$i"))
          }
          (parts.reduce((a, c) => a.join(c, Seq("__seg_id", "__idx"))),
            seriesSeq.indices.map(i => col(s"__v$i")))
        }
      // Window-level sampling gate (FeatureCollection.windowKeepPrune):
      // unkept windows reach neither the collect buffers nor the kernels
      val (assignedG, segsG) = windowKeep match {
        case Some(keep) =>
          require(seriesSeq.lengthCompare(1) == 0 && !posToIdx,
            "windowKeep supports single-series time/sequence windows only")
          FeatureCollection.windowKeepPrune(assigned, plan.segments,
            Seq("__seg_id"), valueCols.head,
            series.restoreIdx(Segmenter.anchor(windowIdx)), keep)
        case None => (assigned, plan.segments)
      }
      val aggCols = ds.map(d =>
        d.aggOver(col("__idx"), valueCols).as(nameOf(d)))
      val exploded = assignedG.groupBy("__seg_id").agg(aggCols.head, aggCols.tail: _*)
      // A single-series bucket whose aggregate reads the sorted buffer is
      // evaluated block-sliced (BlockBucket): one sorted buffer per block
      // of consecutive windows instead of one per window. A windowKeep
      // bucket keeps the explode, whose prune drops unkept windows' rows
      // before any buffer, and reads its leaves off each window's buffer
      // as the block path does. `Gates.fuse` off keeps the plain explode,
      // the differential twin (BlockBucketSpec)
      val agged =
        if (Gates.fuse && seriesSeq.lengthCompare(1) == 0)
          BlockBucket.of(exploded, plan).fold(exploded) { b =>
            if (windowKeep.isEmpty) b.frame(rows) else b.perWindow(assignedG)
          }
        else exploded

      // W7: segments with zero rows still emit a row (left join, never inner).
      // A block-sliced `agged` comes hinted broadcast when its window bound
      // fits (BlockBucket.frame), so neither side shuffles for this join
      var joined = segsG.join(agged, Seq("__seg_id"), "left")
      ds.foreach { d =>
        d.emptyValue.foreach { ev =>
          joined = joined.withColumn(nameOf(d), coalesce(qc(nameOf(d)), ev))
        }
      }
      val anchorRaw = Segmenter.anchor(windowIdx)
      val anchorCol =
        if (posToIdx) {
          // Stitch the original time index back by position. The anchor may
          // be fractional (windowIdx="middle" → k + 0.5) or one past the last
          // sample (includeFinalWindow end == n), so floor and clamp to the
          // positional bounds [0, n-1] — every anchor maps to an existing
          // sample, mirroring the reference's positional index lookup
          // (reference: strided_rolling.py:627-698).
          val anchorPos = least(greatest(floor(anchorRaw).cast("double"),
            lit(bounds.start)), lit(bounds.end))
          val idxMap = rows.select(col("__idx").as("__pos"), col("__orig_idx"))
          joined = joined.join(idxMap, anchorPos === col("__pos"), "left")
          series.restoreIdx(col("__orig_idx"))
        } else series.restoreIdx(anchorRaw)
      // anchor column carries the input zone as metadata (tz retention for
      // instant-typed indexes; NTZ indexes round-trip via restoreIdx).
      // Manual plans keep __seg_id: user-supplied segment arrays may contain
      // DUPLICATE anchors (reference preserves them, one output row per
      // input entry), so the cross-bucket merge must pair rows by segment
      // POSITION — joining duplicated anchors would cross-multiply.
      val keyCols =
        if (manualSegs) Seq(col("__seg_id"))
        else Nil
      joined.select(keyCols ++ (anchorCol.as(series.idxCol, series.idxMetadata) +:
        ds.flatMap(d => expand(d, nameOf(d),
          if (bothManual) "manual" else d.winRender).map(_._2))): _*)
    }

    // one calculate() merges every bucket on ONE anchor column — series
    // with differently-named index columns would fail the join below with
    // an opaque USING-column error, so reject them up front
    require(used.map(_.idxCol).distinct.lengthCompare(1) == 0,
      s"all series in one calculate() must share the index column name; " +
        s"got ${used.map(_.idxCol).distinct.mkString(", ")}")
    val idxName = used.head.idxCol
    val merged =
      if (manualSegs)
        // pair by segment POSITION and anchor: identical anchors (both
        // arrays manual, or anchor=begin) join 1:1 even when duplicated;
        // starts-only with per-bucket window-derived END anchors produces
        // one row PER DISTINCT ANCHOR (the reference's index-aligned
        // merge) instead of silently keeping an arbitrary bucket's anchor
        // for all buckets' features
        bucketFrames.reduceLeft((a, c) =>
          a.join(c, Seq("__seg_id", idxName), "full_outer"))
          .drop("__seg_id")
      else
        // KNOWN LIMITATION: this join compares double anchors computed
        // independently per bucket. TIME-domain anchors are integer micros
        // (exact in doubles up to 2^53) so they always align; SEQUENCE
        // anchors with FRACTIONAL strides can differ by 1 ulp between
        // buckets and split a logical row — use integer-valued sequence
        // windows and strides. KeyedFeatures.calculateWideMulti's pivot
        // groups on k*stride offsets and merges anchors exactly only for
        // integer-valued windows and strides too, not for fractional ones.
        bucketFrames.reduce((a, c) => a.join(c, Seq(idxName), "full_outer"))
    val featCols = merged.columns.filterNot(_ == idxName).sorted
    // ordering is the caller's concern (every sink re-sorts anyway) — not
    // baked into the plan, saving a global sort stage per calculate()
    merged.select(col(idxName) +: featCols.toIndexedSeq.map(qc): _*)
  }

  /** G1 `group_by_all` — pseudo-SQL `SELECT f(x) FROM data GROUP BY g`
    * (reference: feature_collection.py:484-566). Series rows are matched to
    * group values by index equality; NaN/null group rows ignored (P5);
    * output names use `w=manual`.
    */
  def calculateGroupByAll(data: Seq[Series], group: Series): DataFrame = {
    requireSameTz(data :+ group)
    val byName = data.map(s => s.name -> s).toMap
    val g = group.internal
      .where(col("__v").isNotNull && (group.df.schema(group.valueCol).dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => !isnan(col("__v"))
        case _ => lit(true)
      }))
      .select(col("__idx"), col("__v").as("__grp"))
    val frames = groupedUnary.map { case (sName, ds) =>
      val series = byName(sName)
      val joined = series.internal.join(g, Seq("__idx"), "inner")
      val aggCols = ds.map(d =>
        d.aggOver(col("__idx"), Seq(col("__v"))).as(manualName(d)))
      joined.groupBy(col("__grp").as(group.name)).agg(aggCols.head, aggCols.tail: _*)
    }
    val merged = frames.reduce((a, c) => a.join(c, Seq(group.name), "full_outer"))
    merged.select(col(group.name) +: manualOutputs: _*)
  }

  /** G2: pre-grouped wide-frame convenience — `df` holds the index, the
    * grouping column, and every required series as columns (the analog of
    * passing a `DataFrameGroupBy`, reference:
    * feature_collection.py:876-879). Thin sugar over `calculateGroupByAll`.
    */
  def calculateGrouped(df: DataFrame, idxCol: String, groupCol: String): DataFrame =
    calculateGroupByAll(
      requiredSeries.map(n => Series(n, df, idxCol, n)),
      Series(groupCol, df, idxCol, groupCol))

  /** G3 `group_by_consecutive` — gaps-and-islands sessionization: maximal
    * runs of equal group values form segments `[run_start, next_run_start)`
    * (last run closed by end + 1 unit/day), features per run, output gets
    * the group value plus `__start`/`__end` run boundaries (reference:
    * feature_collection.py:568-724).
    *
    * One plan over ONE ranged scan (`Scan.groupRunScan`), the reference's
    * `(v != v.shift()).cumsum()`. The group's frame carries the group
    * column and every value series of the same source (`Series.sameSource`)
    * as one wide projection; each other source adds its own rows,
    * `unionByName`'d with a null group and a source tag. Null-group rows
    * neither start nor break runs: they carry the enclosing run. Ordering
    * on `(__idx, __gn)` puts a run's first group row before the rows tied
    * on its index, so those join the new run; run 0 (rows before the first
    * run) is dropped, and the `max(group idx) + 1 unit/day` terminator is a
    * bound filter fed by the scan's own summary. When every series shares
    * the group's source (q12) one aggregate per run computes the
    * boundaries, the group value and every feature. Otherwise the
    * aggregate runs per (run, source), each source's features evaluated
    * only in that source's groups, and a second one reads them off that
    * source's row: a run with no rows of a source gets NULL features, and
    * no function is called on an empty window (what a left join of
    * per-source aggregates gives). `Gates.fuse` off makes every series its
    * own source — the differential twin (G3FusedSpec).
    */
  def calculateGroupByConsecutive(data: Seq[Series], group: Series): DataFrame = {
    requireSameTz(data :+ group)
    type Used = (Series, Seq[AnyFeatureDescriptor])
    val byName = data.map(s => s.name -> s).toMap
    val used: Seq[Used] = groupedUnary.sortBy(_._1).map { case (n, ds) =>
      byName.getOrElse(n, throw new IllegalArgumentException(
        s"series $n not in data")) -> ds }
    val (own, others) =
      if (Gates.fuse) used.partition(u => group.sameSource(u._1)) else (Nil, used)
    // one part per other source: its series read off one projection
    val sources = others.foldLeft(Vector.empty[Seq[Used]]) { (acc, u) =>
      acc.indexWhere(ss => Gates.fuse && ss.head._1.sameSource(u._1)) match {
        case -1 => acc :+ Seq(u)
        case i  => acc.updated(i, acc(i) :+ u)
      }
    }
    def vals(ss: Seq[Used]): Seq[(String, String)] =
      ss.map { case (s, _) => s.valueCol -> s"__val_${s.name}" }
    val wide = group.internalPlus(vals(own): _*)
      .withColumnRenamed("__v", "__grp")
      .withColumn("__gn", when(col("__grp").isNotNull, 0).otherwise(1))
    val grpType = group.df.schema(group.valueCol).dataType
    val frame = sources.zipWithIndex.foldLeft(
        if (sources.isEmpty) wide else wide.withColumn("__src", lit(0))) {
      case (f, (ss, i)) =>
        val s0 = ss.head._1
        f.unionByName(s0.internalPlus(vals(ss.tail): _*)
          .withColumnRenamed("__v", s"__val_${s0.name}")
          .withColumn("__grp", lit(null).cast(grpType))
          .withColumn("__gn", lit(1))
          .withColumn("__src", lit(i + 1)), allowMissingColumns = true)
    }
    val scanned = Scan.groupRunScan(frame, Seq("__idx", "__gn"), "__grp",
      "__idx", "__run", "__gmax")
    val kept = scanned.where(col("__run") > 0 &&
      col("__idx") < col("__gmax") + lit(group.domain.runEnd))
    // source k's features; `inSource` wraps each in its own source's
    // groups — `__src` is a grouping key, so the CASE runs on the aggregate
    // results and a function never sees another source's (empty) input
    def featAggs(ss: Seq[Used], inSource: Column => Column): Seq[Column] =
      for ((s, ds) <- ss; d <- ds) yield inSource(
        d.aggOver(col("__idx"), Seq(qc(s"__val_${s.name}")))).as(manualName(d))
    val grpNN = col("__grp").isNotNull
    val start = min(when(grpNN, col("__idx"))).as("__start")
    val runAggs = Seq(max(when(grpNN, col("__idx"))).as("__end"),
      first(col("__grp"), ignoreNulls = true).as("__grp"))
    val out =
      if (sources.isEmpty)
        kept.groupBy("__run").agg(start, runAggs ++ featAggs(own, identity): _*)
      else {
        val feats = (own +: sources).zipWithIndex.flatMap { case (ss, k) =>
          featAggs(ss, when(col("__src") === k, _)) }
        val picks = for ((_, ds) <- used; d <- ds) yield
          first(qc(manualName(d)), ignoreNulls = true).as(manualName(d))
        kept.groupBy("__run", "__src")
          .agg(start, runAggs ++ feats: _*)
          .groupBy("__run").agg(min(col("__start")).as("__start"),
            Seq(max(col("__end")).as("__end"),
              first(col("__grp"), ignoreNulls = true).as("__grp")) ++ picks: _*)
      }
    out.select(
      (col("__grp").as(group.name) +: manualOutputs) :+
        group.restoreIdx(col("__start")).as("__start") :+
        group.restoreIdx(col("__end")).as("__end"): _*)
  }

  /** Validation report — the reference's warning surface, as data. The
    * reference WARNS AND PROCEEDS on several degenerate-but-legal inputs;
    * this engine's behavior is semantically identical (rows survive the
    * left join, NaN group rows are filtered) but a Spark job has no warning
    * channel that reaches the caller, so the findings are returned as a
    * DataFrame instead: one row per would-be warning,
    * `(check, subject, detail)` — empty report = nothing to warn about.
    *
    * Checks (each cites the reference warning it mirrors):
    *  - `mixed_window_stride_dtypes` — descriptors whose window/stride
    *    datatypes disagree across the collection
    *    (feature_collection.py:161-196 `_check_feature_descriptors`)
    *  - `segments_outside_data_bounds` — manual segment indexes outside the
    *    data's bound range (strided_rolling.py:548-551,604-614
    *    OUTSIDE_DATA_BOUNDS_WARNING)
    *  - `nan_group_rows` — null/NaN values in the grouping series, whose
    *    rows grouped calculations ignore (feature_collection.py:509-519)
    *  - `sparsity` — series whose per-segment sample counts vary (nonzero
    *    peak-to-peak), i.e. the data is sparse w.r.t. the segmentation
    *    (strided_rolling.py:230-239; suppress with approveSparsity, the
    *    reference's `approve_sparsity` analog)
    */
  def validate(data: Seq[Series],
               group: Option[Series] = None,
               segmentStartIdxs: Option[Seq[Double]] = None,
               segmentEndIdxs: Option[Seq[Double]] = None,
               includeFinalWindow: Boolean = false,
               boundMethod: String = "inner",
               approveSparsity: Boolean = false): DataFrame = {
    val spark = data.headOption.map(_.df.sparkSession).getOrElse(
      throw new IllegalArgumentException("validate needs at least one series"))
    import spark.implicits._
    val empty = Seq.empty[(String, String, String)].toDF("check", "subject", "detail")
    def rows(rs: Seq[(String, String, String)]): Option[DataFrame] =
      if (rs.isEmpty) None else Some(rs.toDF("check", "subject", "detail"))
    val byName = data.map(s => s.name -> s).toMap
    val used = requiredSeries.flatMap(byName.get)

    // mixed window/stride dtypes — driver-side descriptor metadata
    def dtypeName(w: Win): String = w match {
      case _: TimeWin   => "time"
      case _: SeqWin    => "sequence"
      case _: SampleWin => "samples"
    }
    val dtypes = descriptors.flatMap(d =>
      (d.window.toSeq ++ d.strides.getOrElse(Nil)).map(dtypeName)).distinct.sorted
    val mixed = rows(
      if (dtypes.lengthCompare(1) > 0)
        Seq(("mixed_window_stride_dtypes",
          descriptors.map(_.outputName).mkString(","),
          s"multiple window/stride datatypes present: ${dtypes.mkString(", ")}"))
      else Nil)

    // lazy, once per source: a sparsity bucket's grid spans its domain;
    // the manual-segment check combines them as calculate's bounds do
    lazy val bOf: Map[Domain, Bounds] = used.groupBy(_.domain)
      .map { case (d, ss) => d -> Segmenter.bounds(ss, boundMethod) }

    // manual segments vs data bounds — the arrays are driver-side already
    val manualOob = rows(
      if ((segmentStartIdxs.isDefined || segmentEndIdxs.isDefined) && used.nonEmpty) {
        val b = Segmenter.combine(bOf.values.toSeq, boundMethod)
        val oob = (segmentStartIdxs.getOrElse(Nil) ++ segmentEndIdxs.getOrElse(Nil))
          .filter(x => x < b.start || x > b.end)
        if (oob.nonEmpty)
          Seq(("segments_outside_data_bounds", used.map(_.name).mkString(","),
            s"${oob.length} segment idx(s) outside [${b.start}, ${b.end}], " +
              s"e.g. ${oob.head} — their windows will hold no/partial data"))
        else Nil
      } else Nil)

    // null/NaN group rows — distributed count, lazily folded into the report
    val nanGroup = group.map { g =>
      val isFloating = g.df.schema(g.valueCol).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }
      val badGroup = col(g.valueCol).isNull ||
        (if (isFloating) isnan(col(g.valueCol)) else lit(false))
      g.df.where(badGroup).agg(count(lit(1)).as("__n")).where(col("__n") > 0)
        .select(lit("nan_group_rows").as("check"), lit(g.name).as("subject"),
          format_string("%d rows with null/NaN values in grouping series " +
            "'%s' will be ignored", col("__n"), lit(g.name)).as("detail"))
    }

    // input-layout monotonicity — the reference auto-sorts a non-monotonic
    // series index and warns (feature_collection.py:455-466). The relational
    // scans here sort internally, so results are unaffected; the finding is
    // informational: rows out of index order WITHIN a storage partition mean
    // the files aren't index-sorted (per-partition order is the only
    // deterministic order a distributed frame has).
    val nonMono = used.map { s =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__p")).orderBy(col("__m"))
      s.internal.select(col("__idx"),
          spark_partition_id().as("__p"), monotonically_increasing_id().as("__m"))
        .withColumn("__prev", lag(col("__idx"), 1).over(w))
        .where(col("__prev") > col("__idx"))
        .agg(count(lit(1)).as("__n")).where(col("__n") > 0)
        .select(lit("non_monotonic_input").as("check"), lit(s.name).as("subject"),
          format_string("%d rows out of index order in the input layout; " +
            "scans sort internally (the reference auto-sorts and warns)",
            col("__n")).as("detail"))
    }

    // sparsity per (window, strides) bucket — distributed ptp counts
    val sparsityReports =
      if (approveSparsity || used.isEmpty) Nil
      else descriptors
        .filter(d => d.window.exists(!_.isInstanceOf[SampleWin]) && d.strides.isDefined)
        .groupBy(d => (d.window.get, d.strides.get)).keys.toSeq
        .map { case (win, strides) =>
          val series = used.filter(_.domain == win.domain)
          if (series.isEmpty) empty
          else Segmenter.sparsity(series, bOf(win.domain),
            win.amount, strides.map(_.amount), includeFinalWindow)
            .where(col("ptp") > 0)
            .select(lit("sparsity").as("check"), col("series").as("subject"),
              format_string("per-segment sample counts vary for w=%s: " +
                "min=%d max=%d (sparse w.r.t. this segmentation)",
                lit(win.render), col("min_n"), col("max_n")).as("detail"))
        }

    (Seq(empty) ++ mixed ++ manualOob ++ nanGroup ++ nonMono ++ sparsityReports)
      .reduce(_.unionByName(_))
  }
}

object FeatureCollection {
  def apply(ds: AnyFeatureDescriptor*): FeatureCollection = new FeatureCollection(ds)
  def of(ds: Seq[AnyFeatureDescriptor]): FeatureCollection = new FeatureCollection(ds)

  /** The window-level sampling gate shared by `calculate` and the keyed
    * paths: count the `counted` values per window off the assigned rows
    * (map-side partial agg), filter the SEGMENT table on (count, `anchor`)
    * — fully distributed, window-count-linear, no driver collect — and
    * prune the assigned rows with a left-semi join on `keys`, so unkept
    * windows never reach the aggregate. Windows with no rows count 0.
    *
    * Returns (pruned rows, kept segments): the kept frame is pinned because
    * it feeds both the semi join and the caller's W7 empty-window left join,
    * which makes the counted broadcast gate on the semi side free — a
    * keep-almost-everything predicate costs a shuffle, never an executor
    * OOM.
    */
  private[api] def windowKeepPrune(assigned: DataFrame, segments: DataFrame,
                                   keys: Seq[String], counted: Column,
                                   anchor: Column,
                                   keep: (Column, Column) => Column
                                  ): (DataFrame, DataFrame) = {
    val cnt = assigned.groupBy(keys.map(col): _*)
      .agg(count(counted).as("__wn"))
    val kept = Pinned.checkpoint(
      segments.join(cnt, keys, "left")
        .where(keep(coalesce(col("__wn"), lit(0L)), anchor))
        .drop("__wn"))
    val ids = kept.select(keys.map(col): _*)
    (assigned.join(Gates.hint(kept)(ids), keys, "left_semi"), kept)
  }
}
