package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core._
import graft.segment.Segmenter.{koffOf, pick, shufflePartitions, startOf}

/** Per-key strided-rolling feature extraction — the shape a 100 TB workload
  * actually has: millions of INDEPENDENT series (one per user / device /
  * session), each segmented relative to ITS OWN bounds, extracted in one
  * shot. The reference covers this only by looping `calculate` over series;
  * here the key is a first-class partitioning column.
  *
  * ONE keyed window pipeline, [[calculateWideMulti]], serves every window
  * count. [[calculateWide]] is its one-window case and [[calculate]] is
  * single-series sugar over that, as a tsflex single-window descriptor is
  * one bucket of the general multi-window collection.
  *
  * Everything shuffles ON THE KEY — adding keys scales out instead of up,
  * and no stage ever sees a single global ordering.
  */
object KeyedFeatures {

  /** Re-spread the per-key bounds table at pinned width before the segment
    * explode. The bounds aggregate OUTPUT is tiny (two doubles per key), so
    * AQE coalesces its exchange to a couple of partitions — and then the
    * segment-grid explode amplifies each key row into its full window list
    * INSIDE those few tasks (measured on the 100×
    * corpus: q72's two bounds-consumer stages ran 2-way parallel, 80 s of
    * the query's 154 s; the smoke listener missed it because its trigger
    * is single-task stages with big INPUT, not few-task stages with big
    * OUTPUT). ROUND-ROBIN with explicit numPartitions is the one spread
    * the optimizer keeps: `repartition(n, $"__key")` is ELIMINATED as
    * redundant (the agg exchange already hash-partitions by key — and then
    * AQE coalesces that exchange anyway), while REPARTITION_BY_NUM
    * round-robin is neither removable nor AQE-coalescible. The grid's
    * consumers (the W7 join, or the fused aggregate's union) re-shuffle on
    * their own keys regardless, so bounds partitioning carries no reuse
    * value — only its WIDTH matters. The exchange moves only the tiny
    * bounds rows; the assignment join keeps the un-widened bounds.
    */
  private def spreadBounds(b: DataFrame): DataFrame =
    b.repartition(shufflePartitions(b.sparkSession))

  /** Per-key bounds `(__key, __s0, __e0)`. A NaN or infinite bound raises
    * in-plan on that key's bounds row: one check per key, not per row. */
  private def keyBounds(internal: DataFrame): DataFrame = {
    def finite(c: String): Column = when(isnan(col(c) - col(c)), // NaN or ±Inf
        raise_error(concat(lit("key '"), col("__key").cast("string"),
          lit("' has a non-finite index bound — cannot segment NaN or infinite indexes"))))
      .otherwise(col(c)).as(c)
    internal.groupBy("__key")
      .agg(min(col("__idx")).as("__s0"), max(col("__idx")).as("__e0"))
      .select(col("__key"), finite("__s0"), finite("__e0"))
  }

  // ---- fused decomposable aggregate (r19) ---------------------------------
  //
  // The several-window plan's generic shape is four exchange-bearing stages:
  // the per-(key, w, seg_start) fused aggregate, the segments⋈aggregate
  // LEFT JOIN restoring empty windows (two full exchanges + sort-merge
  // sorts of the widest intermediates in the query — q72 at 100×: 985 MB
  // read, the top stage of the r18 profile), and the (key, anchor) pivot.
  // When every feature is MASKABLE — its aggregate skips null inputs, so
  // `f.agg(when(__w === W, v))` over the combined explode equals `f.agg(v)`
  // over just window W's rows — all four stages fuse into ONE aggregate
  // keyed directly on (key, anchor) (guide §2.4 "remove shuffles
  // outright"):
  //
  //   - each exploded row carries (w, koff); its anchor offset is the same
  //     `anchorOff` expression the pivot grouped on, so the group set IS
  //     the pivot's row set;
  //   - each output column `f__w=W` is `f.agg(when(__w === W, v))` — the
  //     per-(w, seg) aggregate and the pivot's max(when(...)) selection
  //     collapse into the one conditional aggregate;
  //   - empty/absent windows: the per-key segment grid (the same
  //     SegmentsPacked kernel) unions in as null-valued filler rows. A
  //     filler never changes a populated window (null inputs skipped); it
  //     marks EXISTENCE via max(when(__w === W, 1)) so a window absent
  //     from the grid at this anchor stays NULL (the pivot's semantics)
  //     while a present-but-empty window takes its W7 emptyValue.
  //
  // The five registry funcs len/mean/sum/min/max are maskable (count/avg/
  // sum/min/max all skip nulls and ignore the index argument); anything
  // else — index-aware kernels, collect-based stocks, robust wrappers —
  // falls back to the generic aggregate+join+pivot path. One window never
  // fuses: its generic plan has no pivot to collapse, and its anchors stay
  // the single-series engine's. Float caveat:
  // sum/mean accumulate the same row multiset in a different order than
  // the per-window aggregate did (Spark's partial aggregation is already
  // order-nondeterministic); Q72RollupSpec pins the differential (the
  // generic twin under `Gates.fuse` off) within double rounding and exactly
  // after the declared round(6).
  //
  // Maskability is keyed on the registry funcs' `agg` closure identity, not
  // the FeatureFunc instance: `.as`/`.copy` keep the closure (a renamed
  // `len.as("n")` stays fused), while `robust` builds a new one.
  private val maskableAggs = Seq(FeatureFuncs.len, FeatureFuncs.mean,
    FeatureFuncs.sum, FeatureFuncs.min, FeatureFuncs.max).map(_.agg)

  private def maskable(f: FeatureFunc): Boolean =
    f.outputNames.isEmpty && maskableAggs.exists(_ eq f.agg)

  /** The keyed input every entry point starts from: `__key`, the index as
    * internal doubles (`__idx`, epoch micros for TIME) and `cols`. Null
    * indexes are unorderable and dropped; null keys are dropped up front
    * too (the pandas-groupby convention the reference inherits). Keeping
    * them half-way was worse: the segment groupBy emitted a null-key window
    * table but every equi-join below dropped the null-key DATA rows,
    * reporting phantom empty windows. Every window and stride must share
    * the index's domain — a "1D" window over a numeric index would
    * otherwise run as 8.64e10 index units — sample-count windows have
    * no keyed form, and every window and stride must be > 0.
    */
  private def keyedInput(df: DataFrame, keyCol: String, idxCol: String,
                         firstVal: String, windows: Seq[(Win, Seq[Win])],
                         cols: Seq[Column]): (Series, DataFrame) = {
    graft.expr.NarrowKernels.install(df.sparkSession)
    windows.foreach { case (w, sts) => Win.requirePositive(Some(w), Some(sts)) }
    val series = Series(firstVal, df, idxCol, firstVal)
    windows.flatMap { case (w, sts) => w +: sts }.foreach { w =>
      require(!w.isInstanceOf[SampleWin],
        s"sample-count windows are not supported by keyed features: $w")
      require(w.domain == series.domain,
        s"window/stride domain must match series domain: $w over a " +
          s"${series.domain} index")
    }
    val internal = df.select(col(keyCol).as("__key") +:
        series.idxExpr.as("__idx") +: cols: _*)
      .where(col("__idx").isNotNull)
      .where(col("__key").isNotNull)
    (series, internal)
  }

  private def requireNaryArity(nary: Seq[(Seq[String], NaryFunc)]): Unit =
    nary.foreach { case (cols, f) =>
      require(cols.lengthCompare(f.arity) == 0,
        s"${f.name} consumes ${f.arity} series, got ${cols.length}: " +
          cols.mkString("|"))
    }

  /** Single-series sugar over [[calculateWide]] (one window).
    *
    * @param funcs   features to fuse into the single per-segment aggregate
    * @param windowIdx "begin" | "middle" | "end" output anchor (W6)
    */
  def calculate(df: DataFrame, keyCol: String, idxCol: String, valueCol: String,
                window: Win, strides: Seq[Win], funcs: Seq[FeatureFunc],
                seriesName: String, windowIdx: String = "end",
                includeFinalWindow: Boolean = false,
                windowKeep: Option[(Column, Column) => Column] = None): DataFrame =
    calculateWide(
      df.select(col(keyCol), col(idxCol), col(valueCol).as(seriesName)),
      keyCol, idxCol, window, strides,
      funcs.map(f => seriesName -> f), Nil, windowIdx, includeFinalWindow,
      windowKeep)

  /** Keyed feature extraction over a WIDE frame: one row per (key, idx) with
    * one column per series. Because the tuple series share index rows in
    * this shape, n-ary features need NO per-series pairing join (unlike the
    * long-format main path, which equi-joins per-window views on
    * (segment, idx)) — every value column rides the single assignment
    * explode, and unary and n-ary functions all fuse into ONE per-segment
    * aggregate.
    *
    * Null semantics for n-ary inputs: a row where any consumed series is
    * null contributes null products, which the underlying sum/corr
    * aggregates skip — exactly the index-intersection semantics of the
    * long-format path for the built-in NaryFuncs.
    *
    * [[calculateWideMulti]]'s one-window case; no pipeline of its own.
    *
    * @param unary (seriesColumn, func) features; output `col__f__w=...`
    * @param nary  (seriesColumns, func) tuple features; output
    *              `a|b|c__f__w=...` (W10 naming, same as the main path)
    * @param windowKeep keyed twin of the single-series windowKeep gate
    *              (r18): given (sampleCount of the FIRST value column,
    *              anchor) builds a predicate; (key, window)s failing it are
    *              pruned BEFORE the fused aggregate and emit no output row
    *              — identical rows/values/names to calculating everything
    *              and post-filtering, but keyed super-linear members never
    *              pay for unkept windows. Count pass, distributed segment
    *              filter, left-semi prune; broadcast while the kept count
    *              passes the counted gate (`graft.core.Gates`), a shuffled
    *              semi join above it.
    */
  def calculateWide(df: DataFrame, keyCol: String, idxCol: String,
                    window: Win, strides: Seq[Win],
                    unary: Seq[(String, FeatureFunc)],
                    nary: Seq[(Seq[String], NaryFunc)] = Nil,
                    windowIdx: String = "end",
                    includeFinalWindow: Boolean = false,
                    windowKeep: Option[(Column, Column) => Column] = None): DataFrame =
    calculateWideMulti(df, keyCol, idxCol, Seq(window -> strides), unary, nary,
      windowIdx, includeFinalWindow, windowKeep)

  /** Keyed extraction over one or several (window, strides) buckets of the
    * same wide frame in ONE pass — the keyed analog of the single-series
    * path's M1 bucketing ({1h, 6h, 1d} per entity; one call per window
    * would re-shuffle and re-scan the input once per window):
    *
    *   1. per-key bounds, one `groupBy(key)` shared by every window;
    *   2. the per-key segment grid, ONE `SegmentsPacked` explode over the
    *      bounds rows ([[spreadBounds]] re-widens them first);
    *   3. ONE `AssignPacked` explode of (window, seg_start) pairs, with the
    *      key's own bounds joined in. Both kernels dedup by one rule
    *      (`AssignKernelUtil`), so grid and assignment agree on every start;
    *   4. ONE `groupBy(key, window, seg_start)` aggregate, left-joined back
    *      onto the grid so empty windows survive (W7).
    *
    * One window ends there, anchored by `Segmenter.anchor` over
    * (start, start + w): bit-identical to the single-series engine. Several
    * windows pivot into per-window columns on (key, anchor), the keyed
    * analog of S4's full-outer anchor merge: anchors shared by several
    * windows land on one row, and a window with no segment at an anchor is
    * null there. The pivot groups on the offset k·st (+ w), which merges
    * equal anchors exactly for integer-valued windows and strides (every
    * TIME window); fractional ones can differ by an ulp and stay apart.
    * Several windows of maskable features fuse steps 4–5 ([[maskable]]).
    *
    * Output naming: `series__func__w=<window.render>` per window (W10).
    *
    * windowKeep with several windows keeps/drops (key, window, anchor)
    * CELLS: a window dropped where another is kept nulls its columns on
    * the shared row; an anchor where every window is dropped emits no row.
    * (A post-filter cannot express that; the row-identity claim holds for
    * one window.)
    */
  def calculateWideMulti(df: DataFrame, keyCol: String, idxCol: String,
                         windows: Seq[(Win, Seq[Win])],
                         unary: Seq[(String, FeatureFunc)],
                         nary: Seq[(Seq[String], NaryFunc)] = Nil,
                         windowIdx: String = "end",
                         includeFinalWindow: Boolean = false,
                         windowKeep: Option[(Column, Column) => Column] = None): DataFrame = {
    require(windows.nonEmpty, "no windows given")
    require(windows.map(_._1.amount).distinct.length == windows.length,
      "duplicate windows")
    require(unary.nonEmpty || nary.nonEmpty, "no features given")
    requireNaryArity(nary)
    val valueCols = (unary.map(_._1) ++ nary.flatMap(_._1)).distinct
    val (series, internal) = keyedInput(df, keyCol, idxCol, valueCols.head,
      windows, valueCols.map(col))
    val specs = windows.map { case (win, sts) =>
      (win, sts.map(_.amount).distinct.sorted)
    }
    val pivot = specs.lengthCompare(1) > 0

    // 1. per-key bounds; only the grid explode reads them re-widened
    val bounds = keyBounds(internal)
    val boundsWide = spreadBounds(bounds)

    // 2. per-key segment grid (never driver-materialized)
    val specW = specs.flatMap { case (win, ss) => ss.map(_ => win.amount) }
    val specSt = specs.flatMap { case (_, ss) => ss }
    val segments = boundsWide.select(col("__key"), col("__s0"),
        explode(graft.expr.SegmentsPacked(col("__s0"), col("__e0"),
          specW, specSt, includeFinalWindow)).as("__p"))
      .select(col("__key"), pick(col("__p"), specW).as("__w"), col("__s0"),
        koffOf(col("__p"), specSt).as("__koff"),
        startOf(col("__p"), col("__s0"), specSt).as("__seg_start"))
      .withColumn("__seg_end", col("__seg_start") + col("__w"))

    // 3. arithmetic assignment with the key's own bounds. The kernel clamps
    // to the key's grid (e0 rides along), so the aggregate below runs
    // DIRECTLY on the explode — map-side partial aggregation collapses the
    // fan-out before its one exchange.
    val fuseOk = pivot && Gates.fuse && nary.isEmpty && windowKeep.isEmpty &&
      unary.nonEmpty && unary.forall { case (_, f) => maskable(f) }
    val withStart = internal.join(bounds, Seq("__key"))
    val packed = explode(graft.expr.AssignPacked(col("__idx"), col("__s0"),
      col("__e0"), specW, specSt, includeFinalWindow)).as("__p")
    lazy val assigned = withStart.select(
        col("__key") +: col("__idx") +: col("__s0") +: valueCols.map(col) :+ packed: _*)
      .select(col("__key") +: pick(col("__p"), specW).as("__w") +:
        startOf(col("__p"), col("__s0"), specSt).as("__seg_start") +:
        col("__idx") +: valueCols.map(col): _*)

    // the pivot groups on the key-relative offset k·st (+ w), not on a
    // float-summed `s0 + …` whose 1-ulp wobble would split a row that
    // integer-valued windows and strides share; `s0` is added back once,
    // after the merge. One window anchors as the single-series engine does.
    val oneAnchor = graft.segment.Segmenter.anchor(windowIdx)
    val anchorOff = windowIdx match {
      case "end"    => col("__koff") + col("__w")
      case "middle" => col("__koff") + col("__w") / 2
      case _        => col("__koff")
    }

    // FUSED maskable-aggregate path (r19, the `maskable` scaladoc): the
    // per-(w, seg) aggregate, the segments⋈aggregate empty-window join and
    // the (key, anchor) pivot collapse into ONE aggregate keyed directly
    // on (key, anchorOff), with the segment grid union'd in as null-valued
    // existence fillers. Same group set, same anchorOff doubles, same
    // output names/order; plan shape 4 exchange-bearing stages → 1.
    if (fuseOk) {
      val exploded = withStart.select(
          col("__key") +: col("__s0") +: packed +: valueCols.map(col): _*)
        .select(col("__key") +: pick(col("__p"), specW).as("__w") +:
          koffOf(col("__p"), specSt).as("__koff") +:
          col("__s0") +: valueCols.map(col): _*)
      val filler = segments.select(
        col("__key") +: col("__w") +: col("__koff") +: col("__s0") +:
          valueCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)): _*)
      val outPairs = for {
        (win, _) <- specs
        (c, f) <- unary
      } yield {
        val isW = col("__w") === lit(win.amount)
        // registry funcs ignore the index argument (maskable contract)
        val masked = f.agg(lit(null), when(isW, col(c)))
        val existsW = max(when(isW, lit(1)))
        val guarded = f.emptyValue match {
          case Some(ev) => when(existsW === 1, coalesce(masked, ev))
          case None     => when(existsW === 1, masked)
        }
        val n = Win.outputName(Seq(c), f.name, win.render)
        (guarded.as(n), n)
      }
      val outCols = outPairs.map(_._1)
      val fusedNames = outPairs.map(_._2)
      require(fusedNames.distinct.length == fusedNames.length,
        "duplicate output names: " +
          fusedNames.diff(fusedNames.distinct).mkString(", "))
      return exploded.unionByName(filler)
        .withColumn("__aoff", anchorOff)
        .groupBy("__key", "__s0", "__aoff")
        .agg(outCols.head, outCols.tail: _*)
        .select(col("__key").as(keyCol) +:
          series.restoreIdx(col("__s0") + col("__aoff")).as(idxCol) +:
          fusedNames.map(n => col(s"`$n`")): _*)
    }

    // Keyed window-level sampling gate — the single-series windowKeep's
    // twin (FeatureCollection.windowKeepPrune) per (key, window, start):
    // the explode is pruned BEFORE the aggregate, so keyed super-linear
    // members never see unkept windows. The anchor handed to the predicate
    // is the exact value the output restores.
    val anchor = if (pivot) col("__s0") + anchorOff else oneAnchor
    val segKeys = Seq("__key", "__w", "__seg_start")
    val (assignedG, segmentsG) = windowKeep match {
      case Some(keep) =>
        FeatureCollection.windowKeepPrune(assigned, segments, segKeys,
          col(valueCols.head), series.restoreIdx(anchor), keep)
      case None => (assigned, segments)
    }

    // 4. ONE fused aggregate across all windows, empties restored per window
    case class Feat(base: String, fname: String, empty: Option[Column],
                    outputNames: Option[Seq[String]], seriesNames: Seq[String],
                    agg: Column)
    val feats =
      unary.zipWithIndex.map { case ((c, f), i) =>
        Feat(s"__f$i", f.name, f.emptyValue, f.outputNames, Seq(c),
          f.agg(col("__idx"), col(c)))
      } ++ nary.zipWithIndex.map { case ((cs, f), i) =>
        Feat(s"__n$i", f.name, f.emptyValue, f.outputNames, cs,
          f.agg(col("__idx"), cs.map(col)))
      }
    val aggs = feats.map(f => f.agg.as(f.base))
    var agged = segmentsG.join(
      assignedG.groupBy(segKeys.map(col): _*).agg(aggs.head, aggs.tail: _*),
      segKeys, "left")
    feats.foreach { f =>
      f.empty.foreach { ev =>
        agged = agged.withColumn(f.base, coalesce(col(f.base), ev))
      }
    }

    // multi-output functions return a struct — each declared output gets
    // its own W10-named column (same rule as the main path)
    val outs = for {
      (win, _) <- specs; f <- feats
      (n, src) <- Win.outputColumns(f.seriesNames, f.fname, f.outputNames,
        win.render, col(f.base))
    } yield (win.amount, src, n)
    val outNames = outs.map(_._3)
    require(outNames.distinct.length == outNames.length,
      "duplicate output names: " +
        outNames.diff(outNames.distinct).mkString(", "))
    if (!pivot)
      return agged.select(col("__key").as(keyCol) +:
        series.restoreIdx(anchor).as(idxCol) +:
        outs.map { case (_, src, n) => src.as(n) }: _*)

    // 5. pivot windows into columns on the shared (key, anchor) row —
    // exactly one aggregated row per (key, window, anchor), so max() just
    // selects it
    val pivotAggs = min(col("__s0")).as("__s0") +: outs.map { case (w, src, n) =>
      max(when(col("__w") === lit(w), src)).as(n) }
    agged.withColumn("__aoff", anchorOff)
      .groupBy("__key", "__aoff")
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .select(col("__key").as(keyCol) +:
        series.restoreIdx(col("__s0") + col("__aoff")).as(idxCol) +:
        outNames.map(n => col(s"`$n`")): _*)
  }

  /** G3 per key — `group_by_consecutive` (reference:
    * feature_collection.py:568-724) applied WITHIN each entity: maximal runs
    * of equal `groupCol` values in index order, per key, one feature row per
    * run with `__start`/`__end` boundaries. The reference covers this shape
    * only by looping the single-series engine over entities; here every
    * window is `partitionBy(key)` — per-key state never crosses executors
    * and no stage sees a global ordering, so keys scale out.
    *
    * Wide-frame input: one row per (key, idx) carrying the grouping column
    * and every value series. Null/NaN group rows are NOT run boundaries
    * (P5): they inherit the enclosing run — run segments span
    * `[start, next_start)`, closed at `last_end + 1 day/unit`, exactly the
    * single-series G3 semantics (feature_collection.py:682-688) — while run
    * boundaries and the group value come from the non-null rows only. Rows
    * before the first run start are dropped.
    */
  def calculateGroupByConsecutive(df: DataFrame, keyCol: String, idxCol: String,
      groupCol: String, unary: Seq[(String, FeatureFunc)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    require(unary.nonEmpty, "no features given")
    val valueCols = unary.map(_._1).distinct
    val gOk = df.schema(groupCol).dataType match {
      case DoubleType | FloatType =>
        col(groupCol).isNotNull && !isnan(col(groupCol))
      case _ => col(groupCol).isNotNull
    }
    val (series, internal) = keyedInput(df, keyCol, idxCol, valueCols.head,
      Nil, when(gOk, col(groupCol)).as("__grp") +: valueCols.map(col))
    // change-flag against the last NON-NULL group value, so null-group rows
    // neither start runs nor break them; inclusive running sum = run id
    val wOrd = Window.partitionBy("__key").orderBy("__idx")
    val prevNN = last(col("__grp"), ignoreNulls = true)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val rows = internal
      .withColumn("__flag", when(col("__grp").isNotNull &&
        (prevNN.isNull || prevNN =!= col("__grp")), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__flag"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .where(col("__run") > 0)
    // boundaries + group value from the GROUP rows only
    val runs = rows.where(col("__grp").isNotNull)
      .groupBy("__key", "__run").agg(
        min(col("__idx")).as("__start"), max(col("__idx")).as("__end"),
        first(col("__grp")).as("__g"))
    // the last run's segment closes at end + ext: trailing null-group rows
    // beyond that are outside every segment (single-series G3 terminator)
    val keyEnd = runs.groupBy("__key").agg(max(col("__end")).as("__kend"))
    // a multi-output function's struct aggregate expands into one column
    // per declared output (the main path's rule)
    val aggNames = unary.map { case (c, f) => Win.outputName(Seq(c), f.name, "manual") }
    val outs = unary.zip(aggNames).flatMap { case ((c, f), n) =>
      Win.outputColumns(Seq(c), f.name, f.outputNames, "manual", col(s"`$n`"))
    }.sortBy(_._1)
    val names = outs.map(_._1)
    require(names.distinct.length == names.length,
      "duplicate output names: " + names.diff(names.distinct).mkString(", "))
    val aggs = unary.zip(aggNames).map { case ((c, f), n) =>
      f.agg(col("__idx"), col(c)).as(n) }
    // plain equi-join on the key (NOT broadcast: one row per key is still
    // millions of rows at scale; AQE may still choose broadcast when small)
    val feats = rows.join(keyEnd, Seq("__key"))
      .where(col("__idx") < col("__kend") + lit(series.domain.runEnd))
      .groupBy("__key", "__run").agg(aggs.head, aggs.tail: _*)
    runs.join(feats, Seq("__key", "__run"), "left")
      .select(col("__key").as(keyCol) +: col("__g").as(groupCol) +:
        outs.map(_._2) :+
        series.restoreIdx(col("__start")).as("__start") :+
        series.restoreIdx(col("__end")).as("__end"): _*)
  }
}
