package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.Kernels
import graft.expr.TemporalKernelUtil.{ABS_DIFF_SUM, AUC, CENTROID_NUM, DISTANCE,
  IDX_DOT, MEAN_ABS_DIFF, MEDIAN_ABS_DIFF, MEDIAN_DIFF, SUM_SQ_DIFF}

/** A named per-window aggregation — the analog of the reference's
  * `FuncWrapper` (reference: tsflex/features/function_wrapper.py:44-143),
  * re-expressed as a Catalyst aggregate-Column builder so the whole feature
  * computation stays inside whole-stage codegen (no Python/Scala closures in
  * the hot path).
  *
  * @param name        feature name used in output columns (W10)
  * @param agg         (idxCol, valueCol) => aggregate Column. Native funcs
  *                    ignore idxCol; index-aware funcs (A4 `input_type =
  *                    pd.Series`) may use it.
  * @param emptyValue  value emitted for empty windows (W7: empty segments
  *                    still produce a row; e.g. `count` → 0, others → null,
  *                    matching `len([]) == 0` vs `np.mean([]) == NaN`).
  * @param outputNames when set, the aggregate returns a STRUCT whose fields
  *                    are these names; the collection expands them into one
  *                    output column each (`FuncWrapper(output_names=[...])`,
  *                    reference: tsflex/features/function_wrapper.py:90-143)
  */
final case class FeatureFunc(
    name: String,
    agg: (Column, Column) => Column,
    emptyValue: Option[Column] = None,
    outputNames: Option[Seq[String]] = None) {

  /** Robust wrapper (A5, reference: tsflex/features/utils.py:153-256
    * `make_robust`): optionally NaN-mask the window values and, when fewer
    * than `minNbSamples` samples remain, return `errorVal` instead.
    *
    * Matches the reference's order of operations exactly
    * (utils.py:189-196): with `passThroughNans` (the reference default) the
    * guard counts the RAW window length — NaNs included — and the function
    * sees the raw values; with masking the NaN filter runs FIRST and the
    * guard counts what survives. Composes with any FeatureFunc, including
    * the `fromArray`/`fromPairs` UDF escape hatches (their collect step
    * drops masked-out rows) and multi-output functions (every output gets
    * `errorVal`, the reference's tuple-of-error_val).
    */
  def robust(minNbSamples: Int, errorVal: Double = Double.NaN,
             passThroughNans: Boolean = true): FeatureFunc = {
    val base = this
    // multi-output: a struct of errorVals, one per declared output
    val errCol: Column = base.outputNames match {
      case Some(os) => struct(os.map(o => lit(errorVal).as(o)): _*)
      case None     => lit(errorVal)
    }
    FeatureFunc(
      name,
      (idx, v) => {
        val masked = when(!isnan(v) && v.isNotNull, v)
        val inner = base.agg(idx, if (passThroughNans) v else masked)
        val guard = if (passThroughNans) count(v) else count(masked)
        // With no minimum the guard is unreachable — skip it so the wrapped
        // function's output dtype survives (len stays BIGINT, not DOUBLE).
        if (minNbSamples <= 0) inner
        else when(guard >= minNbSamples, inner).otherwise(errCol)
      },
      // Empty windows: < minNbSamples samples → errorVal; with no minimum the
      // wrapped function's own empty-window contract is preserved (e.g.
      // len.robust(0) still emits 0 for an empty window).
      emptyValue = if (minNbSamples > 0) Some(errCol) else base.emptyValue,
      outputNames = base.outputNames)
  }

  def as(newName: String): FeatureFunc = copy(name = newName)
}

/** Registry of built-in feature functions — the oracle set the reference
  * test-suite exercises (A6, reference:
  * tests/benchmarks/test_featurecollection.py:11, README.md:49):
  * np.{min,max,mean,median,std,var,sum}, len, scipy skew/kurtosis,
  * np.quantile. Numpy std/var are population (ddof=0); scipy
  * skew/kurtosis use bias=True and Fisher (excess) kurtosis — matching
  * Spark `skewness`/`kurtosis` exactly.
  */
object FeatureFuncs {
  private def f(name: String)(b: Column => Column): FeatureFunc =
    FeatureFunc(name, (_, v) => b(v))

  val min: FeatureFunc = f("min")(org.apache.spark.sql.functions.min)
  val max: FeatureFunc = f("max")(org.apache.spark.sql.functions.max)
  val mean: FeatureFunc = f("mean")(avg)
  val median: FeatureFunc = f("median")(v => pctlSorted(v, 0.5))
  val std: FeatureFunc = f("std")(stddev_pop) // numpy default ddof=0
  val variance: FeatureFunc = f("var")(var_pop)
  val sum: FeatureFunc = f("sum")(v => org.apache.spark.sql.functions.sum(v.cast("double")))
  val len: FeatureFunc =
    FeatureFunc("len", (_, v) => count(v), emptyValue = Some(lit(0L)))
  val skew: FeatureFunc = f("skew")(skewness) // scipy bias=True == Spark
  val kurt: FeatureFunc = f("kurtosis")(kurtosis) // Fisher excess, biased

  def quantile(q: Double): FeatureFunc =
    f(s"quantile_$q")(v => pctlSorted(v, q))

  /** Exact percentile via the one-sort native kernel
    * ([[graft.expr.Kernels.percentiles]]) instead of Spark's `percentile`
    * aggregate: each `percentile(v, q)` call is an independent
    * OpenHashMap-buffered aggregate with its own boxed sort per window —
    * the q71 100× ablation measured iqr's two such aggregates at ~80% of
    * the whole fused aggregate's executor CPU. The collected feed is one
    * shared `collect_list` (identical aggregate expressions dedup into a
    * single buffer), and the kernel's interpolation is bit-pinned to
    * `PercentileBase.getPercentile` (PercentileKernelsSpec differential).
    */
  private def pctlSorted(v: Column, q: Double): Column =
    element_at(Kernels.percentiles(Seq(q))(collect_list(v.cast("double"))), 1)

  /** Multi-output function from named sub-aggregates (one-to-many, A3):
    * computes all sub-aggregates in one pass, emits one column per name.
    */
  def multi(name: String, outs: Seq[(String, Column => Column)]): FeatureFunc =
    FeatureFunc(name,
      (_, v) => struct(outs.map { case (o, b) => b(v).as(o) }: _*),
      outputNames = Some(outs.map(_._1)))

  /** min+max in a single windowed pass (two output columns). */
  val minMax: FeatureFunc = multi("minmax", Seq(
    "mm_min" -> (v => org.apache.spark.sql.functions.min(v)),
    "mm_max" -> (v => org.apache.spark.sql.functions.max(v))))

  /** Index-ordered first/last values in the window. */
  val firstByIdx: FeatureFunc = FeatureFunc("first", (idx, v) => min_by(v, idx))
  val lastByIdx: FeatureFunc = FeatureFunc("last", (idx, v) => max_by(v, idx))

  /** Count of values equal to a category (A7 categorical features,
    * reference: tests/test_features_feature_collection.py:1965-2001).
    */
  def countEq(cat: String): FeatureFunc =
    FeatureFunc(s"count_$cat", (_, v) => org.apache.spark.sql.functions.sum(
      when(v === lit(cat), 1L).otherwise(0L)), emptyValue = Some(lit(0L)))

  /** Sum of absolute successive differences, index-ordered — index-aware
    * example (A7 time-valued features).
    */
  val absDiffSum: FeatureFunc = FeatureFunc("abs_diff_sum", (idx, v) => {
    // <2-sample windows short-circuit to 0 (a single sample has no
    // successive differences); the fold is a temporal_fold primitive pass
    when(count(v) <= 1, lit(0.0)).otherwise(
      Kernels.temporalFold(ABS_DIFF_SUM)(sortedVals(idx, v)))
  }, emptyValue = Some(lit(0.0)))

  /** Slope of the least-squares line of value against index. */
  val slope: FeatureFunc = FeatureFunc("slope", (idx, v) => regr_slope(v, idx))

  /** Root-mean-square. */
  val rms: FeatureFunc = f("rms")(v => sqrt(avg(v * v)))

  /** Arbitrary Scala function over the index-sorted window values — the UDF
    * escape hatch (A1/A4). Buffers the window in the shared sorted-collect
    * aggregate; keep windows modest when using this path.
    */
  def fromArray(name: String, fn: Seq[Double] => Double): FeatureFunc = {
    val u = udf((arr: Seq[Double]) => fn(arr))
    FeatureFunc(name, (idx, v) => {
      // null-valued rows (e.g. masked out by `robust`) are never
      // collected — the UDF never sees them
      u(sortedVals(idx, v))
    })
  }

  /** Arbitrary Scala function over the index-sorted (index, value) PAIRS —
    * the `input_type = pd.Series` analog (A4: the function sees the window's
    * index too, e.g. for irregular-sampling-aware features).
    */
  def fromPairs(name: String, fn: Seq[(Double, Double)] => Double): FeatureFunc = {
    val u = udf((idxs: Seq[Double], vals: Seq[Double]) => fn(idxs.zip(vals)))
    FeatureFunc(name, (idx, v) => {
      // the shared sorted-collect buffer's index and value arrays; values
      // cast to the UDF's element type (a no-op Spark folds away on a
      // DOUBLE series, so the buffer still dedups with sortedVals)
      val s = sortedCollect(idx, v.cast("double"))
      u(s.getField("i"), s.getField("v"))
    })
  }

  /** Count of distinct values in the window. Spark plans distinct
    * aggregates as a two-phase expand — still one shuffle with partial
    * aggregation on the (segment, value) pairs.
    */
  val nUnique: FeatureFunc =
    FeatureFunc("nunique", (_, v) => count_distinct(v), emptyValue = Some(lit(0L)))

  // ---- public feature-function stock (the integrations analog ------------
  // reference: tsflex/features/integrations.py:15-337 wraps seglearn /
  // tsfresh / tsfel feature sets; these are the most-used members of that
  // stock, re-expressed as native aggregate Columns — the order-dependent
  // ones fold over the index-sorted window array (the absDiffSum pattern),
  // so everything below stays a single fused per-segment aggregate).

  /** The window's index-sorted values and index, null values dropped
    * (`struct<v, i>`; shared plumbing for the order-dependent stock
    * functions). r18: a native sorted-collect aggregate — primitive
    * buffers, one long-key merge sort at eval, and guaranteed
    * cross-descriptor sharing through aggregate dedup — replaces
    * `transform(array_sort(collect_list(struct(i, v))), _.v)`, whose lambda
    * chains were re-collected and re-sorted per descriptor (no CSE) with an
    * interpreted struct comparator. The same buffer also yields the sorted
    * index (`_.i`), so index-aware members share it. Ordering, null and
    * index-bit semantics are pinned identical in SortedCollectSpec.
    */
  private def sortedCollect(idx: Column, v: Column): Column =
    graft.expr.CollectSortedVals(idx, v)

  /** The values field of [[sortedCollect]]. */
  private def sortedVals(idx: Column, v: Column): Column =
    sortedCollect(idx, v).getField("v")

  /** tsfresh `abs_energy`: Σ v² (the dot product of the window with itself). */
  val absEnergy: FeatureFunc = FeatureFunc("abs_energy",
    (_, v) => org.apache.spark.sql.functions.sum(v * v),
    emptyValue = Some(lit(0.0)))

  /** Interquartile range (tsfel/seglearn stock): q75 − q25, linear
    * interpolation (np.quantile / DuckDB quantile_cont semantics).
    */
  val iqr: FeatureFunc =
    // one collected buffer, ONE sort, both quantiles interpolated in the
    // kernel (see pctlSorted — this was 80% of q71's window CPU at 100×)
    f("iqr")(v => Kernels.percentileSpan(0.25, 0.75)(collect_list(v.cast("double"))))

  /** tsfresh `number_crossing_m`: count of index-consecutive pairs strictly
    * straddling `m` (np.diff(x > m) != 0 — touching `m` is not a crossing).
    */
  def crossings(m: Double): FeatureFunc = FeatureFunc(s"crossings_$m", (idx, v) =>
    when(count(v) <= 1, lit(0L)).otherwise(
      Kernels.crossings(sortedVals(idx, v), lit(m))),
    emptyValue = Some(lit(0L)))

  /** seglearn `zero_crossings` equivalent: crossings of 0. */
  val zeroCrossings: FeatureFunc = crossings(0.0).as("zero_crossings")

  /** seglearn `mean_crossings`: crossings of the window's own mean.
    *
    * The mean is the NATIVE `avg` aggregate, evaluated once per window and
    * passed to the kernel as its scalar child (same rule as [[autocorr]]
    * and [[ratioBeyondRSigma]]); the crossing count itself is one
    * [[graft.expr.TemporalKernelUtil.crossings]] primitive pass with Spark's NaN-greatest
    * `>` semantics — the r16 kernels replaced this stock's Catalyst HOF
    * chains (a boxed element per fold step).
    */
  val meanCrossings: FeatureFunc = FeatureFunc("mean_crossings", (idx, v) =>
    when(count(v) <= 1, lit(0L)).otherwise(
      Kernels.crossings(sortedVals(idx, v), avg(v))),
    emptyValue = Some(lit(0L)))

  /** tsfresh `autocorrelation` at `lag`:
    * Σ_{t≤n−lag} (x_t − μ)(x_{t+lag} − μ) / ((n − lag) · σ²_pop), index-ordered;
    * NULL when the window is shorter than `lag + 1` or has zero variance.
    */
  def autocorr(lag: Int): FeatureFunc = {
    require(lag >= 1, "autocorrelation lag must be >= 1")
    FeatureFunc(s"autocorr_$lag", (idx, v) => {
      val n = count(v) // native
      // mean and variance stay NATIVE aggregates (one eval per window);
      // the lagged-product fold is a primitive kernel pass
      val varp = var_pop(v)
      val cov = Kernels.autocorrCov(lag)(sortedVals(idx, v), avg(v))
      when(n > lit(lag) && varp > 0, cov / varp)
    })
  }

  /** tsfresh `binned_entropy`: Shannon entropy (nats) of the histogram of
    * the window over `bins` equal-width bins spanning [min, max]; a
    * constant window (min == max) has one occupied bin → entropy 0.
    */
  def binnedEntropy(bins: Int): FeatureFunc = {
    require(bins >= 1, "binned_entropy needs >= 1 bin")
    FeatureFunc(s"binned_entropy_$bins", (idx, v) =>
      // histogram counts are order-independent: plain collect (no sort),
      // then ONE primitive kernel pass computes min/max, the per-bin
      // counts and the entropy — the previous Catalyst fold rebuilt the
      // per-bin counter ARRAY once per element (the hist_counts problem)
      when(count(v) > 0,
        Kernels.binnedEntropy(bins)(collect_list(v.cast("double")))))
  }

  /** tsfresh `cid_ce` (complexity-invariant distance, unnormalized):
    * sqrt(Σ (x_{t+1} − x_t)²) over the index-sorted window; NULL for
    * windows shorter than 2.
    */
  val cidCe: FeatureFunc = FeatureFunc("cid_ce", (idx, v) =>
    when(count(v) >= 2, sqrt(Kernels.temporalFold(SUM_SQ_DIFF)(sortedVals(idx, v)))))

  /** tsfresh `number_peaks` with support 1: strict local maxima (greater
    * than BOTH immediate neighbors, boundaries excluded).
    */
  val numberPeaks1: FeatureFunc = FeatureFunc("number_peaks_1", (idx, v) =>
    // number_peaks at support 1 IS neighbourhood_peaks(1): strictly
    // greater than both immediate neighbours, boundaries excluded —
    // served by the same primitive kernel (Java NaN comparisons; NaN
    // windows are outside the oracle contract, see the module note)
    Kernels.neighbourhoodPeaks(1)(sortedVals(idx, v)),
    emptyValue = Some(lit(0L)))

  /** tsfresh `longest_strike_above_mean`: length of the longest run of
    * consecutive (index-ordered) values strictly above the window mean
    * (native avg as the kernel's scalar child, see [[meanCrossings]]).
    */
  val longestStrikeAboveMean: FeatureFunc =
    FeatureFunc("longest_strike_above_mean", (idx, v) =>
      Kernels.longestStrike(sortedVals(idx, v), avg(v)),
      emptyValue = Some(lit(0L)))

  /** tsfresh `ratio_beyond_r_sigma`: fraction of window values with
    * |x − μ| > r·σ_pop; NULL on empty windows.
    */
  def ratioBeyondRSigma(r: Int): FeatureFunc = {
    require(r >= 1, "sigma multiple must be >= 1")
    FeatureFunc(s"beyond_${r}sigma", (idx, v) =>
      when(count(v) > 0, Kernels.ratioBeyond(r.toDouble)(sortedVals(idx, v),
        avg(v), stddev_pop(v))))
  }

  // ---- entropy tranche (the reference integration surface's antropy /
  // nolds wrappers: perm_entropy, sample_entropy / sampen — reference:
  // tsflex/features/integrations.py:15-337, exercised by
  // tests/test_features_integration.py:360-430) ------------------------------

  /** Bandt–Pompe permutation entropy, delay 1 (antropy `perm_entropy`,
    * integrations.py's most-used entropy): each `order`-tuple of the
    * index-sorted window maps to its stable-argsort pattern; the feature is
    * the Shannon entropy (bits) of the pattern distribution, optionally
    * normalized by log2(order!). NULL when the window has fewer than
    * `order` samples; a monotone (single-pattern) window gives 0.
    *
    * The pattern histogram is sort + run fold — H = log2(N) − Σ c·log2(c)/N
    * — so the fold's lambda touches only its carry and element (no embedded
    * aggregate or window array; see [[meanCrossings]]): O(n log n) per
    * window, single fused aggregate pass.
    */
  def permutationEntropy(order: Int = 3,
                         normalize: Boolean = false): FeatureFunc = {
    require(order >= 2 && order <= 6,
      "permutation entropy order must be in [2, 6]")
    val name = s"perm_entropy_$order" + (if (normalize) "_norm" else "")
    // native kernel (see the weightedPermutationEntropy note — the HOF
    // tuple/sort/fold chain is per-element-allocating and uncodegenable)
    FeatureFunc(name, (idx, v) =>
      Kernels.permEntropy(order, normalize)(sortedVals(idx, v)))
  }

  /** Binned sample-entropy APPROXIMATION, −ln(A/B): A/B count template
    * pairs of length m+1 / m that share every quantization cell
    * (cell = floor(x / width)). Same-cell templates are within Chebyshev
    * distance `width` — the classic SampEn match with r = width — but
    * near matches straddling a cell boundary are missed, so A and B are
    * LOWER bounds and the ratio is an approximation of Richman–Moorman
    * SampEn (documented deviation; both template sets run over all their
    * sliding positions). NULL when width ≤ 0 (constant window under the
    * std-factor variant) or either count is 0.
    *
    * Scale shape: quantize → lexicographically index-sorted templates →
    * run-fold of C(run, 2), twice (m and m+1), inside the native
    * [[graft.expr.EntropyKernelUtil.sampenBinned]] kernel — O(n log n) per window, one fused
    * aggregate, no pairwise O(n²) loop (the reason the exact Chebyshev
    * SampEn is NOT offered as a distributed aggregate).
    */
  private def sampEnImpl(name: String, m: Int,
                         width: (Column, Column) => Column): FeatureFunc =
    // native kernel (index-sorted templates, no per-template arrays) —
    // the quantize → m-tuple-array → array_sort → run-fold Catalyst chain
    // allocated an array per template and a struct per fold step (the
    // q90/q94 100× cost); width stays a Column so the absolute, rFactor·σ
    // and carried-width-column variants all route through unchanged
    FeatureFunc(name, (idx, v) =>
      Kernels.sampenBinned(m)(sortedVals(idx, v),
        width(idx, v).cast("double")))

  /** Hjorth mobility and complexity (antropy `hjorth_params`, the second
    * FuncWrapper-required member of the reference integration surface —
    * tests/test_features_integration.py:375-380): with dx/ddx the first and
    * second index-ordered differences,
    * mobility = sqrt(var(dx)/var(x)), complexity = sqrt(var(ddx)/var(dx))
    * / mobility — all variances population. One fused aggregate emitting
    * BOTH outputs (multi-output struct, the reference's
    * output_names=["hjorth_mobility","hjorth_complexity"]); the difference
    * arrays come from slice+zip_with (never element_at-in-lambda), their
    * variances from single [[arrVarPop]] folds. NULL when a needed
    * variance is 0 or the window is too short (< 2 for mobility, < 3 for
    * complexity).
    */
  val hjorthParams: FeatureFunc = {
    FeatureFunc("hjorth", (idx, v) => {
      // r18: the dx/ddx variances come from one primitive hjorth_fold pass
      // over the sorted window (the replaced slice+zip_with arrays and
      // their aggregate-lambda folds are kept verbatim in SortedCollectSpec
      // and pinned bit-identical)
      val hj = Kernels.hjorthFold(sortedVals(idx, v))
      val vx = var_pop(v) // native: order-free, O(1) reference
      val vdx = hj.getField("vdx")
      val vddx = hj.getField("vddx")
      val mob = when(vx > 0 && vdx.isNotNull, sqrt(vdx / vx))
      val comp = when(vdx > 0 && vddx.isNotNull && mob.isNotNull,
        sqrt(vddx / vdx) / mob)
      struct(mob.as("hjorth_mobility"), comp.as("hjorth_complexity"))
    }, outputNames = Some(Seq("hjorth_mobility", "hjorth_complexity")))
  }

  /** Petrosian fractal dimension (antropy `petrosian_fd`, part of the
    * reference integration surface's `ant.fractal.all` sweep):
    * log10(n) / (log10(n) + log10(n / (n + 0.4·N_Δ))) with N_Δ the number
    * of sign changes in the first difference. One fused aggregate: the
    * sign array folds over slice-zipped difference pairs; n is the native
    * count. A constant window gives exactly 1.0; NULL for n < 2.
    */
  val petrosianFd: FeatureFunc = FeatureFunc("petrosian_fd", (idx, v) => {
    val n = count(v).cast("double") // native: O(1) reference
    // r18: N_Δ is one primitive petrosian_nd pass (the replaced signum
    // array + zip_with/aggregate fold lives on in SortedCollectSpec,
    // pinned bit-identical, Spark `=!=` NaN/−0.0 semantics included)
    val nd = Kernels.petrosianNd(sortedVals(idx, v))
    when(n >= 2,
      log10(n) / (log10(n) + log10(n / (n + lit(0.4) * nd))))
  })

  /** Katz fractal dimension (antropy `katz_fd`): with L = Σ|Δx| the path
    * length, d = max|x_i − x_1| the farthest excursion from the first
    * sample, and n the number of steps, KFD = log10(n) / (log10(n) +
    * log10(d/L)). L is one slice-zipped fold; d needs no array at all —
    * max|x − x₁| = max(max(x) − x₁, x₁ − min(x)) from three native
    * aggregates (min_by gives x₁ without a second scan). NULL for
    * degenerate windows (n < 2, zero path length, zero excursion —
    * antropy's nan cases).
    */
  val katzFd: FeatureFunc = FeatureFunc("katz_fd", (idx, v) => {
    // r18: L rides the existing ABS_DIFF_SUM primitive fold (identical
    // |Δ| left-to-right accumulation — TemporalFoldSpec pins that mode;
    // the replaced transform+aggregate chain was the same operations)
    val L = Kernels.temporalFold(ABS_DIFF_SUM)(sortedVals(idx, v))
    val x1 = min_by(v, idx)
    val d = greatest(org.apache.spark.sql.functions.max(v) - x1,
      x1 - org.apache.spark.sql.functions.min(v))
    val n = (count(v) - 1).cast("double")
    when(n >= 1 && L > 0 && d > 0,
      log10(n) / (log10(n) + log10(d / L)))
  })

  /** Binned approximate-entropy APPROXIMATION, φ(m) − φ(m+1) with
    * φ(mm) = (1/N)Σᵢ ln(Cᵢ) over the mm-length templates, Cᵢ = (count of
    * templates sharing template i's quantization-cell code, self
    * included)/N — the same same-cell match relaxation (and the same
    * quantize → templates → sort → run-fold machinery) as [[sampEnImpl]],
    * applied to Pincus ApEn instead of Richman–Moorman SampEn. Computed
    * per length as (Σ_runs c·ln c)/N − ln N, so the fold's lambda touches
    * only its carry. A constant window gives exactly 0; NULL when
    * width ≤ 0 or the window is shorter than m+1.
    */
  private def apEnImpl(name: String, m: Int,
                       width: (Column, Column) => Column): FeatureFunc =
    // native kernel — see the sampEnImpl note (same machinery, φ fold)
    FeatureFunc(name, (idx, v) =>
      Kernels.apenBinned(m)(sortedVals(idx, v),
        width(idx, v).cast("double")))

  /** [[apEnImpl]] with tolerance r = rFactor · σ_pop (antropy default). */
  def approxEntropy(m: Int = 2, rFactor: Double = 0.2): FeatureFunc = {
    require(m >= 1, "approximate entropy template length must be >= 1")
    require(rFactor > 0, "tolerance factor must be > 0")
    apEnImpl(s"apen_${m}_${rFactor}sigma", m,
      (_, v) => stddev_pop(v) * lit(rFactor))
  }

  /** [[apEnImpl]] with a FIXED absolute tolerance (the oracle-twin
    * variant, bit-identical across engines). */
  def approxEntropyAbs(m: Int, r: Double): FeatureFunc = {
    require(m >= 1, "approximate entropy template length must be >= 1")
    require(r > 0, "tolerance must be > 0")
    apEnImpl(s"apen_${m}_r$r", m, (_, _) => lit(r))
  }

  /** [[sampEnImpl]] with antropy's default tolerance r = rFactor · σ_pop
    * (the window's own population std, a native aggregate referenced O(1)
    * inside the quantize lambda).
    */
  def sampleEntropyApprox(m: Int = 2, rFactor: Double = 0.2): FeatureFunc = {
    require(m >= 1, "sample entropy template length must be >= 1")
    require(rFactor > 0, "tolerance factor must be > 0")
    sampEnImpl(s"sampen_${m}_${rFactor}sigma", m,
      (_, v) => stddev_pop(v) * lit(rFactor))
  }

  /** [[sampEnImpl]] with a FIXED absolute tolerance — bit-identical across
    * engines (no std in the bin boundary), the oracle-twin variant.
    */
  def sampleEntropyApproxAbs(m: Int, r: Double): FeatureFunc = {
    require(m >= 1, "sample entropy template length must be >= 1")
    require(r > 0, "tolerance must be > 0")
    sampEnImpl(s"sampen_${m}_r$r", m, (_, _) => lit(r))
  }

  /** [[sampEnImpl]] with the tolerance read from a COLUMN (constant within
    * each group, e.g. a per-key 0.2·σ computed upstream) — the keyed
    * multiscale-entropy building block, where the MSE convention fixes r
    * on the ORIGINAL series once and reuses it at every coarse-grain scale
    * (so the per-scale window cannot derive it from its own values).
    */
  def sampleEntropyApproxWidthCol(m: Int, widthCol: String): FeatureFunc = {
    require(m >= 1, "sample entropy template length must be >= 1")
    sampEnImpl(s"sampen_${m}_wcol", m,
      (_, _) => org.apache.spark.sql.functions.first(col(widthCol)))
  }

  /** Spectral entropy of the window (Shannon entropy of the DC-excluded
    * periodogram — the antropy `spectral_entropy` family member; see
    * [[graft.expr.SpectralEntropyUtil]] for semantics, bin convention and the
    * deliberate O(n²)-per-window DFT cost note). Null for windows shorter
    * than 4 samples or with zero oscillatory energy.
    */
  def spectralEntropy(normalize: Boolean = false): FeatureFunc =
    FeatureFunc(
      if (normalize) "spectral_entropy_norm" else "spectral_entropy",
      (idx, v) => Kernels.spectralEntropy(normalize)(sortedVals(idx, v)))

  /** antropy `svd_entropy` (time-delay-embedding singular-value entropy,
    * bits; see [[graft.expr.EntropyKernelUtil.svdEntropy]] for semantics
    * and the order-3 closed-form/Jacobi split).
    */
  def svdEntropy(order: Int = 3, delay: Int = 1,
                 normalize: Boolean = false): FeatureFunc = {
    require(order >= 2 && order <= 6, "svd_entropy order must be in [2, 6]")
    require(delay >= 1, "svd_entropy delay must be >= 1")
    val name = s"svd_entropy_$order" + (if (normalize) "_norm" else "")
    FeatureFunc(name,
      (idx, v) => Kernels.svdEntropy(order, delay,
        normalize)(sortedVals(idx, v)))
  }

  /** antropy-family `lziv_complexity` over the median-binarized window
    * (LZ76 phrase count; see
    * [[graft.expr.EntropyKernelUtil.lzivComplexity]]).
    */
  def lzivComplexity(normalize: Boolean = false): FeatureFunc =
    FeatureFunc(if (normalize) "lziv_norm" else "lziv",
      (idx, v) => Kernels.lzivComplexity(normalize)(sortedVals(idx, v)))

  /** tsfel `entropy(prob="kde")` — normalized Shannon entropy of the
    * gaussian-KDE sample probabilities (see
    * [[graft.expr.EntropyKernelUtil.kdeEntropy]]; reference surface:
    * tests/test_features_integration.py:247).
    */
  val entropyKde: FeatureFunc = FeatureFunc("entropy_kde",
    (idx, v) => Kernels.kdeEntropy(gauss = false)(sortedVals(idx, v)))

  /** tsfel `entropy(prob="gauss")` — same entropy over the N(mean, std²)
    * pdf at the sample points (reference surface:
    * tests/test_features_integration.py:248).
    */
  val entropyGauss: FeatureFunc = FeatureFunc("entropy_gauss",
    (idx, v) => Kernels.kdeEntropy(gauss = true)(sortedVals(idx, v)))

  /** pyentrp `multiscale_permutation_entropy`: one output per scale
    * (see [[graft.expr.EntropyKernelUtil.mspe]]).
    */
  def multiscalePermEntropy(order: Int, maxScale: Int): FeatureFunc = {
    require(order >= 2 && order <= 6, "mspe order must be in [2, 6]")
    require(maxScale >= 1 && maxScale <= 16, "mspe scale must be in [1, 16]")
    FeatureFunc(s"mspe$order",
      (idx, v) => Kernels.mspe(order, maxScale)(sortedVals(idx, v)),
      outputNames = Some((1 to maxScale).map(s => s"mspe_$s")))
  }

  /** pyentrp-family `multiscale_entropy` with EXACT Richman–Moorman
    * sample entropy at fixed absolute tolerance (the oracle-robust MSE
    * convention, like the keyed q99d variant; see
    * [[graft.expr.EntropyKernelUtil.mseExact]]). msen_1 is plain exact
    * SampEn of the window — the exact-parity sibling of the O(n log n)
    * [[sampleEntropyApprox]] approximation.
    */
  def multiscaleEntropyExact(m: Int, r: Double, maxScale: Int): FeatureFunc = {
    require(m >= 1, "sample entropy template length must be >= 1")
    require(r > 0, "tolerance must be > 0")
    require(maxScale >= 1 && maxScale <= 16, "msen scale must be in [1, 16]")
    FeatureFunc("msen",
      (idx, v) => Kernels.mseExact(m, r, maxScale)(sortedVals(idx, v)),
      outputNames = Some((1 to maxScale).map(s => s"msen_$s")))
  }

  /** tsfel spectral-shape battery (13 outputs from ONE periodogram pass;
    * see [[graft.expr.SpectralShapeUtil]] for members and conventions).
    */
  def spectralShape(fs: Double): FeatureFunc = {
    require(fs > 0, "sampling rate must be > 0")
    FeatureFunc("spectral_shape",
      (idx, v) => Kernels.spectralShape(fs)(sortedVals(idx, v)),
      outputNames = Some(graft.expr.SpectralShapeUtil.names))
  }

  // ---- tsfresh combiner members (r11 tranche 4 — the reference's
  // `tsfresh_combiner_wrapper` surface: index_mass_quantile, linear_trend,
  // linear_trend_timewise, spkt_welch_density; reference:
  // tsflex/features/integrations.py:175-213, exercised at
  // tests/test_features_integration.py:286-316) ----------------------------

  /** tsfresh `index_mass_quantile(q)`: relative index (i+1)/n at which the
    * cumulative |x| mass first reaches q·Σ|x| — one fold carrying
    * (position, cumsum, answer); Σ|x| and n are native aggregates
    * referenced O(1) inside the lambda. NULL when the window carries zero
    * absolute mass (tsfresh's 0/0).
    */
  def indexMassQuantile(q: Double): FeatureFunc = {
    require(q > 0 && q < 1, "mass quantile must be in (0, 1)")
    // r17: the struct-accumulator HOF fold (3 boxed fields rebuilt per
    // element, and q105 runs three of these per window) moved to the
    // primitive prefix-sum kernel; the |v| total stays a NATIVE sum
    // aggregate child, so the q·s threshold — and therefore the hit
    // index — is bit-identical to the replaced fold
    FeatureFunc(s"index_mass_q$q", (idx, v) => {
      val vals = sortedVals(idx, v)
      val s = org.apache.spark.sql.functions.sum(abs(v))
      when(s > 0, Kernels.indexMass(q)(vals, s))
    })
  }

  /** tsfresh `linear_trend` (attrs slope/intercept/stderr): OLS of value
    * against the 0-based sample position, one multi-output aggregate. Σt
    * and Σt² come from the closed forms on n (positions are 0..n−1 by
    * construction); Σt·v is the only fold. stderr is scipy linregress's
    * slope standard error √((Syy/Sxx − slope²)·Sxx/(n−2))/Sxx, computed
    * as √((Syy − slope·Sxy)/((n−2)·Sxx)). Slope/intercept need n ≥ 2,
    * stderr n ≥ 3; all NULL on zero index variance.
    */
  val linearTrend: FeatureFunc = {
    val outs = Seq("lt_slope", "lt_intercept", "lt_stderr")
    FeatureFunc("linear_trend", (idx, v) => {
      val vals = sortedVals(idx, v)
      val n = count(v).cast("double")
      val sv = org.apache.spark.sql.functions.sum(v)
      val svv = org.apache.spark.sql.functions.sum(v * v)
      // r17: Σt·v as a primitive left-to-right pass (bit-identical order
      // to the replaced transform+aggregate, minus its per-window boxed
      // product array)
      val stv = Kernels.temporalFold(IDX_DOT)(vals)
      val st = n * (n - 1) / 2.0
      val stt = (n - 1) * n * (lit(2.0) * n - 1) / 6.0
      val sxx = stt - st * st / n
      val sxy = stv - st * sv / n
      val syy = svv - sv * sv / n
      val slope = sxy / sxx
      val icept = (sv - slope * st) / n
      val resid = syy - slope * sxy
      val se = sqrt(resid / ((n - 2) * sxx))
      struct(
        when(n >= 2 && sxx > 0, slope).as("lt_slope"),
        when(n >= 2 && sxx > 0, icept).as("lt_intercept"),
        when(n >= 3 && sxx > 0 && resid >= 0, se).as("lt_stderr"))
    }, outputNames = Some(outs))
  }

  /** tsfresh `linear_trend_timewise` (attrs slope/intercept): OLS of value
    * against WALL-CLOCK hours since the window's first sample (the
    * index-aware sibling of [[linearTrend]] — irregular sampling changes
    * the regressor). `__idx` is epoch micros as DOUBLE (exact integers),
    * so Δµs is exact and the single µs→h division is identical on both
    * engines.
    */
  val linearTrendTimewise: FeatureFunc = {
    val outs = Seq("ltt_slope", "ltt_intercept")
    FeatureFunc("linear_trend_timewise", (idx, v) => {
      // the index-sorted (i, v) window is the shared sorted-collect buffer
      // — the same aggregate the value-only members read, so a bucket
      // holding both plans ONE buffer and ONE sort
      val s = sortedCollect(idx, v)
      val tmin = org.apache.spark.sql.functions.min(idx)
      val n = count(v).cast("double")
      val sv = org.apache.spark.sql.functions.sum(v)
      // r17: the (Σt, Σt², Σt·v) struct-fold moved to the primitive
      // ltt_fold pass (bit-identical accumulation order; tmin stays the
      // native min aggregate child). The OLS finish reads the kernel's
      // struct via getField — ltt_fold carries no lambda, so codegen
      // subexpression elimination merges the references (the old HOF fold
      // was kept single-reference precisely because LAMBDA chains get no
      // CSE; a plain expression does).
      val a = Kernels.lttFold(s.getField("i"), s.getField("v"), tmin)
      val st = a.getField("st")
      val stt = a.getField("stt")
      val stv = a.getField("stv")
      val sxx = stt - st * st / n
      val sxy = stv - st * sv / n
      val slope = sxy / sxx
      val icept = (sv - slope * st) / n
      struct(
        when(n >= 2 && sxx > 0, slope).as("ltt_slope"),
        when(n >= 2 && sxx > 0, icept).as("ltt_intercept"))
    }, outputNames = Some(outs))
  }

  /** tsfresh `spkt_welch_density` at coefficients 0..nCoef−1, reported as
    * relative density (see [[graft.expr.WelchRelUtil]] for the scipy
    * conventions and the normalization rationale).
    */
  def welchDensityRel(nCoef: Int): FeatureFunc = {
    require(nCoef >= 1 && nCoef <= 64, "coefficient count must be in [1, 64]")
    FeatureFunc("welch_rel",
      (idx, v) => Kernels.welchRel(nCoef)(sortedVals(idx, v)),
      outputNames = Some(graft.expr.WelchRelUtil.names(nCoef)))
  }

  /** tsfel wavelet battery: Ricker-CWT per-width abs-mean/std/energy +
    * cross-width energy entropy (see [[graft.expr.WaveletUtil]]).
    */
  def wavelet(widths: Seq[Int]): FeatureFunc = {
    require(widths.nonEmpty && widths.forall(w => w >= 1 && w <= 64),
      "wavelet widths must be in [1, 64]")
    FeatureFunc("wavelet",
      (idx, v) => Kernels.wavelet(widths)(sortedVals(idx, v)),
      outputNames = Some(graft.expr.WaveletUtil.names(widths)))
  }

  /** tsfel `mfcc(fs, num_ceps)`: mel filterbank log-energies + orthonormal
    * DCT-II with mean normalization and sinusoidal liftering (see
    * [[graft.expr.MfccUtil]] for the full convention list; reference
    * exercise: tests/test_features_integration.py:256).
    */
  def mfcc(fs: Double, numCeps: Int): FeatureFunc = {
    require(fs > 0, "sampling rate must be > 0")
    FeatureFunc("mfcc",
      (idx, v) => Kernels.mfcc(fs, numCeps)(sortedVals(idx, v)),
      outputNames = Some(graft.expr.MfccUtil.names(numCeps)))
  }

  /** Parametric band-energy ratio + normalized spectral distance on the
    * shared periodogram path (see [[graft.expr.SpectralExtrasUtil]]).
    */
  def spectralBand(fs: Double, lo: Double, hi: Double): FeatureFunc = {
    require(fs > 0 && lo >= 0 && hi > lo, "need fs > 0 and 0 <= lo < hi")
    FeatureFunc("spectral_band",
      (idx, v) => Kernels.spectralExtras(fs, lo, hi)(sortedVals(idx, v)),
      outputNames = Some(graft.expr.SpectralExtrasUtil.names))
  }

  /** tsfel `ecdf_percentile_count`: number of samples ≤ the linearly
    * interpolated q-percentile (np.percentile semantics — the native
    * `percentile` AGGREGATE, whose result is an O(1) attribute reference
    * inside the filter lambda).
    *
    * Deliberately NOT the one-sort kernel the other percentile features
    * use: a scalar-over-collect kernel referenced inside a higher-order
    * lambda is re-evaluated PER ELEMENT (lambdas get no CSE and only
    * AGGREGATES are extracted to attributes) — measured as a ~14× q107
    * CPU blowup at 100× before this was caught (OPTIMIZATION_r18.md §1).
    */
  def ecdfPercCount(q: Double): FeatureFunc = {
    require(q > 0 && q < 1, "ecdf percentile must be in (0, 1)")
    FeatureFunc(s"ecdf_count_$q", (idx, v) => {
      val p = percentile(v, lit(q))
      val vals = sortedVals(idx, v)
      size(filter(vals, x => x <= p)).cast("long")
    }, emptyValue = Some(lit(0L)))
  }

  /** The COMPLETE canonical catch22 battery (all 22 members, three r11
    * tranches) as ONE multi-output aggregate — a single kernel call per
    * window emitting one column per member, the same shape as the
    * reference's `catch22_wrapper(catch22_all)` 22-output FuncWrapper
    * (reference: tsflex/features/integrations.py:282-337). Member
    * semantics, raw-input convention, and per-window cost notes live on
    * [[graft.expr.Catch22Util]].
    *
    * Members evaluate on demand: a query that reads only some output
    * columns gets a kernel narrowed to those members
    * ([[graft.expr.NarrowKernels]]), and the intermediates members share
    * (the ACF, the periodogram) are lazy, built only for a member that
    * needs them. The unread members are never computed.
    */
  val catch22Tranche1: FeatureFunc = FeatureFunc("catch22",
    (idx, v) => Kernels.catch22()(sortedVals(idx, v)),
    outputNames = Some(graft.expr.Catch22Util.names))

  /** The catch24 variant: the same single kernel call emitting the battery
    * plus pycatch22's two extras (DN_Mean, sample-std DN_Spread_Std)
    * appended last — the reference's `catch22_all(catch24=True)` 24-output
    * shape (tests/test_features_integration.py:341-357). Computed inside
    * the one kernel pass, NOT composed from separate aggregates: a
    * composed struct would reference the sorted-window chain 24 times
    * (HOF chains get no codegen CSE). Like [[catch22Tranche1]], it computes
    * only the members a query reads, shared intermediates lazily.
    */
  val catch24Battery: FeatureFunc = FeatureFunc("catch24",
    (idx, v) => Kernels.catch22(catch24 = true)(sortedVals(idx, v)),
    outputNames = Some(graft.expr.Catch22Util.names24))

  // ---- pyentrp completion (r11 tranche 4) ---------------------------------
  // The two members of the reference's pyentrp integration surface
  // (tests/test_features_integration.py:500-540) not yet in the stock:
  // value-frequency Shannon entropy and weighted permutation entropy.

  /** pyentrp `shannon_entropy`: Shannon entropy (bits) of the VALUE
    * frequency distribution — H = log2(n) − Σ c·log2(c)/n over the
    * equal-value runs of the sorted window
    * ([[graft.expr.EntropyKernelUtil.shannonFreq]]). A constant window
    * gives 0; NULL on empty windows.
    */
  val shannonEntropy: FeatureFunc = FeatureFunc("shannon_entropy", (idx, v) =>
    // native kernel (primitive sort + run count) — the Catalyst chain
    // (array_sort + struct-accumulator fold) allocated per element and
    // was one of the 100× profile's two slowest kernels (q101)
    Kernels.shannonFreq(sortedVals(idx, v)))

  /** pyentrp `weighted_permutation_entropy` (delay 1): Bandt–Pompe
    * patterns (stable argsort tie rule) weighted by each tuple's
    * POPULATION variance; H = log2(W) − Σ w_p·log2(w_p)/W over per-pattern
    * weight sums w_p, W = Σ weights, optionally normalized by
    * log2(order!). NULL when the window is shorter than `order` or
    * carries zero total weight (an everywhere-constant window — pyentrp's
    * 0/0). Documented deviation: observed patterns whose weight sum is 0
    * contribute 0 (pyentrp propagates 0·log2(0) = nan).
    *
    * Computed by the native [[graft.expr.EntropyKernelUtil.wpe]] kernel (direct-indexed
    * primitive weight table, one pass, no sort) — the r14 Catalyst-HOF
    * version (tuple → struct → array_sort → struct-accumulator fold)
    * allocated a struct per element per step and was the 100× profile's
    * slowest kernel (q101: 30.9 s isolated minimum).
    */
  def weightedPermutationEntropy(order: Int = 2,
                                 normalize: Boolean = false): FeatureFunc = {
    require(order >= 2 && order <= 6, "wpe order must be in [2, 6]")
    val name = s"wpe_$order" + (if (normalize) "_norm" else "")
    FeatureFunc(name, (idx, v) =>
      Kernels.wpe(order, normalize)(sortedVals(idx, v)))
  }

  // ---- tsfel temporal/statistical stock completion (r11 tranche 4) --------
  // The remaining members of the reference's tsfel integration surface
  // (tsflex/features/integrations.py:102-173 `tsfel_feature_dict_wrapper`,
  // exercised over the basic battery at
  // tests/test_features_integration.py:158-216). Each is a single fused
  // aggregate on the slice/zip_with machinery above — the window array is
  // never referenced inside a lambda body (the [[numberPeaks1]] trap).

  /** tsfel `mean_abs_diff`: mean of |Δx| over the index-sorted window —
    * one [[graft.expr.TemporalKernelUtil.temporalFold]] primitive pass (np.mean of an empty
    * diff → NULL for n < 2). The r16 kernels replace the former
    * transform/zip_with/aggregate HOF chains of this diff stock — a boxed
    * element per fold step, the q100 100× residual after the r15 kernels.
    */
  val meanAbsDiff: FeatureFunc = FeatureFunc("mean_abs_diff", (idx, v) =>
    when(count(v) >= 2, Kernels.temporalFold(MEAN_ABS_DIFF)(sortedVals(idx, v))))

  /** tsfel `mean_diff`: mean of Δx = (xₙ − x₁)/(n − 1) — the telescoping
    * closed form, three NATIVE aggregates, no array at all.
    */
  val meanDiff: FeatureFunc = FeatureFunc("mean_diff", (idx, v) => {
    val n = count(v)
    when(n >= 2, (max_by(v, idx) - min_by(v, idx)) / (n - 1).cast("double"))
  })

  /** tsfel `median_abs_diff` / `median_diff`: np.median of (|Δx| / Δx) —
    * one primitive pass + one primitive diff sort (Arrays.sort matches
    * Spark's array_sort double ordering: NaN last, −0.0 before 0.0);
    * null when the window has no diffs (n < 2).
    */
  val medianAbsDiff: FeatureFunc = FeatureFunc("median_abs_diff",
    (idx, v) => when(count(v) >= 2, Kernels.temporalFold(MEDIAN_ABS_DIFF)(sortedVals(idx, v))))
  val medianDiff: FeatureFunc = FeatureFunc("median_diff",
    (idx, v) => when(count(v) >= 2, Kernels.temporalFold(MEDIAN_DIFF)(sortedVals(idx, v))))

  /** tsfel `distance`: total curve length Σ √(1 + Δx²) (unit index step);
    * 0.0 for singleton windows (np.sum of an empty diff).
    */
  val curveDistance: FeatureFunc = FeatureFunc("distance", (idx, v) =>
    when(count(v) >= 1, Kernels.temporalFold(DISTANCE)(sortedVals(idx, v))),
    emptyValue = None)

  /** tsfel `pk_pk_distance`: |max − min| — two native aggregates. */
  val pkPkDistance: FeatureFunc = FeatureFunc("pk_pk_distance", (_, v) =>
    org.apache.spark.sql.functions.max(v) -
      org.apache.spark.sql.functions.min(v))

  /** tsfel `auc` at sampling rate `fs`: trapezoid area of |signal| over
    * t = i/fs — Σ 0.5·(1/fs)·|xᵢ + xᵢ₊₁| (tsfel's np.diff(t) is the
    * constant 1/fs on the uniform sample grid it builds). 0.0 for
    * singleton windows.
    */
  def aucFs(fs: Double): FeatureFunc = {
    require(fs > 0, "auc sampling rate must be > 0")
    FeatureFunc(s"auc_fs$fs", (idx, v) =>
      when(count(v) >= 1, Kernels.temporalFold(AUC, fs)(sortedVals(idx, v))))
  }

  /** tsfel `calc_centroid` at sampling rate `fs`: energy-weighted time
    * centroid Σ tᵢ·xᵢ² / Σ xᵢ² with tᵢ = i/fs; 0.0 when the window
    * carries no energy (tsfel's zero-energy guard).
    */
  def calcCentroid(fs: Double): FeatureFunc = {
    require(fs > 0, "centroid sampling rate must be > 0")
    FeatureFunc(s"centroid_fs$fs", (idx, v) => {
      // numerator in-kernel (position-weighted energy over the sorted
      // window, same left-to-right order the transform/fold chain used);
      // denominator stays the NATIVE sum(v²) aggregate so the replaced
      // form's exact summation orders are both preserved
      val num = Kernels.temporalFold(CENTROID_NUM, fs)(sortedVals(idx, v))
      val den = org.apache.spark.sql.functions.sum(v * v) // native, O(1) ref
      when(count(v) >= 1, when(den > 0, num / den).otherwise(lit(0.0)))
    })
  }

  /** tsfel `neighbourhood_peaks(n)`: count of samples strictly greater
    * than ALL 2n neighbours within ±n positions (boundary samples have no
    * full neighbourhood and never count). One primitive pass over the
    * index-sorted window inside [[graft.expr.TemporalKernelUtil.neighbourhoodPeaks]].
    */
  def neighbourhoodPeaks(nn: Int): FeatureFunc = {
    require(nn >= 1 && nn <= 16, "neighbourhood radius must be in [1, 16]")
    // native kernel — the Catalyst form built a (2n+1)-element tuple
    // array per position (11 slices + zip_with concat at n = 5), the
    // dominant q100 cost in the 100× profile
    FeatureFunc(s"neighbourhood_peaks_$nn", (idx, v) =>
      Kernels.neighbourhoodPeaks(nn)(sortedVals(idx, v)),
      emptyValue = Some(lit(0L)))
  }

  /** tsfel `hist(nbins)`: per-bin counts over `bins` equal-width bins
    * spanning [min, max], right-inclusive last bin (np.histogram). One
    * multi-output aggregate (hist1..histB). Documented deviation: a
    * constant window (min == max) puts all samples in bin 1, where
    * np.histogram pads the range by ±0.5 and centres them.
    */
  def histCounts(bins: Int): FeatureFunc = {
    require(bins >= 1 && bins <= 64, "hist bins must be in [1, 64]")
    val names = (1 to bins).map(b => s"hist$b")
    // native kernel — counts are order-independent, so plain collect (no
    // sort); the Catalyst fold rebuilt the per-bin counter ARRAY once per
    // element (transform inside aggregate)
    FeatureFunc(s"hist$bins", (_, v) =>
      Kernels.histCounts(bins)(collect_list(v)),
      outputNames = Some(names))
  }

  val byName: scala.collection.immutable.Map[String, FeatureFunc] =
    scala.collection.immutable.Map(
      "min" -> min, "max" -> max, "mean" -> mean, "median" -> median,
      "std" -> std, "var" -> variance, "sum" -> sum, "len" -> len,
      "skew" -> skew, "kurtosis" -> kurt, "slope" -> slope, "rms" -> rms,
      "first" -> firstByIdx, "last" -> lastByIdx, "abs_diff_sum" -> absDiffSum,
      "abs_energy" -> absEnergy, "iqr" -> iqr,
      "zero_crossings" -> zeroCrossings, "mean_crossings" -> meanCrossings,
      "cid_ce" -> cidCe, "number_peaks_1" -> numberPeaks1,
      "longest_strike_above_mean" -> longestStrikeAboveMean,
      // the parameterless r9 stock (parameterized members — quantile,
      // crossings, autocorr, entropy variants — serialize via a caller-
      // extended registry, like any custom func)
      "hjorth" -> hjorthParams, "petrosian_fd" -> petrosianFd,
      "katz_fd" -> katzFd,
      // the parameterless r11 tranche-4/5 stock
      "shannon_entropy" -> shannonEntropy,
      "mean_abs_diff" -> meanAbsDiff, "mean_diff" -> meanDiff,
      "median_abs_diff" -> medianAbsDiff, "median_diff" -> medianDiff,
      "distance" -> curveDistance, "pk_pk_distance" -> pkPkDistance,
      "linear_trend" -> linearTrend,
      "linear_trend_timewise" -> linearTrendTimewise,
      // the two parameterless battery entries (r12)
      "catch22" -> catch22Tranche1, "catch24" -> catch24Battery,
      // the tsfel probability entropies (r12 — the last integration members)
      "entropy_kde" -> entropyKde, "entropy_gauss" -> entropyGauss,
      // parameterless members that had slipped through the registry
      // (save() fail-fasts on unregistered functions, so collections using
      // them could not be persisted at all)
      "minmax" -> minMax, "nunique" -> nUnique)
}

/** A named aggregation over a TUPLE of series — the analog of a reference
  * FeatureDescriptor whose `series_name` is a tuple of any arity (reference:
  * tsflex/features/feature.py:121-168; the function receives one windowed
  * view per series, strided_rolling.py:455-470). In the relational form the
  * per-window views are paired by (segment, index) before aggregation —
  * co-sampled series pair 1:1; series sampled differently only aggregate
  * their index-intersection (the engine's join-based analog of the
  * reference's "make sure the function can deal with different lengths").
  *
  * @param arity number of series the function consumes — the descriptor
  *              enforces `seriesNames.length == arity`, so a mismatch fails
  *              at construction with a clear message instead of a MatchError
  *              (too few) or a silently-wrong statistic under a misleading
  *              column name (too many: the extra series would only shrink
  *              the index intersection without entering the math).
  * @param agg (idxCol, valueCols) => aggregate Column; valueCols holds one
  *            column per series, in descriptor order.
  */
final case class NaryFunc(
    name: String,
    arity: Int,
    agg: (Column, Seq[Column]) => Column,
    emptyValue: Option[Column] = None,
    outputNames: Option[Seq[String]] = None) {
  require(arity >= 2, "NaryFunc arity must be >= 2")
}

/** Built-in tuple-series aggregates (all single-pass algebraic natives). */
object NaryFuncs {
  /** Pairwise-masked moment sums for the ratio statistics below. Under ANSI
    * mode (Spark 4 default) `corr`/`regr_slope` THROW DIVIDE_BY_ZERO on
    * zero-variance or singleton windows; guarding the built-in with
    * `var_samp > 0` doesn't help because var_samp itself divides by n-1.
    * The moment-sum guard `n·Σx² − (Σx)² > 0` is division-free, so
    * degenerate windows yield NULL (matching DuckDB) instead of erroring.
    */
  private def moments(a0: Column, b0: Column) = {
    val both = a0.isNotNull && b0.isNotNull
    val a = when(both, a0)
    val b = when(both, b0)
    val n = count(a).cast("double")
    (n, sum(a), sum(b), sum(a * b), sum(a * a), sum(b * b))
  }

  /** Pearson correlation of two co-windowed series (sample or population —
    * the 1/n factors cancel in the ratio; algebraically identical to
    * Spark's `corr`, but NULL instead of an ANSI error on degenerate
    * windows).
    */
  val corr2: NaryFunc = NaryFunc("corr", 2, (_, vs) => {
    val (n, sa, sb, sab, saa, sbb) = moments(vs(0), vs(1))
    val va = n * saa - sa * sa
    val vb = n * sbb - sb * sb
    when(va > 0 && vb > 0, (n * sab - sa * sb) / sqrt(va * vb))
  })
  /** Population covariance of two co-windowed series. */
  val covar: NaryFunc = NaryFunc("covar", 2, (_, vs) => covar_pop(vs(0), vs(1)))
  /** Windowed dot product. */
  val dot: NaryFunc = NaryFunc("dot", 2,
    (_, vs) => org.apache.spark.sql.functions.sum(vs(0) * vs(1)))
  /** Least-squares slope of b against a (regressor, response); NULL when the
    * regressor has zero variance (see [[moments]]).
    */
  val regrSlope: NaryFunc = NaryFunc("regr_slope", 2, (_, vs) => {
    val (n, sa, sb, sab, saa, _) = moments(vs(0), vs(1))
    val va = n * saa - sa * sa
    when(va > 0, (n * sab - sa * sb) / va)
  })

  /** Weighted Pearson correlation of (a, b) under weight series w — a true
    * 3-ary feature, computed from six weighted sums in ONE aggregate pass
    * (fully codegen'd, no second scan).
    */
  val wcorr: NaryFunc = NaryFunc("wcorr", 3, (_, vs) => {
    // Joint null-mask across all three inputs (index-intersection semantics,
    // mirroring moments()): a row with any of a/b/w null contributes to NO
    // sum — otherwise sum(w) would count rows the cross-moments skip.
    val all = vs(0).isNotNull && vs(1).isNotNull && vs(2).isNotNull
    val Seq(a, b, w) = vs.map(v => when(all, v))
    val sw = org.apache.spark.sql.functions.sum(w)
    val swa = org.apache.spark.sql.functions.sum(w * a)
    val swb = org.apache.spark.sql.functions.sum(w * b)
    val swab = org.apache.spark.sql.functions.sum(w * a * b)
    val swaa = org.apache.spark.sql.functions.sum(w * a * a)
    val swbb = org.apache.spark.sql.functions.sum(w * b * b)
    val va = sw * swaa - swa * swa
    val vb = sw * swbb - swb * swb
    when(va > 0 && vb > 0, (sw * swab - swa * swb) / sqrt(va * vb))
  })

  val byName: scala.collection.immutable.Map[String, NaryFunc] =
    scala.collection.immutable.Map("corr" -> corr2, "covar" -> covar,
      "dot" -> dot, "regr_slope" -> regrSlope, "wcorr" -> wcorr)
}
