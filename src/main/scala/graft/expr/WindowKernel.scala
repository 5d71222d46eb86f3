package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import scala.collection.immutable.BitSet

/** One array<double> window kernel: a name, its parameters, its signature
  * (`arrays` array<double> inputs, then `scalars` double inputs), its
  * output type and the pure function over the window's values — the
  * engine's twin of the read-only window view the reference hands every
  * feature function (tsflex/features/segmenter/strided_rolling.py:310-319).
  *
  * Identity is the first parameter list only: two calls with the same name
  * and parameters are equal, hash alike and canonicalize alike whatever
  * closure `body` holds, so Catalyst still dedups repeated kernel calls
  * and `toString` never prints a lambda. `body` owns the arrays it gets
  * (fresh copies per call), so it may sort them in place.
  *
  * A struct-typed kernel whose members cost independently may also carry
  * `narrowTo`: given the member ordinals a query reads, the same kernel
  * computing only those, every other member null (struct type unchanged).
  * [[NarrowKernels]] applies it; a narrowed kernel names its members in
  * `params`, so two different narrowings never compare equal.
  */
final case class Kernel(name: String, params: Seq[Any], arrays: Int,
                        scalars: Int, dataType: DataType)(
    val body: (Array[Array[Double]], Array[Double]) => Any,
    narrowTo: Option[BitSet => Kernel] = None) {

  /** The kernel applied to its inputs: arrays first, then scalars. */
  def apply(args: Column*): Column =
    ColumnBridge.column(expr(args.map(ColumnBridge.expression): _*))

  def expr(args: Expression*): Expression = WindowKernel(this, args)

  def narrowable: Boolean = narrowTo.isDefined

  /** The kernel computing only the struct members `read`; itself when it
    * does not narrow. */
  def narrow(read: BitSet): Kernel = narrowTo.fold(this)(_(read))
}

object Kernel {
  def unary(name: String, params: Any*)(dataType: DataType)(
      f: Array[Double] => Any): Kernel =
    Kernel(name, params, 1, 0, dataType)((xs, _) => f(xs(0)))

  def withScalar(name: String, params: Any*)(dataType: DataType)(
      f: (Array[Double], Double) => Any): Kernel =
    Kernel(name, params, 1, 1, dataType)((xs, s) => f(xs(0), s(0)))
}

/** The one Catalyst expression behind every [[Kernel]]. It checks the input
  * types once, converts each array child to a `double[]` once — a bulk copy
  * for `containsNull = false` inputs (every production feed: the sorted
  * collect's values, `collect_list`), null elements skipped otherwise, so
  * an all-null array is an empty window — and calls the kernel's body. A
  * null child makes the result null.
  *
  * CodegenFallback: a kernel is one heavy call per WINDOW (post-
  * aggregation), not per row, so generated code would buy nothing and
  * would grow the generated-class footprint of wide battery queries.
  */
case class WindowKernel(kernel: Kernel, children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override def toString: String =
    s"$prettyName(${(children ++ kernel.params).mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.lengthCompare(kernel.arrays + kernel.scalars) == 0 &&
      children.zipWithIndex.forall {
        case (c, i) if i < kernel.arrays => c.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }
        case (c, _) => c.dataType == DoubleType
      }
    def sig(ts: Seq[String]): String =
      if (ts.lengthCompare(1) == 0) ts.head else ts.mkString("(", ", ", ")")
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      sig(Seq.fill(kernel.arrays)("array<double>") ++
        Seq.fill(kernel.scalars)("double")) +
      s", got ${sig(children.map(_.dataType.sql))}")
  }

  @transient private lazy val mayHoldNull: Array[Boolean] =
    children.take(kernel.arrays).map(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
    }).toArray

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Array[Double]](kernel.arrays)
    val ss = new Array[Double](kernel.scalars)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      if (i < xs.length)
        xs(i) = WindowKernel.doubles(v.asInstanceOf[ArrayData], mayHoldNull(i))
      else ss(i - xs.length) = v.asInstanceOf[Double]
      i += 1
    }
    kernel.body(xs, ss)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WindowKernel =
    copy(children = newChildren)

  def narrow(read: BitSet): WindowKernel = copy(kernel = kernel.narrow(read))
}

object WindowKernel {
  /** The only ArrayData → `double[]` conversion of the window kernels. */
  def doubles(a: ArrayData, mayHoldNull: Boolean): Array[Double] =
    if (!mayHoldNull) a.toDoubleArray()
    else {
      val n = a.numElements()
      val out = new Array[Double](n)
      var m = 0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) { out(m) = a.getDouble(i); m += 1 }
        i += 1
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }
}

/** Every window kernel of the engine. Each factory checks its parameters
  * and binds them into a [[Kernel]]; the semantics live in the `*Util`
  * body each one names.
  */
object Kernels {
  import Kernel.{unary, withScalar}

  private def structOf(names: Seq[String], t: DataType): StructType =
    StructType(names.map(StructField(_, t)))

  // ---- entropy / complexity (EntropyKernelUtil) ----

  def svdEntropy(order: Int, delay: Int, normalize: Boolean): Kernel =
    unary("svd_entropy", order, delay, normalize)(DoubleType)(
      EntropyKernelUtil.svdEntropy(_, order, delay, normalize))

  def kdeEntropy(gauss: Boolean): Kernel =
    unary(if (gauss) "entropy_gauss" else "entropy_kde")(DoubleType)(
      EntropyKernelUtil.kdeEntropy(_, gauss))

  def lzivComplexity(normalize: Boolean): Kernel =
    unary("lziv_complexity", normalize)(DoubleType)(
      EntropyKernelUtil.lzivComplexity(_, normalize))

  /** struct mspe_1..mspe_S */
  def mspe(order: Int, maxScale: Int): Kernel =
    unary("mspe", order, maxScale)(
      structOf((1 to maxScale).map(s => s"mspe_$s"), DoubleType))(
      EntropyKernelUtil.mspe(_, order, maxScale))

  /** struct msen_1..msen_S */
  def mseExact(m: Int, r: Double, maxScale: Int): Kernel =
    unary("mse_exact", m, r, maxScale)(
      structOf((1 to maxScale).map(s => s"msen_$s"), DoubleType))(
      EntropyKernelUtil.mseExact(_, m, r, maxScale))

  def wpe(order: Int, normalize: Boolean): Kernel =
    unary("wpe", order, normalize)(DoubleType)(
      EntropyKernelUtil.wpe(_, order, normalize))

  def permEntropy(order: Int, normalize: Boolean): Kernel =
    unary("perm_entropy", order, normalize)(DoubleType)(
      EntropyKernelUtil.permEntropyArr(_, order, normalize))

  val shannonFreq: Kernel =
    unary("shannon_freq")(DoubleType)(EntropyKernelUtil.shannonFreq)

  /** The scalar is the quantization width (an absolute tolerance, rFactor·σ,
    * a carried width column). */
  def apenBinned(m: Int): Kernel =
    withScalar("apen_binned", m)(DoubleType)(
      EntropyKernelUtil.apenBinned(_, _, m))

  def sampenBinned(m: Int): Kernel =
    withScalar("sampen_binned", m)(DoubleType)(
      EntropyKernelUtil.sampenBinned(_, _, m))

  // ---- temporal folds (TemporalKernelUtil) ----

  /** Never null: short/empty windows count 0. */
  def neighbourhoodPeaks(nn: Int): Kernel =
    unary("neighbourhood_peaks", nn)(LongType)(
      TemporalKernelUtil.neighbourhoodPeaks(_, nn))

  /** struct hist1..histB of longs; empty windows are all zeros. */
  def histCounts(bins: Int): Kernel =
    unary("hist_counts", bins)(
      structOf((1 to bins).map(b => s"hist$b"), LongType))(
      TemporalKernelUtil.histCounts(_, bins))

  /** `mode` is one of the [[TemporalKernelUtil]] fold modes. */
  def temporalFold(mode: Int, fs: Double = 1.0): Kernel = {
    require(mode >= 0 && mode <= 8, s"unknown temporal-fold mode $mode")
    require(fs > 0, "sampling rate must be > 0")
    unary("temporal_fold", mode, fs)(DoubleType)(
      TemporalKernelUtil.temporalFold(_, mode, fs))
  }

  /** Serves tsfresh `number_crossing_m` (literal threshold) and seglearn
    * `mean_crossings` (native avg as the scalar). */
  val crossings: Kernel =
    withScalar("crossings")(LongType)(TemporalKernelUtil.crossings)

  /** The caller divides by its native var_pop under the n > lag guard. */
  def autocorrCov(lag: Int): Kernel = {
    require(lag >= 1, "lag must be >= 1")
    withScalar("autocorr_cov", lag)(DoubleType)(
      TemporalKernelUtil.autocorrCov(_, _, lag))
  }

  def binnedEntropy(bins: Int): Kernel = {
    require(bins >= 1, "binned_entropy needs >= 1 bin")
    unary("binned_entropy", bins)(DoubleType)(
      TemporalKernelUtil.binnedEntropy(_, bins))
  }

  val longestStrike: Kernel =
    withScalar("longest_strike")(LongType)(TemporalKernelUtil.longestStrike)

  /** Inputs (array, μ, σ), μ/σ the caller's native aggregates. */
  def ratioBeyond(r: Double): Kernel = {
    require(r >= 1, "sigma multiple must be >= 1")
    Kernel("ratio_beyond_sigma", Seq(r), 1, 2, DoubleType)((xs, s) =>
      TemporalKernelUtil.ratioBeyond(xs(0), s(0), s(1), r))
  }

  /** The scalar is the caller's native sum(abs(v)) aggregate. */
  def indexMass(q: Double): Kernel = {
    require(q > 0 && q < 1, "mass quantile must be in (0, 1)")
    withScalar("index_mass_quantile", q)(DoubleType)(
      TemporalKernelUtil.indexMass(_, _, q))
  }

  /** Inputs (index array, value array, tmin), tmin the caller's native
    * min(idx) aggregate; struct (st, stt, stv). */
  val lttFold: Kernel = Kernel("ltt_fold", Nil, 2, 1,
    structOf(Seq("st", "stt", "stv"), DoubleType))((xs, s) =>
    TemporalKernelUtil.lttFold(xs(0), xs(1), s(0)))

  /** struct (vdx, vddx) */
  val hjorthFold: Kernel = unary("hjorth_fold")(
    structOf(Seq("vdx", "vddx"), DoubleType))(TemporalKernelUtil.hjorthFold)

  val petrosianNd: Kernel =
    unary("petrosian_nd")(DoubleType)(TemporalKernelUtil.petrosianNd)

  // ---- percentiles (PercentileKernelUtil) ----

  /** array<double> of the exact `qs` percentiles; null for an empty window. */
  def percentiles(qs: Seq[Double]): Kernel = {
    require(qs.nonEmpty, "need at least one percentile")
    qs.foreach(q => require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]"))
    val qArr = qs.toArray
    unary("percentiles_sorted", qs)(ArrayType(DoubleType, containsNull = false)) { x =>
      val p = PercentileKernelUtil.percentiles(x, qArr)
      if (p == null) null else new GenericArrayData(p)
    }
  }

  /** `pctl(qHi) − pctl(qLo)` in one sort (the IQR shape); null for an empty
    * window. */
  def percentileSpan(qLo: Double, qHi: Double): Kernel = {
    Seq(qLo, qHi).foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]"))
    val qs = Array(qLo, qHi)
    unary("percentile_span", qLo, qHi)(DoubleType) { x =>
      val p = PercentileKernelUtil.percentiles(x, qs)
      if (p == null) null else java.lang.Double.valueOf(p(1) - p(0))
    }
  }

  // ---- batteries and spectra ----

  /** The whole battery; it narrows to the members a query reads. */
  def catch22(catch24: Boolean = false): Kernel =
    catch22Of(catch24, Catch22Util.members(catch24))

  private def catch22Of(catch24: Boolean, need: BitSet): Kernel =
    Kernel(if (catch24) "catch24" else "catch22_tranche1",
      if (need == Catch22Util.members(catch24)) Nil else Seq(need), 1, 0,
      if (catch24) Catch22Util.dataType24 else Catch22Util.dataType)(
      (xs, _) => Catch22Util.compute(xs(0), catch24, need),
      Some(read => catch22Of(catch24, need & read)))

  def spectralEntropy(normalize: Boolean): Kernel =
    unary("spectral_entropy", normalize)(DoubleType)(
      SpectralEntropyUtil.entropy(_, normalize))

  def mfcc(fs: Double, numCeps: Int): Kernel = {
    require(numCeps >= 1 && numCeps <= MfccUtil.Nfilt - 1,
      "num_ceps must be in [1, nfilt-1]")
    // built on first use where the kernel runs, not shipped with the plan
    lazy val fbank = MfccUtil.filterbank(fs)
    unary("mfcc", fs, numCeps)(structOf(MfccUtil.names(numCeps), DoubleType))(
      MfccUtil.compute(_, fbank, numCeps))
  }

  def welchRel(nCoef: Int): Kernel =
    unary("welch_rel", nCoef)(structOf(WelchRelUtil.names(nCoef), DoubleType))(
      WelchRelUtil.compute(_, nCoef))

  def spectralShape(fs: Double): Kernel =
    unary("spectral_shape", fs)(SpectralShapeUtil.dataType)(
      SpectralShapeUtil.compute(_, fs))

  def wavelet(widths: Seq[Int]): Kernel =
    unary("wavelet", widths)(structOf(WaveletUtil.names(widths), DoubleType))(
      WaveletUtil.compute(_, widths))

  def spectralExtras(fs: Double, lo: Double, hi: Double): Kernel =
    unary("spectral_extras", fs, lo, hi)(SpectralExtrasUtil.dataType)(
      SpectralExtrasUtil.compute(_, fs, lo, hi))

  /** Every kernel above once, each name at representative parameters — the
    * inventory the input-check and null-element specs sweep. */
  private[graft] def table: Seq[Kernel] = Seq(
    svdEntropy(3, 1, normalize = true), kdeEntropy(gauss = false),
    kdeEntropy(gauss = true), lzivComplexity(normalize = true), mspe(3, 2),
    mseExact(2, 0.2, 2), wpe(3, normalize = true),
    permEntropy(3, normalize = true), shannonFreq, apenBinned(2),
    sampenBinned(2), neighbourhoodPeaks(1), histCounts(5),
    temporalFold(TemporalKernelUtil.MEAN_ABS_DIFF), crossings, autocorrCov(1),
    binnedEntropy(5), longestStrike, ratioBeyond(2.0), indexMass(0.5), lttFold,
    hjorthFold, petrosianNd, percentiles(Seq(0.25, 0.5)),
    percentileSpan(0.25, 0.75), catch22(), catch22(catch24 = true),
    spectralEntropy(normalize = true), mfcc(100.0, 12), welchRel(4),
    spectralShape(100.0), wavelet(Seq(1, 2)), spectralExtras(100.0, 1.0, 10.0))
}
