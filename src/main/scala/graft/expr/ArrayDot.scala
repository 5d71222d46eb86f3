package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product of two `array<double>` columns, with
  * whole-stage codegen — the hot scalar of every embedding operator
  * (cosine, LSH bucketing, IVF assignment).
  *
  * The higher-order-function formulation
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (s, x) => s + x)`
  * allocates the zipped array and evaluates two lambdas per element
  * OUTSIDE whole-stage codegen; this expression is a single fused loop
  * inside the generated code. Semantics match the HOF formulation exactly:
  * null input → null, length mismatch → null (zip_with pads with null),
  * null element → null, left-to-right summation order (bit-identical
  * floating-point result).
  */
case class ArrayDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"array_dot requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  /** Nullable regardless of input nullability: a length mismatch or a null
    * ELEMENT yields null even when both array columns are non-null. (Also
    * load-bearing for codegen — the non-nullable nullSafeCodeGen path never
    * declares the isNull variable this expression's loop assigns.)
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Column builders + registration for graft's native expressions. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.unsafe.types.UTF8String

  /** `array_dot(a, b)` as a Column (no registry needed). */
  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case x => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $x")
  }
  private def strLit(e: Expression, fn: String): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case x => throw new IllegalArgumentException(
      s"$fn expects a literal STRING argument, got $x")
  }
  private def dblLit(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case x => throw new IllegalArgumentException(
      s"$fn expects a literal DOUBLE argument, got $x")
  }
  private def boolLit(e: Expression, fn: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case x => throw new IllegalArgumentException(
      s"$fn expects a literal BOOLEAN argument, got $x")
  }

  /** (min, max) accepted argument counts per SQL name. Checked by the
    * wrapper below so a wrong call raises a clear signature error at
    * resolution instead of a raw IndexOutOfBounds (too few) or a silently
    * ignored extra argument (too many — `entropy_kde(v, 5)` dropping the 5
    * would return a wrong-but-plausible result).
    */
  private val arities: Map[String, (Int, Int)] = Map(
    "array_dot" -> (2, 2), "word_shingles" -> (2, 2), "word_ngrams" -> (2, 2),
    "simhash32" -> (1, 1), "simhash64" -> (1, 1), "minhash_slices" -> (2, 2),
    "wall_instant_micros" -> (2, 3),
    "catch22" -> (1, 2), "svd_entropy" -> (3, 4), "lziv_complexity" -> (1, 2),
    "multiscale_perm_entropy" -> (3, 3), "multiscale_entropy" -> (4, 4),
    "mfcc" -> (3, 3), "spectral_entropy" -> (1, 2),
    "welch_density_rel" -> (2, 2), "spectral_shape" -> (2, 2),
    "ricker_cwt" -> (2, Int.MaxValue), "spectral_band" -> (4, 4),
    "entropy_kde" -> (1, 1), "entropy_gauss" -> (1, 1))

  private def checked(n: String, b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    val (lo, hi) = arities(n)
    if (es.lengthCompare(lo) < 0 || (hi != Int.MaxValue && es.lengthCompare(hi) > 0))
      throw new IllegalArgumentException(
        s"$n expects ${if (lo == hi) s"$lo" else if (hi == Int.MaxValue) s">= $lo"
          else s"$lo to $hi"} arguments, got ${es.length}")
    b(es)
  }

  /** (name, builder) for every native expression — shared by the session
    * registry and the cluster-wide extensions hook. Parameter positions
    * with config semantics (k, numHashes, zone) must be literals.
    */
  private[expr] val all: Seq[(String, String, Seq[Expression] => Expression)] = allRaw
    .map { case (n, c, b) => (n, c, checked(n, b)) }

  private def allRaw: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("array_dot", classOf[ArrayDot].getName,
      es => ArrayDot(es(0), es(1))),
    ("word_shingles", classOf[WordShingles].getName,
      es => WordShingles(es(0), intLit(es(1), "word_shingles"))),
    ("word_ngrams", classOf[WordNgrams].getName,
      es => WordNgrams(es(0), intLit(es(1), "word_ngrams"))),
    ("simhash32", classOf[SimHash32].getName,
      es => SimHash32(es(0))),
    ("simhash64", classOf[SimHash64].getName,
      es => SimHash64(es(0))),
    ("minhash_slices", classOf[MinHashSlices].getName,
      es => MinHashSlices(es(0), intLit(es(1), "minhash_slices"))),
    ("wall_instant_micros", classOf[WallInstantMicros].getName,
      es => WallInstantMicros(es(0), strLit(es(1), "wall_instant_micros"),
        if (es.lengthCompare(3) >= 0) strLit(es(2), "wall_instant_micros")
        else "sql",
        if (es.lengthCompare(4) >= 0) strLit(es(3), "wall_instant_micros")
        else "raise",
        if (es.lengthCompare(5) >= 0) strLit(es(4), "wall_instant_micros")
        else "raise")),
    // ---- windowed feature kernels ----
    kernel("catch22")(es => Kernels.catch22(
      es.lengthCompare(2) >= 0 && boolLit(es(1), "catch22"))),
    kernel("svd_entropy")(es => Kernels.svdEntropy(intLit(es(1), "svd_entropy"),
      intLit(es(2), "svd_entropy"),
      es.lengthCompare(4) >= 0 && boolLit(es(3), "svd_entropy"))),
    kernel("lziv_complexity")(es => Kernels.lzivComplexity(
      es.lengthCompare(2) >= 0 && boolLit(es(1), "lziv_complexity"))),
    kernel("multiscale_perm_entropy")(es => Kernels.mspe(
      intLit(es(1), "multiscale_perm_entropy"),
      intLit(es(2), "multiscale_perm_entropy"))),
    kernel("multiscale_entropy")(es => Kernels.mseExact(
      intLit(es(1), "multiscale_entropy"), dblLit(es(2), "multiscale_entropy"),
      intLit(es(3), "multiscale_entropy"))),
    kernel("mfcc")(es =>
      Kernels.mfcc(dblLit(es(1), "mfcc"), intLit(es(2), "mfcc"))),
    kernel("spectral_entropy")(es => Kernels.spectralEntropy(
      es.lengthCompare(2) >= 0 && boolLit(es(1), "spectral_entropy"))),
    kernel("welch_density_rel")(es =>
      Kernels.welchRel(intLit(es(1), "welch_density_rel"))),
    kernel("spectral_shape")(es =>
      Kernels.spectralShape(dblLit(es(1), "spectral_shape"))),
    kernel("ricker_cwt")(es =>
      Kernels.wavelet(es.drop(1).map(e => intLit(e, "ricker_cwt")))),
    kernel("spectral_band")(es => Kernels.spectralExtras(
      dblLit(es(1), "spectral_band"), dblLit(es(2), "spectral_band"),
      dblLit(es(3), "spectral_band"))),
    kernel("entropy_kde")(_ => Kernels.kdeEntropy(gauss = false)),
    kernel("entropy_gauss")(_ => Kernels.kdeEntropy(gauss = true)))

  /** A window-kernel entry: the first argument is the window's values in
    * TIME order as ARRAY<DOUBLE> (collect_list over a sorted window); every
    * config argument must be a literal. */
  private def kernel(n: String)(k: Seq[Expression] => Kernel)
      : (String, String, Seq[Expression] => Expression) =
    (n, classOf[WindowKernel].getName, es => k(es).expr(es(0)))

  /** Register every native expression for SQL usage in an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (n, _, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        n, b, "built-in")
    }
}

/** `SparkSessionExtensions` hook: enable with
  * `spark.sql.extensions=graft.expr.GraftExtensions` so every graft native
  * expression is available in SQL on all sessions of the cluster.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (n, cls, b) =>
      e.injectFunction((FunctionIdentifier(n), new ExpressionInfo(cls, n), b))
    }
}
