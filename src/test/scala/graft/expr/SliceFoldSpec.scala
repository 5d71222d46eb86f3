package graft.expr

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The compiled `SliceFold` must agree bit for bit with its interpreted
  * `eval` for every aggregate the block path folds, on slices holding
  * nulls, NaN, −0.0 and ±Inf, empty slices and all-null slices. The
  * generated side runs with codegen fallback off, so a `doGenCode` that
  * fails to compile fails here instead of silently running interpreted.
  */
class SliceFoldSpec extends SparkSpec {

  private val arr = ArrayType(DoubleType, containsNull = true)

  private val fixed: Seq[(Seq[Double], Seq[java.lang.Double])] = {
    val nan = Double.NaN
    val (inf, ninf) = (Double.PositiveInfinity, Double.NegativeInfinity)
    def vs(xs: Any*): Seq[java.lang.Double] = xs.map {
      case null => null
      case d: Double => java.lang.Double.valueOf(d)
      case i: Int => java.lang.Double.valueOf(i.toDouble)
    }
    Seq(
      vs(1, 2, 3), vs(1, null, -2.5), vs(nan, 1), vs(1, nan), vs(null, nan),
      vs(-0.0, 0.0), vs(0.0, -0.0), vs(-0.0), vs(-0.0, null), vs(inf, ninf),
      vs(inf, 1), vs(ninf, null), vs(inf, inf), vs(), vs(null), vs(null, null, null),
      vs(1e308, 1e308, -1e308), vs(0.1, 0.2, 0.3, -0.6))
      .zipWithIndex.map { case (v, k) =>
        // the index carries the same special values at some positions
        val idx = v.indices.map(j => if ((j + k) % 5 == 4) -0.0
                                     else if ((j + k) % 7 == 6) nan
                                     else j * 1.5 - k)
        (idx, v)
      }
  }

  private val randomSlices: Seq[(Seq[Double], Seq[java.lang.Double])] = {
    val rnd = new scala.util.Random(7)
    val specials = Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)
    (0 until 300).map { _ =>
      val n = rnd.nextInt(12)
      val idx = (0 until n).map(j => j + rnd.nextDouble())
      val v = (0 until n).map { _ =>
        rnd.nextInt(10) match {
          case 0 => null
          case 1 => java.lang.Double.valueOf(specials(rnd.nextInt(specials.length)))
          case _ => java.lang.Double.valueOf(rnd.nextGaussian() * 1e3)
        }
      }
      (idx, v)
    }
  }

  private val slices = fixed ++ randomSlices

  /** The fold's input row (idx, v), as the block path's series rows. */
  private lazy val src = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("idx", DoubleType, nullable = false),
      StructField("v", DoubleType, nullable = true))))
  private lazy val Seq(idx, v) = src.queryExecution.analyzed.output

  /** count/sum/min/max/avg over v, idx, abs(v) and v * v, resolved as the
    * block path resolves them: against the (idx, v) frame. */
  private lazy val folds: Seq[(String, SliceFold)] = {
    val inputs = Seq("v" -> col("v"), "idx" -> col("idx"), "abs(v)" -> abs(col("v")),
      "v * v" -> col("v") * col("v"))
    val aggs: Seq[(String, Column => Column)] = Seq("count" -> count, "sum" -> sum,
      "min" -> min, "max" -> max, "avg" -> avg)
    val named = for ((fname, f) <- aggs; (iname, c) <- inputs)
      yield (s"$fname($iname)", f(c))
    val analyzed = src.agg(named.head._2, named.tail.map(_._2): _*).queryExecution.analyzed
    val (ai, av) = (ColumnBridge.expression(col("ai")), ColumnBridge.expression(col("av")))
    named.map(_._1).zip(analyzed.expressions).map { case (name, e) =>
      val fn = e.collectFirst { case ae: AggregateExpression => ae.aggregateFunction }.get
      name -> SliceFold(fn.asInstanceOf[DeclarativeAggregate], idx, v, ai, av)
    }
  }

  private def slicesFrame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(slices.zipWithIndex.map { case ((i, v), k) =>
      Row(k, i, v)
    }, 3),
    StructType(Seq(StructField("k", IntegerType), StructField("ai", arr),
      StructField("av", arr))))

  private def interpreted(fold: SliceFold, i: Seq[Double], v: Seq[java.lang.Double]): Any =
    fold.withNewChildren(Seq(BoundReference(0, arr, nullable = false),
        BoundReference(1, arr, nullable = false)))
      .eval(InternalRow(new GenericArrayData(i.toArray[Any]),
        new GenericArrayData(v.toArray[Any])))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Long, y: Long) => x == y
    case _ => false
  }

  private def generatedMatchesInterpreted(wholeStage: Boolean): Unit = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> wholeStage.toString)
    confs.foreach { case (k, value) => spark.conf.set(k, value) }
    try {
      val rows = slicesFrame.select(col("k") +: folds.map { case (name, f) =>
        ColumnBridge.column(f).as(name) }: _*).collect().sortBy(_.getInt(0))
      assert(rows.length == slices.length)
      for (r <- rows; ((name, f), j) <- folds.zipWithIndex) {
        val (i, v) = slices(r.getInt(0))
        val want = interpreted(f, i, v)
        val got = r.get(j + 1)
        assert(same(got, want), s"$name over $v (index $i): generated $got, interpreted $want")
      }
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("SliceFold compiles: it is not a codegen fallback") {
    assert(!folds.head._2.isInstanceOf[CodegenFallback])
  }

  test("generated fold is bit-identical to the interpreted one (whole-stage)") {
    generatedMatchesInterpreted(wholeStage = true)
  }

  test("generated fold is bit-identical to the interpreted one (projection)") {
    generatedMatchesInterpreted(wholeStage = false)
  }

  test("the interpreted fold reads what the aggregate means") {
    val byName = folds.toMap
    def fold(name: String, v: Seq[java.lang.Double]): Any =
      interpreted(byName(name), v.indices.map(_.toDouble), v)
    val v = Seq[java.lang.Double](1.0, null, -3.0, 4.0)
    assert(fold("count(v)", v) == 3L)
    assert(fold("count(idx)", v) == 4L)
    assert(fold("sum(v)", v) == 2.0)
    assert(fold("sum(idx)", v) == 6.0)
    assert(fold("min(v)", v) == -3.0 && fold("max(abs(v))", v) == 4.0)
    assert(fold("avg(v * v)", v) == 26.0 / 3)
    assert(fold("count(v)", Nil) == 0L && fold("sum(v)", Nil) == null)
    assert(fold("avg(v)", Seq(null, null)) == null)
  }
}
