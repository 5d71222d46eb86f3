package graft.api

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}
import graft.SparkSpec
import graft.core._

/** Sample-count windows (W9) read their positional frame twice — the
  * assignment branch and the anchor stitch — off `Scan.position`'s one
  * range pin. Their rows must not depend on how Spark runs that frame: the
  * same rows under 1, 4 and 37 shuffle partitions, with adaptive execution
  * on and off, for every anchor, on a series whose duplicated timestamps
  * straddle every window edge with different values (so a position handed
  * out twice, or differently per branch, moves a window's mean).
  */
class SampleWindowInvarianceSpec extends SparkSpec {
  import FeatureFuncs._

  /** 61 samples: positions 3k-1 and 3k share a timestamp, the edge of the
    * window starting at 3k (window 6, stride 3); values are distinct, one
    * is null. Rows are shuffled and spread over 5 input partitions. */
  private lazy val series: Series = {
    val rows = (0 to 60).map { p =>
      val sec = if (p > 0 && p % 3 == 0) p - 1 else p
      Row(new java.sql.Timestamp(1704067200000L + sec * 1000L),
        if (p == 17) null else Double.box(p * p * 0.5))
    }
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    Series("v", spark.createDataFrame(spark.sparkContext.parallelize(shuffled, 5), schema),
      "ts", "v")
  }

  private val fc = FeatureCollection(
    FeatureDescriptor(mean, "v", Some(SampleWin(6)), Some(Seq(SampleWin(3)))),
    FeatureDescriptor(median, "v", Some(SampleWin(6)), Some(Seq(SampleWin(3)))))

  private def rows(windowIdx: String): Seq[String] =
    fc.calculate(Seq(series), windowIdx = windowIdx)
      .select(unix_micros(col("ts")), col("v__mean__w=6"), col("v__median__w=6"))
      .collect().map(_.toString).sorted.toSeq

  private val anchors = Seq("begin", "middle", "end")

  test("W9 rows are the same under 1, 4 and 37 shuffle partitions, AQE on and off, every anchor") {
    val runs = try {
      for (aqe <- Seq("true", "false"); parts <- Seq(1, 4, 37)) yield {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        s"aqe=$aqe partitions=$parts" -> anchors.map(a => a -> rows(a)).toMap
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    val (_, first) = runs.head
    for (a <- anchors) {
      // nb = (60 - 6) / 3 + 1 windows, each anchored at an existing sample
      assert(first(a).length == 19 && first(a).forall(!_.startsWith("[null")), first(a))
      for ((conf, out) <- runs.tail)
        assert(out(a) == first(a), s"$a anchors under $conf")
    }
  }
}
