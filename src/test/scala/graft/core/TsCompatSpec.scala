package graft.core

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** `TsCompat.readEvents` on an events file with a naive TIMESTAMP(MICROS)
  * `ts` (the encoding of the generated `events.parquet`): `ts` comes back as
  * instants straight from the Parquet reader, with no cast in the plan,
  * equal to the naive wall clock read as UTC whatever the session zone.
  */
class TsCompatSpec extends SparkSpec {

  /** 1,000 naive rows, one every 9 h 7 min from 2024-01-01: they cross
    * both 2024 DST switches of America/New_York. */
  private lazy val path: String = {
    val dir = Files.createTempDirectory("tscompat").resolve("events.parquet").toString
    spark.range(1000).select(col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 547 * 60)
          .cast(TimestampNTZType).as("ts"),
        (col("id") % 37).as("user_id"), (col("id") * 0.5).as("value"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def naive: DataFrame = spark.read.parquet(path)

  test("the fixture stores ts naive") {
    assert(naive.schema("ts").dataType == TimestampNTZType)
  }

  test("ts is read as TIMESTAMP with no cast in the plan") {
    val ev = TsCompat.readEvents(spark, path)
    assert(ev.schema("ts").dataType == TimestampType)
    val casts = ev.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case c: Cast => c
    }))
    assert(casts.isEmpty, s"casts in the plan: $casts")
  }

  test("values equal the naive column cast under UTC") {
    val ev = TsCompat.readEvents(spark, path)
    val cast = naive.withColumn("ts", col("ts").cast(TimestampType))
    assert(ev.count() == 1000)
    assert(ev.exceptAll(cast).isEmpty && cast.exceptAll(ev).isEmpty)
  }

  test("the session zone does not move the instants") {
    def micros(): Seq[Long] = TsCompat.readEvents(spark, path)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
    val utc = micros()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val ny = try micros() finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert(utc.head == 1704067200000000L)
    val moved = ny.zip(utc).count { case (a, b) => a != b }
    assert(ny.length == utc.length && moved == 0, s"$moved of ${utc.length} instants moved")
  }

  test("two reads of one path are the same source") {
    def series = Series("value", TsCompat.readEvents(spark, path), "ts", "value")
    assert(series.sameSource(series))
  }
}
