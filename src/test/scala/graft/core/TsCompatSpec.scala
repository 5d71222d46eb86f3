package graft.core

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** `TsCompat.readEvents` on an events file with a naive TIMESTAMP(MICROS)
  * `ts` (the encoding of the generated `events.parquet`): `ts` comes back as
  * instants straight from the Parquet reader, with no cast in the plan,
  * equal to the naive wall clock read as UTC whatever the session zone.
  *
  * `TsCompat.readParquet`, the open every table goes through, runs no Spark
  * job and returns what `s.read.parquet` returns: on that file, on an INT64
  * TIMESTAMP(NANOS) file, on a directory of part files with marker and
  * checksum siblings, and on the generated lineitem, embeddings (an array
  * column) and orders tables the queries open.
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

  /** 1,000 rows with `ts` INT64 TIMESTAMP(NANOS), written by parquet-hadoop
    * (Spark writes no nanosecond timestamps); ts = i·1,234,567 ns. */
  private lazy val nanosPath: String = {
    val file = Files.createTempDirectory("tscompat-nanos").resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); optional double value; }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 1000).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", i * 1234567L).append("value", i * 0.25))
    } finally w.close()
    file
  }

  /** Part files of one write, next to `_SUCCESS` and `.crc` files. */
  private lazy val partsPath: String = {
    val dir = Files.createTempDirectory("tscompat-parts").resolve("t").toString
    spark.range(300).select(col("id"), (col("id") % 7).cast("string").as("s"))
      .repartition(3).write.parquet(dir)
    dir
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the part-file input has marker and checksum siblings") {
    val names = new java.io.File(partsPath).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3, names)
  }

  for ((name, at) <- Seq[(String, () => String)]("naive micros" -> (() => path),
      "TIMESTAMP(NANOS)" -> (() => nanosPath), "part-file directory" -> (() => partsPath)) ++
      Seq("lineitem", "embeddings", "orders").map(t =>
        s"sf0.001 $t" -> (() => s"/root/testdata/sf0.001/$t.parquet")))
    test(s"readParquet on the $name input: no Spark job, the schema and rows of s.read.parquet") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val (opened, jobs) = jobsOf(TsCompat.readParquet(spark, at()))
      assert(jobs == 0, s"$jobs Spark job(s) to open ${at()}")
      val (inferred, inferJobs) = jobsOf(spark.read.parquet(at()))
      assert(inferJobs >= 1, "the listener saw no schema-inference job")
      assert(opened.schema == inferred.schema)
      assert(sameRows(opened, inferred))
    }

  test("readEvents opens with no Spark job and floors TIMESTAMP(NANOS) to micros") {
    for (p <- Seq(path, nanosPath))
      assert(jobsOf(TsCompat.readEvents(spark, p))._2 == 0, p)
    val ev = TsCompat.readEvents(spark, nanosPath)
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(micros == (0 until 1000).map(i => i * 1234567L / 1000))
  }
}
