package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Physical-encoding tolerance for the driver-generated input tables —
  * the ONE place the ts convention lives (it was previously copied into
  * SparkEntry, ScaleSmoke and ScaleData, which could silently diverge).
  *
  * Every table opens through [[readParquet]], which runs no Spark job: the
  * schema comes from the first data file's footer, read on the driver with
  * Spark's own footer-to-schema rules under the session conf, and the read
  * declares it (`s.read.parquet(path)` infers it with a one-task job on
  * every call).
  *
  * TIMESTAMP(NANOS) parquet only reads under `nanosAsLong` (Spark 4), then
  * floors to micros (matching DuckDB's epoch_us). A naive
  * TIMESTAMP(MICROS) column, which Spark infers as TIMESTAMP_NTZ, is read
  * with `ts` declared `TIMESTAMP`: the Parquet reader then returns the
  * stored micros as instants, with no per-row cast. The instants are the
  * naive wall clock read as UTC whatever the session zone — what DuckDB's
  * naive read yields.
  */
object TsCompat {
  def readEvents(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = parquetSchema(s, path)
    def read(declared: StructType) = s.read.schema(declared).parquet(path)
    schema("ts").dataType match {
      case LongType =>
        read(schema).withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        read(StructType(schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
      case _ => read(schema)
    }
  }

  /** `s.read.parquet(path)` with no Spark job: the same schema and rows. */
  def readParquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(parquetSchema(s, path)).parquet(path)

  /** The schema `s.read.parquet(path)` infers without schema merging: that
    * of the first data file in path order among the files Spark lists
    * (names starting `_` or `.`, and `._COPYING_` ones, skipped: markers,
    * checksums and summary files — Spark writes no summaries by default),
    * read off its footer with Spark's rules: a stored Spark schema first,
    * else the Parquet types converted under the session conf
    * (`nanosAsLong`, NTZ inference). Partition columns are not in it; the
    * declared read adds them as an inferring read does.
    */
  private def parquetSchema(s: SparkSession, path: String): StructType = {
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(p: Path): Boolean = {
      val n = p.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    }
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isFile) Iterator(st)
      else fs.listStatus(st.getPath).iterator.filterNot(c => hidden(c.getPath)).flatMap(files)
    val first = files(fs.getFileStatus(root))
      .minByOption(_.getPath.toString).getOrElse(throw new IllegalArgumentException(
        s"no Parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
  }
}
