package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Physical-encoding tolerance for the driver-generated `events` table —
  * the ONE place the ts convention lives (it was previously copied into
  * SparkEntry, ScaleSmoke and ScaleData, which could silently diverge).
  * TIMESTAMP(NANOS) parquet only reads under `nanosAsLong` (Spark 4), then
  * floors to micros (matching DuckDB's epoch_us). A naive
  * TIMESTAMP(MICROS) column, which Spark infers as TIMESTAMP_NTZ, is read
  * again with `ts` declared `TIMESTAMP`: the Parquet reader then returns the
  * stored micros as instants, with no per-row cast. The instants are the
  * naive wall clock read as UTC whatever the session zone — what DuckDB's
  * naive read yields.
  */
object TsCompat {
  def readEvents(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(path)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // a declared schema skips inference: this read runs no Spark job
        s.read.schema(StructType(raw.schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))).parquet(path)
      case _ => raw
    }
  }
}
