package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A named, index-ordered series — the engine's unit of data (reference:
  * tsflex/features/feature_collection.py:868-876; SURVEY §1.1).
  *
  * Spark representation: a two-column lineage `(idx, value)` per series.
  * Multivariate data = multiple independently-indexed Series (possibly
  * different sampling rates); alignment happens only at segmentation time,
  * never by row join (SURVEY §1.1).
  *
  * Row order is irrelevant: every consumer orders by the index itself
  * (relational semantics), so the reference's warn-then-sort contract for
  * non-monotonic input (feature_collection.py:455-466) has no analog here —
  * unsorted input is simply fine, with no warning to emit.
  *
  * Timezone retention (reference: strided_rolling.py:572-596,604-614): a
  * tz-aware pandas index maps to Spark as either
  *   - `TimestampType` (an absolute instant) + `tz` as the RENDERING zone —
  *     instants are zone-independent, so the engine only carries the zone
  *     through to the output anchor column's metadata (`{"tz": …}`), or
  *   - `TimestampNTZType` (wall-clock times) + `tz` declaring which zone
  *     those wall times live in — the engine converts wall→instant on the
  *     way in and instant→wall (in the SAME zone) on the way out, so window
  *     arithmetic happens on true instants (DST-correct) while anchors
  *     round-trip to the caller's wall clock.
  * All conversions are wall-clock arithmetic over `convert_timezone` /
  * `timestamp_diff`, independent of `spark.sql.session.timeZone`.
  *
  * @param name     unique series name; must not contain `|` or `__`
  *                 (reserved for output names, reference:
  *                 feature_collection.py:56-71)
  * @param df       source frame holding `idxCol` and `valueCol`
  * @param idxCol   the sortable index column (TimestampType → TIME domain,
  *                 numeric → SEQUENCE domain)
  * @param valueCol the value column (any dtype — datatype retention)
  * @param tz       optional IANA zone of the index (TIME domain only)
  * @param tzAmbiguous   DST fall-back policy for a tz-declared wall-clock
  *                      index: "raise" (reference default) | "earliest" |
  *                      "latest" — a corpus spanning years of wall time
  *                      WILL contain the repeated hour, so long-horizon
  *                      pipelines must pick an offset instead of raising
  * @param tzNonexistent DST spring-gap policy: "raise" (reference default)
  *                      | "shift_forward" | "shift_backward"
  */
final case class Series(name: String, df: DataFrame, idxCol: String,
                        valueCol: String, tz: Option[String] = None,
                        tzAmbiguous: String = "raise",
                        tzNonexistent: String = "raise") {
  require(!name.contains("|") && !name.contains("__"),
    s"series name '$name' may not contain '|' or '__'")

  val idxType: DataType = df.schema(idxCol).dataType

  val domain: Domain = idxType match {
    case TimestampType | DateType | TimestampNTZType => Domain.Time
    case _: NumericType                              => Domain.Sequence
    case t => throw new IllegalArgumentException(s"unsupported index dtype $t for series $name")
  }

  require(tz.isEmpty || domain == Domain.Time,
    s"series $name: tz is only meaningful for a TIME-domain index")

  private def epochNtz = lit("1970-01-01 00:00:00").cast(TimestampNTZType)

  /** Internal normalized frame: `__idx DOUBLE` (epoch micros for TIME — exact
    * below 2^53 — raw value for SEQUENCE), `__v` (original dtype retained).
    * NULL index rows are dropped (they are unorderable). A tz-declared
    * wall-clock (NTZ) index is interpreted in that zone, so `__idx` is the
    * true epoch instant.
    */
  def internal: DataFrame =
    df.select(idxExpr.as("__idx"), col(valueCol).as("__v"))
      .where(col("__idx").isNotNull)

  /** [[internal]] plus EXTRA source columns (src → alias), one scan — the
    * shared feed for fused same-source pipelines (the G3 single-scan path
    * reads the group column and every value column off one projection
    * instead of one `internal` scan per series).
    */
  private[graft] def internalPlus(extra: (String, String)*): DataFrame =
    df.select(idxExpr.as("__idx") +: col(valueCol).as("__v") +:
        extra.toIndexedSeq.map { case (src, as) => col(src).as(as) }: _*)
      .where(col("__idx").isNotNull)

  /** Whether `other` yields exactly this series' `__idx` for every source
    * row: the same frame (the same object, or an analyzed plan with the same
    * result — two `spark.read.parquet(path)` calls of one file compare
    * equal), the same index column and the same tz interpretation, DST
    * policies included. The gate of every same-source fusion (one scan,
    * one bounds agg). Not keyed on `internal`'s plan: a tz-declared index
    * embeds the series name in its conversion expression.
    */
  private[graft] def sameSource(other: Series): Boolean =
    idxCol == other.idxCol && tz == other.tz &&
      tzAmbiguous == other.tzAmbiguous &&
      tzNonexistent == other.tzNonexistent &&
      ((df eq other.df) || df.queryExecution.analyzed
        .sameResult(other.df.queryExecution.analyzed))

  /** The index as internal doubles — the `__idx` of [[internal]]. */
  private[graft] lazy val idxExpr: org.apache.spark.sql.Column = {
    (domain, idxType, tz) match {
      case (Domain.Time, TimestampNTZType, Some(zone)) =>
        // wall time in `zone` → true epoch instant, via a native codegen'd
        // expression (one ZoneRules.getValidOffsets lookup per row). DST edge
        // cases default to the reference's strictness (pandas raises
        // AmbiguousTimeError / NonExistentTimeError instead of guessing):
        // a spring-forward gap wall time (no valid offset) and a fall-back
        // overlap wall time (two valid offsets) both raise; silent coercion
        // would quietly put the repeated hour's rows in the wrong windows.
        // tzAmbiguous/tzNonexistent opt into the pandas escape hatches.
        graft.expr.WallInstantMicros(col(idxCol), zone, name,
          tzAmbiguous, tzNonexistent).cast(DoubleType)
      case (Domain.Time, _, _) =>
        unix_micros(col(idxCol).cast(TimestampType)).cast(DoubleType)
      case _ => col(idxCol).cast(DoubleType)
    }
  }

  /** Restore an internal Double index/anchor column to the original dtype
    * (datatype & index-dtype retention guarantee, SURVEY §1.3) — and, for a
    * tz-declared wall-clock index, back to wall time in the input zone
    * (reference: strided_rolling.py:593-596 `tz_convert(self._tz_index)`).
    */
  def restoreIdx(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (idxType, tz) match {
      case (TimestampNTZType, Some(zone)) =>
        convert_timezone(lit("UTC"), lit(zone),
          timestamp_add("MICROSECOND", c.cast(LongType), epochNtz))
      case (TimestampType | TimestampNTZType | DateType, _) =>
        timestamp_micros(c.cast(LongType)).cast(idxType)
      case (t: NumericType, _) => c.cast(t)
      case (t, _)              => c.cast(t)
    }

  /** Column metadata for output anchor columns: carries the declared zone so
    * sinks can render instants in the input tz (`TimestampType` has no
    * per-column zone in Spark — metadata is the native channel for it).
    */
  def idxMetadata: Metadata = tz match {
    case Some(zone) => new MetadataBuilder().putString("tz", zone).build()
    case None       => Metadata.empty
  }
}

object Series {
  /** Explode a wide frame into one Series per non-index column, dropping
    * each column's null rows so every series keeps an independent index
    * (the reference warns against NaN-injecting wide joins,
    * docs/pdoc_include/root_documentation.md:57-68).
    */
  def fromWide(df: DataFrame, idxCol: String, cols: Seq[String] = Nil,
               tz: Option[String] = None): Seq[Series] = {
    val names = if (cols.nonEmpty) cols else df.columns.filterNot(_ == idxCol).toSeq
    names.map(c => Series(c, df.where(col(c).isNotNull), idxCol, c, tz))
  }

  /** Long/tidy format → series list: one Series per distinct value of
    * `keyCol` (the reference ships this as a documented recipe,
    * docs/pdoc_include/root_documentation.md:51-88). The key set is
    * collected to the driver (it is the SERIES list — inherently small);
    * each series is a pushdown-friendly filter over the same source.
    */
  def fromLong(df: DataFrame, idxCol: String, keyCol: String,
               valueCol: String): Seq[Series] = {
    val keys = df.select(keyCol).distinct()
      .collect().map(_.get(0).toString).sorted
    keys.toSeq.map(k => Series(k,
      df.where(col(keyCol) === k).select(col(idxCol), col(valueCol).as(k)),
      idxCol, k))
  }

  /** S3: series-dict → wide frame sink — full outer equi-join of all series
    * on the index (reference: tsflex/utils/data.py:16-71
    * `series_dict_to_df`).
    */
  def toWide(series: Seq[Series]): DataFrame = {
    require(series.nonEmpty)
    val frames = series.map(s => s.df.select(col(s.idxCol).as("__join_idx"),
      col(s.valueCol).as(s.name)))
    frames.reduce((a, b) => a.join(b, Seq("__join_idx"), "full_outer"))
      .withColumnRenamed("__join_idx", series.head.idxCol)
  }
}
