package graft.core

/** Index domain of a series or window/stride argument.
  *
  * Mirrors the reference's `DataType` enum
  * (reference: tsflex/utils/attribute_parsing.py:14-20): a series index is
  * either TIME (datetime64) or SEQUENCE (numeric). Window/stride arguments
  * carry the same domain and must match the data domain (strided_rolling
  * factory dispatch, reference: segmenter/strided_rolling_factory.py:32-98).
  */
sealed trait Domain {
  /** G3 terminator: group_by_consecutive closes the last run's segment this
    * far past its last row — +1 day (in micros) for TIME, +1 for SEQUENCE
    * (reference: feature_collection.py:682-688).
    */
  def runEnd: Double
}
object Domain {
  case object Time extends Domain { def runEnd: Double = 86400e6 }
  case object Sequence extends Domain { def runEnd: Double = 1.0 }
}

/** A window or stride size.
  *
  * Internally all segment arithmetic runs on Double (micros for TIME — exact
  * for |v| < 2^53, far beyond any realistic epoch-micros span).
  */
sealed trait Win {
  def domain: Domain

  /** Magnitude in internal index units (micros for TIME, raw for SEQUENCE). */
  def amount: Double

  /** Compact rendering used in output feature-column names (W10). */
  def render: String
}

/** Time-domain size, held as integral microseconds. */
final case class TimeWin(micros: Long) extends Win {
  def domain: Domain = Domain.Time
  def amount: Double = micros.toDouble
  def render: String = Win.timedeltaToStr(micros)
}

/** Sequence-domain (numeric-index) size. `repr` preserves the user's
  * spelling (int vs float) for name fidelity (`str(window)` in the
  * reference, strided_rolling.py:553-560).
  */
final case class SeqWin(v: Double, repr: String) extends Win {
  def domain: Domain = Domain.Sequence
  def amount: Double = v
  def render: String = repr
}

/** Sample-count window over a TIME-indexed series (W9,
  * TimeIndexSampleStridedRolling — reference: strided_rolling.py:627-698).
  */
final case class SampleWin(n: Long) extends Win {
  def domain: Domain = Domain.Sequence
  def amount: Double = n.toDouble
  def render: String = n.toString
}

object Win {
  def seq(v: Long): SeqWin = SeqWin(v.toDouble, v.toString)
  def seq(v: Double): SeqWin = SeqWin(v, v.toString)

  /** Parse a time-string like "30s", "15m", "1h", "1D2h30m15s", "250ms"
    * into a TimeWin. Bare numerics are rejected, matching the reference
    * (argument_parsing.py:105-117).
    */
  def time(s: String): TimeWin = {
    require(s.nonEmpty, "empty time string")
    require(!s.forall(c => c.isDigit || c == '.'),
      s"time-string arg $s must contain a unit")
    // Longest alternatives first ('ms' before 'm', 'sec(onds)' before 's') so
    // sub-second units are reachable; the whole (underscore/space-stripped)
    // input must be covered by unit tokens — trailing garbage is rejected.
    val unitPat = "days|day|hours|hour|seconds|sec|min|ms|us|D|d|h|s|m"
    val token = raw"(\d+(?:\.\d+)?)($unitPat)".r
    val cleaned = s.replaceAll("[_\\s]", "")
    require(cleaned.matches(raw"(?:\d+(?:\.\d+)?(?:$unitPat))+"),
      s"cannot parse time string: $s")
    var total = 0.0
    token.findAllMatchIn(cleaned).foreach { m =>
      val v = m.group(1).toDouble
      val unit = m.group(2) match {
        case "D" | "d" | "day" | "days" => 86400e6
        case "h" | "hour" | "hours"     => 3600e6
        case "m" | "min"                => 60e6
        case "s" | "sec" | "seconds"    => 1e6
        case "ms"                       => 1e3
        case "us"                       => 1.0
      }
      total += v * unit
    }
    TimeWin(math.round(total))
  }

  def time(micros: Long): TimeWin = TimeWin(micros)

  /** Rejects a window or stride that is not > 0, naming the value: a zero
    * stride would divide the window count by zero, and a non-positive
    * window holds no rows. */
  def requirePositive(window: Option[Win], strides: Option[Seq[Win]]): Unit = {
    window.foreach(w => require(w.amount > 0, s"window must be > 0, got $w"))
    strides.foreach(_.foreach(s =>
      require(s.amount > 0, s"stride must be > 0, got $s")))
  }

  /** Compact timedelta rendering for output column names.
    *
    * Same behavior as the reference's `timedelta_to_str`
    * (reference: tsflex/utils/argument_parsing.py:48-85): optional NEG
    * prefix, days as `{d}D`, `_` separator when days precede sub-day parts,
    * then `{h}h{m}m{s}[.frac]s`; milliseconds rendered as a trailing
    * fraction with trailing zeros stripped; sub-millisecond parts dropped.
    */
  def timedeltaToStr(microsIn: Long): String = {
    val sb = new StringBuilder
    var us = microsIn
    if (us < 0) { sb.append("NEG"); us = -us }
    val days = us / 86400000000L
    val hours = (us / 3600000000L) % 24
    val minutes = (us / 60000000L) % 60
    val seconds = (us / 1000000L) % 60
    val millis = (us / 1000L) % 1000
    if (days > 0) sb.append(s"${days}D")
    if (hours > 0 || minutes > 0 || seconds > 0 || millis > 0) {
      if (sb.nonEmpty && days > 0) sb.append("_")
      if (hours > 0) sb.append(s"${hours}h")
      if (minutes > 0) sb.append(s"${minutes}m")
      if (seconds > 0 || millis > 0) {
        sb.append(s"$seconds")
        if (millis > 0) {
          val frac = f"${millis / 1000.0}%.3f".drop(2).reverse.dropWhile(_ == '0').reverse
          sb.append(s".$frac")
        }
        sb.append("s")
      }
    }
    sb.toString
  }

  /** Output feature-column name: `{s1|s2}__{feat}__w={win}` (W10,
    * reference: strided_rolling.py:502-507 `construct_output_index`).
    */
  def outputName(seriesKeys: Seq[String], featName: String, winStr: String): String =
    s"${seriesKeys.mkString("|")}__${featName}__w=$winStr"

  /** A feature's output columns off its aggregate column `agg`, each with
    * its [[outputName]]: a multi-output function (A3 one-to-many) returns a
    * struct, and each declared output is one field of it, aliased to its
    * name; a single-output feature is `agg` itself.
    */
  def outputColumns(seriesKeys: Seq[String], featName: String,
                    outputNames: Option[Seq[String]], winStr: String,
                    agg: org.apache.spark.sql.Column): Seq[(String, org.apache.spark.sql.Column)] =
    outputNames match {
      case Some(os) => os.map { o =>
        val n = outputName(seriesKeys, o, winStr)
        n -> agg.getField(o).as(n)
      }
      case None => Seq(outputName(seriesKeys, featName, winStr) -> agg)
    }
}
