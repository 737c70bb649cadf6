package graft.core

import java.time.format.{DateTimeFormatterBuilder, DateTimeFormatter, TextStyle}
import java.time.temporal.ChronoField
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.Locale

/** String → typed-value conversions with failure-threshold semantics.
  *
  * Mirrors the reference's conversion layer (structa
  * conversions.py:16-69, analyzer.py:54-82): bool token pairs, ints in
  * bases 8/10/16 (with optional 0o/0x prefixes, as Python's
  * `int(s, base)` accepts), floats, and datetimes in the reference's
  * fixed + variable strptime formats. `tryConversion` tolerates up to a
  * weighted threshold of bad values and requires at least one success.
  */
object Conversions {

  /** conversions.py:57-69 */
  def parseBool(s: String, falseToken: String,
                trueToken: String): Option[Boolean] =
    s.trim.toLowerCase match {
      case v if v == falseToken => Some(false)
      case v if v == trueToken  => Some(true)
      case _                    => None
    }

  /** Python int(s, base): optional sign, optional matching 0o/0x
    * prefix, underscores are NOT supported here (rare in data).
    */
  def parseInt(s: String, base: Int): Option[Any] = {
    val body = SType.stripBasePrefix(s, base)
    if (body.isEmpty || body == "-" || body == "+") return None
    try Some(java.lang.Long.parseLong(body, base))
    catch {
      case _: NumberFormatException =>
        // overflow or invalid chars; Python ints are unbounded, so
        // distinguish: valid digits → keep EXACT via BigInt (a Double
        // would silently lose precision in SInt stats)
        try Some(BigInt(body, base))
        catch { case _: NumberFormatException => None }
    }
  }

  def parseFloat(s: String): Option[Double] = {
    val t = s.trim
    if (t.isEmpty) return None
    // Reject Java-isms Python float() rejects ("1d", "0x1p3", "1f")
    if (t.exists(c => c == 'x' || c == 'X' || c == 'd' || c == 'D' ||
        c == 'f' || c == 'F')) {
      val lower = t.toLowerCase
      if (lower != "inf" && lower != "-inf" && lower != "+inf" &&
          lower != "nan") return None
    }
    try Some(t.toDouble)
    catch { case _: NumberFormatException => None }
  }

  /** analyzer.py:64-82 — the reference's datetime format tables. */
  val FixedDateTimePatterns: Seq[String] = Seq(
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
    "%a, %d %b %Y %H:%M:%S",
    "%a, %d %b %Y %H:%M:%S %Z")

  val VarDateTimePatterns: Seq[String] = Seq(
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M%z",
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S.%f%z",
    "%Y-%m-%d %H:%M:%S%z",
    "%Y-%m-%d %H:%M%z")

  /** Spark `try_to_timestamp` pattern equivalents (Java
    * DateTimeFormatter syntax) for pushing the same probes into
    * distributed conditional aggregations.
    */
  val strptimeToSpark: Map[String, String] = Map(
    "%Y-%m-%dT%H:%M:%S" -> "yyyy-MM-dd'T'HH:mm:ss",
    "%Y-%m-%dT%H:%M" -> "yyyy-MM-dd'T'HH:mm",
    "%Y-%m-%d %H:%M:%S" -> "yyyy-MM-dd HH:mm:ss",
    "%Y-%m-%d %H:%M" -> "yyyy-MM-dd HH:mm",
    "%Y-%m-%d" -> "yyyy-MM-dd",
    "%Y-%m-%dT%H:%M:%S.%f" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "%Y-%m-%d %H:%M:%S.%f" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A pattern's formatter and what it parses to, worked out once. */
  private final case class DateTimeFormat(formatter: DateTimeFormatter,
                                          withOffset: Boolean,
                                          withTime: Boolean)

  private val formatCache =
    scala.collection.concurrent.TrieMap.empty[String, DateTimeFormat]

  private val hasTime = Set('H', 'M', 'S', 'f')

  private def formatFor(pattern: String): DateTimeFormat =
    formatCache.getOrElseUpdate(pattern, {
      val b = new DateTimeFormatterBuilder()
      var i = 0
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (c == '%' && i + 1 < pattern.length) {
          pattern.charAt(i + 1) match {
            case 'Y' => b.appendValue(ChronoField.YEAR, 4)
            case 'm' => b.appendValue(ChronoField.MONTH_OF_YEAR, 2)
            case 'd' => b.appendValue(ChronoField.DAY_OF_MONTH, 2)
            case 'H' => b.appendValue(ChronoField.HOUR_OF_DAY, 2)
            case 'M' => b.appendValue(ChronoField.MINUTE_OF_HOUR, 2)
            case 'S' => b.appendValue(ChronoField.SECOND_OF_MINUTE, 2)
            case 'f' =>
              b.appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, false)
            case 'z' => b.appendOffset("+HHmmss", "Z")
            case 'a' => b.appendText(ChronoField.DAY_OF_WEEK,
              TextStyle.SHORT)
            case 'b' => b.appendText(ChronoField.MONTH_OF_YEAR,
              TextStyle.SHORT)
            case 'Z' => b.appendZoneText(TextStyle.SHORT)
            case o => b.appendLiteral(o)
          }
          i += 2
        } else {
          b.appendLiteral(c)
          i += 1
        }
      }
      // STRICT: Python's strptime rejects impossible dates like
      // Feb 31; java.time's default SMART resolver silently adjusts
      // them to the month's last day
      DateTimeFormat(
        b.toFormatter(Locale.ENGLISH)
          .withResolverStyle(java.time.format.ResolverStyle.STRICT),
        withOffset = pattern.contains("%z") || pattern.contains("%Z"),
        withTime = pattern.sliding(2).exists(p =>
          p.length == 2 && p(0) == '%' && hasTime(p(1))))
    })

  /** Parse `s` with a strptime-style `pattern` → UTC Instant. Patterns
    * without an offset are interpreted as UTC (the reference keeps
    * naive datetimes; we normalize to Instant).
    */
  def parseDateTime(s: String, pattern: String): Option[Instant] = {
    val f = formatFor(pattern)
    val fmt = f.formatter
    try {
      if (f.withOffset)
        Some(OffsetDateTime.parse(s, fmt).toInstant)
      else if (f.withTime)
        Some(LocalDateTime.parse(s, fmt).toInstant(ZoneOffset.UTC))
      else
        Some(LocalDate.parse(s, fmt).atStartOfDay
          .toInstant(ZoneOffset.UTC))
    } catch {
      case _: java.time.format.DateTimeParseException => None
      case _: java.time.DateTimeException => None
    }
  }

  /** conversions.py:16-54 — convert every distinct value, tolerating up
    * to `badThreshold` (weighted) failures; zero successes = failure.
    */
  def tryConversion(sample: ValueCounter, convert: String => Option[Any],
                    badThreshold: Long): Option[ValueCounter] = {
    var budget = badThreshold
    val out = ValueCounter.newBuilder(sample.distinct)
    var converted = false
    var i = 0
    while (i < sample.distinct) {
      val count = sample.countAt(i)
      convert(sample.keyAt(i).asInstanceOf[String]) match {
        case Some(v) => out.add(v, count); converted = true
        case None =>
          if (badThreshold == 0) return None
          budget -= count
          if (budget < 0) return None
      }
      i += 1
    }
    if (converted) Some(out.result()) else None
  }
}
