package graft.sinks

import org.apache.spark.sql.types._
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Typed value → PostgreSQL text literal, resolved ONCE per column from
  * the schema (not per row). This is the boundary where the engine leaves
  * Spark types for the COPY TEXT wire format — the reference's equivalent
  * renderings: booleans `t`/`f` (transforms.lisp:176-181), bytea `\x…` hex
  * (transforms.lisp:334-363), float literals incl. ±Infinity
  * (transforms.lisp:299-311).
  */
object PgLiteral {

  private val tsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def formatMicros(base: String, nanos: Int): String = {
    val micros = nanos / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  private def formatInstant(i: Instant): String =
    formatMicros(tsFmt.format(i), i.getNano)

  private def formatLocal(dt: LocalDateTime): String =
    formatMicros(tsFmt.format(dt), dt.getNano)

  /** Per-column formatter; never receives null (the sink writes `\N`). */
  def formatter(dt: DataType): Any => String = dt match {
    case BinaryType => v =>
      graft.sources.ByteaHex.render(v.asInstanceOf[Array[Byte]])
    case BooleanType => v => if (v.asInstanceOf[Boolean]) "t" else "f"
    case TimestampType => {
      case t: java.sql.Timestamp => formatInstant(t.toInstant)
      case i: Instant            => formatInstant(i)
      case other                 => other.toString
    }
    case TimestampNTZType => {
      case l: LocalDateTime => formatLocal(l)
      case other            => other.toString
    }
    case DateType => {
      case d: java.sql.Date => d.toString // yyyy-MM-dd
      case l: LocalDate     => l.toString
      case other            => other.toString
    }
    case _: DecimalType =>
      v => v.asInstanceOf[java.math.BigDecimal].toPlainString
    // Float/Double .toString renders Infinity/-Infinity/NaN — all of
    // which PG accepts as float literals (transforms.lisp:299-311).
    case _ => _.toString
  }
}
