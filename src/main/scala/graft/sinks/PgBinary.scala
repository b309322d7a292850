package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.{FunctionInstaller => ExpressionUtils}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL COPY BINARY encoding — the opt-in `WITH copy binary` sink
  * path. The reference loads COPY TEXT only; this is a Spark-first
  * extension: the executor fleet parses each text value ONCE into the
  * server's native binary datum, so the single PostgreSQL writer end
  * skips `int4in`/`date_in`/`numeric_in` per field AND the escape scan
  * per row. At cluster scale that converts server-CPU (the bottleneck:
  * one server, a thousand executors) into executor-CPU (abundant).
  *
  * Wire format (PG docs "Binary Format", src/backend/commands/copy*):
  * 19-byte header (`PGCOPY\n\377\r\n\0` + int32 flags=0 + int32
  * extlen=0), then per tuple int16 field-count followed by, per field,
  * int32 byte-length (-1 = NULL) + the type's `recv` payload, then an
  * int16 -1 trailer. Header/trailer are written by the endpoint around
  * each COPY statement ([[PgWireConnection.copyInRowsBinary]]); this
  * object renders the per-tuple frames.
  *
  * Reject contract: a value the target type cannot parse must reject
  * THAT ROW, exactly as the server's own input routine would under
  * COPY TEXT — never fail the task. Encoders therefore return null on
  * any unparseable value; [[rowColumn]] propagates it (null-intolerant
  * concat) to a null row frame, and [[CopySink]] routes null frames to
  * the reject channel with the row's COPY TEXT rendering.
  *
  * Fidelity caveats, both narrower than COPY TEXT and documented here
  * rather than silent: (1) values are parsed by the STRICT grammars
  * below (ISO dates/times, plain/scientific numerics, `t/f/true/…`
  * booleans) — PG's text routines accept more spellings (e.g.
  * `Jan 8 1999`), and such rows reject under binary; (2) a zoneless
  * timestamptz value is interpreted as UTC (this engine pins UTC
  * everywhere), where COPY TEXT would consult the server's TimeZone.
  * The Runner additionally resolves ENUM columns to [[PgBinKind.Text]]
  * (`enum_recv` reads the label string), DOMAIN columns to their
  * base type's kind (a domain's recv is the base recv + its checks),
  * ARRAY columns to [[PgBinKind.Arr]] of the element's kind (values
  * may be multi-dimensional — up to array_in's 6-dim cap), RANGE
  * columns to [[PgBinKind.Rng]] of the pg_range subtype's kind,
  * MULTIRANGE columns to [[PgBinKind.Mrng]] of the member range, and
  * COMPOSITE columns to [[PgBinKind.Comp]] over the NON-dropped
  * attribute kinds + OIDs in attnum order (dropped attributes are
  * skipped by record_in's text grammar and record_send's wire form
  * alike, so filtering them keeps the two aligned — live-pinned);
  * types outside that resolution (custom base types whose recv
  * semantics the engine cannot know) make the Runner fall back to
  * COPY TEXT for the table. Per-VALUE `[lo:hi]=` array dim specs
  * encode (the wire form carries a lower bound per dim, so
  * `array_lower` survives binary exactly as it does text).
  * `WITH exactly once` composes: the stage tables clone the target's
  * layout (LIKE), so the staged path ships the same binary datums.
  */
/** Supported COPY BINARY target-type encodings; top-level so generated
  * code can declare the reference-object field with a plain Java type
  * name (an inner `PgBinary.Kind` would need a `$` binary name Janino
  * can't parse in a declaration). `typname` is pg_type.typname. */
sealed abstract class PgBinKind(val typname: String) extends Serializable

object PgBinKind {
  case object Bool extends PgBinKind("bool")
  case object I2 extends PgBinKind("int2")
  case object I4 extends PgBinKind("int4")
  case object I8 extends PgBinKind("int8")
  case object F4 extends PgBinKind("float4")
  case object F8 extends PgBinKind("float8")
  case object Date extends PgBinKind("date")
  case object Ts extends PgBinKind("timestamp")
  case object TsTz extends PgBinKind("timestamptz")
  case object Time extends PgBinKind("time")
  case object Num extends PgBinKind("numeric")
  case object Uuid extends PgBinKind("uuid")
  case object Bytea extends PgBinKind("bytea")
  case object Ival extends PgBinKind("interval")
  case object Text extends PgBinKind("text")

  /** `jsonb_recv`: one version byte (1) then the json TEXT — the
    * server still parses it (jsonb_from_cstring), so this kind saves
    * no server CPU by itself; it exists so a jsonb column doesn't
    * force the whole TABLE off the binary path. */
  case object Jsonb extends PgBinKind("jsonb")

  /** One-dimensional array of a scalar kind. `elemOid` is the ELEMENT
    * type's pg_type.oid, resolved from the target catalog
    * (`array_recv` requires the sent element OID to match the
    * column's element type — it is part of the wire payload, unlike
    * every scalar kind). Nested arrays are not constructed. */
  final case class Arr(elem: PgBinKind, elemOid: Int)
      extends PgBinKind("_" + elem.typname)

  /** Range over a subtype kind (`range_recv`: one flags byte, then a
    * length-prefixed bound datum per present bound). The server
    * canonicalizes on receive exactly like `range_in` (discrete
    * ranges: '[1,3]' lands as '[1,4)'), so the encoder ships the
    * parsed bounds verbatim. Built-in ranges resolve by name in
    * [[PgBinary.kindOf]]; custom ranges resolve their subtype through
    * pg_range in the Runner's catalog pass. */
  final case class Rng(elem: PgBinKind, rangeTypname: String)
      extends PgBinKind(rangeTypname)

  /** Multirange over a range kind (`multirange_recv`: int32 range
    * count, then per member range an int32 length + that range's own
    * payload — pinned from a live COPY TO (FORMAT binary) hexdump).
    * The server canonicalizes on receive exactly like multirange_in
    * (sorts, merges overlaps/adjacents, drops empty members). */
  final case class Mrng(rng: Rng, mrTypname: String)
      extends PgBinKind(mrTypname)

  /** Composite type (`record_recv`: int32 field count, then per field
    * int32 attribute type OID + the length-prefixed datum, −1 = NULL).
    * `fields` carries each attribute's kind AND its pg_type oid in
    * attnum order, resolved from the target catalog — record_recv
    * validates both the count and every per-field OID against the
    * column's composite type. */
  final case class Comp(fields: Seq[(PgBinKind, Int)],
                        compTypname: String)
      extends PgBinKind(compTypname)
}

object PgBinary {
  import PgBinKind._

  /** pg_type.typname → encoding, None = unsupported (text fallback).
    * char-family and name are length-prefixed raw bytes exactly like
    * text (server-side padding/truncation applies as in COPY TEXT). */
  def kindOf(typname: String): Option[PgBinKind] = typname match {
    case "bool" => Some(Bool)
    case "int2" => Some(I2)
    case "int4" => Some(I4)
    case "int8" => Some(I8)
    case "float4" => Some(F4)
    case "float8" => Some(F8)
    case "date" => Some(Date)
    case "timestamp" => Some(Ts)
    case "timestamptz" => Some(TsTz)
    case "time" => Some(Time)
    case "numeric" => Some(Num)
    case "uuid" => Some(Uuid)
    case "bytea" => Some(Bytea)
    case "interval" => Some(Ival)
    case "jsonb" => Some(Jsonb)
    // json_recv reads the raw text form. xml is deliberately ABSENT:
    // xml_recv converts the payload per the document's own encoding
    // declaration while the text path converts from client_encoding —
    // a LATIN1-declared document would land mojibake under binary, a
    // silent divergence from the text path, so xml tables fall back
    case "text" | "varchar" | "bpchar" | "name" | "json" =>
      Some(Text)
    // built-in range types carry fixed subtypes (pg_range bootstrap);
    // custom ranges resolve through the Runner's catalog pass instead
    case "int4range" => Some(Rng(I4, "int4range"))
    case "int8range" => Some(Rng(I8, "int8range"))
    case "numrange" => Some(Rng(Num, "numrange"))
    case "daterange" => Some(Rng(Date, "daterange"))
    case "tsrange" => Some(Rng(Ts, "tsrange"))
    case "tstzrange" => Some(Rng(TsTz, "tstzrange"))
    case _ => None
  }

  // range flag bits (rangetypes.h RANGE_EMPTY/LB_INC/UB_INC/LB_INF/
  // UB_INF — part of the public binary wire format)
  private val RngEmpty = 0x01
  private val RngLbInc = 0x02
  private val RngUbInc = 0x04
  private val RngLbInf = 0x08
  private val RngUbInf = 0x10

  /** ASCII whitespace ONLY (PG's isspace) for the range/multirange/
    * composite literal grammars: Character.isWhitespace also matches
    * Unicode spaces the server rejects — accepting them would
    * silently load literals the text path errors on. */
  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' ||
      c == '\u000B' || c == '\f'

  // PG epoch 2000-01-01: epoch-day 10957; date ±infinity sentinels
  // (datatype/timestamp.h DATEVAL_NOEND/NOBEGIN, DT_NOEND/NOBEGIN)
  private val PgEpochDay = 10957L
  private val DateInf = Int.MaxValue
  private val DateNegInf = Int.MinValue
  private val TsInf = Long.MaxValue
  private val TsNegInf = Long.MinValue

  /** A 4-byte −1 length: the NULL field frame. */
  val NullField: Array[Byte] = Array(-1, -1, -1, -1).map(_.toByte)

  /** 19-byte stream header: signature + flags 0 + extension length 0. */
  val Header: Array[Byte] =
    "PGCOPY\n".getBytes("ISO-8859-1") ++
      Array[Byte](-1, '\r', '\n', 0) ++ new Array[Byte](8)

  /** int16 −1: the stream trailer. */
  val Trailer: Array[Byte] = Array(-1, -1).map(_.toByte)

  // ---- scalar encoders: text value → length-prefixed field bytes ----

  /** Encode one field; null when the value doesn't parse as `kind`
    * (→ the row rejects, see class doc). Called from codegen. */
  def encodeField(v: UTF8String, kind: PgBinKind): Array[Byte] =
    kind match {
      case Text =>
        val n = v.numBytes()
        val out = new Array[Byte](4 + n)
        writeInt(out, 0, n)
        v.writeToMemory(out,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 4)
        out
      case Bool => encodeBool(v)
      case I2 => parseLong(v) match {
        case null => null
        case l if l >= Short.MinValue && l <= Short.MaxValue =>
          val out = new Array[Byte](6); writeInt(out, 0, 2)
          out(4) = (l >> 8).toByte; out(5) = l.toByte; out
        case _ => null
      }
      case I4 => parseLong(v) match {
        case null => null
        case l if l >= Int.MinValue && l <= Int.MaxValue =>
          val out = new Array[Byte](8); writeInt(out, 0, 4)
          writeInt(out, 4, l.toInt); out
        case _ => null
      }
      case I8 => parseLong(v) match {
        case null => null
        case l => i8(l.longValue)
      }
      case F4 => parseDouble(v) match {
        case null => null
        case d =>
          // float4recv stores the bits as sent, so out-of-range must
          // reject HERE exactly as float4in would: a finite input that
          // narrows to ±inf overflowed; a nonzero one that narrows to
          // 0 underflowed
          val dd = d.doubleValue
          val f = dd.toFloat
          if ((java.lang.Float.isInfinite(f) &&
                !java.lang.Double.isInfinite(dd)) ||
              (f == 0.0f && dd != 0.0 && !java.lang.Double.isNaN(dd)))
            null
          else {
            val out = new Array[Byte](8); writeInt(out, 0, 4)
            writeInt(out, 4, java.lang.Float.floatToIntBits(f)); out
          }
      }
      case F8 => parseDouble(v) match {
        case null => null
        case d => i8(java.lang.Double.doubleToLongBits(d.doubleValue))
      }
      case Date => parseDateDays(v) match {
        case null => null
        case days =>
          val out = new Array[Byte](8); writeInt(out, 0, 4)
          writeInt(out, 4, days.intValue); out
      }
      case Ts => parseTimestampMicros(v, applyZone = false) match {
        case null => null; case m => i8(m.longValue)
      }
      case TsTz => parseTimestampMicros(v, applyZone = true) match {
        case null => null; case m => i8(m.longValue)
      }
      case Time => parseTimeMicros(v.toString, max24 = true) match {
        case null => null; case m => i8(m.longValue)
      }
      case Num => encodeNumeric(v)
      case Uuid => encodeUuid(v)
      case Bytea => encodeBytea(v)
      case Ival => encodeInterval(v)
      case Jsonb =>
        val n = v.numBytes()
        val out = new Array[Byte](5 + n)
        writeInt(out, 0, n + 1)
        out(4) = 1 // jsonb_recv version
        v.writeToMemory(out,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 5)
        out
      case a: Arr => encodeArray(v, a)
      case r: Rng => encodeRange(v, r)
      case c: Comp => encodeComposite(v, c)
      case m: Mrng => encodeMultirange(v, m)
    }

  /** `multirange_recv` wire form from the `multirange_in` grammar,
    * live-pinned: optional ASCII whitespace; `{` members `}` with `,`
    * separators; each member is a full range literal (`[`/`(` …
    * `)`/`]`, quote/escape-aware — a quoted bound may contain `}` or
    * `,`) or the bare `empty` keyword; `{}` is the empty multirange.
    * Members ship in input order with empties INCLUDED — the server
    * sorts, merges and drops empties on receive (make_multirange),
    * exactly like the text path. */
  private def encodeMultirange(v: UTF8String, m: Mrng): Array[Byte] = {
    val s = v.toString
    val n = s.length
    var i = 0
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i >= n || s.charAt(i) != '{') return null
    i += 1
    val members =
      new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i < n && s.charAt(i) == '}') i += 1 // empty multirange
    else {
      var done = false
      while (!done) {
        while (i < n && isAsciiWs(s.charAt(i))) i += 1
        if (i >= n) return null
        if (s.regionMatches(true, i, "empty", 0, 5)) {
          val e = encodeField(UTF8String.fromString("empty"), m.rng)
          if (e == null) return null
          members += e
          i += 5
        } else if (s.charAt(i) == '[' || s.charAt(i) == '(') {
          // scan the member range literal to its unquoted close
          // bracket, quote/escape-aware (quoted bounds may contain
          // any of , } ] ))
          val start = i
          i += 1
          var inq = false
          var closed = false
          while (!closed) {
            if (i >= n) return null
            val ch = s.charAt(i)
            if (inq) {
              if (ch == '"') {
                if (i + 1 < n && s.charAt(i + 1) == '"') i += 2
                else { inq = false; i += 1 }
              } else if (ch == '\\') {
                if (i + 1 >= n) return null
                i += 2
              } else i += 1
            } else ch match {
              case ')' | ']' => i += 1; closed = true
              case '"' => inq = true; i += 1
              case '\\' =>
                if (i + 1 >= n) return null
                i += 2
              case _ => i += 1
            }
          }
          val e = encodeField(
            UTF8String.fromString(s.substring(start, i)), m.rng)
          if (e == null) return null
          members += e
        } else return null
        while (i < n && isAsciiWs(s.charAt(i))) i += 1
        if (i >= n) return null
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; done = true
          case _ => return null
        }
      }
    }
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i != n) return null // trailing garbage
    var total = 4
    members.foreach(e => total += e.length)
    val out = new Array[Byte](4 + total)
    writeInt(out, 0, total)
    writeInt(out, 4, members.length)
    var off = 8
    members.foreach { e =>
      System.arraycopy(e, 0, out, off, e.length); off += e.length
    }
    out
  }

  /** `record_recv` wire form from the `record_in`/`record_out` text
    * grammar, live-pinned against PostgreSQL 15: optional ASCII
    * whitespace around the literal; `(` fields `)` with `,`
    * separators; a zero-char unquoted field is SQL NULL while `""` is
    * the empty string; unquoted whitespace is PRESERVED (`( x )` is
    * the 3-char field `" x "`); quotes toggle mid-field (`a""b` =
    * `ab`, `"a""b"` = `a"b`); backslash escapes everywhere; the field
    * count must equal the composite's attribute count exactly. */
  private def encodeComposite(v: UTF8String, c: Comp): Array[Byte] = {
    val s = v.toString
    val n = s.length
    var i = 0
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i >= n || s.charAt(i) != '(') return null
    i += 1
    // one field up to an unquoted/unescaped `,` or `)`. Result:
    // null = syntax error, None = SQL NULL, Some(text) = field value
    def field(): Option[Option[String]] = {
      val sb = new java.lang.StringBuilder
      var sawQuote = false
      var inq = false
      while (true) {
        if (i >= n) return null // unterminated
        val ch = s.charAt(i)
        if (inq) {
          if (ch == '"') {
            if (i + 1 < n && s.charAt(i + 1) == '"') {
              sb.append('"'); i += 2
            } else { inq = false; i += 1 }
          } else if (ch == '\\') {
            if (i + 1 >= n) return null
            sb.append(s.charAt(i + 1)); i += 2
          } else { sb.append(ch); i += 1 }
        } else ch match {
          case ',' | ')' =>
            return Some(if (sb.length == 0 && !sawQuote) None
              else Some(sb.toString))
          case '"' => sawQuote = true; inq = true; i += 1
          case '\\' =>
            if (i + 1 >= n) return null
            sb.append(s.charAt(i + 1)); i += 2
          case c2 => sb.append(c2); i += 1
        }
      }
      null // unreachable
    }
    val vals = new scala.collection.mutable.ArrayBuffer[Option[String]]()
    var done = false
    while (!done) {
      val f = field()
      if (f == null) return null
      vals += f.get
      if (i >= n) return null
      s.charAt(i) match {
        case ',' => i += 1
        case ')' => i += 1; done = true
        case _ => return null
      }
    }
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i != n) return null // trailing garbage
    if (vals.length != c.fields.length) return null // count must match
    val encs = new Array[Array[Byte]](vals.length)
    var j = 0
    while (j < vals.length) {
      vals(j) match {
        case Some(t) =>
          val e = encodeField(UTF8String.fromString(t), c.fields(j)._1)
          if (e == null) return null
          encs(j) = e
        case None => encs(j) = null
      }
      j += 1
    }
    var total = 4
    encs.foreach(e => total += 4 + (if (e == null) 4 else e.length))
    val out = new Array[Byte](4 + total)
    writeInt(out, 0, total)
    writeInt(out, 4, vals.length)
    var off = 8
    j = 0
    while (j < encs.length) {
      writeInt(out, off, c.fields(j)._2); off += 4
      val e = encs(j)
      if (e == null) { writeInt(out, off, -1); off += 4 }
      else { System.arraycopy(e, 0, out, off, e.length); off += e.length }
      j += 1
    }
    out
  }

  /** `range_recv` wire form from the `range_in`/`range_out` text
    * grammar, live-pinned against PostgreSQL 15: optional whitespace
    * around the literal; `empty` case-insensitive; else `[`/`(`,
    * lower bound, `,`, upper bound, `)`/`]`. A bound is INFINITE only
    * when zero characters AND no quotes were consumed (`""` is the
    * empty-string bound, `[ ,b]` is the one-space bound — unquoted
    * whitespace is PRESERVED, the subtype's own input routine trims
    * where it trims). Quotes toggle mid-bound (`"a"x` = `ax`), `""`
    * inside quotes is a literal quote, backslash escapes everywhere.
    * An inclusivity flag on an infinite bound drops silently, like
    * range_in ('[,5]' → '(,5]'). The server canonicalizes on receive
    * (range_serialize), so discrete ranges need no client-side
    * canonicalization. */
  private def encodeRange(v: UTF8String, r: Rng): Array[Byte] = {
    val s = v.toString
    val n = s.length
    var i = 0
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i + 5 <= n && s.regionMatches(true, i, "empty", 0, 5)) {
      var j = i + 5
      while (j < n && isAsciiWs(s.charAt(j))) j += 1
      if (j != n) return null
      val out = new Array[Byte](5)
      writeInt(out, 0, 1); out(4) = RngEmpty.toByte
      return out
    }
    if (i >= n) return null
    var flags = 0
    s.charAt(i) match {
      case '[' => flags |= RngLbInc; i += 1
      case '(' => i += 1
      case _ => return null
    }
    // parse one bound up to an unquoted/unescaped `,`/`)`/`]`.
    // Result: null = syntax error, None = infinite, Some(text) = bound
    def bound(): Option[Option[String]] = {
      val sb = new java.lang.StringBuilder
      var sawQuote = false
      var inq = false
      while (true) {
        if (i >= n) return null // unterminated bound
        val c = s.charAt(i)
        if (inq) {
          if (c == '"') {
            if (i + 1 < n && s.charAt(i + 1) == '"') {
              sb.append('"'); i += 2
            } else { inq = false; i += 1 }
          } else if (c == '\\') {
            if (i + 1 >= n) return null
            sb.append(s.charAt(i + 1)); i += 2
          } else { sb.append(c); i += 1 }
        } else c match {
          case ',' | ')' | ']' =>
            return Some(if (sb.length == 0 && !sawQuote) None
              else Some(sb.toString))
          case '"' => sawQuote = true; inq = true; i += 1
          case '\\' =>
            if (i + 1 >= n) return null
            sb.append(s.charAt(i + 1)); i += 2
          case c2 => sb.append(c2); i += 1
        }
      }
      null // unreachable
    }
    val lower = bound()
    if (lower == null) return null
    if (i >= n || s.charAt(i) != ',') return null
    i += 1
    val upper = bound()
    if (upper == null) return null
    if (i >= n) return null
    s.charAt(i) match {
      case ']' => flags |= RngUbInc; i += 1
      case ')' => i += 1
      case _ => return null
    }
    while (i < n && isAsciiWs(s.charAt(i))) i += 1
    if (i != n) return null // trailing garbage
    if (lower.get.isEmpty) { flags |= RngLbInf; flags &= ~RngLbInc }
    if (upper.get.isEmpty) { flags |= RngUbInf; flags &= ~RngUbInc }
    val lb = lower.get match {
      case Some(t) =>
        val e = encodeField(UTF8String.fromString(t), r.elem)
        if (e == null) return null
        e
      case None => null
    }
    val ub = upper.get match {
      case Some(t) =>
        val e = encodeField(UTF8String.fromString(t), r.elem)
        if (e == null) return null
        e
      case None => null
    }
    val total = 1 + (if (lb == null) 0 else lb.length) +
      (if (ub == null) 0 else ub.length)
    val out = new Array[Byte](4 + total)
    writeInt(out, 0, total)
    out(4) = flags.toByte
    var off = 5
    if (lb != null) { System.arraycopy(lb, 0, out, off, lb.length)
      off += lb.length }
    if (ub != null) System.arraycopy(ub, 0, out, off, ub.length)
    out
  }

  private def i8(l: Long): Array[Byte] = {
    val out = new Array[Byte](12)
    writeInt(out, 0, 8)
    var i = 0
    while (i < 8) { out(4 + i) = (l >> (56 - 8 * i)).toByte; i += 1 }
    out
  }

  private def writeInt(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v >> 24).toByte; out(off + 1) = (v >> 16).toByte
    out(off + 2) = (v >> 8).toByte; out(off + 3) = v.toByte
  }

  private def encodeBool(v: UTF8String): Array[Byte] = {
    val s = v.trim().toString.toLowerCase(java.util.Locale.ROOT)
    val b: Int = s match {
      case "t" | "true" | "y" | "yes" | "on" | "1" => 1
      case "f" | "false" | "n" | "no" | "off" | "0" => 0
      case _ => -1
    }
    if (b < 0) null
    else Array[Byte](0, 0, 0, 1, b.toByte)
  }

  /** PG-style integer text: optional surrounding spaces, one sign,
    * digits. Overflow → null (boxed Long; null = unparseable). */
  private def parseLong(v: UTF8String): java.lang.Long = {
    val n = v.numBytes()
    var i = 0
    while (i < n && v.getByte(i) == ' ') i += 1
    var end = n
    while (end > i && v.getByte(end - 1) == ' ') end -= 1
    if (i >= end) return null
    var neg = false
    v.getByte(i) match {
      case '-' => neg = true; i += 1
      case '+' => i += 1
      case _ => ()
    }
    if (i >= end) return null
    var acc = 0L
    while (i < end) {
      val b = v.getByte(i)
      if (b < '0' || b > '9') return null
      val d = b - '0'
      if (acc < (Long.MinValue + d) / 10) return null // would overflow
      acc = acc * 10 - d // accumulate negative: |Long.MinValue| fits
      i += 1
    }
    if (neg) java.lang.Long.valueOf(acc)
    else if (acc == Long.MinValue) null
    else java.lang.Long.valueOf(-acc)
  }

  /** PG float text: Java grammar plus inf/infinity/nan spellings;
    * Java's trailing type-suffix laxity (`1.5f`) is rejected. */
  private def parseDouble(v: UTF8String): java.lang.Double = {
    val s = v.trim().toString
    if (s.isEmpty) return null
    s.toLowerCase(java.util.Locale.ROOT) match {
      case "inf" | "+inf" | "infinity" | "+infinity" =>
        return java.lang.Double.valueOf(Double.PositiveInfinity)
      case "-inf" | "-infinity" =>
        return java.lang.Double.valueOf(Double.NegativeInfinity)
      case "nan" | "+nan" | "-nan" =>
        return java.lang.Double.valueOf(Double.NaN)
      case _ => ()
    }
    val last = s.charAt(s.length - 1)
    if (last == 'd' || last == 'D' || last == 'f' || last == 'F')
      return null
    // Java's grammar also accepts hex-float literals (0x1.8p3), which
    // float8in rejects — looser-than-server is the one direction the
    // fidelity contract forbids
    if (s.indexOf('x') >= 0 || s.indexOf('X') >= 0) return null
    try {
      val d = java.lang.Double.parseDouble(s)
      // an infinite result from a NUMERIC spelling (handled above) is
      // an overflow — float8in rejects "1e309" as out of range; a ZERO
      // result from a nonzero mantissa ("1e-400") is an underflow,
      // rejected the same way (mantissa only: "0e999" is a true zero)
      if (java.lang.Double.isInfinite(d)) return null
      if (d == 0.0) {
        val eIdx = {
          val e = s.indexOf('e'); if (e >= 0) e else s.indexOf('E')
        }
        val mantissa = if (eIdx >= 0) s.substring(0, eIdx) else s
        if (mantissa.exists(c => c >= '1' && c <= '9')) return null
      }
      java.lang.Double.valueOf(d)
    } catch { case _: NumberFormatException => null }
  }

  /** ISO `y-m-d` → days since 2000-01-01; ±infinity sentinels. */
  private def parseDateDays(v: UTF8String): Integer = {
    val s = v.trim().toString
    val low = s.toLowerCase(java.util.Locale.ROOT)
    if (low == "infinity") return Integer.valueOf(DateInf)
    if (low == "-infinity") return Integer.valueOf(DateNegInf)
    val d = parseIsoDate(s)
    if (d == null) null
    else {
      // exact narrowing: a year-5-million date must reject (as date_in
      // would), not wrap int32 into a silently-wrong in-range day
      val days = d.toEpochDay - PgEpochDay
      if (days < Int.MinValue || days > Int.MaxValue) null
      else Integer.valueOf(days.toInt)
    }
  }

  private def parseIsoDate(s: String): java.time.LocalDate = {
    val parts = s.split("-", -1)
    if (parts.length != 3) return null
    // digits only: Integer.parseInt's sign laxity would accept
    // "2000-+1-01", which date_in rejects
    if (!parts.forall(p => p.nonEmpty && p.length <= 9 &&
      p.forall(_.isDigit))) return null
    // PG's calendar has no year 0 (date_in rejects '0000-01-01');
    // LocalDate is proleptic and would silently map it to 1 BC —
    // looser than the server, which the fidelity contract forbids
    if (parts(0).toInt == 0) return null
    try java.time.LocalDate.of(parts(0).toInt, parts(1).toInt,
      parts(2).toInt)
    catch { case scala.util.control.NonFatal(_) => null }
  }

  /** `y-m-d[ T]h:m[:s[.f]][±HH[:MM]|Z]` → micros since 2000-01-01.
    * `applyZone`: timestamptz applies the offset (zoneless = UTC, see
    * class doc); plain timestamp ignores a trailing offset exactly as
    * `timestamp_in` does. */
  private def parseTimestampMicros(v: UTF8String,
                                   applyZone: Boolean): java.lang.Long = {
    val s = v.trim().toString
    val low = s.toLowerCase(java.util.Locale.ROOT)
    if (low == "infinity") return java.lang.Long.valueOf(TsInf)
    if (low == "-infinity") return java.lang.Long.valueOf(TsNegInf)
    val sep = s.indexWhere(c => c == ' ' || c == 'T')
    if (sep < 0) {
      // date-only input is a valid timestamp (midnight), as
      // timestamp_in accepts
      val d = parseIsoDate(s)
      return if (d == null) null else dayMicros(d, 0L, 0L)
    }
    val date = parseIsoDate(s.substring(0, sep))
    if (date == null) return null
    // zone suffix: trailing Z or the LAST +/- after the time separator
    var timeEnd = s.length
    var zoneMinutes = 0
    var zoned = false
    if (s.endsWith("Z") || s.endsWith("z")) {
      timeEnd = s.length - 1; zoned = true
    } else {
      var i = s.length - 1
      var zi = -1
      while (i > sep && zi < 0) {
        val c = s.charAt(i)
        if (c == '+' || c == '-') zi = i
        i -= 1
      }
      if (zi > sep) {
        val z = s.substring(zi)
        val m = parseZoneMinutes(z)
        if (m == null) return null
        zoneMinutes = m.intValue; zoned = true; timeEnd = zi
      }
    }
    val tod = parseTimeMicros(s.substring(sep + 1, timeEnd),
      max24 = false)
    if (tod == null) return null
    dayMicros(date, tod.longValue,
      if (applyZone && zoned) zoneMinutes * 60000000L else 0L)
  }

  /** date + time-of-day − zone shift as exact int64 micros; null on
    * overflow (a year-400000 timestamp must reject, not wrap into a
    * silently-wrong in-range datum). Values inside int64 but outside
    * PG's own timestamp range are left to `timestamp_recv`'s range
    * check — a per-row server reject, same contract. */
  private def dayMicros(date: java.time.LocalDate, tod: Long,
                        zoneShift: Long): java.lang.Long =
    try java.lang.Long.valueOf(Math.subtractExact(Math.addExact(
      Math.multiplyExact(date.toEpochDay - PgEpochDay, 86400000000L),
      tod), zoneShift))
    catch { case _: ArithmeticException => null }

  /** `±HH`, `±HHMM`, `±HH:MM` → signed minutes. */
  private def parseZoneMinutes(z: String): Integer = {
    if (z.length < 3) return null
    val sign = if (z.charAt(0) == '-') -1 else 1
    val body = z.substring(1).replace(":", "")
    if (!body.forall(_.isDigit)) return null
    val (h, m) = body.length match {
      case 2 => (body.toInt, 0)
      case 4 => (body.substring(0, 2).toInt, body.substring(2).toInt)
      case _ => return null
    }
    if (h > 15 || m > 59) return null
    Integer.valueOf(sign * (h * 60 + m))
  }

  /** `h:m[:s[.ffffff]]` → micros since midnight; `max24` allows the
    * 24:00:00 endpoint PG's time type accepts. */
  private def parseTimeMicros(s0: String, max24: Boolean)
      : java.lang.Long = {
    val s = s0.trim
    val main = s.split("\\.", 2)
    val hms = main(0).split(":", -1)
    if (hms.length < 2 || hms.length > 3) return null
    // bound BEFORE toInt: "00:00:12345678901" must reject the row,
    // not throw NumberFormatException and kill the task
    if (!hms.forall(p =>
      p.nonEmpty && p.length <= 9 && p.forall(_.isDigit))) return null
    val h = hms(0).toInt
    val m = hms(1).toInt
    val sec = if (hms.length == 3) hms(2).toInt else 0
    if (m > 59 || sec > 59) return null
    var frac = 0L
    if (main.length == 2) {
      val f = main(1)
      if (f.isEmpty || f.length > 6 || !f.forall(_.isDigit)) return null
      frac = (f + "000000").substring(0, 6).toLong
    }
    val micros = ((h * 3600L + m * 60L + sec) * 1000000L) + frac
    val limit = if (max24) 86400000000L else 86399999999L
    if (h > 24 || micros > limit) return null
    java.lang.Long.valueOf(micros)
  }

  /** numeric text → base-10000 wire form: int16 ndigits, int16 weight,
    * int16 sign (0x4000 neg, 0xC000 NaN, 0xD000/0xF000 ±inf), int16
    * dscale, then ndigits MSD-first int16 groups. dscale is the input's
    * displayed fraction digits (BigDecimal scale after exponent),
    * matching `numeric_in`. */
  private def encodeNumeric(v: UTF8String): Array[Byte] = {
    val s = v.trim().toString
    s.toLowerCase(java.util.Locale.ROOT) match {
      case "nan" => return numericSpecial(0xC000)
      case "infinity" | "inf" | "+infinity" | "+inf" =>
        return numericSpecial(0xD000)
      case "-infinity" | "-inf" => return numericSpecial(0xF000)
      case _ => ()
    }
    val bd =
      try new java.math.BigDecimal(s)
      catch { case _: NumberFormatException => return null }
    val dscale = math.max(0, bd.scale)
    if (dscale > 0x3FFF) return null // wire field is 14 bits
    val neg = bd.signum < 0
    val plain = bd.abs.stripTrailingZeros
    if (plain.unscaledValue.signum == 0)
      return numericGroups(Array.empty, 0, neg = false, dscale)
    // bound BEFORE materializing the plain string: "1e2000000000"
    // would otherwise build a 2-billion-char string and kill the task;
    // integer-digit count is computable from precision/scale, and PG's
    // numeric itself caps at 131072 integer digits (numeric_in
    // rejects beyond it). The fraction side is already bounded by the
    // dscale <= 0x3FFF check above (stripTrailingZeros only lowers
    // scale).
    if (plain.precision.toLong - plain.scale > 131072L) return null
    // digits left of the point, grouped in 4 from the point outwards
    val text = plain.toPlainString
    val dot = text.indexOf('.')
    val intPart = if (dot < 0) text else text.substring(0, dot)
    val fracPart = if (dot < 0) "" else text.substring(dot + 1)
    val intPad = (4 - intPart.length % 4) % 4
    val fracPad = (4 - fracPart.length % 4) % 4
    val grouped = ("0" * intPad) + intPart + fracPart + ("0" * fracPad)
    var groups = grouped.grouped(4).map(_.toInt).toArray
    var weight = (intPart.length + intPad) / 4 - 1
    // strip leading/trailing zero groups (weight tracks the first)
    var lead = 0
    while (lead < groups.length && groups(lead) == 0) lead += 1
    weight -= lead
    var tail = groups.length
    while (tail > lead && groups(tail - 1) == 0) tail -= 1
    groups = groups.slice(lead, tail)
    if (weight > Short.MaxValue || weight < Short.MinValue) return null
    numericGroups(groups, weight, neg, dscale)
  }

  private def numericSpecial(sign: Int): Array[Byte] =
    numericRaw(Array.empty, 0, sign, 0)

  private def numericGroups(groups: Array[Int], weight: Int,
                            neg: Boolean, dscale: Int): Array[Byte] =
    numericRaw(groups, weight, if (neg) 0x4000 else 0x0000, dscale)

  private def numericRaw(groups: Array[Int], weight: Int, sign: Int,
                         dscale: Int): Array[Byte] = {
    val len = 8 + 2 * groups.length
    val out = new Array[Byte](4 + len)
    writeInt(out, 0, len)
    def i16(off: Int, v: Int): Unit = {
      out(off) = (v >> 8).toByte; out(off + 1) = v.toByte
    }
    i16(4, groups.length); i16(6, weight); i16(8, sign); i16(10, dscale)
    var i = 0
    while (i < groups.length) { i16(12 + 2 * i, groups(i)); i += 1 }
    out
  }

  /** bytea text → raw bytes (the `byteasend` payload), mirroring
    * `byteain` (varlena.c) exactly: `\x` (lowercase x, no leading
    * trim — byteain trims nothing) starts the hex form, where
    * whitespace is allowed BETWEEN byte pairs but not inside one and
    * the digit count must be even; anything else is the legacy escape
    * form — `\\\\` is one backslash byte, `\nnn` (exactly three octal
    * digits, first 0–3) is one byte, a lone `\` rejects, every other
    * byte (including non-ASCII UTF-8 bytes) passes through literally.
    * This is the encoder that moves `byteain`'s hex re-parse — the
    * most expensive per-byte input routine on blob-heavy loads, and
    * what every §2.7 binary transform's `\x` output pays — off the
    * single server onto the executor fleet. */
  private def encodeBytea(v: UTF8String): Array[Byte] = {
    val n = v.numBytes()
    if (n >= 2 && v.getByte(0) == '\\' && v.getByte(1) == 'x') {
      val buf = new Array[Byte]((n - 2) / 2 max 0)
      var cnt = 0
      var hi = -1
      var i = 2
      while (i < n) {
        val b = v.getByte(i)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') {
          // hex_decode skips whitespace before a pair only — a space
          // between a pair's two digits is a server error
          if (hi >= 0) return null
        } else {
          val d = Character.digit(b, 16)
          if (d < 0) return null
          if (hi < 0) hi = d
          else { buf(cnt) = ((hi << 4) | d).toByte; cnt += 1; hi = -1 }
        }
        i += 1
      }
      if (hi >= 0) return null // odd number of hex digits
      byteaOut(buf, cnt)
    } else {
      val buf = new Array[Byte](n)
      var cnt = 0
      var i = 0
      while (i < n) {
        val b = v.getByte(i)
        if (b != '\\') { buf(cnt) = b; cnt += 1; i += 1 }
        else if (i + 1 < n && v.getByte(i + 1) == '\\') {
          buf(cnt) = '\\'; cnt += 1; i += 2
        } else if (i + 3 < n &&
          v.getByte(i + 1) >= '0' && v.getByte(i + 1) <= '3' &&
          v.getByte(i + 2) >= '0' && v.getByte(i + 2) <= '7' &&
          v.getByte(i + 3) >= '0' && v.getByte(i + 3) <= '7') {
          buf(cnt) = (((v.getByte(i + 1) - '0') << 6) |
            ((v.getByte(i + 2) - '0') << 3) |
            (v.getByte(i + 3) - '0')).toByte
          cnt += 1; i += 4
        } else return null
      }
      byteaOut(buf, cnt)
    }
  }

  private def byteaOut(buf: Array[Byte], cnt: Int): Array[Byte] = {
    val out = new Array[Byte](4 + cnt)
    writeInt(out, 0, cnt)
    System.arraycopy(buf, 0, out, 4, cnt)
    out
  }

  /** interval text → `interval_recv` wire form: int64 micros, int32
    * days, int32 months — the three components PG keeps SEPARATE
    * (a month is not a fixed number of days, a day not a fixed number
    * of hours across DST; binary must preserve the split exactly).
    * Two grammars, both subsets of `interval_in` (narrower-is-allowed
    * per the class-doc caveats): ISO 8601 `P[nY][nM][nW][nD]
    * [T[nH][nM][nS]]` with per-field signs and a decimal fraction on
    * S only, and the postgres output style — `[±]N unit` terms
    * (year/yr, mon/month, week, day, hour/hr, minute/min, second/sec,
    * millisecond/ms, microsecond/us, plurals) plus an optional
    * `[±]HH:MM[:SS[.ffffff]]` clock and a trailing `ago` (negates
    * all, the verbose style's suffix). Fractions anywhere else
    * (e.g. '1.5 days', which interval_in cascades) reject the row. */
  private def encodeInterval(v: UTF8String): Array[Byte] = {
    val s = v.trim().toString
    if (s.isEmpty) return null
    var months = 0L
    var days = 0L
    var micros = 0L
    def addMonths(x: Long): Boolean = { months = Math.addExact(months, x); true }
    def addDays(x: Long): Boolean = { days = Math.addExact(days, x); true }
    def addMicros(x: Long): Boolean = { micros = Math.addExact(micros, x); true }
    try {
      if (s.charAt(0) == 'P' || s.charAt(0) == 'p') {
        // ISO 8601 duration
        var i = 1
        var inTime = false
        var any = false
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == 'T' || c == 't') {
            if (inTime) return null
            inTime = true; i += 1
          } else {
            var sign = 1L
            if (c == '+') i += 1
            else if (c == '-') { sign = -1L; i += 1 }
            val ds = i
            while (i < s.length && s.charAt(i).isDigit) i += 1
            if (i == ds || i - ds > 18) return null
            val whole = java.lang.Long.parseLong(s.substring(ds, i))
            var fracMicros = 0L
            var hasFrac = false
            if (i < s.length && s.charAt(i) == '.') {
              hasFrac = true
              i += 1
              val fs = i
              while (i < s.length && s.charAt(i).isDigit) i += 1
              if (i == fs || i - fs > 6) return null
              fracMicros = java.lang.Long.parseLong(
                (s.substring(fs, i) + "000000").substring(0, 6))
            }
            if (i >= s.length) return null
            val unit = s.charAt(i)
            i += 1
            any = true
            (inTime, Character.toUpperCase(unit)) match {
              case (false, 'Y') if !hasFrac =>
                addMonths(sign * Math.multiplyExact(whole, 12L))
              case (false, 'M') if !hasFrac => addMonths(sign * whole)
              case (false, 'W') if !hasFrac =>
                addDays(sign * Math.multiplyExact(whole, 7L))
              case (false, 'D') if !hasFrac => addDays(sign * whole)
              case (true, 'H') if !hasFrac =>
                addMicros(sign * Math.multiplyExact(whole, 3600000000L))
              case (true, 'M') if !hasFrac =>
                addMicros(sign * Math.multiplyExact(whole, 60000000L))
              case (true, 'S') =>
                addMicros(sign * Math.addExact(
                  Math.multiplyExact(whole, 1000000L), fracMicros))
              case _ => return null
            }
          }
        }
        if (!any) return null
      } else {
        // postgres style: "N unit" terms, optional clock, optional ago.
        // interval_in rejects CONFLICTING fields (DecodeInterval's
        // tmask): a repeated unit, two clocks, or a unit overlapping a
        // clock ('3 hours 1:00') all error server-side — mirror that
        // with a seen-mask. A clock claims hour|min|ALL seconds (PG's
        // DTK_TIME_M, live-verified: '04:05 1 sec' and '04:05:06 1 ms'
        // both reject); a FRACTIONAL seconds unit claims sec|ms|us
        // ('1.5 sec 1 ms' rejects) while an integer one claims sec
        // only ('1 sec 1 ms' loads).
        val Y = 1; val MO = 2; val W = 4; val D = 8
        val H = 16; val MI = 32; val SEC = 64; val MS = 128; val US = 256
        var seen = 0
        def claim(bits: Int): Boolean = {
          if ((seen & bits) != 0) false
          else { seen |= bits; true }
        }
        val toks = s.split("\\s+")
        var t = 0
        var any = false
        var negateAll = false
        val clockRe =
          "([+-]?)(\\d{1,15}):(\\d{1,2})(?::(\\d{1,2})(?:\\.(\\d{1,6}))?)?".r
        while (t < toks.length) {
          val tok = toks(t)
          tok match {
            case clockRe(sg, hh, mm, ss, ff) =>
              if (!claim(H | MI | SEC | MS | US)) return null
              val sign = if (sg == "-") -1L else 1L
              val mmL = mm.toLong
              val ssL = if (ss == null) 0L else ss.toLong
              if (mmL > 59 || ssL > 59) return null
              val frac = if (ff == null) 0L
                else ((ff + "000000").substring(0, 6)).toLong
              var m = Math.multiplyExact(hh.toLong, 3600000000L)
              m = Math.addExact(m, mmL * 60000000L)
              m = Math.addExact(m, ssL * 1000000L)
              m = Math.addExact(m, frac)
              addMicros(sign * m)
              any = true
              t += 1
            case "ago" | "AGO" if t == toks.length - 1 =>
              negateAll = true; t += 1
            case _ =>
              // "<signed int> <unit>" pair; decimal fraction only on
              // second units
              if (t + 1 >= toks.length) return null
              val numTok = tok
              val unitTok = toks(t + 1).toLowerCase(java.util.Locale.ROOT)
              val dot = numTok.indexOf('.')
              val intPart = if (dot < 0) numTok else numTok.substring(0, dot)
              val body =
                if (intPart.startsWith("+") || intPart.startsWith("-"))
                  intPart.substring(1)
                else intPart
              if (body.isEmpty || body.length > 18 ||
                !body.forall(_.isDigit)) return null
              val whole = java.lang.Long.parseLong(intPart)
              var fracMicros = 0L
              if (dot >= 0) {
                val f = numTok.substring(dot + 1)
                if (f.isEmpty || f.length > 6 || !f.forall(_.isDigit))
                  return null
                fracMicros = ((f + "000000").substring(0, 6)).toLong
                if (numTok.startsWith("-")) fracMicros = -fracMicros
              }
              val secUnit = Set("second", "seconds", "sec", "secs")
              val msUnit = Set("millisecond", "milliseconds", "ms")
              val usUnit = Set("microsecond", "microseconds", "us")
              // fractional seconds are exact in micros; fractional
              // ms/us would need sub-micro rounding (interval_in
              // rounds, truncation would load a DIFFERENT value) and
              // fractional day+ units cascade — both reject
              if (dot >= 0 && !secUnit(unitTok)) return null
              unitTok match {
                case "year" | "years" | "yr" | "yrs" =>
                  if (!claim(Y)) return null
                  addMonths(Math.multiplyExact(whole, 12L))
                case "mon" | "mons" | "month" | "months" =>
                  if (!claim(MO)) return null
                  addMonths(whole)
                case "week" | "weeks" =>
                  if (!claim(W)) return null
                  addDays(Math.multiplyExact(whole, 7L))
                case "day" | "days" =>
                  if (!claim(D)) return null
                  addDays(whole)
                case "hour" | "hours" | "hr" | "hrs" =>
                  if (!claim(H)) return null
                  addMicros(Math.multiplyExact(whole, 3600000000L))
                case "minute" | "minutes" | "min" | "mins" =>
                  if (!claim(MI)) return null
                  addMicros(Math.multiplyExact(whole, 60000000L))
                case u if secUnit(u) =>
                  if (!claim(if (dot >= 0) SEC | MS | US else SEC))
                    return null
                  addMicros(Math.addExact(
                    Math.multiplyExact(whole, 1000000L), fracMicros))
                case u if msUnit(u) =>
                  if (!claim(MS)) return null
                  addMicros(Math.multiplyExact(whole, 1000L))
                case u if usUnit(u) =>
                  if (!claim(US)) return null
                  addMicros(whole)
                case _ => return null
              }
              any = true
              t += 2
          }
        }
        if (!any) return null
        if (negateAll) {
          months = Math.negateExact(months)
          days = Math.negateExact(days)
          micros = Math.negateExact(micros)
        }
      }
    } catch {
      case _: ArithmeticException => return null
      case _: NumberFormatException => return null
    }
    if (months < Int.MinValue || months > Int.MaxValue ||
      days < Int.MinValue || days > Int.MaxValue) return null
    val out = new Array[Byte](4 + 16)
    writeInt(out, 0, 16)
    var j = 0
    while (j < 8) { out(4 + j) = (micros >> (56 - 8 * j)).toByte; j += 1 }
    writeInt(out, 12, days.toInt)
    writeInt(out, 16, months.toInt)
    out
  }

  /** Array text → `array_recv` wire form: int32 ndim (0 for the
    * empty array, as array_send itself emits), int32 has-null flag,
    * int32 element type OID, then per dim (length, lower bound 1),
    * then per element in row-major order the SAME length-prefixed
    * payload the scalar encoders emit (−1 = NULL). The text grammar
    * mirrors `array_in` (live-pinned): `{…}` with `,` separators,
    * nested braces for multi-dim (consistent sibling counts, no
    * scalar/array mixing per level, max 6 dims, empty braces only as
    * the whole literal), double-quoted elements with backslash
    * escapes, backslash escapes in unquoted elements, unquoted
    * case-insensitive NULL, unescaped whitespace trimmed around
    * unquoted elements. An optional `[lo:hi][lo:hi]…=` dimension-spec
    * prefix follows array_in's PG-15 grammar exactly: whitespace
    * between but not within dimension items, `[n]` meaning `[1:n]`,
    * atoi token semantics (a digits/sign token parsed as optional
    * leading sign + leading digits — `[1-1:3]` is `[1:3]`), upper <
    * lower rejected, and the spec's dim count AND every extent must
    * match the brace structure; the parsed lower bounds ride the wire
    * form's per-dim lb slot, so `array_lower` survives the binary
    * path exactly as it does COPY TEXT. Narrower than the server —
    * documented in the class-doc fidelity caveats: a custom typdelim
    * (only box uses one) rejects the row instead of loading. */
  private def encodeArray(v: UTF8String, a: Arr): Array[Byte] = {
    val s = v.toString
    val n = s.length
    var i = 0
    // all ASCII whitespace, like array_in's own scanner (\n, \r, \v,
    // \f between tokens are server-legal; space/tab-only skipping
    // rejected rows the COPY TEXT path loads)
    def skipWs(): Unit =
      while (i < n && isAsciiWs(s.charAt(i))) i += 1
    skipWs()
    // optional `[lo:hi]…=` dimension items (array_in: whitespace
    // between, but not within, dimension items; `[n]` = `[1:n]`;
    // tokens scan digits/'+'/'-' then parse with atoi semantics)
    val specLb = new Array[Int](6)
    val specDim = new Array[Long](6)
    var nspec = 0
    def atoiToken(): Long = {
      // array_in scans [0-9+-]* then atoi's it: optional ONE leading
      // sign, then leading digits; stops at the first non-digit
      // ('1-1' → 1, '+-3' → 0). Empty token = caller's error.
      val t0 = i
      while (i < n && { val c = s.charAt(i)
        (c >= '0' && c <= '9') || c == '+' || c == '-' }) i += 1
      if (i == t0) return Long.MinValue // no token → malformed
      var p = t0
      var sign = 1L
      if (s.charAt(p) == '+') p += 1
      else if (s.charAt(p) == '-') { sign = -1L; p += 1 }
      var v = 0L
      var sawDigit = false
      while (p < i && s.charAt(p) >= '0' && s.charAt(p) <= '9') {
        v = v * 10 + (s.charAt(p) - '0')
        if (v > Int.MaxValue + 1L) return Long.MinValue // pathological
        sawDigit = true; p += 1
      }
      if (!sawDigit) 0L else sign * v
    }
    while (i < n && s.charAt(i) == '[') {
      if (nspec >= 6) return null // MAXDIM
      i += 1
      val first = atoiToken()
      if (first == Long.MinValue) return null
      var lb = 1L
      var ub = first
      if (i < n && s.charAt(i) == ':') {
        i += 1
        lb = first
        ub = atoiToken()
        if (ub == Long.MinValue) return null
      }
      if (i >= n || s.charAt(i) != ']') return null
      i += 1
      if (ub < lb) return null // "Upper bound cannot be less than lower"
      if (lb < Int.MinValue || lb > Int.MaxValue) return null
      specLb(nspec) = lb.toInt
      specDim(nspec) = ub - lb + 1
      nspec += 1
      skipWs()
    }
    if (nspec > 0) {
      if (i >= n || s.charAt(i) != '=') return null
      i += 1
      skipWs()
    }
    if (i >= n || s.charAt(i) != '{') return null
    // the ONLY legal empty form is the whole literal '{}' — an empty
    // sub-array ('{{}}', '{{1},{}}') is a server error (live-pinned:
    // array_in 'Unexpected "}" character')
    val save = i
    i += 1; skipWs()
    if (i < n && s.charAt(i) == '}') {
      i += 1; skipWs()
      if (i != n) return null
      // a dim spec promises >=1 extent per dim; '{}' has 0 dims
      // ("Specified array dimensions do not match array contents")
      if (nspec > 0) return null
      val out = new Array[Byte](16)
      writeInt(out, 0, 12)
      writeInt(out, 4, 0) // ndim 0: array_send's own empty spelling
      writeInt(out, 8, 0)
      writeInt(out, 12, a.elemOid)
      return out
    }
    i = save
    val elems = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var hasNull = false
    // array_in's dimensionality rules, live-pinned: nesting depth sets
    // ndim (max 6); every level's sibling count must match the first
    // visit; scalars and sub-arrays never mix at one level — so all
    // leaves sit at the same depth and dim-product == element count
    val dimCounts = new Array[Int](6)
    val childKind = new Array[Int](6) // 0 unset, 1 scalar, 2 array
    var ndim = 0
    // one scalar element; i at its first char, left at the separator
    def parseElem(): Boolean = {
      var quoted = false
      var escaped = false
      var elemText: String = null
      if (s.charAt(i) == '"') {
        quoted = true; i += 1
        val sb = new java.lang.StringBuilder
        var closed = false
        while (!closed) {
          if (i >= n) return false
          val c = s.charAt(i)
          if (c == '\\') {
            if (i + 1 >= n) return false
            sb.append(s.charAt(i + 1)); i += 2
          } else if (c == '"') { closed = true; i += 1 }
          else { sb.append(c); i += 1 }
        }
        elemText = sb.toString
      } else {
        val sb = new java.lang.StringBuilder
        // like array_in's dstendptr: position just past the last
        // escaped or non-whitespace char — the trailing trim must
        // not consume escaped whitespace ('{a\ }' is the 2-char
        // element "a ", not "a")
        var lastSig = 0
        while (i < n && s.charAt(i) != ',' && s.charAt(i) != '}') {
          val c = s.charAt(i)
          if (c == '\\') {
            if (i + 1 >= n) return false
            escaped = true
            sb.append(s.charAt(i + 1)); i += 2
            lastSig = sb.length
          } else if (c == '"' || c == '{') return false
          // mid-element quote/brace is a server error
          else {
            sb.append(c); i += 1
            // scanner_isspace: ALL ASCII whitespace trims, not just
            // space/tab (live-pinned: '{a\f}' loads the element "a")
            if (!isAsciiWs(c)) lastSig = sb.length
          }
        }
        var e = sb.length
        while (e > lastSig && isAsciiWs(sb.charAt(e - 1))) e -= 1
        if (e == 0) return false // empty unquoted element errors
        elemText = sb.substring(0, e)
      }
      // only a BARE null token is SQL NULL: array_in treats an
      // escaped (`\NULL`) or quoted spelling as the literal string
      if (!quoted && !escaped && elemText.equalsIgnoreCase("null")) {
        elems += null; hasNull = true; true
      } else {
        val enc = encodeField(UTF8String.fromString(elemText), a.elem)
        if (enc == null) false
        else { elems += enc; true }
      }
    }
    // one '{…}' level; i at the '{', left past the closing '}'
    def parseLevel(level: Int): Boolean = {
      if (level >= 6) return false // MAXDIM
      i += 1
      var count = 0
      var done = false
      while (!done) {
        skipWs()
        if (i >= n) return false
        s.charAt(i) match {
          case '{' =>
            if (childKind(level) == 1) return false
            childKind(level) = 2
            if (!parseLevel(level + 1)) return false
          case '}' => return false // empty sub-array / dangling comma
          case _ =>
            if (childKind(level) == 2) return false
            childKind(level) = 1
            if (level + 1 > ndim) ndim = level + 1
            if (!parseElem()) return false
        }
        count += 1
        skipWs()
        if (i >= n) return false
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; done = true
          case _ => return false
        }
      }
      if (dimCounts(level) == 0) dimCounts(level) = count
      else if (dimCounts(level) != count) return false
      true
    }
    if (!parseLevel(0)) return null
    skipWs()
    if (i != n) return null // trailing garbage after '}'
    var product = 1L
    var d = 0
    while (d < ndim) { product *= dimCounts(d); d += 1 }
    if (product != elems.length) return null // defensive
    if (nspec > 0) {
      // the spec must match the brace structure: same dim count and
      // the same extent per dim (array_in's exact checks)
      if (nspec != ndim) return null
      d = 0
      while (d < ndim) {
        if (specDim(d) != dimCounts(d)) return null
        d += 1
      }
    }
    var total = 12 + ndim * 8
    elems.foreach(e => total += (if (e == null) 4 else e.length))
    val out = new Array[Byte](4 + total)
    writeInt(out, 0, total)
    writeInt(out, 4, ndim)
    writeInt(out, 8, if (hasNull) 1 else 0)
    writeInt(out, 12, a.elemOid)
    var off = 16
    d = 0
    while (d < ndim) {
      writeInt(out, off, dimCounts(d))
      // lb defaults to 1 unless the literal spelled a [lo:hi]= spec
      writeInt(out, off + 4, if (nspec > 0) specLb(d) else 1)
      off += 8; d += 1
    }
    elems.foreach { e =>
      if (e == null) { writeInt(out, off, -1); off += 4 }
      else { System.arraycopy(e, 0, out, off, e.length); off += e.length }
    }
    out
  }

  private def encodeUuid(v: UTF8String): Array[Byte] = {
    val s = v.trim().toString.replace("-", "")
      .stripPrefix("{").stripSuffix("}")
    if (s.length != 32) return null
    val out = new Array[Byte](4 + 16)
    writeInt(out, 0, 16)
    var i = 0
    while (i < 16) {
      val hi = Character.digit(s.charAt(2 * i), 16)
      val lo = Character.digit(s.charAt(2 * i + 1), 16)
      if (hi < 0 || lo < 0) return null
      out(4 + i) = ((hi << 4) | lo).toByte
      i += 1
    }
    out
  }

  // ---- plan-side assembly -------------------------------------------

  /** One COPY BINARY tuple frame per row, fully inside codegen: int16
    * field count ++ per-field length-prefixed payloads (NULL → −1).
    * Null result = some field failed to parse (concat is
    * null-intolerant) → the sink rejects the row. */
  def rowColumn(df: DataFrame, kinds: Seq[PgBinKind]): Column = {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    require(kinds.length == df.columns.length,
      s"${kinds.length} kinds for ${df.columns.length} columns")
    val n = df.columns.length
    val cnt = lit(Array[Byte]((n >> 8).toByte, n.toByte))
    val fields = df.schema.fields.zip(kinds).map { case (f, k) =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      // non-string inputs go through the canonical PG text rendering
      // first (dates, timestamps, decimals — CopyText owns that
      // grammar), then parse into the binary datum
      val txt =
        if (f.dataType == StringType) c
        else graft.sources.CopyText.pgLiteralColumn(c, f.dataType)
      when(c.isNull, lit(NullField))
        .otherwise(ExpressionUtils.column(
          PgBinaryField(ExpressionUtils.expression(txt), k)))
    }
    concat((cnt +: fields.toIndexedSeq): _*)
  }

  /** Decode one tuple frame back to a COPY TEXT line — the reject
    * channel's REPLAYABLE representation for rows the SERVER refused
    * (constraint violations): the sink holds only the sent frames at
    * retry time, and raw binary bytes in a .dat file would be
    * unreplayable garbage. The rendering is canonical for the datum
    * actually shipped (input "+5" re-renders "5", "1e5" numeric
    * re-renders "100000" with its dscale): replaying it loads the
    * same value. Defensive: any malformed frame falls back to the
    * raw bytes rather than failing the reject path. */
  def frameToTextLine(frame: Array[Byte],
                      kinds: Seq[PgBinKind]): Array[Byte] =
    try {
      val sb = new java.lang.StringBuilder
      var off = 0
      def u8(): Int = { val v = frame(off) & 0xFF; off += 1; v }
      def rdI16(): Int = ((u8() << 8) | u8()).toShort.toInt
      def rdI32(): Int = (u8() << 24) | (u8() << 16) | (u8() << 8) | u8()
      def rdI64(): Long = ((rdI32().toLong) << 32) | (rdI32() & 0xFFFFFFFFL)
      // proleptic year <= 0 is BC in PG's text form (year 0 = 1 BC);
      // '%04d' of the raw proleptic year would render '0000'/'-001',
      // which date_in cannot replay — PG spells these '0001-01-01 BC'
      def dateParts(days: Int): (String, Boolean) = {
        val d = java.time.LocalDate.ofEpochDay(days + PgEpochDay)
        val y = d.getYear
        val disp = if (y > 0) y else 1 - y
        (f"$disp%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d",
          y <= 0)
      }
      def dateStr(days: Int): String =
        if (days == DateInf) "infinity"
        else if (days == DateNegInf) "-infinity"
        else {
          val (s, bc) = dateParts(days)
          if (bc) s + " BC" else s
        }
      def timeStr(micros: Long): String = {
        val f = micros % 1000000L
        val sec = micros / 1000000L
        val base = f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"
        if (f == 0) base else f"$base.$f%06d"
      }
      // the era token goes AFTER the zone suffix ('… 00:00:00+00 BC'),
      // matching PG's own timestamptz output — so the zone is threaded
      // in rather than appended by the caller
      def tsStr(micros: Long, zone: String): String =
        if (micros == TsInf) "infinity"
        else if (micros == TsNegInf) "-infinity"
        else {
          val tod = java.lang.Math.floorMod(micros, 86400000000L)
          val days = java.lang.Math.floorDiv(micros, 86400000000L)
          val (ds, bc) = dateParts(days.toInt)
          s"$ds ${timeStr(tod)}$zone" + (if (bc) " BC" else "")
        }
      // plain (pre-COPY-escape) text of one datum payload of `len`
      // bytes at `off`; advances `off` past it. The field loop applies
      // CopyText.escape once per FIELD — identity for the numeric/date
      // spellings, the backslash escape for text/bytea/array forms.
      def datumText(k: PgBinKind, len: Int): String = {
        val end = off + len
        val out = k match {
          case Text =>
            val s = new String(frame, off, len, "UTF-8"); off = end; s
          case Jsonb =>
            // skip the version byte; the payload is the json text
            val s = new String(frame, off + 1, len - 1, "UTF-8")
            off = end; s
          case Bool =>
            val s = if (frame(off) == 1) "t" else "f"; off = end; s
          case I2 => rdI16().toString
          case I4 => rdI32().toString
          case I8 => rdI64().toString
          case F4 => java.lang.Float.intBitsToFloat(rdI32()).toString
          case F8 => java.lang.Double.longBitsToDouble(rdI64()).toString
          case Date => dateStr(rdI32())
          case Ts => tsStr(rdI64(), "")
          case TsTz => tsStr(rdI64(), "+00")
          case Time => timeStr(rdI64())
          case Num => numericStr(rdI16(), rdI16(), rdI16(),
            rdI16(), () => rdI16())
          case Uuid =>
            val hx = (0 until 16).map(j =>
              "%02x".format(frame(off + j) & 0xFF)).mkString
            off = end
            hx.substring(0, 8) + "-" + hx.substring(8, 12) + "-" +
              hx.substring(12, 16) + "-" + hx.substring(16, 20) + "-" +
              hx.substring(20)
          case Ival =>
            // canonical signed-ISO form, live-verified replayable
            // ('P-1M-2DT-3.5S' round-trips through interval_in)
            val us = rdI64()
            val d = rdI32()
            val m = rdI32()
            val b = new java.lang.StringBuilder("P")
            b.append(m).append('M').append(d).append("DT")
            val neg = us < 0
            val au = if (us == Long.MinValue) BigInt(us).abs
              else BigInt(math.abs(us))
            val whole = au / 1000000
            val frac = (au % 1000000).toLong
            if (neg) b.append('-')
            b.append(whole)
            if (frac != 0) {
              val f = "%06d".format(frac).reverse.dropWhile(_ == '0')
                .reverse
              b.append('.').append(f)
            }
            b.append('S')
            b.toString
          case Bytea =>
            // byteain's hex form — the field-level escape doubles the
            // backslash in the line
            val b = new java.lang.StringBuilder("\\x")
            var j = 0
            while (j < len) {
              val x = frame(off + j) & 0xFF
              b.append(Character.forDigit(x >> 4, 16))
                .append(Character.forDigit(x & 0xF, 16))
              j += 1
            }
            off = end
            b.toString
          case a: Arr =>
            // decode back to an array literal with every non-null
            // element double-quoted (always replayable regardless of
            // element content); NULL elements stay the bare keyword.
            // Multi-dim frames render nested braces in row-major
            // order — the text literal's own element order. A non-1
            // lower bound renders the `[lo:hi]…=` prefix (array_out's
            // own spelling), which both array_in and this encoder
            // replay exactly.
            val ndim = rdI32()
            rdI32() // has-null flag — recomputed by array_in on replay
            rdI32() // element oid
            if (ndim == 0) "{}"
            else {
              require(ndim >= 1 && ndim <= 6,
                s"$ndim-dim array in reject frame")
              val counts = new Array[Int](ndim)
              val lbs = new Array[Int](ndim)
              var d = 0
              while (d < ndim) {
                counts(d) = rdI32()
                lbs(d) = rdI32()
                d += 1
              }
              val b = new java.lang.StringBuilder
              if (lbs.exists(_ != 1)) {
                d = 0
                while (d < ndim) {
                  b.append('[').append(lbs(d)).append(':')
                    .append(lbs(d).toLong + counts(d) - 1).append(']')
                  d += 1
                }
                b.append('=')
              }
              def render(level: Int): Unit = {
                b.append('{')
                var j = 0
                while (j < counts(level)) {
                  if (j > 0) b.append(',')
                  if (level == ndim - 1) {
                    val elen = rdI32()
                    if (elen == -1) b.append("NULL")
                    else {
                      val et = datumText(a.elem, elen)
                      b.append('"')
                      var p = 0
                      while (p < et.length) {
                        val c = et.charAt(p)
                        if (c == '"' || c == '\\') b.append('\\')
                        b.append(c)
                        p += 1
                      }
                      b.append('"')
                    }
                  } else render(level + 1)
                  j += 1
                }
                b.append('}')
              }
              render(0)
              b.toString
            }
          case r: Rng =>
            // decode back to a range literal; present bounds come out
            // always-quoted (replayable regardless of content — the
            // range grammar quotes like the array grammar)
            val flags = u8()
            if ((flags & RngEmpty) != 0) "empty"
            else {
              val b = new java.lang.StringBuilder
              b.append(if ((flags & RngLbInc) != 0) '[' else '(')
              def appendBound(): Unit = {
                val blen = rdI32()
                val bt = datumText(r.elem, blen)
                b.append('"')
                var p = 0
                while (p < bt.length) {
                  val c = bt.charAt(p)
                  if (c == '"' || c == '\\') b.append('\\')
                  b.append(c)
                  p += 1
                }
                b.append('"')
              }
              if ((flags & RngLbInf) == 0) appendBound()
              b.append(',')
              if ((flags & RngUbInf) == 0) appendBound()
              b.append(if ((flags & RngUbInc) != 0) ']' else ')')
              b.toString
            }
          case m: Mrng =>
            // decode back to a multirange literal — each member is a
            // length-prefixed range payload, the datumText contract
            val cnt = rdI32()
            val b = new java.lang.StringBuilder("{")
            var j = 0
            while (j < cnt) {
              if (j > 0) b.append(',')
              val rlen = rdI32()
              b.append(datumText(m.rng, rlen))
              j += 1
            }
            b.append('}').toString
          case c: Comp =>
            // decode back to a record literal: NULL fields render as
            // nothing between separators, present fields always-quoted
            val nf = rdI32()
            require(nf == c.fields.length,
              s"$nf fields for ${c.fields.length}-field composite")
            val b = new java.lang.StringBuilder("(")
            var j = 0
            while (j < nf) {
              if (j > 0) b.append(',')
              require(rdI32() == c.fields(j)._2, "field oid mismatch")
              val flen = rdI32()
              if (flen != -1) {
                val ft = datumText(c.fields(j)._1, flen)
                b.append('"')
                var p = 0
                while (p < ft.length) {
                  val ch = ft.charAt(p)
                  if (ch == '"' || ch == '\\') b.append('\\')
                  b.append(ch)
                  p += 1
                }
                b.append('"')
              }
              j += 1
            }
            b.append(')').toString
        }
        require(off == end, s"datum length mismatch for $k")
        out
      }
      val n = rdI16()
      require(n == kinds.length, s"$n fields for ${kinds.length} kinds")
      var i = 0
      while (i < n) {
        if (i > 0) sb.append('\t')
        val len = rdI32()
        if (len == -1) sb.append("\\N")
        else sb.append(
          graft.sources.CopyText.escape(datumText(kinds(i), len)))
        i += 1
      }
      sb.append('\n')
      sb.toString.getBytes("UTF-8")
    } catch { case scala.util.control.NonFatal(_) => frame }

  private def numericStr(ndigits: Int, weight: Int, sign: Int,
                         dscale: Int, next: () => Int): String =
    sign match {
      case 0xC000 | -16384 => "NaN"
      case 0xD000 | -12288 => "Infinity"
      case 0xF000 | -4096 => "-Infinity"
      case _ =>
        var acc = java.math.BigDecimal.ZERO
        val tenK = java.math.BigDecimal.valueOf(10000L)
        var i = 0
        while (i < ndigits) {
          acc = acc.multiply(tenK)
            .add(java.math.BigDecimal.valueOf(next().toLong))
          i += 1
        }
        // value = acc × 10000^(weight − ndigits + 1), then pin dscale
        val scaled = acc.scaleByPowerOfTen(4 * (weight - ndigits + 1))
          .setScale(dscale)
        val s = scaled.toPlainString
        if (sign == 0x4000 && scaled.signum != 0) "-" + s else s
    }

  /** [[CopySink]] renderer for the binary path: `value` = the tuple
    * frame, `reject` = the row's COPY TEXT line (only materialized for
    * rows whose encode failed — the `when` keeps it off the hot path),
    * `raw` = [[CopySink.rawSlot]].
    */
  def renderer(kinds: Seq[PgBinKind]): DataFrame => DataFrame = { df =>
    import org.apache.spark.sql.functions.{concat, lit, when}
    val data = graft.sources.TaggedLines.untagged(df)
    val v = rowColumn(data, kinds)
    df.select(v.as("value"),
      when(v.isNull,
        concat(graft.sources.CopyText.lineColumn(data), lit("\n"))
          .cast(BinaryType))
        .otherwise(lit(null).cast(BinaryType)).as("reject"),
      CopySink.rawSlot(df))
  }
}

/** Native expression: one string value → its length-prefixed COPY
  * BINARY field bytes for `kind`; NULL when the value doesn't parse
  * (the reject contract — see [[PgBinary]]). */
case class PgBinaryField(child: Expression, kind: PgBinKind)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got " +
        child.dataType.simpleString)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  // introduces NULL on unparseable values even for a non-nullable
  // child — same nullability trap as CsvParseLine (see its comment)
  override def nullable: Boolean = true
  override def prettyName: String = "pg_binary_field"

  protected override def nullSafeEval(input: Any): Any =
    PgBinary.encodeField(input.asInstanceOf[UTF8String], kind)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pgBinKind", kind,
      "graft.sinks.PgBinKind")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.sinks.PgBinary.encodeField($c, $ref);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
