package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PostgreSQL COPY TEXT format — both a first-class source (`LOAD COPY`,
  * src/parsers/command-copy.lisp:1-173) and the sink wire format
  * (src/pg-copy/copy-format.lisp:43-193). Also used to read the golden
  * regression files (src/regress/regress.lisp:81-112).
  *
  * Escapes: `\N` = NULL, and `\\ \b \f \n \r \t \v` inside values
  * (copy-format.lisp:123-193). A raw TAB byte only ever separates fields —
  * data tabs are escaped — so a line splits safely on TAB.
  */
object CopyText {

  /** Escape one value for COPY TEXT (copy-format.lisp:123-193). */
  def escape(v: String): String = {
    val sb = new StringBuilder(v.length + 8)
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case 0x0B => sb.append("\\v")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Inverse of [[escape]], plus the COPY TEXT input-only escapes PG
    * accepts: `\xH[H]` hex and `\o[oo]` octal values — decoded as raw
    * BYTES in the file's encoding, exactly as PG treats them: a run of
    * consecutive byte escapes is collected and UTF-8-decoded as one
    * sequence, so `\xC3\xA9` yields `é`, not the U+00C3/U+00A9 mojibake
    * a per-escape `toChar` would produce. (The engine's COPY reader
    * decodes files as UTF-8, so UTF-8 is the byte-run charset; an
    * invalid run decodes to U+FFFD where PG would raise an encoding
    * error, and `\000` yields a NUL that PG itself would reject — the
    * preflight validator's encoding check is the engine-side guard.)
    * `\N` keeps its backslash — the null marker is matched at field
    * level BEFORE unescaping, so a `\N` that survives to here is
    * literal data, and the reference loads it as the two characters
    * `\N`. */
  def unescape(v: String): String = {
    val sb = new StringBuilder(v.length)
    // pending raw bytes from \xHH / \ooo escapes: flushed (UTF-8
    // decoded) only when a non-byte-escape character follows, so
    // multi-byte sequences spelled as consecutive escapes stay intact
    var pending: java.io.ByteArrayOutputStream = null
    def flush(): Unit =
      if (pending != null && pending.size() > 0) {
        sb.append(new String(pending.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
        pending.reset()
      }
    def addByte(b: Int): Unit = {
      if (pending == null) pending = new java.io.ByteArrayOutputStream(8)
      pending.write(b)
    }
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        val n = v.charAt(i + 1)
        n match {
          case '\\' => flush(); sb.append('\\'); i += 2
          case 'b'  => flush(); sb.append('\b'); i += 2
          case 'f'  => flush(); sb.append('\f'); i += 2
          case 'n'  => flush(); sb.append('\n'); i += 2
          case 'r'  => flush(); sb.append('\r'); i += 2
          case 't'  => flush(); sb.append('\t'); i += 2
          case 'v'  => flush(); sb.append(0x0B.toChar); i += 2
          case 'N'  => flush(); sb.append('\\').append('N'); i += 2
          case 'x' if i + 2 < v.length &&
              Character.digit(v.charAt(i + 2), 16) >= 0 =>
            var value = 0
            var j = i + 2
            while (j < v.length && j < i + 4 &&
                Character.digit(v.charAt(j), 16) >= 0) {
              value = value * 16 + Character.digit(v.charAt(j), 16)
              j += 1
            }
            addByte(value); i = j
          case d if d >= '0' && d <= '7' =>
            var value = 0
            var j = i + 1
            while (j < v.length && j < i + 4 &&
                v.charAt(j) >= '0' && v.charAt(j) <= '7') {
              value = value * 8 + (v.charAt(j) - '0')
              j += 1
            }
            // PG masks the accumulated octal value to one byte (\400+)
            addByte(value & 0xFF); i = j
          case o => flush(); sb.append(o); i += 2
        }
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** One row of string-or-null values → one COPY TEXT line (no newline).
    * This is `format-vector-row` (copy-format.lisp:43-98). */
  def formatRow(values: Array[String], delimiter: Char = '\t',
                nullAs: String = "\\N"): String =
    values.map(v => if (v == null) nullAs else escape(v))
      .mkString(delimiter.toString)

  /** One COPY TEXT line → values (null for `\N`). */
  def parseLine(line: String, delimiter: Char = '\t',
                nullAs: String = "\\N"): Array[String] = {
    // raw delimiter bytes are always separators (data ones are escaped)
    val parts = splitKeepAll(line, delimiter)
    parts.map(p => if (p == nullAs) null else unescape(p))
  }

  private def splitKeepAll(s: String, sep: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == sep) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.toArray
  }

  // ---- codegen'd Column formulations of the same format. The scalar
  // escape/parse above stay as the spec (property-tested) and for the
  // sink's per-row needs; the Column versions keep bulk reads/writes
  // inside whole-stage codegen — no RDD row boxing on the hot path.

  /** Column-level [[escape]]: the native one-pass byte-level expression
    * ([[graft.functions.StringExpressions.copyEscapeBytes]]) — the
    * 7-chained-`replace` formulation it replaced re-scanned and
    * re-allocated every field seven times per row and profiled (JFR)
    * as the sink's single hottest cost at reference-bench scale. */
  def escapeColumn(c: Column): Column =
    graft.functions.StringExpressions.copyEscape(c)

  /** Column-level [[unescape]]: the native one-pass expression (the
    * replace-chain it replaced couldn't express `\xH[H]`/octal escapes
    * and diverged from the scalar spec on unknown escapes). */
  def unescapeColumn(c: Column): Column =
    graft.functions.StringExpressions.copyUnescape(c)


  /** PG text literal of a typed column — the codegen twin of the scalar
    * spec [[graft.sinks.PgLiteral]] (kept equal by PgLiteralParitySpec):
    * bytea `\x…`, boolean t/f, timestamps with micros only when nonzero,
    * everything else via cast. Instants render in UTC regardless of the
    * session time zone, matching PgLiteral's pinned-UTC formatter —
    * `date_format` alone would shift wall clocks with the session TZ. */
  def pgLiteralColumn(c: Column, dt: org.apache.spark.sql.types.DataType)
      : Column = {
    import org.apache.spark.sql.types._
    def withMicros(base: Column, micros: Column): Column =
      concat(base,
        when(micros === 0, lit(""))
          .otherwise(concat(lit("."),
            lpad(micros.cast("string"), 6, "0"))))
    dt match {
      case BinaryType => concat(lit("\\x"), lower(hex(c)))
      case BooleanType => when(c, lit("t")).otherwise(lit("f"))
      case TimestampType =>
        // UTC wall clock derived purely arithmetically from unix_micros —
        // no time-zone API anywhere, so instants whose UTC wall clock
        // falls inside the session zone's DST spring-forward gap render
        // exactly (to_utc_timestamp round-trips through the session
        // zone's local calendar and resolves gap times an hour off).
        val micros = unix_micros(c)
        val frac = pmod(micros, lit(1000000L)) // [0, 1e6), negative-safe
        // (micros - frac) is an exact multiple of 1e6; decimal division
        // keeps it exact for the full PG timestamp range
        val secs = ((micros - frac).cast(DecimalType(28, 0)) /
          lit(1000000L)).cast("long")
        val sod = pmod(secs, lit(86400L))
        val days = ((secs - sod).cast(DecimalType(28, 0)) /
          lit(86400L)).cast("int")
        val two = (x: Column) => lpad(x.cast("string"), 2, "0")
        val base = concat(
          date_format(date_add(to_date(lit("1970-01-01")), days),
            "yyyy-MM-dd"),
          lit(" "), two(floor(sod / 3600).cast("long")),
          lit(":"), two(floor(pmod(sod, lit(3600L)) / 60).cast("long")),
          lit(":"), two(pmod(sod, lit(60L))))
        withMicros(base, frac)
      case TimestampNTZType =>
        // NTZ is a wall clock already; second fraction via pattern S so no
        // session-TZ cast sneaks in
        withMicros(date_format(c, "yyyy-MM-dd HH:mm:ss"),
          date_format(c, "SSSSSS").cast("long"))
      case _ => c.cast("string")
    }
  }

  /** One COPY TEXT line per row, fully inside codegen. */
  def lineColumn(df: DataFrame, delimiter: Char = '\t',
                 nullAs: String = "\\N"): Column = {
    val cols = df.schema.fields.map { f =>
      val c = org.apache.spark.sql.functions.col(
        "`" + f.name.replace("`", "``") + "`")
      when(c.isNull, lit(nullAs))
        .otherwise(escapeColumn(pgLiteralColumn(c, f.dataType)))
    }
    concat_ws(delimiter.toString, cols.toIndexedSeq: _*)
  }

  /** Distributed read of a COPY TEXT file → all-string
    * [[TaggedLines]] frame; the split/unescape runs as Column
    * expressions (codegen), and the text source splits large files by
    * line, so this scales with input size. Decoding is the STRICT
    * per-line path ([[SkipLines.linesDF]]) — same reject contract as
    * the CSV source (a lenient textFile would load U+FFFD mojibake for
    * bytes UTF-8 cannot decode; PG's own COPY errors on them), so an
    * undecodable line is tagged with its (replacement-decoded) text,
    * and a loader counts it and lands it in the table's reject file.
    * A COPY line always splits, so nothing else is tagged. `splitHint`
    * maps the DSL `workers` option to input splits (>=4 MB each), one
    * COPY connection per split. */
  def tagged(spark: SparkSession, path: String, fieldNames: Seq[String],
             delimiter: Char = '\t', nullAs: String = "\\N",
             splitHint: Int = 1): DataFrame = {
    val parts = split(col("value"),
      java.util.regex.Pattern.quote(delimiter.toString), -1)
    val fields = fieldNames.zipWithIndex.map { case (n, i) =>
      val raw = parts.getItem(i)
      when(raw.isNull || raw === nullAs, lit(null: String))
        .otherwise(unescapeColumn(raw)).as(n)
    }
    SkipLines.linesDF(spark, path, 0, "UTF-8", splitHint)
      .select(fields :+ TaggedLines.tag(col("__bad"), col("value")): _*)
  }

  /** The good rows of [[tagged]]. */
  def read(spark: SparkSession, path: String, fieldNames: Seq[String],
           delimiter: Char = '\t', nullAs: String = "\\N",
           splitHint: Int = 1): DataFrame =
    TaggedLines.clean(
      tagged(spark, path, fieldNames, delimiter, nullAs, splitHint))

  /** The lines [[read]] drops: those whose bytes UTF-8 cannot decode
    * strictly, as their replacement-decoded text. */
  def rejects(spark: SparkSession, path: String,
              splitHint: Int = 1): DataFrame =
    TaggedLines.rejects(tagged(spark, path, Nil, splitHint = splitHint))

  /** Distributed write: one codegen'd projection to the line column, then
    * the text writer (the reject-file / golden-file format). */
  def write(df: DataFrame, dir: String, delimiter: Char = '\t'): Unit =
    df.select(lineColumn(df, delimiter).as("value")).write.text(dir)
}
