package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV dialect — separator / quote / escape-mode / skip lines
  * (src/sources/csv/csv.lisp:84-127). `escapeQuoting` distinguishes the
  * doubled-quote RFC mode (`""`) from backslash mode (`\"`)
  * (csv-guess.lisp:40-55).
  *
  * The default reader ([[CsvSource.read]]) is LINE-oriented — that is
  * what makes the read splittable at 100 TB (block-parallel
  * TextInputFormat). Quoted fields with embedded newlines (legal CSV,
  * the reference loads them) are handled by partition-local record
  * STITCHING ([[CsvSource.stitchRecords]]): a line that ends inside an
  * open quote absorbs following lines until the quote closes, so such
  * records load without giving up split parallelism. The one residue:
  * a multi-line record straddling a ~32 MB split boundary rejects
  * VISIBLY (both fragments parse malformed and land in the reject
  * file, replayable) instead of loading — bounded by record-size /
  * split-size, zero for single-split files like the reference's own
  * fixtures. [[CsvSource.readMultiLine]] remains the whole-file
  * record-aware reader for callers that need boundary-exactness at
  * the price of per-file parallelism.
  */
final case class CsvDialect(
    separator: Char = ',',
    quote: Char = '"',
    doubledQuote: Boolean = true, // true: "" escapes; false: \" escapes
    skipLines: Int = 0,
    header: Boolean = false,
    encoding: String = "UTF-8",
    nullValue: String = "",
    /** `trim unquoted blanks`: whitespace around UNQUOTED values is
      * trimmed (then empty → NULL); quoted blanks survive — the
      * reference's unquoted-empty-string-is-nil semantics
      * (csv.lisp:77-78). */
    trimUnquoted: Boolean = false,
    /** Desired read/write parallelism — the DSL `workers` option (the
      * reference's concurrent COPY writers, params.lisp *workers*).
      * [[SkipLines]] honors it only when the input is big enough
      * (≥4 MB per split), so small fixtures keep one in-order task. */
    splitHint: Int = 1,
    /** `lines terminated by` (csv.lisp:22 csv-newline): a custom
      * RECORD terminator — records split on it instead of newlines
      * (Hadoop record.delimiter keeps the scan splittable), embedded
      * newlines become plain data and the quote-stitch is off (the
      * terminator, not a quote state, defines record ends). */
    lineTerminator: Option[String] = None)

object CsvSource {

  /** Normalize common encoding aliases to canonical charset names
    * (Spark's CSV reader whitelists canonical names only; the reference
    * normalizes aliases the same way, dbf.clj charset-aliases). */
  def canonicalEncoding(name: String): String =
    name.toLowerCase.replace("_", "-") match {
      case "latin1" | "latin-1" => "iso-8859-1"
      case "latin2" | "latin-2" => "iso-8859-2"
      case "latin9" | "latin-9" => "iso-8859-15"
      case "utf8" => "utf-8"
      case "utf16" => "utf-16"
      case "ascii" => "us-ascii"
      case "cp950" => "Big5"
      case "cp932" => "windows-31j"
      case other => other
    }

  /** Read a CSV with an explicit dialect into an all-string
    * [[TaggedLines]] frame — fidelity mode: types are applied later by
    * the cast layer, never by the reader (SURVEY §1.2: transforms run
    * on strings). A row is tagged with its source line when its bytes
    * do not decode (`__bad` from the strict decode) or it does not
    * parse (stray quote in an unquoted field, unterminated quote);
    * with `requireFullArity`, short rows are tagged too. Blank lines
    * are skipped, never tagged (the reference skips them silently).
    *
    * `skipLines`/`header` are PER-FILE head-line drops (csv.lisp:84-127
    * semantics): implemented via [[SkipLines.lines]] — Spark's CSV reader
    * has no preamble-skip option, and monotonically_increasing_id tricks
    * are wrong for multi-file/multi-split reads. */
  def tagged(spark: SparkSession, path: String, dialect: CsvDialect,
             fieldNames: Seq[String],
             requireFullArity: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    // a header line is just one more per-file line to drop — field names
    // come from the declared list, matching the reference's HAVING FIELDS
    val skip = dialect.skipLines + (if (dialect.header) 1 else 0)
    val lines = SkipLines.linesDF(spark, path, skip,
      canonicalEncoding(dialect.encoding), dialect.splitHint,
      if (dialect.lineTerminator.isEmpty) stitchRecords(dialect)
      else null,
      delimiter = dialect.lineTerminator)
    // one native-expression parse per line ([[parseFields]] is the
    // scalar spec), then positional field extraction; `get` is
    // out-of-bounds-NULL, so ragged short lines pad with NULLs and
    // extra fields are ignored (PERMISSIVE). `requireFullArity` instead
    // rejects short rows — PG COPY's "missing data for column" error
    // (reference csv-missing-col regression). Only the MISSING side is
    // an error: the reference builds COPY rows from the declared field
    // list, so extra fields are consumed/dropped before the server ever
    // sees them (errors.load row 8 loads), and PG's "extra data after
    // last expected column" can never fire through this path.
    val parsed = lines
      .filter(octet_length(col("value")) > 0) // blank lines skipped (octet_length: O(1), no char scan)
      .select(col("value"), col("__bad"), graft.functions.StringExpressions
        .csvParseLine(col("value"), dialect).as("__fields"))
    val malformed = col("__bad") || col("__fields").isNull ||
      (if (requireFullArity) size(col("__fields")) < fieldNames.length
       else lit(false))
    // the reject file carries the (replacement-decoded) row text
    parsed.select(fieldNames.zipWithIndex.map { case (nm, i) =>
      get(col("__fields"), lit(i)).as(nm)
    } :+ TaggedLines.tag(malformed, col("value")): _*)
  }

  /** The good rows of [[tagged]]. */
  def read(spark: SparkSession, path: String, dialect: CsvDialect,
           fieldNames: Seq[String],
           requireFullArity: Boolean = false): DataFrame =
    TaggedLines.clean(
      tagged(spark, path, dialect, fieldNames, requireFullArity))

  /** The rows [[read]] drops, as their raw source lines — what a loader
    * counts and lands in the reject file instead of losing the signal
    * (the reference logs each cl-csv parse error and routes the row to
    * table.dat; [[graft.operators.Validate]] has the same rejects/valid
    * split shape). */
  def rejects(spark: SparkSession, path: String, dialect: CsvDialect,
              fieldNames: Seq[String] = Nil,
              requireFullArity: Boolean = false): DataFrame =
    TaggedLines.rejects(
      tagged(spark, path, dialect, fieldNames, requireFullArity))

  /** [[read]] plus a `__serial` column numbering rows 1..N in LOAD
    * ORDER — the reference's implicit serial-column assignment, made
    * explicit. Load order = the SOURCE order of the path list (listed
    * entries in order, glob matches name-sorted within their entry —
    * [[SkipLines.enumerateFiles]]), then byte offset within each file.
    * The ordering columns are free (TextInputFormat record keys); the
    * numbering itself is a row_number over an un-partitioned window,
    * i.e. a single-reducer sort of NARROW rows — inherent to any total
    * sequence assignment (PG's serial is just as sequential). For wide
    * corpora prefer per-file sequences or zipWithIndex; for the
    * reference's use case (serial PKs on file loads) this is the exact
    * semantics. */
  def readWithSerial(spark: SparkSession, path: String,
                     dialect: CsvDialect, fieldNames: Seq[String],
                     serialCol: String = "__serial"): DataFrame = {
    import org.apache.spark.sql.functions._
    require(!fieldNames.contains(serialCol),
      s"field list already contains $serialCol")
    val skip = dialect.skipLines + (if (dialect.header) 1 else 0)
    val fileIdx = SkipLines.enumerateFiles(spark, path)
      .zipWithIndex.map { case (f, i) => f -> i }.toMap
    require(fileIdx.nonEmpty, s"no files match $path")
    val lines = SkipLines.linesWithPosition(spark, path, skip,
      canonicalEncoding(dialect.encoding),
      stitch = if (dialect.lineTerminator.isEmpty)
        stitchRecords(dialect) else null,
      delimiter = dialect.lineTerminator)
    val parsed = lines
      .filter(octet_length(col("value")) > 0)
      .filter(!col("__bad")) // undecodable rows are rejects, not data
      .select(col("__file"), col("__off"),
        graft.functions.StringExpressions
          .csvParseLine(col("value"), dialect).as("__fields"))
      .filter(col("__fields").isNotNull)
    // fail FAST on a file-name mismatch between the enumerated list and
    // the Hadoop split paths (scheme-less inputs resolving differently,
    // hidden-file filters, …): a silent NULL index under nulls_last
    // would scramble the load order instead of erroring
    val idx = try_element_at(typedlit(fileIdx), col("__file"))
    val checkedIdx = when(idx.isNull,
      raise_error(concat(
        lit("readWithSerial: split file missing from source list: "),
        col("__file")))).otherwise(idx)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(checkedIdx.asc, col("__off"))
    parsed
      .withColumn(serialCol, row_number().over(w).cast("long"))
      .select(fieldNames.zipWithIndex.map { case (nm, i) =>
        get(col("__fields"), lit(i)).as(nm)
      } :+ col(serialCol): _*)
  }

  /** Quote state after scanning one LINE's bytes, given the state at
    * its start — the byte-level twin of [[splitRecords]]' machine
    * (quote opens only at a field start; doubled-quote / backslash
    * escape modes; all transitions identical). Valid for
    * ASCII-compatible charsets (the [[SkipLines]] contract — records
    * split on `\n` bytes there for the same reason). An escape
    * lookahead that would cross the line end behaves exactly as if the
    * next byte were the `\n` the splitter consumed: a lone closing
    * quote at EOL closes, a doubled `""` at EOL stays open. */
  private[sources] def quoteOpenAfter(b: Array[Byte], n: Int,
      d: CsvDialect, startOpen: Boolean): Boolean = {
    if (d.quote == '\u0000' || d.quote >= 0x80) return false
    val q = d.quote.toByte
    val sep = d.separator.toByte
    // fast paths — the stitch runs on the scan's hottest path:
    // doubled-quote mode (the default) uses quote-byte PARITY: on a
    // well-formed line every quote byte is machine-relevant (opener,
    // closer, or half of a doubled escape), so EVEN parity ⇔ closed;
    // only odd-parity lines (an open record, or a malformed stray
    // quote) pay the exact state machine, whose answer then governs.
    // The ONE divergence from the machine is even-parity lines with a
    // stray mid-field quote before a real opener (`ab"cd,"open`):
    // treated closed, so the fragments stay separate — but such a
    // record contains a mid-field quote and REJECTS whether stitched
    // or not (the pre-stitch fragmentation, pinned in
    // CsvParseFieldsSpec), never loading wrong data. Backslash mode
    // can't count (an escaped \" is one inert byte) — it
    // short-circuits on the first quote byte instead.
    var i = 0
    if (!startOpen && d.doubledQuote) {
      var cnt = 0
      while (i < n) { if (b(i) == q) cnt += 1; i += 1 }
      if ((cnt & 1) == 0) return false
    } else if (!startOpen) {
      var hasQ = false
      while (i < n && !hasQ) { hasQ = b(i) == q; i += 1 }
      if (!hasQ) return false
    } else if (startOpen) {
      // a continuation line with no quote byte stays open
      var hasQ = false
      while (i < n && !hasQ) { hasQ = b(i) == q; i += 1 }
      if (!hasQ) return true
    }
    @inline def isBlank(c: Byte) = (c == ' ' || c == '\t') && c != sep
    var inQuote = startOpen
    var atFieldStart = !startOpen
    i = 0
    while (i < n) {
      val c = b(i)
      if (inQuote) {
        if (c == q) {
          if (d.doubledQuote && i + 1 < n && b(i + 1) == q) i += 2
          else { inQuote = false; i += 1 }
        } else if (!d.doubledQuote && c == '\\' && i + 1 < n) i += 2
        else i += 1
      } else {
        if (c == q && atFieldStart) inQuote = true
        atFieldStart = c == sep || (atFieldStart && isBlank(c))
        i += 1
      }
    }
    inQuote
  }

  /** Partition-local record reassembly for the line-oriented scan: a
    * line ending inside an open quote absorbs following lines (newlines
    * restored as data) until the quote closes — quoted embedded
    * newlines load (tests/csv/embedded-newline) WITHOUT giving up the
    * splittable line reader. A record left open at the partition end
    * (it straddled a split boundary, or the file ended mid-quote) is
    * emitted as-is: it parses malformed and lands in the reject file,
    * visible and replayable, never silently dropped. The joined record
    * keeps the FIRST line's offset, so [[readWithSerial]] ordering and
    * the skip-lines cut are unaffected. Plugged into
    * [[SkipLines.linesWithPosition]] per partition by every CSV entry
    * point ([[tagged]] and [[readWithSerial]] use the same function, so
    * every scan sees identical records). */
  private[sources] def stitchRecords(d: CsvDialect)
      : Iterator[(String, Long, Array[Byte], Boolean)] =>
        Iterator[(String, Long, Array[Byte], Boolean)] = {
    if (d.quote == '\u0000' || d.quote >= 0x80) identity
    else it => new Iterator[(String, Long, Array[Byte], Boolean)] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, Long, Array[Byte], Boolean) = {
        val first = it.next()
        if (!quoteOpenAfter(first._3, first._3.length, d, false)) first
        else {
          val buf = new java.io.ByteArrayOutputStream(
            first._3.length + 64)
          buf.write(first._3, 0, first._3.length)
          var bad = first._4
          var open = true
          while (open && it.hasNext) {
            val (_, _, nb, nbBad) = it.next()
            buf.write('\n')
            buf.write(nb, 0, nb.length)
            bad ||= nbBad
            open = quoteOpenAfter(nb, nb.length, d, true)
          }
          (first._1, first._2, buf.toByteArray, bad)
        }
      }
    }
  }

  /** Split a file's full text into CSV RECORDS: newlines inside quoted
    * fields are data, newlines outside them are record separators —
    * the quote state machine mirrors [[parseFields]] (doubled-quote and
    * backslash escape modes, NUL quote disabling). CRLF line ends drop
    * their CR. Scalar spec for [[readMultiLine]]. */
  def splitRecords(text: String, d: CsvDialect): Seq[String] = {
    val q = d.quote
    val sep = d.separator
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQuote = false
    // quote state only opens at a FIELD START (record start, after a
    // separator, or after leading blanks when trimUnquoted) — mirroring
    // [[parseFields]]. A stray quote mid-field is data here and a parse
    // error there, so the single malformed ROW is rejected instead of
    // absorbing every following newline and cascade-dropping good rows.
    var atFieldStart = true
    def isBlank(c: Char) = (c == ' ' || c == '\t') && c != sep
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (inQuote) {
        if (c == q) {
          if (d.doubledQuote && i + 1 < n && text.charAt(i + 1) == q) {
            sb.append(q).append(q); i += 2
          } else { sb.append(c); inQuote = false; i += 1 }
        } else if (!d.doubledQuote && c == '\\' && i + 1 < n) {
          sb.append(c).append(text.charAt(i + 1)); i += 2
        } else { sb.append(c); i += 1 }
      } else if (c == '\n') {
        if (sb.nonEmpty && sb.last == '\r') sb.setLength(sb.length - 1)
        out += sb.toString; sb.setLength(0); atFieldStart = true; i += 1
      } else {
        if (q != '\u0000' && c == q && atFieldStart) inQuote = true
        // blanks keep the field-start state in BOTH trim modes: a
        // quote after leading blanks opens the field either way
        // (blanks before a quote are ignored, like the reference)
        atFieldStart = c == sep || (atFieldStart && isBlank(c))
        sb.append(c); i += 1
      }
    }
    if (sb.nonEmpty && sb.last == '\r') sb.setLength(sb.length - 1)
    if (sb.nonEmpty) out += sb.toString
    out.toSeq
  }

  /** [[read]] for sources whose quoted fields may contain EMBEDDED
    * NEWLINES — legal CSV the reference (cl-csv) accepts but the
    * line-oriented [[read]] cannot (see the [[CsvDialect]] note). Each
    * file is read WHOLE and split by the quote-aware [[splitRecords]],
    * so parallelism is per-file, not per-block, and a file must fit in
    * one task's memory — the inherent price of records without a
    * splittable boundary (Spark's own multiLine CSV mode pays the
    * same). Use [[read]] unless the data actually embeds newlines. */
  def readMultiLine(spark: SparkSession, path: String,
                    dialect: CsvDialect,
                    fieldNames: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val skip = dialect.skipLines + (if (dialect.header) 1 else 0)
    val cs = canonicalEncoding(dialect.encoding)
    val d = dialect
    val records = spark.sparkContext
      .binaryFiles(path)
      .flatMap { case (_, stream) =>
        val text = new String(stream.toArray(),
          java.nio.charset.Charset.forName(cs))
        splitRecords(text, d).drop(skip)
      }
    import spark.implicits._
    val parsed = spark.createDataset(records).toDF("value")
      .filter(octet_length(col("value")) > 0)
      .select(graft.functions.StringExpressions
        .csvParseLine(col("value"), d).as("__fields"))
    parsed
      .filter(col("__fields").isNotNull)
      .select(fieldNames.zipWithIndex.map { case (nm, i) =>
        get(col("__fields"), lit(i)).as(nm)
      }: _*)
  }

  /** Parse one CSV line into field values (null = SQL NULL) with the
    * reference's exact field semantics (csv.lisp:77-127, cl-csv):
    *
    *   - `trimUnquoted`: space/TAB (only — control bytes are data,
    *     unlike univocity's everything-below-0x21) stripped around
    *     UNQUOTED values. A quote after leading blanks opens a quoted
    *     field in BOTH modes (whitespace in front of an opening quote
    *     is ignored — the reference's v4 reader; with keep-blanks the
    *     blanks are data only when no quote follows them:
    *     tests/csv/blanks-keep row 7 loads, its f3 quoted).
    *   - unquoted empty (post-trim) → NULL; quoted empty `""` → empty
    *     string (unquoted-empty-string-is-nil / quoted-empty-string-
    *     is-nil semantics).
    *   - `doubledQuote` true: `""` inside quotes is a literal quote;
    *     false: backslash escapes the next char inside quotes.
    *   - quote = NUL disables quote processing entirely
    *     (`fields not enclosed`).
    *   - a nonempty `nullValue` matches the unquoted value post-trim.
    *
    * Returns NULL for a malformed row (quote char inside an unquoted
    * field) — the reference signals a parse error and routes the row to
    * the reject file; [[read]] drops such rows the same way.
    *
    * One scalar spec, unit-tested directly and golden-tested through
    * [[read]]'s native-expression path. */
  def parseFields(line: String, d: CsvDialect): Array[String] = {
    val sep = d.separator
    val q = d.quote
    val n = line.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def isBlank(c: Char) = (c == ' ' || c == '\t') && c != sep
    var i = 0
    var done = false
    while (!done) {
      // one field per iteration; i sits at the field's first char
      var j = i
      if (d.trimUnquoted) while (j < n && isBlank(line.charAt(j))) j += 1
      else if (q != '\u0000') {
        // whitespace in FRONT of an opening quote is ignored even in
        // keep-blanks mode (the reference's v4 reader -- opencsv
        // ignore-leading-white-space -- loads '  "x"' as the quoted
        // field; the blanks are data only when no quote follows:
        // tests/csv/blanks-keep row 7)
        var p = j
        while (p < n && isBlank(line.charAt(p))) p += 1
        if (p < n && line.charAt(p) == q) j = p
      }
      if (q != '\u0000' && j < n && line.charAt(j) == q) {
        // quoted field
        val sb = new StringBuilder
        j += 1
        var closed = false
        while (j < n && !closed) {
          val c = line.charAt(j)
          if (c == q) {
            if (d.doubledQuote && j + 1 < n && line.charAt(j + 1) == q) {
              sb.append(q); j += 2
            } else { closed = true; j += 1 }
          } else if (!d.doubledQuote && c == '\\' && j + 1 < n) {
            sb.append(line.charAt(j + 1)); j += 2
          } else { sb.append(c); j += 1 }
        }
        // an unterminated quoted field is a parse error (cl-csv)
        if (!closed) return null
        // blanks may sit between the closing quote and the separator;
        // any OTHER junk is a parse error (cl-csv), like the
        // quote-in-unquoted-field case below
        while (j < n && line.charAt(j) != sep) {
          if (!isBlank(line.charAt(j))) return null
          j += 1
        }
        out += sb.toString // quoted: never NULL, may be empty
      } else {
        // unquoted field: raw until separator. A quote char inside the
        // field is a PARSE ERROR (cl-csv semantics — a legal quote
        // would have opened the field): the whole row is rejected.
        var end = j
        while (end < n && line.charAt(end) != sep) {
          if (q != '\u0000' && line.charAt(end) == q) return null
          end += 1
        }
        var s = i
        var e = end
        if (d.trimUnquoted) {
          while (s < e && isBlank(line.charAt(s))) s += 1
          while (e > s && isBlank(line.charAt(e - 1))) e -= 1
        }
        val v = line.substring(s, e)
        out += (if (v.isEmpty) null
        else if (d.nullValue.nonEmpty && v == d.nullValue) null
        else v)
        j = end
      }
      if (j < n && line.charAt(j) == sep) i = j + 1
      else done = true
    }
    out.toArray
  }

  /** [[parseFields]] in the engine's wire shapes, called from the
    * generated code of [[graft.functions.CsvParseLine]] and its
    * interpreted eval. ASCII-dialect lines (the overwhelmingly common
    * case) parse directly over the UTF-8 BYTES, emitting zero-copy
    * UTF8String slices of the line buffer — no decode to java String,
    * no per-field re-encode (JFR-profiled as the read side's dominant
    * cost at reference-bench scale). Byte-level scanning is correct
    * because separator/quote/blank/backslash are ASCII and UTF-8
    * continuation bytes are ≥ 0x80; a non-ASCII separator or quote
    * falls back to the scalar spec. CsvParseFieldsSpec pins byte-path
    * ≡ spec equivalence property-style across dialects. */
  def parseFieldsData(line: org.apache.spark.unsafe.types.UTF8String,
                      d: CsvDialect)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    if (d.separator < 0x80 && d.quote < 0x80) return parseFieldsBytes(line, d)
    val vs = parseFields(line.toString, d)
    if (vs == null) return null // malformed row -> NULL array = rejected
    val out = new Array[Any](vs.length)
    var i = 0
    while (i < vs.length) {
      if (vs(i) != null)
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(vs(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Byte-level twin of [[parseFields]] (same control flow, same
    * semantics — see that method's contract). Only reached for ASCII
    * separator+quote. */
  private def parseFieldsBytes(
      line: org.apache.spark.unsafe.types.UTF8String, d: CsvDialect)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val bytes = line.getBytes
    val n = bytes.length
    val sep = d.separator.toByte
    val hasQ = d.quote != '\u0000'
    val q = d.quote.toByte
    val trim = d.trimUnquoted
    val doubled = d.doubledQuote
    val nv: Array[Byte] =
      if (d.nullValue.nonEmpty)
        d.nullValue.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else null
    @inline def isBlank(b: Byte): Boolean =
      (b == ' ' || b == '\t') && b != sep
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    var done = false
    while (!done) {
      var j = i
      if (trim) while (j < n && isBlank(bytes(j))) j += 1
      else if (hasQ) {
        // keep-blanks mode still ignores whitespace in FRONT of an
        // opening quote (see parseFields)
        var p = j
        while (p < n && isBlank(bytes(p))) p += 1
        if (p < n && bytes(p) == q) j = p
      }
      if (hasQ && j < n && bytes(j) == q) {
        // quoted field: scan to the closing quote; only build a copy
        // when a doubled quote / backslash escape actually occurred
        j += 1
        val start = j
        var closed = false
        var needsBuild = false
        var k = j
        while (k < n && !closed) {
          val b = bytes(k)
          if (b == q) {
            if (doubled && k + 1 < n && bytes(k + 1) == q) {
              needsBuild = true; k += 2
            } else { closed = true; k += 1 }
          } else if (!doubled && b == '\\' && k + 1 < n) {
            needsBuild = true; k += 2
          } else k += 1
        }
        if (!closed) return null // unterminated quote: parse error
        val endQuote = k - 1
        j = k
        while (j < n && bytes(j) != sep) {
          if (!isBlank(bytes(j))) return null // junk after close quote
          j += 1
        }
        if (!needsBuild)
          out += UTF8String.fromBytes(bytes, start, endQuote - start)
        else {
          val buf = new Array[Byte](endQuote - start)
          var o = 0
          var p = start
          while (p < endQuote) {
            val b = bytes(p)
            if (doubled && b == q) { buf(o) = q; o += 1; p += 2 }
            else if (!doubled && b == '\\' && p + 1 < n) {
              buf(o) = bytes(p + 1); o += 1; p += 2
            } else { buf(o) = b; o += 1; p += 1 }
          }
          out += UTF8String.fromBytes(buf, 0, o)
        }
      } else {
        // unquoted field: raw until separator; a quote byte inside is
        // a parse error
        var end = j
        while (end < n && bytes(end) != sep) {
          if (hasQ && bytes(end) == q) return null
          end += 1
        }
        var s = i
        var e = end
        if (trim) {
          while (s < e && isBlank(bytes(s))) s += 1
          while (e > s && isBlank(bytes(e - 1))) e -= 1
        }
        if (e == s) out += null // unquoted empty -> NULL
        else if (nv != null && e - s == nv.length && {
          var p = 0
          var eq = true
          while (eq && p < nv.length) {
            if (bytes(s + p) != nv(p)) eq = false
            p += 1
          }
          eq
        }) out += null
        else out += UTF8String.fromBytes(bytes, s, e - s)
        j = end
      }
      if (j < n && bytes(j) == sep) i = j + 1
      else done = true
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Tiny driver-side CSV line parser used only by the guesser. Returns
    * None on unbalanced quotes. */
  private[graft] def parseLine(line: String, sep: Char, quote: Char,
                               doubled: Boolean): Option[Int] = {
    var i = 0
    var fields = 1
    var inQuote = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuote) {
        if (c == '\\' && !doubled && i + 1 < line.length) i += 1
        else if (c == quote) {
          if (doubled && i + 1 < line.length && line.charAt(i + 1) == quote)
            i += 1
          else inQuote = false
        }
      } else {
        if (c == quote) inQuote = true
        else if (c == sep) fields += 1
      }
      i += 1
    }
    if (inQuote) None else Some(fields)
  }

  /** Split one line into field VALUES with the dialect's quote rules —
    * driver-side only (header-name extraction); the distributed path
    * stays on the codegen'd CsvParseLine. None on an unterminated
    * quote. */
  private[graft] def parseLineFields(line: String, sep: Char, quote: Char,
                                     doubled: Boolean)
      : Option[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuote) {
        if (c == '\\' && !doubled && i + 1 < line.length) {
          sb.append(line.charAt(i + 1)); i += 1
        } else if (c == quote) {
          if (doubled && i + 1 < line.length && line.charAt(i + 1) == quote) {
            sb.append(quote); i += 1
          } else inQuote = false
        } else sb.append(c)
      } else {
        if (c == quote) inQuote = true
        else if (c == sep) { out += sb.toString; sb.clear() }
        else sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    if (inQuote) None else Some(out.toSeq.map(_.trim))
  }

  private val separators = Seq('\t', ',', ';', '|', '%', '^', '!', '$')

  /** Guess separator + escape mode from a sample: try each candidate until
    * every sampled row parses to the same column count (>= `nbCols` when
    * known) — csv-guess.lisp:40-77. */
  def guessDialect(sample: Seq[String], nbCols: Option[Int] = None,
                   quote: Char = '"'): Option[CsvDialect] = {
    val lines = sample.filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val candidates = for {
      doubled <- Seq(true, false)
      sep <- separators
    } yield (sep, doubled)
    candidates.collectFirst {
      case (sep, doubled)
        if consistent(lines, sep, quote, doubled, nbCols) =>
        CsvDialect(separator = sep, quote = quote, doubledQuote = doubled)
    }
  }

  private def consistent(lines: Seq[String], sep: Char, quote: Char,
                         doubled: Boolean, nbCols: Option[Int]): Boolean = {
    val counts = lines.map(parseLine(_, sep, quote, doubled))
    counts.forall(_.nonEmpty) && {
      val cs = counts.flatten.distinct
      cs.size == 1 && cs.head > 1 && nbCols.forall(cs.head == _)
    }
  }

  /** Driver-side sample for guessing (first `n` lines of the file). */
  def sample(spark: SparkSession, path: String, n: Int = 1000): Seq[String] =
    spark.read.textFile(path.split(","): _*).limit(n).collect().toSeq
}

/** Fixed-width source (src/sources/fixed/fixed.lisp:51-78): substring
  * extraction per `(name, start, length)`; ragged right lines give NULL for
  * the missing tail fields.
  */
object FixedWidth {
  final case class FieldPos(name: String, start: Int, length: Int)

  /** Read fixed-width lines into a [[TaggedLines]] frame: a row is
    * tagged with its line when its bytes do not decode strictly with
    * `encoding` (the command's WITH ENCODING — census-places is latin1,
    * its 52 accented rows must decode, not reject). Ragged lines are
    * never tagged: they pad with NULLs. Always the strict decode path,
    * so the reject contract does not depend on `skip header` (the CSV
    * source's round-13 ADVICE finding, fixed here the same way). */
  def tagged(spark: SparkSession, path: String, specs: Seq[FieldPos],
             skipLines: Int = 0, splitHint: Int = 1,
             encoding: String = "UTF-8"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val text = SkipLines.linesDF(spark, path, skipLines,
        CsvSource.canonicalEncoding(encoding), splitHint)
      .withColumnRenamed("value", "__line")
    project(text, "__line", specs).select(specs.map(s => col(s.name)) :+
      TaggedLines.tag(col("__bad"), col("__line")): _*)
  }

  /** The good rows of [[tagged]]. */
  def read(spark: SparkSession, path: String, specs: Seq[FieldPos],
           skipLines: Int = 0, splitHint: Int = 1,
           encoding: String = "UTF-8"): DataFrame =
    TaggedLines.clean(
      tagged(spark, path, specs, skipLines, splitHint, encoding))

  /** The lines [[read]] drops: those whose bytes do not decode. */
  def rejects(spark: SparkSession, path: String, skipLines: Int = 0,
              splitHint: Int = 1,
              encoding: String = "UTF-8"): DataFrame =
    TaggedLines.rejects(
      tagged(spark, path, Nil, skipLines, splitHint, encoding))

  /** Columnize an existing single-string column (used by both the file
    * reader and tests). */
  def project(df: DataFrame, lineCol: String,
              specs: Seq[FieldPos]): DataFrame = {
    import org.apache.spark.sql.functions._
    val line = col(lineCol)
    specs.foldLeft(df) { (d, s) =>
      // substring is 1-based; ragged lines → empty substring → NULL
      val raw = substring(line, s.start + 1, s.length)
      d.withColumn(s.name,
        when(length(line) <= s.start, lit(null: String)).otherwise(raw))
    }
  }

  /** Infer column boundaries from a header line's whitespace runs
    * (src/sources/fixed/fixed-guess.lisp:29-74). */
  def guessSpecs(header: String): Seq[FieldPos] = {
    val boundaries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < header.length) {
      if (!header.charAt(i).isWhitespace) {
        val start = i
        while (i < header.length && !header.charAt(i).isWhitespace) i += 1
        boundaries += ((start, i))
      } else i += 1
    }
    // column extends to the start of the next header token
    boundaries.zipWithIndex.map { case ((s, _), idx) =>
      val end =
        if (idx + 1 < boundaries.length) boundaries(idx + 1)._1
        else Int.MaxValue / 2
      FieldPos(header.substring(s,
        math.min(boundaries(idx)._2, header.length)).trim, s, end - s)
    }.toSeq
  }
}
