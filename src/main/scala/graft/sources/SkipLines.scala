package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf,
  TextInputFormat}
import org.apache.spark.rdd.{HadoopRDD, RDD}
import org.apache.spark.sql.SparkSession

/** Per-FILE head-line skipping for line-oriented sources — the reference's
  * `skip lines`/`skip header` semantics (src/sources/csv/csv.lisp:84-127:
  * each file of a multi-file source drops its own preamble).
  *
  * Scale-correct implementation: the driver lists the input files once
  * ([[enumerateFiles]]) and opens each at most once ([[heads]]), reading
  * only its first lines: the byte offset where real data starts (cheap:
  * preambles are short, file counts are bounded) and the first records
  * after the skip — the sample a reader guesses a dialect from or takes
  * its column names from (the reference's csv-guess.lisp sample). Then a
  * single distributed TextInputFormat pass over the listed files filters
  * records by their native byte-offset keys and decodes each file with
  * its own charset. No global ordering assumptions — works for files
  * larger than one split, any partition packing order, and thousands of
  * files. (Not applicable to compressed inputs, whose record keys are not
  * byte offsets.)
  */
object SkipLines {

  /** One listed input file as the driver read it: its qualified path and
    * byte length, the charset its lines decode with, the byte offset the
    * scan keeps records from, and its first records after the skip. */
  final case class HeadFile(path: String, length: Long, charset: String,
                            cut: Long, records: Seq[String])

  /** The files of one line-format read, in source order, and the record
    * terminator their cuts and records were found with (`lines
    * terminated by`, csv.lisp:22 csv-newline; None: newlines). */
  final case class Heads(files: Seq[HeadFile], delimiter: Option[String]) {

    /** Every file's head records, in source order. */
    def records: Seq[String] = files.flatMap(_.records)
  }

  /** The files a (possibly comma-joined, possibly glob) input resolves
    * to, in SOURCE ORDER: path entries in their listed order, files
    * within a glob/directory entry sorted by name. This is the load order
    * the reference processes files in. Names starting with `_` or `.`
    * (`_SUCCESS`, `.crc` sidecars) are skipped, Hadoop's FileInputFormat
    * rule; an entry that matches nothing fails, an empty directory lists
    * no file. Paths are qualified. */
  def enumerateFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    path.split(",").toSeq.flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(hconf)
      val matched = Option(fs.globStatus(p)).map(_.toSeq)
        .getOrElse(Seq.empty)
      if (matched.isEmpty)
        throw new java.io.FileNotFoundException(s"no file matches $one")
      matched.filter(visible).flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(s => s.isFile && visible(s))
            .sortBy(_.getPath.getName)
        else Seq(st)
      }.map { st => st.setPath(fs.makeQualified(st.getPath)); st }
    }
  }

  /** The files `path` names ([[enumerateFiles]]), each opened at most
    * once, on the driver and only when it has lines to skip or records
    * to return. Per file: the charset `charset` gives its qualified path,
    * the cut — the byte offset after its first `skip + header` records —
    * and its first records after `skip` (a header line among them),
    * decoded with that charset, `sample` records in all over the files in
    * order. Records split on `delimiter` (its UTF-8 bytes), else on
    * newlines with a trailing CR dropped; under a custom terminator a
    * record of only CR/LF bytes counts toward the cut but is not returned
    * (the scan drops it too). */
  def heads(spark: SparkSession, path: String, skip: Int = 0,
            header: Int = 0, charset: String => String = _ => "UTF-8",
            delimiter: Option[String] = None, sample: Int = 0): Heads = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val delim = delimiter.map(_.getBytes(UTF_8))
      .getOrElse(Array('\n'.toByte))
    // KMP failure function: on a mismatch after a partial match the
    // scan falls back to the longest proper border instead of
    // restarting at the delimiter head — exact for ANY terminator,
    // including self-overlapping ones like "aba"
    val fail = new Array[Int](delim.length)
    var k = 0
    for (i <- 1 until delim.length) {
      while (k > 0 && delim(i) != delim(k)) k = fail(k - 1)
      if (delim(i) == delim(k)) k += 1
      fail(i) = k
    }
    val lead = skip + header
    var budget = sample
    val files = enumerateFiles(spark, path).map { st =>
      val p = st.getPath
      val cs = charset(p.toString)
      var cut = 0L
      val records = Seq.newBuilder[String]
      if (lead > 0 || budget > 0) {
        val in = new java.io.BufferedInputStream(
          p.getFileSystem(hconf).open(p))
        try {
          val enc = java.nio.charset.Charset.forName(cs)
          val buf = new java.io.ByteArrayOutputStream
          var off = 0L
          var n = 0
          var eof = false
          while (!eof && (n < lead || budget > 0)) {
            val keep = n >= skip && budget > 0
            buf.reset()
            var m = 0 // matched prefix length of delim
            var any = false
            var ended = false
            while (!ended) {
              val b = in.read()
              if (b < 0) { eof = true; ended = true }
              else {
                any = true
                off += 1
                if (keep) buf.write(b)
                while (m > 0 && b.toByte != delim(m)) m = fail(m - 1)
                if (b.toByte == delim(m)) m += 1
                ended = m == delim.length
              }
            }
            if (any) {
              if (n < lead) cut = off
              if (keep) {
                val bytes = buf.toByteArray
                var len = bytes.length - (if (m == delim.length) m else 0)
                if (delimiter.isEmpty && len > 0 && bytes(len - 1) == '\r')
                  len -= 1
                val formatting = delimiter.nonEmpty && bytes.iterator
                  .take(len).forall(b => b == '\n' || b == '\r')
                if (!formatting) {
                  records += new String(bytes, 0, len, enc)
                  budget -= 1
                }
              }
              n += 1
            }
          }
        } finally in.close()
      }
      HeadFile(p.toString, st.getLen, cs, cut, records.result())
    }
    Heads(files, delimiter)
  }

  /** Floor on bytes-per-split when `splitHint` asks for parallelism:
    * a task under ~4 MB of COPY payload finishes before its scheduling
    * cost amortizes, and splitting tiny files breaks the file-order
    * serial-id contract the regress goldens check. */
  private val MinSplitBytes = 4L << 20

  /** Per-partition record-reassembly hook: receives the split's
    * (file, offset, utf8-bytes, bad) line tuples in order and may join
    * lines into records (CSV quoted embedded newlines —
    * [[CsvSource.stitchRecords]]). Identity when null. */
  type Stitch = Iterator[(String, Long, Array[Byte], Boolean)] =>
    Iterator[(String, Long, Array[Byte], Boolean)]

  /** Like [[linesDF]], but keeping each line's provenance: (file, off,
    * value, __bad) where `off` is the record's native byte offset.
    * (file, off) is a total order over the input in FILE ORDER — the
    * load order the reference gets implicitly from sequential reads,
    * and the basis for serial-column assignment. Costs nothing extra:
    * the offsets are the TextInputFormat record keys either way.
    *
    * Reads exactly `files`' listed files, each from its cut and with its
    * charset, splitting records on `files.delimiter` — Hadoop's
    * record.delimiter keeps the scan splittable; the conf string reaches
    * the reader as UTF-8 bytes, so non-ASCII terminators require a UTF-8
    * source. */
  def linesWithPosition(spark: SparkSession, files: Heads,
                        splitHint: Int = 1, stitch: Stitch = null)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      files.files.map(f => f.path -> (f.cut, f.charset)).toMap)
    // minPartitions governs FileInputFormat's goalSize (= total/min):
    // the hadoopRDD DEFAULT of 2 splits even a 300-byte inline file
    // into two concurrent tasks — and two COPY tasks interleave PG
    // serial-default assignment, breaking the reference's file-order
    // ids (csv-trim-extra-blanks golden). So: 1 unless the caller asks
    // for write parallelism (the DSL `workers` option — the
    // reference's concurrent COPY writers), and even then never below
    // [[MinSplitBytes]] per split, so sub-4MB fixtures stay one
    // in-order task. Files beyond the 32 MB block size still split at
    // block boundaries regardless; scan parallelism at scale is
    // unchanged.
    val minParts =
      if (splitHint <= 1) 1
      else math.min(splitHint.toLong,
        math.max(1L, files.files.map(_.length).sum / MinSplitBytes)).toInt
    // no file (an empty directory) reads no line; otherwise one per-read
    // JobConf over the listed files (setting the delimiter on the
    // session's shared hadoopConfiguration would race concurrent scans)
    val kept: RDD[(String, Long, Array[Byte], Boolean)] =
      if (files.files.isEmpty) spark.sparkContext.emptyRDD
      else {
        val jc = new JobConf(spark.sparkContext.hadoopConfiguration)
        files.delimiter.foreach(
          jc.set("textinputformat.record.delimiter", _))
        FileInputFormat.setInputPaths(jc,
          files.files.map(f => new Path(f.path)): _*)
        spark.sparkContext.hadoopRDD(jc, classOf[TextInputFormat],
          classOf[LongWritable], classOf[Text], minParts)
          .asInstanceOf[HadoopRDD[LongWritable, Text]]
          .mapPartitionsWithInputSplit { (split, it) =>
          val file = split.asInstanceOf[FileSplit].getPath.toString
          val (cut, cs) = bc.value.getOrElse(file,
            throw new IllegalStateException(
              s"split file missing from the listing: $file"))
          // STRICT per-line decode: bytes the declared charset cannot
          // represent make the ROW malformed (the reference's decoder
          // errors and routes the row to rejects — csv-error.load's
          // 'héhé' line under encoding 'ascii'); silent replacement
          // would load mojibake. Failed lines are flagged with an
          // out-of-band `__bad` boolean (an in-band string sentinel would
          // misclassify a legitimate line starting with that character —
          // even noncharacters like U+FFFF are encodable in valid UTF-8),
          // and `value` carries the replacement-decoded text so the reject
          // scan can still surface the original-ish row.
          //
          // `value` travels as UTF-8 BYTES (binary, cast to string below —
          // a zero-copy wrap): for UTF-8 input the strict check is a pure
          // byte-level well-formedness scan ([[isWellFormedUtf8]], pinned
          // to the JDK decoder's judgments by SkipLinesSpec), so the line
          // is never decoded to a java String at all; other charsets pay
          // the unavoidable transcode. A bad UTF-8 row keeps its raw
          // bytes — reading them back as a string replacement-decodes,
          // exactly what the reject file carried before.
          if (cs.equalsIgnoreCase("UTF-8") || cs.equalsIgnoreCase("utf8")) {
            it.collect {
              case (off, line) if off.get() >= cut =>
                val bytes = java.util.Arrays.copyOfRange(
                  line.getBytes, 0, line.getLength)
                (file, off.get(), bytes,
                  !isWellFormedUtf8(bytes, 0, bytes.length))
            }
          } else {
            val charset = java.nio.charset.Charset.forName(cs)
            // ONE decoder per partition (the convenience decode() resets
            // it each call) — per-line construction would allocate on the
            // scan's hottest path.
            val decoder = charset.newDecoder()
            it.collect {
              case (off, line) if off.get() >= cut =>
                val (decoded, bad) =
                  try (decoder.decode(java.nio.ByteBuffer.wrap(line.getBytes,
                    0, line.getLength)).toString, false)
                  catch {
                    case _: java.nio.charset.CharacterCodingException =>
                      (new String(line.getBytes, 0,
                        line.getLength, charset), true)
                  }
                (file, off.get(), decoded.getBytes(UTF_8), bad)
            }
          }
        }
      }
    // custom-terminator artifact records: a file whose records end
    // "data¶\n" leaves a newline-only remainder between the last
    // terminator and EOF (or between records when the author also
    // breaks lines visually) — it is formatting, not data, exactly as
    // blank lines are under the default terminator. DOCUMENTED RULE
    // (COVERAGE.md "lines terminated by"): a record consisting SOLELY
    // of \r/\n bytes is always formatting and never loads — a
    // legitimate record whose only field is bare newline data cannot
    // be distinguished from visual formatting at the record-splitter
    // level (quote it to load it; the quoted form is not newline-only)
    val cleaned =
      if (files.delimiter.isEmpty) kept
      else kept.filter { case (_, _, bytes, _) =>
        var i = 0
        var data = false
        while (i < bytes.length && !data) {
          data = bytes(i) != '\n'.toByte && bytes(i) != '\r'.toByte
          i += 1
        }
        data
      }
    val stitched =
      if (stitch == null) cleaned
      // TextInputFormat splits never span files, so a partition's
      // lines all belong to one file and in-order reassembly is sound
      else cleaned.mapPartitions(stitch(_), preservesPartitioning = true)
    stitched.toDF("__file", "__off", "value", "__bad")
      .withColumn("value", org.apache.spark.sql.functions.col("value")
        .cast(org.apache.spark.sql.types.StringType))
  }

  /** RFC 3629 UTF-8 well-formedness (no overlongs, no surrogates,
    * max U+10FFFF) — byte-level equivalent of a strict JDK UTF-8
    * decoder succeeding (SkipLinesSpec pins the equivalence over
    * random byte sequences). */
  private[graft] def isWellFormedUtf8(b: Array[Byte], off: Int,
                                        len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) i += 1
      else if (b0 < 0xC2) return false // continuation byte / overlong
      else if (b0 < 0xE0) { // 2-byte
        if (i + 1 >= end || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (b0 < 0xF0) { // 3-byte
        if (i + 2 >= end) return false
        val b1 = b(i + 1) & 0xFF
        if ((b1 & 0xC0) != 0x80) return false
        if (b0 == 0xE0 && b1 < 0xA0) return false // overlong
        if (b0 == 0xED && b1 > 0x9F) return false // surrogate range
        if ((b(i + 2) & 0xC0) != 0x80) return false
        i += 3
      } else if (b0 < 0xF5) { // 4-byte
        if (i + 3 >= end) return false
        val b1 = b(i + 1) & 0xFF
        if ((b1 & 0xC0) != 0x80) return false
        if (b0 == 0xF0 && b1 < 0x90) return false // overlong
        if (b0 == 0xF4 && b1 > 0x8F) return false // beyond U+10FFFF
        if ((b(i + 2) & 0xC0) != 0x80 || (b(i + 3) & 0xC0) != 0x80)
          return false
        i += 4
      } else return false // F5..FF never valid
    }
    true
  }

  /** The lines of `files` from each file's cut, as (value, __bad),
    * decoded STRICTLY with each file's charset (any ASCII-compatible
    * charset: records still split on `\n` bytes). `__bad` marks rows
    * whose bytes the charset could not decode \u2014 the SAME reject
    * contract with or without skip lines, UTF-8 included (a
    * spark.read.textFile fast path would decode leniently and silently
    * load U+FFFD mojibake). */
  def linesDF(spark: SparkSession, files: Heads, splitHint: Int = 1,
              stitch: Stitch = null): org.apache.spark.sql.DataFrame =
    linesWithPosition(spark, files, splitHint, stitch)
      .select("value", "__bad")
}

/** The tagged frame every line reader ([[CsvSource]], [[CopyText]],
  * [[FixedWidth]]) builds once: its projected columns plus [[Col]],
  * NULL for a good row and the source line for a row that failed to
  * decode or parse. One scan feeds both the load and its reject file
  * (the reference counts a bad line and routes it to `<table>.dat`
  * during the same read); [[clean]] and [[rejects]] are filter views. */
object TaggedLines {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.{coalesce, col, lit, when}

  /** The raw-line column's name. */
  val Col = "__raw_line"

  /** The raw-line column: `line` where `malformed` holds, else NULL.
    * Source lines are never NULL; the coalesce tells the optimizer so,
    * and `tag IS NULL` then folds to `NOT malformed` — a clean view
    * plans exactly like a reader that filtered before projecting. */
  def tag(malformed: Column, line: Column): Column =
    when(malformed, coalesce(line, lit(""))).as(Col)

  /** The good rows, without the tag; a frame with no tag as it is. */
  def clean(df: DataFrame): DataFrame =
    if (!df.columns.contains(Col)) df
    else df.filter(col(Col).isNull).drop(Col)

  /** The malformed rows as their source lines, one `value` column. */
  def rejects(df: DataFrame): DataFrame =
    df.filter(col(Col).isNotNull).select(col(Col).as("value"))

  /** The frame without the tag: the columns a load sends. */
  def untagged(df: DataFrame): DataFrame = df.drop(Col)
}
