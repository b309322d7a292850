package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.HadoopRDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-FILE head-line skipping for line-oriented sources — the reference's
  * `skip lines`/`skip header` semantics (src/sources/csv/csv.lisp:84-127:
  * each file of a multi-file source drops its own preamble).
  *
  * Scale-correct implementation: the driver reads only the first
  * `skip` lines of each file to learn the byte offset where real data
  * starts (cheap: preambles are short, file counts are bounded), then a
  * single distributed TextInputFormat pass filters records by their
  * native byte-offset keys. No global ordering assumptions — works for
  * files larger than one split, any partition packing order, and
  * thousands of files. (Not applicable to compressed inputs, whose
  * record keys are not byte offsets.)
  */
object SkipLines {

  /** The FileStatus of every input file a (possibly comma-joined,
    * possibly glob) path resolves to. */
  private def fileStatuses(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // comma-separated multi-path input, as Hadoop's FileInputFormat takes
    val matched = path.split(",").toSeq.flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(hconf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    }
    matched.flatMap { st =>
      val fs = st.getPath.getFileSystem(hconf)
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
      else Seq(st)
    }
  }

  /** Byte offset of the first record *after* the `n`-th terminator,
    * per file. `delim` is the record terminator's byte sequence
    * (default newline). */
  private def cutOffsets(spark: SparkSession, path: String, n: Int,
                         delim: Array[Byte] = Array('\n'.toByte))
      : Map[String, Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // KMP failure function: on a mismatch after a partial match the
    // scan falls back to the longest proper border instead of
    // restarting at the delimiter head — exact for ANY terminator,
    // including self-overlapping ones like "aba" the old
    // first-byte-restart heuristic undercounted
    val fail = new Array[Int](delim.length)
    var k = 0
    for (i <- 1 until delim.length) {
      while (k > 0 && delim(i) != delim(k)) k = fail(k - 1)
      if (delim(i) == delim(k)) k += 1
      fail(i) = k
    }
    fileStatuses(spark, path).map { st =>
      val fs = st.getPath.getFileSystem(hconf)
      val in = fs.open(st.getPath)
      var off = 0L
      var seen = 0
      var m = 0 // matched prefix length of delim
      try {
        while (seen < n) {
          val b = in.read()
          if (b < 0) seen = n // short file: skip everything
          else {
            off += 1
            while (m > 0 && b.toByte != delim(m)) m = fail(m - 1)
            if (b.toByte == delim(m)) m += 1
            if (m == delim.length) { seen += 1; m = 0 }
          }
        }
      } finally in.close()
      (fs.makeQualified(st.getPath).toString, off)
    }.toMap
  }

  /** The qualified file paths a (possibly comma-joined, possibly glob)
    * input resolves to, in SOURCE ORDER: path entries in their listed
    * order, files within a glob/directory entry sorted by name. This is
    * the load order the reference processes files in. */
  def enumerateFiles(spark: SparkSession, path: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    path.split(",").toSeq.flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(hconf)
      val matched = Option(fs.globStatus(p)).map(_.toSeq)
        .getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile)
            .filterNot(_.getPath.getName.startsWith("_"))
            .sortBy(_.getPath.getName)
        else Seq(st)
      }.map(st => fs.makeQualified(st.getPath).toString)
    }
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
    * the offsets are the TextInputFormat record keys either way. */
  def linesWithPosition(spark: SparkSession, path: String, skip: Int,
                        charset: String = "UTF-8", splitHint: Int = 1,
                        stitch: Stitch = null,
                        /** custom record terminator (`lines terminated
                          * by`, csv.lisp:22 csv-newline): records split
                          * on its byte sequence instead of newlines —
                          * Hadoop's record.delimiter keeps the scan
                          * splittable. The conf string reaches the
                          * reader as UTF-8 bytes, so non-ASCII
                          * terminators require a UTF-8 source. */
                        delimiter: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val delimBytes = delimiter.map(_.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    val cuts = if (skip <= 0) Map.empty[String, Long]
      else cutOffsets(spark, path, skip,
        delimBytes.getOrElse(Array('\n'.toByte)))
    val bc = spark.sparkContext.broadcast(cuts)
    val cs = charset
    // minPartitions governs FileInputFormat's goalSize (= total/min):
    // the hadoopFile DEFAULT of 2 splits even a 300-byte inline file
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
      else {
        val total = fileStatuses(spark, path).map(_.getLen).sum
        math.min(splitHint.toLong,
          math.max(1L, total / MinSplitBytes)).toInt
      }
    val rdd = (delimiter match {
      case None =>
        spark.sparkContext.hadoopFile(path, classOf[TextInputFormat],
          classOf[LongWritable], classOf[Text], minParts)
      case Some(d) =>
        // a per-read JobConf: setting the delimiter on the session's
        // shared hadoopConfiguration would race concurrent scans
        val jc = new org.apache.hadoop.mapred.JobConf(
          spark.sparkContext.hadoopConfiguration)
        jc.set("textinputformat.record.delimiter", d)
        org.apache.hadoop.mapred.FileInputFormat.setInputPaths(jc, path)
        spark.sparkContext.hadoopRDD(jc, classOf[TextInputFormat],
          classOf[LongWritable], classOf[Text], minParts)
    }).asInstanceOf[HadoopRDD[LongWritable, Text]]
    val kept = rdd.mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit].getPath.toString
      val cut = bc.value.getOrElse(file, 0L)
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
            (file, off.get(),
              decoded.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              bad)
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
      if (delimiter.isEmpty) kept
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

  /** The lines of `path` with the first `skip` lines of EACH file
    * removed, as (value, __bad), decoded STRICTLY with `charset` (any
    * ASCII-compatible charset: records still split on `\n` bytes).
    * `__bad` marks rows whose bytes the charset could not decode \u2014
    * the SAME reject contract with or without skip lines, UTF-8
    * included (a spark.read.textFile fast path would decode leniently
    * and silently load U+FFFD mojibake). */
  def linesDF(spark: SparkSession, path: String, skip: Int,
              charset: String = "UTF-8", splitHint: Int = 1,
              stitch: Stitch = null,
              delimiter: Option[String] = None)
      : org.apache.spark.sql.DataFrame =
    linesWithPosition(spark, path, skip, charset, splitHint, stitch,
      delimiter)
      .select("value", "__bad")

  /** The DECODABLE lines of `path` with the first `skip` lines of EACH
    * file removed, as a Dataset[String]. Undecodable rows are DROPPED \u2014
    * callers with a reject path use [[linesDF]] and route them. */
  def lines(spark: SparkSession, path: String, skip: Int,
            charset: String = "UTF-8", splitHint: Int = 1)
      : Dataset[String] = {
    import spark.implicits._
    linesWithPosition(spark, path, skip, charset, splitHint)
      .filter(!org.apache.spark.sql.functions.col("__bad"))
      .select("value").as[String]
  }
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
