package graft.sources

import java.nio.charset.{CharacterCodingException, Charset}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileSplit, LineRecordReader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The read core of the line formats (CSV, COPY TEXT, fixed-width), with
  * the reference's per-FILE head-line skipping (`skip lines`/`skip
  * header`, src/sources/csv/csv.lisp:84-127: each file of a multi-file
  * source drops its own preamble).
  *
  * The driver lists the input files once ([[enumerateFiles]]) and opens
  * each at most once ([[heads]]), reading only its first lines: the byte
  * offset where real data starts (cheap: preambles are short, file counts
  * are bounded) and the first records after the skip — the sample a
  * reader guesses a dialect from or takes its column names from (the
  * reference's csv-guess.lisp sample). [[scan]] then plans the read of
  * the listed files as a [[ScanPlan]] of byte-range splits, each keeping
  * the records at or past its file's cut and decoding them with the
  * file's charset. No global ordering assumptions — works for files
  * larger than one split and for thousands of files. (Not applicable to
  * compressed inputs, whose cuts are not byte offsets of the records.)
  */
object SkipLines {

  /** One listed input file as the driver read it: its qualified path,
    * byte length and block size, the charset its lines decode with, the
    * byte offset the scan keeps records from, and its first records
    * after the skip. */
  final case class HeadFile(path: String, length: Long, blockSize: Long,
                            charset: String, cut: Long,
                            records: Seq[String])

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
      HeadFile(p.toString, st.getLen, st.getBlockSize, cs, cut,
        records.result())
    }
    Heads(files, delimiter)
  }

  /** Floor on bytes-per-split when `splitHint` asks for parallelism:
    * a task under ~4 MB of COPY payload finishes before its scheduling
    * cost amortizes, and splitting tiny files breaks the file-order
    * serial-id contract the regress goldens check. */
  private val MinSplitBytes = 4L << 20

  /** Per-split record-reassembly hook: receives the split's (utf8-bytes,
    * bad) records in order and may join lines into records (CSV quoted
    * embedded newlines — [[CsvSource.stitchRecords]]). */
  type Stitch = Iterator[(Array[Byte], Boolean)] =>
    Iterator[(Array[Byte], Boolean)]

  /** One byte range of a listed file, read from `start` for `length`
    * bytes; records before the file's `cut` are dropped, the rest decode
    * with `charset`. */
  final case class LineSplit(path: String, start: Long, length: Long,
                             cut: Long, charset: String)

  /** Marks a record whose bytes its charset could not decode. */
  private val BadMark = UTF8String.fromString("t")

  /** The read of `heads`' files: two string columns, `value` (the
    * record) and `__bad` (null for a line that decodes strictly with
    * its file's charset). The splits are byte ranges of the listed
    * files in source order, so the split index is the load order.
    *
    * Splits follow Hadoop FileInputFormat's rule over the listing:
    * goal = total / minParts, a file splits at the smaller of the goal
    * and its block size, a remainder up to 1.1× a split stays whole, a
    * compressed file is one split and an empty one none (Spark's
    * `spark.hadoopRDD.ignoreEmptySplits`). minParts is 1 unless the
    * caller asks for write parallelism (the DSL `workers` option — the
    * reference's concurrent COPY writers), and even then never below
    * [[MinSplitBytes]] per split: two COPY tasks over a 300-byte inline
    * file would interleave PG serial-default assignment and break the
    * reference's file-order ids (csv-trim-extra-blanks golden).
    *
    * Each split opens a Hadoop `LineRecordReader` over its range, with
    * the UTF-8 bytes of `heads.delimiter` as the record terminator (so
    * non-ASCII terminators require a UTF-8 source): a split leaves the
    * record its start falls in to the split before it, and finishes the
    * record its end falls in.
    * Per record, in order:
    *  - records before the file's cut (its skipped and header lines)
    *    are dropped;
    *  - under a custom terminator a record of only CR/LF bytes is
    *    dropped: a file whose records end "data¶\n" leaves a newline-only
    *    remainder between the last terminator and EOF, formatting exactly
    *    as blank lines are under the default terminator (COVERAGE.md
    *    "lines terminated by": quote a bare-newline field to load it);
    *  - STRICT decode: bytes the charset cannot represent make the row
    *    bad (the reference's decoder errors and routes the row to
    *    rejects — csv-error.load's 'héhé' line under encoding 'ascii');
    *    silent replacement would load mojibake. A UTF-8 line is only
    *    checked byte-wise ([[isWellFormedUtf8]]) and travels as its own
    *    bytes; a bad one reads back replacement-decoded. Other charsets
    *    transcode with one decoder per split;
    *  - `stitch` joins the split's records (a split never spans files).
    */
  def scan(spark: SparkSession, heads: Heads, splitHint: Int = 1,
           stitch: Stitch = identity): ScanPlan[LineSplit] = {
    val total = heads.files.map(_.length).sum
    val minParts =
      if (splitHint <= 1) 1L
      else math.min(splitHint.toLong, math.max(1L, total / MinSplitBytes))
    val goal = total / minParts
    val codecs = new CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    val splits = heads.files.flatMap { f =>
      def split(start: Long, length: Long) =
        LineSplit(f.path, start, length, f.cut, f.charset)
      if (f.length == 0) Nil
      else if (codecs.getCodec(new Path(f.path)) != null)
        Seq(split(0, f.length))
      else {
        val size = math.max(1L, math.min(goal, f.blockSize))
        val out = Seq.newBuilder[LineSplit]
        var left = f.length
        while (left.toDouble / size > 1.1) {
          out += split(f.length - left, size)
          left -= size
        }
        (out += split(f.length - left, left)).result()
      }
    }
    val conf = DbfSource.hadoopConfBroadcast(spark)
    val delim = heads.delimiter.map(_.getBytes(UTF_8)).orNull
    val open: LineSplit => ScanPlan.Stream = { s =>
      ScanPlan.opened(new LineRecordReader(conf.value.value,
          new FileSplit(new Path(s.path), s.start, s.length,
            Array.empty[String]), delim)) { reader =>
        val utf8 = s.charset.equalsIgnoreCase("UTF-8") ||
          s.charset.equalsIgnoreCase("utf8")
        val charset = Charset.forName(s.charset)
        val decoder = charset.newDecoder()
        // the reader fills key and line in place: each stage reads them
        // before the next record is fetched
        val key = new LongWritable
        val line = new Text
        val records = Iterator.continually(reader.next(key, line))
          .takeWhile(identity)
          .filter(_ => key.get >= s.cut && (delim == null || line.getBytes
            .iterator.take(line.getLength).exists(b => b != '\n' && b != '\r')))
          .map { _ =>
            val bytes = java.util.Arrays.copyOf(line.getBytes, line.getLength)
            if (utf8) (bytes, !isWellFormedUtf8(bytes, 0, bytes.length))
            else
              try (decoder.decode(java.nio.ByteBuffer.wrap(bytes)).toString
                .getBytes(UTF_8), false)
              catch {
                case _: CharacterCodingException =>
                  (new String(bytes, charset).getBytes(UTF_8), true)
              }
          }
        stitch(records).map { case (bytes, bad) =>
          Array[Any](UTF8String.fromBytes(bytes), if (bad) BadMark else null)
        }
      }
    }
    ScanPlan(Seq("value", "__bad"), splits, open)
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
