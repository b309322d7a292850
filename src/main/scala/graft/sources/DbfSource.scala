package graft.sources

import java.nio.charset.Charset
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.Transforms

/** dBase III (DBF) source — binary header + fixed-width text records with
  * a per-record deletion flag (reference src/sources/db3/db3.lisp:7-30;
  * clojure source/dbf.clj). Implemented from the public dBase III file
  * layout: 32-byte header (version, LE record count/header size/record
  * size), 32-byte field descriptors terminated by 0x0D, records prefixed
  * by 0x20 (live) / 0x2A (deleted), 0x1A EOF.
  *
  * Scale shape: each FILE is one split of a [[ScanPlan]], its bytes read
  * and sliced into records where the split runs, so a directory of DBF
  * files reads in parallel (the reference is strictly sequential). A
  * single file is bounded by the 2 GB byte-array limit — acceptable for
  * a format whose own header caps record count at 2^32 and which in
  * practice ships as many small files.
  */
object DbfSource {

  final case class DbfField(name: String, ftype: Char, length: Int,
                            decimals: Int,
                            /** the descriptor's spelling as stored in
                              * the file (usually uppercase) — the
                              * reference keeps it raw and cases only
                              * at DDL emission (db3-schema.lisp:25
                              * feeds field-name verbatim into
                              * apply-identifier-case). `name` stays
                              * the folded form the data path matches
                              * cast rules and memo handling by. */
                            rawName: String = "") {
    def rawOrName: String = if (rawName.nonEmpty) rawName else name
  }
  final case class DbfHeader(recordCount: Int, headerSize: Int,
                             recordSize: Int, fields: Seq[DbfField])

  private def u8(b: Byte): Int = b & 0xFF
  private def u16le(bs: Array[Byte], off: Int): Int =
    u8(bs(off)) | (u8(bs(off + 1)) << 8)
  private def u32le(bs: Array[Byte], off: Int): Long =
    u16le(bs, off).toLong | (u16le(bs, off + 2).toLong << 16)

  def parseHeader(bytes: Array[Byte]): DbfHeader = {
    require(bytes.length >= 33, "truncated DBF header")
    val recordCount = u32le(bytes, 4).toInt
    val headerSize = u16le(bytes, 8)
    val recordSize = u16le(bytes, 10)
    val fields = Seq.newBuilder[DbfField]
    var off = 32
    while (off + 32 <= bytes.length && bytes(off) != 0x0D) {
      val nameEnd = {
        var i = off
        while (i < off + 11 && bytes(i) != 0) i += 1
        i
      }
      val raw = new String(bytes, off, nameEnd - off, "US-ASCII")
      fields += DbfField(
        raw.toLowerCase,
        bytes(off + 11).toChar,
        u8(bytes(off + 16)),
        u8(bytes(off + 17)),
        rawName = raw)
      off += 32
    }
    DbfHeader(recordCount, headerSize, recordSize, fields.result())
  }

  /** Live (non-deleted) records as string arrays; deleted-row skip per
    * db3.lisp:20-24. */
  def parseRecords(bytes: Array[Byte], header: DbfHeader,
                   charset: Charset): Iterator[Array[String]] = {
    val n = header.fields.length
    new Iterator[Array[String]] {
      private var off = header.headerSize
      private var nextRec: Array[String] = _
      advance()
      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null &&
               off + header.recordSize <= bytes.length &&
               bytes(off) != 0x1A) {
          val deleted = bytes(off) == '*'
          if (!deleted) {
            val vals = new Array[String](n)
            var fo = off + 1
            var i = 0
            while (i < n) {
              val f = header.fields(i)
              // Visual FoxPro (0x30/0x31) binary field types decode to
              // their text renderings; everything else is charset text
              vals(i) = f.ftype match {
                case 'I' => // 4-byte LE signed integer
                  ((bytes(fo) & 0xFF) | ((bytes(fo + 1) & 0xFF) << 8) |
                    ((bytes(fo + 2) & 0xFF) << 16) |
                    (bytes(fo + 3) << 24)).toString
                case 'Y' => // currency: 8-byte LE integer of value×10⁴
                  java.nio.ByteBuffer.wrap(bytes, fo, 8)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                    .getLong.toString
                case '0' => // _NullFlags system byte → bit string
                  String.format("%8s",
                    java.lang.Integer.toBinaryString(bytes(fo) & 0xFF))
                    .replace(' ', '0')
                case _ =>
                  new String(bytes, fo, f.length, charset)
              }
              fo += f.length
              i += 1
            }
            nextRec = vals
          }
          off += header.recordSize
        }
      }
      def hasNext: Boolean = nextRec != null
      def next(): Array[String] = {
        val r = nextRec; advance(); r
      }
    }
  }

  /** Memo (M) field resolution from the companion .dbt file. dBase IV
    * blocks: size at header offset 20, each block FF FF 08 00 marker +
    * u32le total length (incl. the 8-byte header); dBase III fallback:
    * 512-byte blocks, text until 0x1A. */
  def memoText(dbt: Array[Byte], block: Int, charset: Charset): String = {
    val blockSize = {
      val bs = u16le(dbt, 20)
      if (bs > 0) bs else 512
    }
    val off = block.toLong * blockSize
    if (off < 0 || off >= dbt.length) return null
    val o = off.toInt
    // text runs to the first terminator byte (0x1A, or dBase IV's 0x1F
    // soft terminator) — real-world files carry unreliable length words,
    // so readers go by terminators
    def untilTerminator(start: Int): String = {
      var end = start
      while (end < dbt.length && dbt(end) != 0x1A && dbt(end) != 0x1F)
        end += 1
      new String(dbt, start, end - start, charset)
    }
    if (o + 8 <= dbt.length &&
        u8(dbt(o)) == 0xFF && u8(dbt(o + 1)) == 0xFF &&
        u8(dbt(o + 2)) == 0x08 && u8(dbt(o + 3)) == 0x00)
      untilTerminator(o + 8) // dBase IV block header
    else
      untilTerminator(o) // dBase III
  }

  // ONE Hadoop-conf broadcast per SparkSession, not one per read — a
  // broadcast is never GC-eligible while its session lives, so a
  // per-read broadcast leaks for the session lifetime when reading many
  // DBF directories. Weak keys let the entry die with the session.
  private val confBroadcasts = new java.util.WeakHashMap[
    SparkSession,
    org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration]]

  private[graft] def hadoopConfBroadcast(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[
          org.apache.spark.util.SerializableConfiguration] =
    confBroadcasts.synchronized {
      var bc = confBroadcasts.get(spark)
      if (bc == null) {
        bc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        confBroadcasts.put(spark, bc)
      }
      bc
    }

  /** A whole file's bytes through its Hadoop FileSystem. Record and memo
    * offsets are in-memory Ints, so a file over 2 GiB is refused loudly
    * rather than overflowing one. */
  private[sources] def fileBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue,
      s"$p is $len bytes; files over 2 GiB are not supported")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** One .dbf file of a load and the charset its text decodes with (a
    * DECODING rule may match only some of a glob's files). */
  final case class DbfFile(path: String, encoding: String)

  /** The read of every file `path` names (a comma list of files, globs
    * or directories, [[SkipLines.enumerateFiles]]): one split per file,
    * whose bytes are read and sliced into records where the split runs.
    * The fields come from the first file's header bytes alone; every
    * other file must carry as many. All columns are strings (fidelity
    * mode: the db3 transforms and the cast engine type them downstream).
    * Memo (M) columns resolve through the sibling .dbt/.fpt file. */
  def scan(spark: SparkSession, path: String,
           encoding: String => String = _ => "ISO-8859-1")
      : (Seq[DbfField], ScanPlan[DbfFile]) = {
    val files = SkipLines.enumerateFiles(spark, path).map(_.getPath.toString)
    require(files.nonEmpty, s"no DBF files at $path")
    val first = new Path(files.head)
    val in = first.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(first)
    val fields =
      try {
        // 32 fixed bytes, then the descriptors up to the header size
        val head = in.readNBytes(32)
        require(head.length == 32, s"truncated DBF header in $first")
        parseHeader(head ++ in.readNBytes(math.max(0, u16le(head, 8) - 32)))
          .fields
      } finally in.close()
    val n = fields.length
    // the session's Hadoop conf on executors: the .dbf and its memo file
    // open with the same FS settings (s3a credentials, custom schemes)
    val conf = hadoopConfBroadcast(spark)
    val open: DbfFile => ScanPlan.Stream = { file =>
      val dbfPath = new Path(file.path)
      val fs = dbfPath.getFileSystem(conf.value.value)
      val bytes = fileBytes(fs, dbfPath)
      val h = parseHeader(bytes) // every file reparses its own header
      require(h.fields.length == n,
        s"$dbfPath has ${h.fields.length} fields; the first file has $n")
      val cs = Charset.forName(file.encoding)
      val memoIdx = h.fields.zipWithIndex.collect {
        case (f, i) if f.ftype == 'M' => i
      }
      // a missing sibling memo file degrades every memo value to NULL
      // rather than failing the load — the reference's v4 fixture ships
      // dbase_8b.dbf WITHOUT its .dbt and expects 10 rows with NULL
      // memos (clojure tests/dbf/dbf-8b). Yielding the raw block
      // NUMBERS would corrupt the load, so the pointers are dropped,
      // never passed through.
      val dbt: Option[Array[Byte]] =
        if (memoIdx.isEmpty) None
        else {
          val base = dbfPath.getName.replaceAll("(?i)\\.dbf$", "")
          Seq(".dbt", ".DBT", ".fpt", ".FPT")
            .map(ext => new Path(dbfPath.getParent, base + ext))
            .find(fs.exists).map(fileBytes(fs, _))
        }
      val rows = parseRecords(bytes, h, cs).map { vs =>
        memoIdx.foreach { i =>
          vs(i) = dbt match {
            case Some(mem) =>
              val blockStr = Option(vs(i)).map(_.trim).getOrElse("")
              // malformed block pointers reject the value, not the task
              if (blockStr.isEmpty) null
              else blockStr.toIntOption.map(b => memoText(mem, b, cs)).orNull
            case None => null // no memo file: see above
          }
        }
        ScanPlan.utf8(vs)
      }
      ScanPlan.Stream(rows, () => ())
    }
    (fields, ScanPlan(fields.map(_.name),
      files.map(f => DbfFile(f, encoding(f))), open))
  }

  /** The [[scan]]'s distributed read of files in one `encoding`, as a
    * frame. */
  def read(spark: SparkSession, path: String,
           encoding: String = "ISO-8859-1"): DataFrame =
    scan(spark, path, _ => encoding)._2.frame(spark)

  /** Per-type default transform, as the reference's DBF cast rules attach
    * (db3 family, transforms.lisp:588-618): C → right-trim, N → numeric
    * or integer, D → date, L → boolean. */
  def defaultTransform(f: DbfField): Column => Column = f.ftype match {
    case 'C' => Transforms.db3TrimString
    case 'N' if f.decimals > 0 => Transforms.db3NumericToPgsqlNumeric
    case 'N' => Transforms.db3NumericToPgsqlInteger
    case 'F' => Transforms.db3NumericToPgsqlNumeric
    case 'D' => Transforms.db3DateToPgsqlDate
    case 'L' => Transforms.logicalToBoolean
    case _ => identity
  }

  /** dbf-type → PG type (dbf.clj:22-39; FoxPro I/Y binary types). */
  def pgType(f: DbfField): String = f.ftype match {
    case 'C' | 'M' => "text"
    case 'N' if f.decimals > 0 => s"numeric(${f.length},${f.decimals})"
    case 'N' => "bigint"
    case 'F' => "double precision"
    case 'D' => "date"
    case 'L' => "boolean"
    case 'I' => "integer"
    // Y currency is a 10^-4-scaled int64; the reference loads the RAW
    // scaled integer as bigint (db3-cast-rules.lisp:23-25) — a
    // numeric(19,4) column would render a different scale than the
    // reference's expected output
    case 'Y' => "bigint"
    case _ => "text"
  }

  /** Write rows as a dBase III file (fixture/round-trip utility; null →
    * all-spaces field, `deleted` marks rows with the 0x2A flag). */
  def write(file: java.io.File, fields: Seq[DbfField],
            rows: Seq[Seq[String]], deleted: Seq[Boolean] = Nil,
            encoding: String = "ISO-8859-1"): Unit = {
    val cs = Charset.forName(encoding)
    val headerSize = 32 + 32 * fields.length + 1
    val recordSize = 1 + fields.map(_.length).sum
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    try {
      val head = new Array[Byte](32)
      head(0) = 0x03 // dBase III, no memo
      head(1) = 24; head(2) = 1; head(3) = 1 // file date YYMMDD
      val n = rows.length
      head(4) = (n & 0xFF).toByte
      head(5) = ((n >> 8) & 0xFF).toByte
      head(6) = ((n >> 16) & 0xFF).toByte
      head(7) = ((n >> 24) & 0xFF).toByte
      head(8) = (headerSize & 0xFF).toByte
      head(9) = ((headerSize >> 8) & 0xFF).toByte
      head(10) = (recordSize & 0xFF).toByte
      head(11) = ((recordSize >> 8) & 0xFF).toByte
      out.write(head)
      fields.foreach { f =>
        val fd = new Array[Byte](32)
        val nameBytes = f.name.toUpperCase.getBytes("US-ASCII")
        System.arraycopy(nameBytes, 0, fd, 0,
          math.min(10, nameBytes.length))
        fd(11) = f.ftype.toByte
        fd(16) = f.length.toByte
        fd(17) = f.decimals.toByte
        out.write(fd)
      }
      out.write(0x0D)
      rows.zipWithIndex.foreach { case (r, i) =>
        val del = deleted.lift(i).getOrElse(false)
        out.write(if (del) '*' else ' ')
        fields.zip(r).foreach { case (f, v0) =>
          val v = Option(v0).getOrElse("")
          val b = v.getBytes(cs)
          val cell = new Array[Byte](f.length)
          java.util.Arrays.fill(cell, ' '.toByte)
          if (f.ftype == 'N' || f.ftype == 'F') // right-justified
            System.arraycopy(b, 0, cell,
              math.max(0, f.length - b.length), math.min(b.length, f.length))
          else
            System.arraycopy(b, 0, cell, 0, math.min(b.length, f.length))
          out.write(cell)
        }
      }
      out.write(0x1A)
    } finally out.close()
  }
}
