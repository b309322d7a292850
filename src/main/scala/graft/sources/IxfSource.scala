package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IBM PC/IXF source (DB2 export format) — the reference loads it through
  * the external qitab/ixf Lisp library (src/sources/ixf/; its own v4
  * dropped the format). Implemented here from the public PC/IXF layout:
  * ASCII records of `LLLLLL` (6-digit length) + 1-char type —
  * H (header), T (table), A (application), C (one per column),
  * D (row data). Verified against the reference's own
  * test/data/nsitra.test*.ixf fixtures and regress/expected/ixf.out.
  *
  * C-record fields used: name length (3) + name (256), null-allowed
  * flag, data-class, type code (3), code pages (5+5), length (5),
  * D-record id (3), POSN (6, 1-based offset of the column's bytes in
  * the row's data area). Nullable columns are preceded at POSN by a
  * 2-byte indicator (0xFFFF = NULL).
  *
  * Scale shape: like [[DbfSource]], each FILE is one [[ScanPlan]] split,
  * parsed where the split runs, so a directory of IXF files reads in
  * parallel. Values land as STRINGS in the reference's text fidelity
  * mode (PG literal shapes: ints as decimal text, `yyyy-mm-dd` dates,
  * `HH:MM:SS` times, `yyyy-mm-dd HH:MM:SS[.ffffff]` timestamps).
  */
object IxfSource {

  final case class IxfColumn(name: String, nullable: Boolean,
                             typeCode: Int, length: String,
                             drid: Int, posn: Int,
                             /** descriptor spelling as stored (see
                               * DbfField.rawName — same contract). */
                             rawName: String = "") {
    def rawOrName: String = if (rawName.nonEmpty) rawName else name
  }

  final case class IxfFile(columns: Seq[IxfColumn],
                           rows: Seq[Array[String]])

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, StandardCharsets.US_ASCII)

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /** Decode a C record's content (after the type char) at `body`. */
  private def parseColumnRecord(bytes: Array[Byte], body: Int): IxfColumn = {
    val naml = ascii(bytes, body, 3).toInt
    val name = ascii(bytes, body + 3, naml)
    val rest = body + 3 + 256
    IxfColumn(
      name = name.toLowerCase,
      rawName = name,
      nullable = bytes(rest).toChar == 'Y',
      typeCode = ascii(bytes, rest + 6, 3).trim.toInt,
      length = ascii(bytes, rest + 19, 5).trim,
      drid = ascii(bytes, rest + 24, 3).trim.toInt,
      posn = ascii(bytes, rest + 27, 6).trim.toInt)
  }

  /** Parse the whole file: C records give the schema, D records the rows.
    * A row whose width exceeds one D record spans SEVERAL consecutive D
    * records, distinguished by their DRID; each column's C record names
    * the DRID holding it, and POSN is relative to THAT record's data
    * area. A new row starts whenever the first DRID value reappears. */
  def parse(bytes: Array[Byte]): IxfFile = {
    var pos = 0
    val cols = Seq.newBuilder[IxfColumn]
    val dRecs = Seq.newBuilder[(Int, Array[Byte])] // (drid, data area)
    while (pos + 7 <= bytes.length &&
           ascii(bytes, pos, 6).forall(_.isDigit)) {
      val len = ascii(bytes, pos, 6).toInt
      val typ = bytes(pos + 6).toChar
      val body = pos + 7 // content after the type char
      typ match {
        case 'C' => cols += parseColumnRecord(bytes, body)
        case 'D' =>
          // 'D' content: DRID(3) + 4 reserved, then the data area
          val drid = ascii(bytes, body, 3).trim.toInt
          dRecs += ((drid,
            java.util.Arrays.copyOfRange(bytes, body + 7, pos + 6 + len)))
        case _ => // H/T/A records carry no row data we need
      }
      pos += 6 + len
    }
    val columns = cols.result()
    val ds = dRecs.result()
    val rows = Seq.newBuilder[Array[String]]
    if (ds.nonEmpty) {
      val firstDrid = ds.head._1
      var group = Map.empty[Int, Array[Byte]]
      ds.foreach { case (drid, area) =>
        if (drid == firstDrid && group.nonEmpty) {
          rows += decodeRow(group, columns)
          group = Map.empty
        }
        group += (drid -> area)
      }
      if (group.nonEmpty) rows += decodeRow(group, columns)
    }
    IxfFile(columns, rows.result())
  }

  /** Schema-only streaming parse: consumes records until the first D
    * record and never buffers row data — the driver-side path for
    * obtaining the schema of an arbitrarily large file. */
  def readColumns(in: java.io.InputStream): Seq[IxfColumn] = {
    val cols = Seq.newBuilder[IxfColumn]
    val lenBuf = new Array[Byte](6)
    var done = false
    while (!done) {
      var n = 0
      while (n < 6) {
        val r = in.read(lenBuf, n, 6 - n)
        if (r < 0) { done = true; n = 6 } else n += r
      }
      if (!done && lenBuf.forall(b => b >= '0' && b <= '9')) {
        val len = new String(lenBuf, StandardCharsets.US_ASCII).toInt
        val body = new Array[Byte](len)
        var m = 0
        while (m < len) {
          val r = in.read(body, m, len - m)
          if (r < 0) throw new java.io.EOFException("truncated IXF record")
          m += r
        }
        body(0).toChar match {
          case 'D' => done = true // schema complete before any data
          case 'C' => cols += parseColumnRecord(body, 1)
          case _ =>
        }
      } else done = true
    }
    cols.result()
  }

  private def decodeRow(areas: Map[Int, Array[Byte]],
                        cols: Seq[IxfColumn]): Array[String] = {
    cols.map { c =>
      areas.get(c.drid) match {
        case None => null // the row's D record for this column is absent
        case Some(area) =>
          var off = c.posn - 1 // POSN is 1-based
          if (c.nullable) {
            if (off + 2 > area.length || u16le(area, off) == 0xFFFF) null
            else { off += 2; decodeValue(area, off, c) }
          } else if (off >= area.length) null
          else decodeValue(area, off, c)
      }
    }.toArray
  }

  private def decodeValue(a: Array[Byte], off: Int, c: IxfColumn): String =
    c.typeCode match {
      case 496 => // INTEGER, 4-byte LE
        (u16le(a, off).toLong | (u16le(a, off + 2).toLong << 16)).toInt
          .toString
      case 500 => // SMALLINT, 2-byte LE
        u16le(a, off).toShort.toString
      case 492 => // BIGINT, 8-byte LE
        java.nio.ByteBuffer.wrap(a, off, 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toString
      case 480 => // FLOAT: length 4 = real, 8 = double, LE IEEE
        if (c.length == "4" || c.length == "00004")
          java.nio.ByteBuffer.wrap(a, off, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getFloat.toString
        else
          java.nio.ByteBuffer.wrap(a, off, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble.toString
      case 484 => // DECIMAL, packed BCD; length is PPPSS
        val p = c.length.reverse.padTo(5, '0').reverse
        val prec = p.substring(0, 3).toInt
        val scale = p.substring(3).toInt
        val nBytes = (prec + 2) / 2
        val digits = new StringBuilder
        var i = 0
        while (i < nBytes) {
          val b = a(off + i) & 0xFF
          digits += ('0' + (b >> 4)).toChar
          digits += ('0' + (b & 0x0F)).toChar
          i += 1
        }
        // last nibble is the sign (0xC positive, 0xD negative)
        val body = digits.substring(0, digits.length - 1)
          .takeRight(prec) // drop any leading pad nibble
        val neg = (a(off + nBytes - 1) & 0x0F) == 0x0D
        val unscaled = body.dropWhile(_ == '0') match {
          case "" => "0"
          case s => s
        }
        val str =
          if (scale == 0) unscaled
          else {
            val padded = unscaled.reverse.padTo(scale + 1, '0').reverse
            padded.substring(0, padded.length - scale) + "." +
              padded.substring(padded.length - scale)
          }
        (if (neg) "-" else "") + str
      case 452 => // CHAR(n), fixed width, trailing blanks preserved
        new String(a, off, c.length.toInt, StandardCharsets.ISO_8859_1)
      case 448 => // VARCHAR(n): 2-byte LE current length + bytes
        val n = u16le(a, off)
        new String(a, off + 2, n, StandardCharsets.ISO_8859_1)
      case 384 => // DATE: 'yyyy-mm-dd' ASCII
        ascii(a, off, 10)
      case 388 => // TIME: 'HH.MM.SS' → PG 'HH:MM:SS'
        ascii(a, off, 8).replace('.', ':')
      case 392 => // TIMESTAMP: 'yyyy-mm-dd-HH.MM.SS.ffffff'
        val s = ascii(a, off, 26)
        s.substring(0, 10) + " " + s.substring(11).replace('.', ':')
          .patch(8, ".", 1)
      case other =>
        throw new IllegalArgumentException(s"unsupported IXF type $other")
    }

  /** ixf-type → PG type for DDL (mirrors the reference's ixf cast). */
  def pgType(c: IxfColumn): String = c.typeCode match {
    case 496 => "integer"
    case 500 => "smallint"
    case 492 => "bigint"
    case 480 => if (c.length == "4" || c.length == "00004") "real"
                else "double precision"
    case 484 =>
      val p = c.length.reverse.padTo(5, '0').reverse
      s"numeric(${p.substring(0, 3).toInt},${p.substring(3).toInt})"
    case 452 => s"char(${c.length.toInt})"
    case 448 => s"varchar(${c.length.toInt})"
    case 384 => "date"
    case 388 => "time"
    case 392 => "timestamp"
    case _ => "text"
  }

  /** The read of every file `path` names (see [[DbfSource.scan]]): one
    * split per .ixf file, parsed where it runs. The columns come from a
    * STREAMING header read of the first file — C records precede all
    * row data, so the read stops at the first D record and no row
    * reaches the driver. Every other file must carry as many columns.
    * All columns are strings (fidelity mode). */
  def scan(spark: SparkSession, path: String)
      : (Seq[IxfColumn], ScanPlan[String]) = {
    val files = SkipLines.enumerateFiles(spark, path).map(_.getPath.toString)
    require(files.nonEmpty, s"no IXF files at $path")
    val first = new Path(files.head)
    val in = first.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(first)
    val columns = try readColumns(in) finally in.close()
    require(columns.nonEmpty, s"no C records in $first")
    val n = columns.length
    val conf = DbfSource.hadoopConfBroadcast(spark)
    val open: String => ScanPlan.Stream = { file =>
      val p = new Path(file)
      val parsed =
        parse(DbfSource.fileBytes(p.getFileSystem(conf.value.value), p))
      require(parsed.columns.length == n,
        s"$file has ${parsed.columns.length} columns; the first file has $n")
      ScanPlan.Stream(parsed.rows.iterator.map(ScanPlan.utf8), () => ())
    }
    (columns, ScanPlan(columns.map(_.name), files, open))
  }

  /** The [[scan]]'s distributed read, as a frame. */
  def read(spark: SparkSession, path: String): DataFrame =
    scan(spark, path)._2.frame(spark)
}
