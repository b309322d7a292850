package graft.tools

import java.nio.charset.StandardCharsets.UTF_8

/** An independent, from-scratch SQLite database FILE writer
  * (https://www.sqlite.org/fileformat2.html) — the cross-check for
  * [[graft.sources.SqliteFile]]: the reader's golden fixtures come from
  * the reference repo, but those top out at 15,607 rows (Chinook) and a
  * 28 KB blob. This writer produces arbitrarily large databases — the
  * multi-level B-trees and multi-MB overflow chains behind the scale
  * curve in COVERAGE.md — WITHOUT sharing a line of code with the
  * reader, so agreement between the two is evidence, not tautology.
  *
  * Scope mirrors the reader's: rowid table B-trees (leaf type 13,
  * interior type 5), record serial types (NULL / signed ints / IEEE
  * float / text / blob), overflow-page chains using the leaf-table
  * local-payload formula, `sqlite_master` on page 1, UTF-8 text
  * encoding, no freelist (files are written compact, never mutated).
  *
  * The `main` generates Chinook-Track-shaped tables at 1x / 10x and
  * times the subtree-partitioned distributed read at both scales.
  */
object SqliteGen {

  sealed trait V
  case object VNull extends V
  final case class VInt(v: Long) extends V
  final case class VReal(v: Double) extends V
  final case class VText(v: String) extends V
  final case class VBlob(v: Array[Byte]) extends V

  final class Writer(val pageSize: Int = 4096) {
    require(pageSize >= 512 && pageSize <= 65536 &&
      Integer.bitCount(pageSize) == 1, s"bad page size $pageSize")
    private val usable = pageSize // reserved bytes = 0
    // index i holds page number i+1; page 1 reserved for the header +
    // sqlite_master leaf, filled in save()
    private val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]](null)
    private val master =
      scala.collection.mutable.ArrayBuffer[(String, String, Int, String)]()

    private def alloc(pg: Array[Byte]): Int = { pages += pg; pages.length }

    // ---- primitives ----
    private def u16(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = ((v >> 8) & 0xFF).toByte; b(i + 1) = (v & 0xFF).toByte
    }
    private def u32(b: Array[Byte], i: Int, v: Long): Unit = {
      b(i) = ((v >> 24) & 0xFF).toByte; b(i + 1) = ((v >> 16) & 0xFF).toByte
      b(i + 2) = ((v >> 8) & 0xFF).toByte; b(i + 3) = (v & 0xFF).toByte
    }
    /** Big-endian base-128 varint (values here stay under 2^56, so the
      * 9-byte form never triggers). */
    private def varint(v: Long): Array[Byte] = {
      require(v >= 0 && v < (1L << 56), s"varint out of writer range: $v")
      if (v < 0x80) Array(v.toByte)
      else {
        val out = scala.collection.mutable.ArrayBuffer[Byte]((v & 0x7F).toByte)
        var x = v >>> 7
        while (x != 0) { out += ((x & 0x7F) | 0x80).toByte; x >>>= 7 }
        out.reverse.toArray
      }
    }

    // ---- record encoding (serial types) ----
    private def intBody(v: Long): (Long, Array[Byte]) = {
      val n =
        if (v >= -0x80L && v < 0x80L) 1
        else if (v >= -0x8000L && v < 0x8000L) 2
        else if (v >= -0x800000L && v < 0x800000L) 3
        else if (v >= -0x80000000L && v < 0x80000000L) 4
        else if (v >= -0x800000000000L && v < 0x800000000000L) 6
        else 8
      val tpe = n match {
        case 1 => 1L; case 2 => 2L; case 3 => 3L
        case 4 => 4L; case 6 => 5L; case 8 => 6L
      }
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) { b(i) = ((v >> (8 * (n - 1 - i))) & 0xFF).toByte; i += 1 }
      (tpe, b)
    }

    def record(values: Seq[V]): Array[Byte] = {
      val parts = values.map {
        case VNull => (0L, Array.empty[Byte])
        case VInt(v) => intBody(v)
        case VReal(v) =>
          val bits = java.lang.Double.doubleToLongBits(v)
          val b = new Array[Byte](8)
          var i = 0
          while (i < 8) { b(i) = ((bits >> (8 * (7 - i))) & 0xFF).toByte; i += 1 }
          (7L, b)
        case VText(s) =>
          val b = s.getBytes(UTF_8); (13L + 2L * b.length, b)
        case VBlob(b) => (12L + 2L * b.length, b)
      }
      val typeBytes = parts.map(p => varint(p._1))
      val typesLen = typeBytes.map(_.length).sum
      // header length varint includes itself: iterate to the fixpoint
      // (converges in <= 2 steps; the varint length only grows)
      var hdrLen = typesLen + 1
      while (hdrLen != typesLen + varint(hdrLen.toLong).length)
        hdrLen = typesLen + varint(hdrLen.toLong).length
      val out = new java.io.ByteArrayOutputStream()
      out.write(varint(hdrLen.toLong), 0, varint(hdrLen.toLong).length)
      typeBytes.foreach(tb => out.write(tb, 0, tb.length))
      require(out.size() == hdrLen, s"record header fixpoint: ${out.size()} != $hdrLen")
      parts.foreach { case (_, b) => out.write(b, 0, b.length) }
      out.toByteArray
    }

    // ---- cells (leaf table), overflow chains ----
    private def leafCell(rowid: Long, payload: Array[Byte]): Array[Byte] = {
      val p = payload.length
      val maxLocal = usable - 35
      val pre = varint(p.toLong) ++ varint(rowid)
      if (p <= maxLocal) pre ++ payload
      else {
        val minLocal = (usable - 12) * 32 / 255 - 23
        val k = minLocal + (p - minLocal) % (usable - 4)
        val local = if (k <= maxLocal) k else minLocal
        // chain pages built back-to-front so each knows its successor
        val chunks = payload.drop(local).grouped(usable - 4).toSeq
        var next = 0L
        chunks.reverse.foreach { chunk =>
          val pg = new Array[Byte](pageSize)
          u32(pg, 0, next)
          System.arraycopy(chunk, 0, pg, 4, chunk.length)
          next = alloc(pg).toLong
        }
        val tail = new Array[Byte](4)
        u32(tail, 0, next)
        pre ++ payload.take(local) ++ tail
      }
    }

    /** Pack cells (already rowid-ordered) into one leaf page image.
      * `base` is 100 on page 1, else 0. */
    private def packLeaf(cells: Seq[Array[Byte]], base: Int): Array[Byte] = {
      val pg = new Array[Byte](pageSize)
      pg(base) = 13
      u16(pg, base + 3, cells.length)
      var content = pageSize
      cells.zipWithIndex.foreach { case (c, i) =>
        content -= c.length
        System.arraycopy(c, 0, pg, content, c.length)
        u16(pg, base + 8 + 2 * i, content)
      }
      require(content >= base + 8 + 2 * cells.length, "leaf overflow")
      u16(pg, base + 5, content)
      pg
    }

    /** Leaf capacity check: header + pointer array + content. */
    private def leafFits(base: Int, n: Int, bytes: Int, next: Int): Boolean =
      base + 8 + 2 * (n + 1) + bytes + next <= pageSize

    // ---- interior levels ----
    /** Build interior pages over `children` = (pageNo, maxRowid) until a
      * single root remains. Interior cell = 4-byte child + varint key
      * (largest rowid in that subtree); last child rides the right-most
      * pointer at hdr+8. */
    private def buildTree(children: Seq[(Int, Long)]): Int = {
      if (children.length == 1) return children.head._1
      val fanout = math.min(200, (usable - 12 - 8) / (2 + 4 + 9))
      val parents = children.grouped(fanout).map { grp =>
        val pg = new Array[Byte](pageSize)
        pg(0) = 5
        val cells = grp.init.map { case (child, maxRowid) =>
          val b = new Array[Byte](4)
          u32(b, 0, child.toLong)
          b ++ varint(maxRowid)
        }
        u16(pg, 3, cells.length)
        u32(pg, 8, grp.last._1.toLong)
        var content = pageSize
        cells.zipWithIndex.foreach { case (c, i) =>
          content -= c.length
          System.arraycopy(c, 0, pg, content, c.length)
          u16(pg, 12 + 2 * i, content)
        }
        u16(pg, 5, content)
        (alloc(pg), grp.last._2)
      }.toSeq
      buildTree(parents)
    }

    /** Write a rowid table: rows are (rowid, values); values at the
      * rowid-alias position (INTEGER PRIMARY KEY column) should be
      * VNull — SQLite stores the alias column as NULL in the record.
      * Rows must arrive in ascending rowid order. Returns the root
      * page. */
    def table(name: String, createSql: String,
              rows: Iterator[(Long, Seq[V])]): Int = {
      val leaves = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
      val cur = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var curBytes = 0
      var lastRowid = Long.MinValue
      def flush(): Unit = if (cur.nonEmpty) {
        leaves += ((alloc(packLeaf(cur.toSeq, 0)), lastRowid))
        cur.clear(); curBytes = 0
      }
      rows.foreach { case (rowid, values) =>
        require(rowid > lastRowid || cur.isEmpty && leaves.isEmpty,
          s"rows out of order: $rowid after $lastRowid")
        val cell = leafCell(rowid, record(values))
        if (!leafFits(0, cur.length, curBytes, cell.length)) flush()
        cur += cell; curBytes += cell.length
        lastRowid = rowid
      }
      flush()
      val root =
        if (leaves.isEmpty) alloc(packLeaf(Nil, 0))
        else buildTree(leaves.toSeq)
      master += (("table", name, root, createSql))
      root
    }

    /** Record a VIEW in sqlite_master (rootpage 0, no B-tree — a view
      * is pure DDL text; the reader's introspectViews extracts the
      * SELECT body). */
    def view(name: String, selectSql: String): Unit =
      master += (("view", name, 0, s"CREATE VIEW $name AS $selectSql"))

    /** Assemble page 1 (header + sqlite_master) and write the file. */
    def save(path: String): Unit = {
      val cells = master.toSeq.zipWithIndex.map {
        case ((kind, name, root, sql), i) =>
          leafCell(i + 1L, record(Seq(VText(kind), VText(name),
            VText(name), VInt(root.toLong), VText(sql))))
      }
      require(cells.map(_.length + 2).sum + 108 <= pageSize,
        "sqlite_master spills past page 1 — fewer/shorter tables")
      val p1 = packLeaf(cells, 100)
      val h = p1 // header occupies the first 100 bytes of page 1
      val magic = "SQLite format 3".getBytes(UTF_8)
      System.arraycopy(magic, 0, h, 0, magic.length); h(15) = 0
      u16(h, 16, if (pageSize == 65536) 1 else pageSize)
      h(18) = 1; h(19) = 1 // legacy journal mode, read+write
      h(20) = 0 // reserved space
      h(21) = 64; h(22) = 32; h(23) = 32 // payload fractions (fixed)
      u32(h, 24, 1L) // file change counter
      u32(h, 28, pages.length.toLong) // database size in pages
      u32(h, 40, 1L) // schema cookie
      u32(h, 44, 4L) // schema format number
      u32(h, 56, 1L) // text encoding: UTF-8
      u32(h, 92, 1L) // version-valid-for
      u32(h, 96, 3045000L) // sqlite version number
      pages(0) = p1
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(path), 1 << 16)
      try pages.foreach { pg =>
        require(pg != null, "unassembled page")
        out.write(pg)
      } finally out.close()
    }
  }

  /** Chinook-Track-shaped row generator (used by the scale curve and
    * the writer round-trip spec). */
  def trackRows(n: Int): Iterator[(Long, Seq[V])] =
    (1 to n).iterator.map { i =>
      (i.toLong, Seq(VNull, // id: INTEGER PRIMARY KEY rowid alias
        VText(s"Track number $i with a medium-length name"),
        VInt(i.toLong % 347 + 1), VInt(200000L + i * 17 % 100000),
        VInt(3000000L + i * 977 % 2000000),
        VReal(0.99 + (i % 3) * 0.3)))
    }

  val trackSql: String =
    """CREATE TABLE "Track" (
      |  "TrackId" INTEGER PRIMARY KEY,
      |  "Name" NVARCHAR(200),
      |  "AlbumId" INTEGER,
      |  "Milliseconds" INTEGER,
      |  "Bytes" INTEGER,
      |  "UnitPrice" NUMERIC(10,2)
      |)""".stripMargin

  def writeTrackDb(path: String, rows: Int): Unit = {
    val w = new Writer()
    w.table("Track", trackSql, trackRows(rows))
    w.save(path)
  }

  /** Scale-curve measurement: 1x = Chinook-sized (15,607 rows), 10x =
    * 156,070; three warm rounds of the subtree-partitioned distributed
    * read at each scale (compare round 2+, round 1 carries codegen/JIT
    * warmup). */
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("sqlite-scale")
      .toString
    writeTrackDb(s"$dir/track_1x.db", 15607)
    writeTrackDb(s"$dir/track_10x.db", 156070)
    val spark = graft.Sessions.builder("sqlite-scale", graft.Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[sqlite-scale] $label%-14s ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    for (round <- 1 to 3) {
      println(s"=== round $round ===")
      Seq("1x" -> 15607L, "10x" -> 156070L).foreach { case (tag, expect) =>
        time(s"read $tag") {
          val df = graft.sources.SqliteSource.scan(
            s"$dir/track_${tag}.db", "Track").frame(spark)
          if (round == 1)
            println(s"[sqlite-scale] $tag partitions: " +
              df.rdd.getNumPartitions)
          val n = df.count()
          require(n == expect, s"$tag: $n != $expect")
          n
        }
      }
    }
    spark.stop()
  }
}
