package graft.sources

import java.io.RandomAccessFile
import java.nio.charset.{Charset, StandardCharsets}

/** Driver-free SQLite source: a from-scratch reader of the public SQLite
  * database file format (https://www.sqlite.org/fileformat2.html) — the
  * same move as the PG/MySQL wire clients, applied to a FILE protocol:
  * no SQLite driver jar is on the classpath, but the format is stable,
  * documented, and far smaller than a server protocol. The reference reads these same files through the
  * sqlite C library (src/sources/sqlite/sqlite.lisp); its regression
  * fixtures (the .db and .sqlite files under test/sqlite) are this
  * reader's golden inputs.
  *
  * Scope: rowid table B-trees AND index b-trees (WITHOUT ROWID tables,
  * [[Db.scanIndex]]) — header, interior/leaf page walk, cell decoding
  * (varints, record serial types), overflow-page chains with the
  * per-page-type local-payload budgets, INTEGER-PRIMARY-KEY rowid
  * aliases, UTF-8/16 text encodings, and `sqlite_master` schema
  * introspection (the CREATE TABLE text feeds the existing
  * [[IntrospectionRows.sqliteTable]] mapping). WAL-mode files with a
  * live -wal sidecar are rejected loudly (newer page versions would
  * silently be missed). Read-only by design.
  *
  * Values surface in the engine's fidelity mode (all-string, cast engine
  * downstream): integers in decimal, floats via `Double.toString`, text
  * as-is, BLOBs as PG bytea hex (`\x…`), NULL as SQL NULL.
  */
object SqliteFile {

  final case class MasterRow(kind: String, name: String, tblName: String,
                             rootPage: Int, sql: String)

  /** One open database file; NOT thread-safe (one instance per task). */
  final class Db private[SqliteFile] (path: String) extends AutoCloseable {
    private val raf = new RandomAccessFile(path, "r")
    private val header = new Array[Byte](100)
    raf.seek(0); raf.readFully(header)
    require(new String(header, 0, 16, StandardCharsets.ISO_8859_1)
      .startsWith("SQLite format 3"), s"not a SQLite 3 file: $path")

    private def u16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def u32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

    val pageSize: Int = {
      val v = u16(header, 16)
      if (v == 1) 65536 else v
    }
    private val reserved: Int = header(20) & 0xFF
    private val usable: Int = pageSize - reserved
    // file format versions 2 = WAL journal mode: a -wal sidecar may hold
    // newer page versions this reader would silently miss
    require((header(18) & 0xFF) <= 1 ||
      !new java.io.File(path + "-wal").exists(),
      s"$path is in WAL mode with a live -wal sidecar; checkpoint first")
    val textCharset: Charset = u32(header, 56) match {
      case 1 => StandardCharsets.UTF_8
      case 2 => StandardCharsets.UTF_16LE
      case 3 => StandardCharsets.UTF_16BE
      case other => throw new IllegalArgumentException(
        s"unknown text encoding $other")
    }

    private def page(n: Int): Array[Byte] = {
      val b = new Array[Byte](pageSize)
      raf.seek((n.toLong - 1) * pageSize)
      raf.readFully(b)
      b
    }

    // ---- varint (big-endian 7-bit groups; 9th byte carries 8 bits) ----
    private def varint(b: Array[Byte], i0: Int): (Long, Int) = {
      var v = 0L; var i = i0
      var n = 0
      while (n < 8 && (b(i) & 0x80) != 0) {
        v = (v << 7) | (b(i) & 0x7F); i += 1; n += 1
      }
      if (n == 8) { v = (v << 8) | (b(i) & 0xFF); i += 1 }
      else { v = (v << 7) | (b(i) & 0x7F); i += 1 }
      (v, i)
    }

    // ---- payload assembly (local + overflow chain) ----
    /** One record's payload materializes fully (a cell IS a row value);
      * the scan holds at most one page + one record at a time, so heap
      * is bounded by the largest single record, not the table. Payloads
      * past SQLite's own SQLITE_MAX_LENGTH default (1e9) are refused
      * loudly rather than wrapped by toInt. */
    private def payload(pg: Array[Byte], at: Int, total: Long,
                        index: Boolean = false): Array[Byte] = {
      require(total <= 1000000000L,
        s"record payload $total B exceeds the 1 GB cap (SQLITE_MAX_LENGTH" +
          " default) — refusing to materialize a corrupt-length cell")
      val p = total.toInt
      // index b-tree pages (WITHOUT ROWID tables) use the smaller
      // local-payload budget (fileformat2 §B-tree Pages)
      val maxLocal =
        if (index) (usable - 12) * 64 / 255 - 23 else usable - 35
      if (p <= maxLocal)
        java.util.Arrays.copyOfRange(pg, at, at + p)
      else {
        val minLocal = (usable - 12) * 32 / 255 - 23
        val k = minLocal + (p - minLocal) % (usable - 4)
        val local = if (k <= maxLocal) k else minLocal
        val out = new Array[Byte](p)
        System.arraycopy(pg, at, out, 0, local)
        var next = u32(pg, at + local).toInt
        var off = local
        while (next != 0) {
          val op = page(next)
          val n = math.min(usable - 4, p - off)
          System.arraycopy(op, 4, out, off, n)
          off += n
          next = u32(op, 0).toInt
        }
        require(off == p, s"overflow chain ended early: $off of $p")
        out
      }
    }

    // ---- record decoding (serial types) ----
    /** Decode one record into fidelity-mode strings; `rowidAlias` (when
      * >= 0) substitutes the rowid for that column's stored NULL;
      * `realCols` are REAL-affinity columns, whose integer-stored values
      * (SQLite stores an exactly-representable REAL as an INTEGER serial
      * type to save space) convert back to float text on read, as the
      * affinity rules require. */
    private def record(payload: Array[Byte], rowid: Long,
                       rowidAlias: Int, ncols: Int,
                       realCols: Set[Int]): Array[String] = {
      val (hdrLen, afterHdrLen) = varint(payload, 0)
      var i = afterHdrLen
      val types = new Array[Long](ncols)
      var col = 0
      // a record may carry FEWER columns than the current schema (added
      // columns read as NULL) — and never more that we care about
      while (i < hdrLen && col < ncols) {
        val (t, ni) = varint(payload, i)
        types(col) = t; i = ni; col += 1
      }
      while (col < ncols) { types(col) = 0; col += 1 } // short record
      var off = hdrLen.toInt
      val out = new Array[String](ncols)
      var c = 0
      while (c < ncols) {
        val t = types(c)
        t match {
          case 0 =>
            out(c) = if (c == rowidAlias) rowid.toString else null
          case 1 | 2 | 3 | 4 | 5 | 6 =>
            val n = t match {
              case 1 => 1; case 2 => 2; case 3 => 3
              case 4 => 4; case 5 => 6; case _ => 8
            }
            var v = (payload(off) & 0xFFL) - (if ((payload(off) & 0x80) != 0) 256L else 0L)
            var j = 1
            while (j < n) { v = (v << 8) | (payload(off + j) & 0xFFL); j += 1 }
            out(c) = if (realCols(c)) java.lang.Double.toString(v.toDouble)
              else v.toString
            off += n
          case 8 | 9 if realCols(c) =>
            out(c) = if (t == 8) "0.0" else "1.0"
          case 7 =>
            var bits = 0L
            var j = 0
            while (j < 8) { bits = (bits << 8) | (payload(off + j) & 0xFFL); j += 1 }
            out(c) = java.lang.Double.toString(
              java.lang.Double.longBitsToDouble(bits))
            off += 8
          case 8 => out(c) = "0"
          case 9 => out(c) = "1"
          case t if t >= 13 && t % 2 == 1 =>
            val n = ((t - 13) / 2).toInt
            out(c) = new String(payload, off, n, textCharset)
            off += n
          case t if t >= 12 && t % 2 == 0 =>
            val n = ((t - 12) / 2).toInt
            // digit-table hex via the shared renderer: multi-MB
            // overflow blobs hex-encode in one linear pass
            out(c) = ByteaHex.render(payload, off, n)
            off += n
          case other =>
            throw new IllegalArgumentException(s"reserved serial type $other")
        }
        c += 1
      }
      out
    }

    // ---- B-tree walk ----
    /** Depth-first scan of the table B-tree rooted at `root`, decoding
      * each leaf cell to a fidelity-mode row. Lazy: pages load as the
      * iterator advances (one page + one record in memory at a time,
      * plus the 500-deep-max page stack). */
    def scan(root: Int, ncols: Int, rowidAlias: Int = -1,
             realCols: Set[Int] = Set.empty)
        : Iterator[Array[String]] = new Iterator[Array[String]] {
      // stack of pages still to visit
      private val stack = new java.util.ArrayDeque[Int]()
      stack.push(root)
      private var leaf: Array[Byte] = null
      private var cellIdx = 0
      private var cellCount = 0
      private var base = 0

      private def descend(): Unit = {
        while (leaf == null && !stack.isEmpty) {
          val n = stack.pop()
          val pg = page(n)
          val hdr = if (n == 1) 100 else 0
          pg(hdr) & 0xFF match {
            case 5 => // interior table page: children right-to-left so
              // the leftmost pops first (stack order)
              val ncells = u16(pg, hdr + 3)
              val right = u32(pg, hdr + 8).toInt
              stack.push(right)
              var i = ncells - 1
              while (i >= 0) {
                val cp = u16(pg, hdr + 12 + 2 * i)
                stack.push(u32(pg, cp).toInt)
                i -= 1
              }
            case 13 => // leaf table page
              leaf = pg; base = hdr
              cellIdx = 0; cellCount = u16(pg, hdr + 3)
              if (cellCount == 0) leaf = null // empty page, keep walking
            case other =>
              throw new IllegalArgumentException(
                s"page $n is not a table b-tree page (type $other) — " +
                  "WITHOUT ROWID tables are not supported")
          }
        }
      }

      override def hasNext: Boolean = {
        if (leaf == null || cellIdx >= cellCount) {
          if (leaf != null && cellIdx >= cellCount) leaf = null
          descend()
        }
        leaf != null && cellIdx < cellCount
      }

      override def next(): Array[String] = {
        if (!hasNext) throw new NoSuchElementException
        val cp = u16(leaf, base + 8 + 2 * cellIdx)
        cellIdx += 1
        val (plen, i1) = varint(leaf, cp)
        val (rowid, i2) = varint(leaf, i1)
        record(payload(leaf, i2, plen), rowid, rowidAlias, ncols, realCols)
      }
    }

    /** Scan an INDEX b-tree (page types 2/10) — the storage of a
      * WITHOUT ROWID table, whose rows live as key records: PK columns
      * first (in PK order), then the remaining columns in declared
      * order (fileformat2 §Index B-Trees; the reference reads these
      * through libsqlite). Interior pages carry keys that ARE entries,
      * so their cell payloads emit alongside the leaves'. Values come
      * out in RECORD order — [[graft.sources.SqliteSource]] reorders
      * to the declared column order. */
    def scanIndex(root: Int, ncols: Int,
                  realCols: Set[Int] = Set.empty)
        : Iterator[Array[String]] = new Iterator[Array[String]] {
      private val stack = new java.util.ArrayDeque[Int]()
      stack.push(root)
      private val pending = new java.util.ArrayDeque[Array[Byte]]()

      private def fill(): Unit = {
        while (pending.isEmpty && !stack.isEmpty) {
          val n = stack.pop()
          val pg = page(n)
          val hdr = if (n == 1) 100 else 0
          val ncells = u16(pg, hdr + 3)
          pg(hdr) & 0xFF match {
            case 2 => // interior index page: children + KEY entries
              stack.push(u32(pg, hdr + 8).toInt)
              var i = ncells - 1
              while (i >= 0) {
                val cp = u16(pg, hdr + 12 + 2 * i)
                stack.push(u32(pg, cp).toInt)
                val (plen, i1) = varint(pg, cp + 4)
                pending.add(payload(pg, i1, plen, index = true))
                i -= 1
              }
            case 10 => // leaf index page
              var i = 0
              while (i < ncells) {
                val cp = u16(pg, hdr + 8 + 2 * i)
                val (plen, i1) = varint(pg, cp)
                pending.add(payload(pg, i1, plen, index = true))
                i += 1
              }
            case other =>
              throw new IllegalArgumentException(
                s"page $n is not an index b-tree page (type $other)")
          }
        }
      }

      override def hasNext: Boolean = { fill(); !pending.isEmpty }
      override def next(): Array[String] = {
        if (!hasNext) throw new NoSuchElementException
        record(pending.poll(), rowid = 0L, rowidAlias = -1, ncols,
          realCols)
      }
    }

    /** Subtree roots for a distributed scan: the root's direct children
      * (plus right-most), or the root itself when it is a leaf. Each
      * subtree holds a disjoint rowid range, so scanning them
      * independently partitions the table exactly. */
    def subtreeRoots(root: Int): Seq[Int] = {
      val pg = page(root)
      val hdr = if (root == 1) 100 else 0
      pg(hdr) & 0xFF match {
        case 5 =>
          val ncells = u16(pg, hdr + 3)
          val kids = (0 until ncells).map { i =>
            val cp = u16(pg, hdr + 12 + 2 * i)
            u32(pg, cp).toInt
          }
          kids :+ u32(pg, hdr + 8).toInt
        case 13 => Seq(root)
        case other => throw new IllegalArgumentException(
          s"page $root type $other is not a table b-tree root")
      }
    }

    /** `sqlite_master` (root page 1): (type, name, tbl_name, rootpage,
      * sql) per schema object. */
    def master(): Seq[MasterRow] =
      scan(1, ncols = 5).map { r =>
        MasterRow(r(0), r(1), r(2),
          Option(r(3)).map(_.toInt).getOrElse(0),
          Option(r(4)).getOrElse(""))
      }.toSeq

    override def close(): Unit = raf.close()
  }

  def open(path: String): Db = new Db(path)

  /** SQLite type-affinity rule 4: REAL affinity (REAL/FLOA/DOUB) — only
    * when rules 1-3 (INT / CHAR|CLOB|TEXT / BLOB|empty) don't claim the
    * type first. REAL-affinity columns convert integer-stored values
    * back to float on read. */
  def affinityIsReal(ctype: String): Boolean = {
    val t = ctype.toLowerCase
    t.nonEmpty && !t.contains("int") && !t.contains("char") &&
      !t.contains("clob") && !t.contains("text") && !t.contains("blob") &&
      (t.contains("real") || t.contains("floa") || t.contains("doub"))
  }

  // ---- CREATE TABLE mini-parser (sqlite_master.sql → column defs) ----

  /** Strip one layer of identifier quoting: "x", [x], `x`, 'x'. */
  private[sources] def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
        (t.head == '`' && t.last == '`') ||
        (t.head == '\'' && t.last == '\'')))
      t.substring(1, t.length - 1)
        .replace("" + t.head + t.head, "" + t.head)
    else if (t.startsWith("[") && t.endsWith("]"))
      t.substring(1, t.length - 1)
    else t
  }

  /** Split on top-level commas (parens/quotes tracked). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var i = 0; var start = 0
    var quote: Char = 0
    while (i < s.length) {
      val ch = s(i)
      if (quote != 0) {
        if (ch == quote) quote = 0
      } else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '[' => quote = ']'
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** First token of a column definition (quoted or bare identifier). */
  private[sources] def firstToken(s: String): (String, String) = {
    val t = s.trim
    if (t.isEmpty) return ("", "")
    t.head match {
      case q @ ('"' | '`' | '\'') =>
        // the closing quote is the first UN-doubled one — a doubled
        // quote is an escaped literal quote inside the identifier
        // ("we""ird" names the identifier we"ird)
        var j = 1
        var end = -1
        while (end < 0 && j < t.length) {
          if (t(j) == q) {
            if (j + 1 < t.length && t(j + 1) == q) j += 2
            else end = j
          } else j += 1
        }
        if (end < 0) end = t.length - 1
        (t.substring(1, end).replace("" + q + q, "" + q),
          t.substring(math.min(t.length, end + 1)))
      case '[' =>
        val end = t.indexOf(']')
        (t.substring(1, end), t.substring(end + 1))
      case _ =>
        val end = t.indexWhere(c => c.isWhitespace || c == '(')
        if (end < 0) (t, "") else (t.substring(0, end), t.substring(end))
    }
  }

  private val constraintKw = Set("primary", "not", "null", "default",
    "unique", "check", "references", "collate", "generated", "as",
    "constraint", "autoincrement", "on")

  /** Parse the CREATE TABLE text into the PRAGMA-shaped rows the catalog
    * mapping consumes ([[IntrospectionRows.sqliteTable]]). Loose on
    * purpose, like SQLite's own type affinity: the type is every token
    * up to the first constraint keyword (multi-word types — `double
    * precision`, `smallint unsigned`, quoted types — survive). */
  /** The table's rows live in an INDEX b-tree instead of a rowid
    * table b-tree ([[Db.scanIndex]]). SQLite grammar places the
    * table-options clause strictly AFTER the column list's closing
    * paren, so the match anchors on the last ')' of the
    * comment-stripped, quote-blanked statement text — the phrase
    * inside a CHECK expression, DEFAULT literal, quoted identifier or
    * trailing `-- comment` must not misroute a rowid table to the
    * index walker, and a ')' inside a trailing comment must not hide
    * a real WITHOUT ROWID clause (sqlite_master keeps the statement
    * verbatim, comments included). */
  def isWithoutRowid(sql: String): Boolean = {
    // blank quoted regions / strip comments in one linear pass
    val sb = new StringBuilder(sql.length)
    var i = 0
    val n = sql.length
    while (i < n) {
      sql(i) match {
        case '-' if i + 1 < n && sql(i + 1) == '-' =>
          while (i < n && sql(i) != '\n') i += 1
        case '/' if i + 1 < n && sql(i + 1) == '*' =>
          i += 2
          while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) i += 1
          i = math.min(n, i + 2)
        case q @ ('\'' | '"' | '`') =>
          sb += ' '
          i += 1
          var open = true
          while (i < n && open) {
            if (sql(i) == q) {
              if (i + 1 < n && sql(i + 1) == q) i += 2 // doubled escape
              else { open = false; i += 1 }
            } else i += 1
          }
        case '[' =>
          sb += ' '
          while (i < n && sql(i) != ']') i += 1
          i = math.min(n, i + 1)
        case c => sb += c; i += 1
      }
    }
    val clean = sb.toString
    val tail = clean.lastIndexOf(')') match {
      case -1 => return false
      case p => clean.substring(p + 1)
    }
    tail.toUpperCase.replaceAll("\\s+", " ").contains("WITHOUT ROWID")
  }

  /** Same-length view of `s` with quoted regions ('', "", ``, []) and
    * parenthesized BODIES blanked to spaces — keyword scans over the
    * result see only depth-0, unquoted text, while offsets still line
    * up with the original for value extraction. */
  private def maskNested(s: String): String = {
    val out = s.toCharArray
    var i = 0
    val n = s.length
    var depth = 0
    while (i < n) {
      s(i) match {
        case '(' =>
          if (depth > 0) out(i) = ' '
          depth += 1
          i += 1
        case ')' =>
          depth = math.max(0, depth - 1)
          if (depth > 0) out(i) = ' '
          i += 1
        case q @ ('\'' | '"' | '`') =>
          out(i) = ' '
          i += 1
          var open = true
          while (i < n && open) {
            if (s(i) == q && i + 1 < n && s(i + 1) == q) {
              out(i) = ' '; out(i + 1) = ' '; i += 2
            } else {
              if (s(i) == q) open = false
              out(i) = ' '
              i += 1
            }
          }
        case '[' =>
          out(i) = ' '
          i += 1
          while (i < n && s(i) != ']') { out(i) = ' '; i += 1 }
          if (i < n) { out(i) = ' '; i += 1 }
        case _ =>
          if (depth > 0) out(i) = ' '
          i += 1
      }
    }
    new String(out)
  }

  def parseCreateTable(sql: String): Seq[IntrospectionRows.SqliteColumn] = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    require(open > 0 && close > open, s"malformed CREATE TABLE: $sql")
    val defs = splitTop(sql.substring(open + 1, close))
    val tableLevelPk = defs.find(d =>
      d.toLowerCase.matches("^(constraint\\s+\\S+\\s+)?primary\\s+key.*"))
      .map { d =>
        val inner = d.substring(d.indexOf('(') + 1, d.lastIndexOf(')'))
        // firstToken, not whitespace-split: quoted names may contain
        // spaces ("order 2"), and DESC/ASC/COLLATE tails drop with it
        splitTop(inner).map(c => firstToken(c)._1)
      }.getOrElse(Nil)
    val colDefs = defs.filterNot { d =>
      val k = d.split("[\\s(]+")(0).toLowerCase
      Set("primary", "unique", "check", "foreign", "constraint")(k)
    }
    colDefs.zipWithIndex.map { case (d, i) =>
      val (name, rest0) = firstToken(d)
      val rest = rest0.trim
      val lower = rest.toLowerCase
      // type = tokens until the first constraint keyword at depth 0
      val typeEnd = {
        var depth = 0; var i2 = 0; var end = rest.length
        var done = false
        while (i2 < rest.length && !done) {
          rest(i2) match {
            case '(' => depth += 1; i2 += 1
            case ')' => depth -= 1; i2 += 1
            case c if c.isLetter && depth == 0 =>
              val we = {
                var j = i2
                while (j < rest.length && (rest(j).isLetterOrDigit ||
                  rest(j) == '_')) j += 1
                j
              }
              val w = rest.substring(i2, we).toLowerCase
              if (constraintKw(w)) { end = i2; done = true } else i2 = we
            case _ => i2 += 1
          }
        }
        end
      }
      val ctype = unquote(rest.substring(0, typeEnd).trim)
      val tailOrig = rest.substring(typeEnd)
      // constraint keywords are only meaningful at depth 0 OUTSIDE
      // quotes: `CHECK (x IS NOT NULL)` is not a NOT NULL constraint,
      // `DEFAULT 'primary key'` is not a PK, and `ON DELETE SET
      // DEFAULT` carries no default value. The mask blanks quoted
      // regions and parenthesized bodies while PRESERVING offsets, so
      // the default-value extraction below can read the original text
      // at the match position.
      val tail = maskNested(tailOrig).toLowerCase
      val notNull = "not\\s+null".r.findFirstIn(tail).isDefined
      val pkHere = "primary\\s+key".r.findFirstIn(tail).isDefined ||
        tableLevelPk.exists(_.equalsIgnoreCase(name))
      val default = {
        // match only the keyword in the MASKED text (its quoted/nested
        // regions are blanked — a trailing \s* would swallow a blanked
        // literal); the VALUE then reads from the original text
        val m = "(?<![\\w$])default(?![\\w$])".r.findFirstMatchIn(tail)
          // ON DELETE/UPDATE SET DEFAULT is a referential action, not
          // a column default
          .filterNot(mm => tail.substring(0, mm.start).trim
            .endsWith(" set"))
        m.map { mm =>
          val after = tailOrig.substring(mm.end).trim
          if (after.startsWith("(")) {
            var depth = 0; var j = 0; var end = after.length
            var done = false
            while (j < after.length && !done) {
              after(j) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) { end = j + 1; done = true }
                case _ =>
              }
              j += 1
            }
            after.substring(0, end)
          } else if (after.startsWith("'") || after.startsWith("\"")) {
            // doubled-quote escapes stay INSIDE the literal: the
            // closing quote is the first un-doubled one ('it''s')
            val q = after.head
            var j = 1
            var end = -1
            while (end < 0 && j < after.length) {
              if (after(j) == q) {
                if (j + 1 < after.length && after(j + 1) == q) j += 2
                else end = j
              } else j += 1
            }
            after.substring(0, (if (end < 0) after.length else end + 1))
          } else after.takeWhile(c => !c.isWhitespace && c != ',')
        }
      }
      val pkOrd =
        if (!pkHere) 0
        else if (tableLevelPk.nonEmpty)
          tableLevelPk.indexWhere(_.equalsIgnoreCase(name)) + 1
        else 1
      IntrospectionRows.SqliteColumn(i, name, ctype, notNull, default,
        pkOrd)
    }
  }

  /** FOREIGN KEY clauses of a CREATE TABLE — table-level
    * `FOREIGN KEY (a[,b]) REFERENCES t (x[,y])` and column-level
    * `col … REFERENCES t (x)` forms, in the PRAGMA foreign_key_list
    * row shape ([[IntrospectionRows.SqliteFk]]). The file-format
    * reader has no PRAGMA, so the stored DDL is the catalog (the
    * chinook fixture's 11 FKs recreate on the target from exactly
    * these clauses). */
  def parseForeignKeys(sql: String): Seq[IntrospectionRows.SqliteFk] = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open) return Nil
    val defs = splitTop(sql.substring(open + 1, close))
    val out = Seq.newBuilder[IntrospectionRows.SqliteFk]
    var id = 0
    def refParts(afterRefs: String): Option[(String, Seq[String])] = {
      val t = afterRefs.trim
      if (t.isEmpty) None
      else {
        val (tbl, rest) = firstToken(t)
        val r = rest.trim
        val cols =
          if (r.startsWith("(")) {
            val end = r.indexOf(')')
            if (end < 0) Nil
            // firstToken, not whitespace-split: quoted names with
            // spaces, plus COLLATE/ASC tails drop with it
            else splitTop(r.substring(1, end)).map(c =>
              firstToken(c)._1)
          } else Nil
        Some((tbl, cols))
      }
    }
    defs.foreach { d =>
      // keyword scans run over the depth-0, quote-blanked mask — a
      // 'references' inside a CHECK body or DEFAULT literal is data,
      // not a clause (the mask preserves offsets, so matches index
      // into the original text)
      val masked = maskNested(d)
      val lower = masked.toLowerCase
      val tableLevel =
        "^\\s*(constraint\\s+\\S+\\s+)?foreign\\s+key\\s*\\(".r
          .findFirstMatchIn(lower)
      if (tableLevel.isDefined) {
        val fkOpen = d.indexOf('(', tableLevel.get.end - 1)
        val fkClose = d.indexOf(')', fkOpen)
        val from = splitTop(d.substring(fkOpen + 1, fkClose))
          .map(c => firstToken(c)._1)
        val refM = "(?i)references\\s+".r
          .findFirstMatchIn(lower.substring(fkClose))
        refM.foreach { m =>
          refParts(d.substring(fkClose + m.start + "references".length))
            .foreach { case (tbl, to) =>
              // omitted ref columns mean "the referenced table's
              // PRIMARY KEY" — emit empty markers; the introspection
              // post-pass resolves them against the actual PK
              // ([[SqliteSource.introspect]])
              val tos = if (to.nonEmpty) to else from.map(_ => "")
              from.zip(tos).zipWithIndex.foreach { case ((f, t2), s) =>
                out += IntrospectionRows.SqliteFk(id, s, tbl, f, t2)
              }
              id += 1
            }
        }
      } else {
        val k = d.split("[\\s(]+")(0).toLowerCase
        if (!Set("primary", "unique", "check", "constraint")(k)) {
          // column definition: a column-level REFERENCES clause
          val (name, _) = firstToken(d)
          val refM = "(?i)(?<![\\w$])references\\s+".r
            .findFirstMatchIn(lower)
          refM.foreach { m =>
            refParts(d.substring(m.start + "references".length))
              .foreach { case (tbl, to) =>
                out += IntrospectionRows.SqliteFk(id, 0, tbl, name,
                  to.headOption.getOrElse(""))
                id += 1
              }
          }
        }
      }
    }
    out.result()
  }

  /** The UNIQUE / non-rowid-alias PRIMARY KEY constraints of a
    * CREATE TABLE that SQLite backs with an automatic index, in
    * DECLARATION order — the `sqlite_autoindex_<table>_<N>` rows in
    * sqlite_master have NULL sql, so their column lists come from the
    * table's own DDL (N is 1-based over this sequence). The rowid
    * alias (a single-column PK typed exactly INTEGER, declared either
    * column-level or as a table-level PRIMARY KEY(col)) gets NO
    * autoindex; any other PK — composite, non-INTEGER column-level —
    * DOES, so skipping/including the wrong ones would shift every
    * later constraint's N onto the wrong column list. */
  def autoIndexColumns(sql: String): Seq[(Boolean, Seq[String])] = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open) return Nil
    val cols = parseCreateTable(sql)
    val rowidAlias = cols.count(_.pk > 0) == 1 && cols.exists(c =>
      c.pk > 0 && Option(c.ctype).exists(
        _.trim.equalsIgnoreCase("integer")))
    val defs = splitTop(sql.substring(open + 1, close))
    val out = Seq.newBuilder[(Boolean, Seq[String])]
    defs.foreach { d =>
      val lower = d.toLowerCase
      val headKw = d.split("[\\s(]+")(0).toLowerCase
      def listCols: Seq[String] = {
        val o = d.indexOf('(')
        val c2 = d.indexOf(')', o)
        if (o < 0 || c2 < 0) Nil
        else splitTop(d.substring(o + 1, c2)).map(c =>
          unquote(c.split("\\s+")(0)))
      }
      if (lower.matches("^(constraint\\s+\\S+\\s+)?primary\\s+key.*")) {
        if (!rowidAlias) out += ((true, listCols))
      } else if (lower.matches("^(constraint\\s+\\S+\\s+)?unique\\s*\\(.*")) {
        out += ((false, listCols))
      } else if (!Set("primary", "unique", "check", "foreign",
          "constraint")(headKw)) {
        val (name, rest) = firstToken(d)
        val restLower = rest.toLowerCase
        // column-level PRIMARY KEY before column-level UNIQUE, like
        // SQLite creates them while parsing the column definition
        if (!rowidAlias &&
            "(?i)\\bprimary\\s+key\\b".r.findFirstIn(restLower).isDefined)
          out += ((true, Seq(name)))
        if ("(?i)\\bunique\\b".r.findFirstIn(restLower).isDefined)
          out += ((false, Seq(name)))
      }
    }
    out.result()
  }
}
