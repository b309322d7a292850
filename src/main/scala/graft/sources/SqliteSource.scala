package graft.sources

/** Spark face of the driver-free SQLite reader ([[SqliteFile]]):
  * introspection into the catalog/cast chain and a distributed scan
  * partitioned by table B-tree SUBTREES — each root child holds a
  * disjoint rowid range, so subtree scans partition the table exactly,
  * no predicates needed (the file-format analog of the PG ctid split).
  * The path must be visible from every executor (local FS in local
  * mode; a shared mount on a cluster — a .sqlite file is a single-host
  * artifact by nature, the reference reads it the same way). */
object SqliteSource {

  /** One full-table scan in DECLARED column order — routing rowid
    * tables to the table-btree walker and WITHOUT ROWID tables to the
    * index-btree walker ([[SqliteFile]]: a WOR record stores PK
    * columns first, then the rest in declared order — fileformat2
    * §Index B-Trees; the reorder happens here). */
  private def tableScan(db: SqliteFile.Db, rootPage: Int, sql: String,
                        cols: Seq[IntrospectionRows.SqliteColumn])
      : Iterator[Array[String]] = {
    val realCols = cols.zipWithIndex.collect {
      case (c, i) if SqliteFile.affinityIsReal(c.ctype) => i
    }.toSet
    if (!SqliteFile.isWithoutRowid(sql))
      db.scan(rootPage, cols.length, rowidAliasIdx(cols), realCols)
    else {
      val pks = cols.zipWithIndex.filter(_._1.pk > 0)
        .sortBy(_._1.pk).map(_._2)
      val rest = cols.zipWithIndex.filter(_._1.pk == 0).map(_._2)
      val recToDecl = (pks ++ rest).toArray
      val recReal = recToDecl.zipWithIndex.collect {
        case (decl, p) if realCols(decl) => p
      }.toSet
      db.scanIndex(rootPage, cols.length, recReal).map { rec =>
        val out = new Array[String](cols.length)
        var p = 0
        while (p < rec.length) { out(recToDecl(p)) = rec(p); p += 1 }
        out
      }
    }
  }

  /** Schema objects of kind `table`, excluding SQLite internals, mapped
    * through the same [[IntrospectionRows.sqliteTable]] rules as the
    * PRAGMA path (INTEGER-PRIMARY-KEY rowid alias, implicit NOT NULL,
    * missing type → text). `rowCounts` walks each table once. */
  def introspect(path: String, rowCounts: Boolean = false)
      : Seq[graft.catalog.Table] = {
    val db = SqliteFile.open(path)
    try {
      val master = db.master()
      val mapped = userTables(db).map { m =>
        val cols = SqliteFile.parseCreateTable(m.sql)
        val count =
          if (rowCounts) tableScan(db, m.rootPage, m.sql, cols).size.toLong
          else 0L
        // secondary indexes: named CREATE INDEX rows carry their DDL;
        // sqlite_autoindex_<t>_<N> rows (UNIQUE / table-level PK
        // constraints) have NULL sql — their columns come from the
        // table's own DDL in declaration order (the reference reads
        // the same facts via PRAGMA index_list/index_info)
        val auto = SqliteFile.autoIndexColumns(m.sql)
        val indexes = master.filter(i => i.kind == "index" &&
            i.tblName == m.name && !isInternalAutoindex(i.name))
          .flatMap(i => parseCreateIndex(i.name, i.sql)) ++
          master.filter(i => i.kind == "index" && i.tblName == m.name)
            .flatMap { i =>
              autoindexN(i.name, m.name).flatMap(n => auto.lift(n - 1))
                .map { case (_, cs) =>
                  // origin "u", even for a PK-backing autoindex: the
                  // reference recreates these as real UNIQUE indexes
                  // alongside the PK constraint (chinook expects
                  // sqlite_autoindex_PlaylistTrack_1 among its 33)
                  IntrospectionRows.SqliteIndex(i.name, unique = true,
                    columns = cs, origin = "u")
                }
            }
        val fks = SqliteFile.parseForeignKeys(m.sql)
        IntrospectionRows.sqliteTable(m.name, cols, indexes, fks,
          rowCount = count)
      }
      // `REFERENCES t` with no column list means "t's PRIMARY KEY" —
      // the parser emits empty markers (it sees one statement at a
      // time); resolve them against the referenced table's actual PK
      // here, where every table is known. SQLite resolves table names
      // case-insensitively. Unresolvable references (missing table or
      // arity mismatch) fall back to the local column names — the old
      // heuristic, right whenever the key names coincide.
      val pkOf = mapped.map(t => t.name.toLowerCase ->
        t.indexes.find(_.primary).map(_.columns).getOrElse(Nil)).toMap
      mapped.map(t => t.copy(fkeys = t.fkeys.map { fk =>
        if (fk.foreignColumns.nonEmpty && fk.foreignColumns.forall(_.isEmpty)) {
          val pk = pkOf.getOrElse(fk.foreignTable.toLowerCase, Nil)
          fk.copy(foreignColumns =
            if (pk.size == fk.columns.size) pk else fk.columns)
        } else fk
      }))
    } finally db.close()
  }

  private def isInternalAutoindex(name: String): Boolean =
    name.startsWith("sqlite_autoindex_")

  private def autoindexN(idxName: String, table: String): Option[Int] = {
    val prefix = s"sqlite_autoindex_${table}_"
    if (idxName.startsWith(prefix))
      idxName.substring(prefix.length).toIntOption
    else None
  }

  private val CreateIndex = (
    "(?is)\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(.+?)\\s+ON\\s+.+?\\((.*)\\)\\s*").r

  /** `CREATE [UNIQUE] INDEX name ON table (cols…)` → the PRAGMA-shaped
    * index row; indexed expressions/partial indexes fall back to the
    * plain column prefix of each item. */
  private def parseCreateIndex(name: String, sql: String)
      : Option[IntrospectionRows.SqliteIndex] = sql match {
    case CreateIndex(uniq, _, colList) =>
      val cols = colList.split(",").toSeq.map { c =>
        val t = c.trim
        val (n, _) = SqliteFile.firstToken(t)
        n
      }.filter(_.nonEmpty)
      if (cols.isEmpty) None
      else Some(IntrospectionRows.SqliteIndex(name,
        unique = uniq != null, columns = cols))
    case _ => None
  }

  private def userTables(db: SqliteFile.Db): Seq[SqliteFile.MasterRow] =
    db.master().filter(m => m.kind == "table" &&
      !m.name.startsWith("sqlite_"))

  /** Views stored in sqlite_master as (name, SELECT text). The master
    * row carries the full `CREATE VIEW … AS select …` statement; the
    * SELECT body is what MATERIALIZE VIEWS evaluates through Spark SQL
    * over the base tables (the reference instead runs the view inside
    * the sqlite engine, src/sources/sqlite/sqlite.lisp:93-160 — a
    * file-format reader has no SQL engine, Spark is ours). */
  def introspectViews(path: String): Seq[(String, String)] = {
    val db = SqliteFile.open(path)
    try db.master().filter(_.kind == "view").map(m =>
      m.name -> viewSelect(m.sql))
    finally db.close()
  }

  private val ViewAs = (
    "(?is)\\s*CREATE\\s+(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(?:\"(?:[^\"]|\"\")*\"|\\[[^\\]]*\\]|`(?:[^`]|``)*`|\\S+)\\s*" +
      "(?:\\([^)]*\\)\\s*)?(?i:AS)\\s+(.*)").r

  /** The SELECT body of a stored CREATE VIEW statement. */
  def viewSelect(createSql: String): String = createSql match {
    case ViewAs(sel) => sel.trim
    case _ => throw new IllegalArgumentException(
      s"cannot extract the SELECT from view DDL: $createSql")
  }

  /** SQLite view SQL → Spark SQL identifier quoting: double-quoted and
    * bracket-quoted identifiers become backtick-quoted (outside ANSI
    * mode Spark reads `"x"` as a STRING LITERAL, silently breaking any
    * view written with SQLite's idiomatic quoting); '…' literals pass
    * through untouched, including '' escapes. SQLite's
    * double-quote-as-string fallback (a quoted name matching no
    * column) is deliberately not honored — identifier semantics win,
    * as they do in SQLite itself whenever the name resolves. */
  def toSparkIdentQuotes(sql: String): String = {
    val out = new StringBuilder(sql.length + 8)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' =>
          out += '\''; i += 1
          var done = false
          while (!done && i < sql.length) {
            val c = sql.charAt(i)
            out += c; i += 1
            if (c == '\'') {
              if (i < sql.length && sql.charAt(i) == '\'') {
                out += '\''; i += 1
              } else done = true
            }
          }
        case '"' =>
          val name = new StringBuilder
          i += 1
          var done = false
          while (!done && i < sql.length) {
            val c = sql.charAt(i)
            if (c == '"') {
              if (i + 1 < sql.length && sql.charAt(i + 1) == '"') {
                name += '"'; i += 2
              } else { done = true; i += 1 }
            } else { name += c; i += 1 }
          }
          out ++= "`"; out ++= name.toString.replace("`", "``")
          out ++= "`"
        case '[' =>
          val end = sql.indexOf(']', i)
          val stop = if (end < 0) sql.length else end
          out ++= "`"
          out ++= sql.substring(i + 1, stop).replace("`", "``")
          out ++= "`"
          i = stop + 1
        // comments pass through VERBATIM: a quote character inside a
        // -- or /* */ comment must not open an identifier/literal scan
        // (it would swallow sql — including the line break that ends a
        // -- comment — until the next quote)
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          val nl = sql.indexOf('\n', i)
          val stop = if (nl < 0) sql.length else nl
          out ++= sql.substring(i, stop)
          i = stop
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          val end = sql.indexOf("*/", i + 2)
          val stop = if (end < 0) sql.length else end + 2
          out ++= sql.substring(i, stop)
          i = stop
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** Spark result type → the sqlite-flavored ctype the cast-engine
    * guards expect — for MATERIALIZE VIEWS tables whose shape comes
    * from a Spark SQL evaluation instead of PRAGMA table_info. */
  /** Spark type for a declared sqlite column type, for the TYPED temp
    * views MATERIALIZE VIEWS evaluates over: a plain-projection view
    * then carries its base columns' numeric types into the
    * materialized table's DDL instead of text (the reference
    * introspects the view's result types on the live source —
    * tests/sqlite/matviews pins `price` landing numeric). Temporal and
    * numeric/decimal kinds stay STRING: their rendering fidelity
    * matters more than their arithmetic in a view projection. */
  def viewEvalType(ctype: String)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val base = ctype.toLowerCase.takeWhile(_ != '(').trim
    base match {
      case "int" | "integer" | "int2" | "int4" | "int8" | "bigint" |
           "smallint" | "tinyint" | "mediumint" | "long" => LongType
      case "real" | "float4" => FloatType
      case "float" | "float8" | "double" | "double precision" =>
        DoubleType
      case _ => StringType
    }
  }

  def ctypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "integer"
      case FloatType => "real"
      case DoubleType => "double"
      case d: DecimalType => s"numeric(${d.precision},${d.scale})"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType | TimestampNTZType => "datetime"
      case BinaryType => "blob"
      case _ => "text"
    }
  }

  /** The rowid-alias column index: a single-column INTEGER PRIMARY KEY
    * stores NULL in the record and takes the rowid (same rule as
    * [[IntrospectionRows.sqliteTable]]'s auto-increment detection). */
  private def rowidAliasIdx(
      cols: Seq[IntrospectionRows.SqliteColumn]): Int =
    if (cols.count(_.pk > 0) == 1)
      cols.indexWhere(c => c.pk == 1 &&
        c.ctype.trim.toLowerCase == "integer")
    else -1

  /** Plan the read of one table, one split per root subtree (each
    * holds a disjoint rowid range). WITHOUT ROWID tables scan their
    * index b-tree whole (interior keys are entries, so page subtrees
    * don't partition cleanly) — one split, like the reference's single
    * COPY stream. */
  def scan(path: String, table: String): ScanPlan[Int] = {
    val db = SqliteFile.open(path)
    val (rootPage, sql, cols) =
      try {
        val m = userTables(db).find(_.name == table).getOrElse(
          throw new IllegalArgumentException(s"no such table $table in $path"))
        (m.rootPage, m.sql, SqliteFile.parseCreateTable(m.sql))
      } finally db.close()
    val roots =
      if (SqliteFile.isWithoutRowid(sql)) Seq(rootPage)
      else {
        val d = SqliteFile.open(path)
        try d.subtreeRoots(rootPage) finally d.close()
      }
    val names = cols.map(_.name)
    val open = (subtree: Int) =>
      ScanPlan.opened(SqliteFile.open(path))(
        tableScan(_, subtree, sql, cols).map(ScanPlan.utf8))
    ScanPlan(names, roots, open)
  }
}
