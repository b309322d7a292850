package graft.sources

/** Driver-free MS SQL Server read over the native TDS client — closes
  * the last driver gap (PG/MySQL speak their wire protocols, SQLite
  * reads the file format). Follows the reference's MSSQL source shape
  * (src/sources/mssql/mssql.lisp): sys-views introspection, streaming
  * SELECTs (range-partitioned where an integer identity/PK exists —
  * beyond the reference's single FreeTDS stream) with per-type
  * server-side rendering
  * ([[ColumnSqlExpressions.mssqlPair]] — datetimes via convert(), bigints
  * via cast) so every value crosses the wire in a text-stable form. */
object MssqlWireSource {
  import TdsWire.quoteIdent

  /** Catalog introspection over the wire:
    * [[IntrospectionSql.mssqlColumns]] through the TDS client, mapped by
    * [[IntrospectionRows.mssqlTables]]; each table's row count rides
    * its column rows. */
  def introspect(params: TdsWire.ConnParams): Seq[graft.catalog.Table] = {
    val conn = new TdsWireConnection(params)
    try {
      val (_, rows) = conn.query(IntrospectionSql.mssqlColumns)
      val tables = IntrospectionRows.mssqlTables(rows.map { r =>
        IntrospectionRows.MssqlColumn(r(0), r(1), r(2), r(3),
          maxLength = r(4).toInt, precision = r(5).toInt,
          scale = r(6).toInt,
          nullable = r(7) == "t" || r(7) == "1",
          identity = r(8) == "t" || r(8) == "1",
          default = Option(r(9)), tableRows = r(10).toLong)
      })
      val (_, idxRows) = conn.query(IntrospectionSql.mssqlIndexes)
      val (_, fkRows) = conn.query(IntrospectionSql.mssqlFKeys)
      IntrospectionRows.mssqlAttachConstraints(tables, idxRows, fkRows)
    } finally conn.close()
  }

  /** User-defined sequences (sys.sequences → target CREATE SEQUENCE;
    * mssql-schema.lisp:172-194). dbo maps to public downstream via the
    * normal schema handling. */
  def introspectSequences(params: TdsWire.ConnParams)
      : Seq[graft.catalog.SequenceDef] = {
    val conn = new TdsWireConnection(params)
    try {
      val (_, rows) = conn.query(IntrospectionSql.mssqlSequences)
      rows.map { r =>
        graft.catalog.SequenceDef(
          schema = r(0), name = r(1),
          start = r(2).toLong, increment = r(3).toLong,
          minValue = r(4).toLong, maxValue = r(5).toLong,
          current = Option(r(6)).map(_.toLong),
          cycling = r(7) == "t" || r(7) == "1",
          cache = Option(r(8)).map(_.toLong).getOrElse(0L))
      }
    } finally conn.close()
  }

  /** View introspection for MATERIALIZE VIEWS — the same sys-views
    * column query over sys.views, restricted to `names` (None = ALL
    * VIEWS). */
  def introspectViews(params: TdsWire.ConnParams,
                      names: Option[Seq[String]])
      : Seq[graft.catalog.Table] = {
    val filter = names match {
      case Some(ns) if ns.nonEmpty =>
        s"AND t.name IN (${ns.map(n => "'" + n.replace("'", "''") + "'")
          .mkString(", ")})"
      case _ => ""
    }
    val conn = new TdsWireConnection(params)
    try {
      val (_, rows) = conn.query(IntrospectionSql.mssqlViewColumns(filter))
      IntrospectionRows.mssqlTables(rows.map { r =>
        IntrospectionRows.MssqlColumn(r(0), r(1), r(2), r(3),
          maxLength = r(4).toInt, precision = r(5).toInt,
          scale = r(6).toInt,
          nullable = r(7) == "t" || r(7) == "1",
          identity = r(8) == "t" || r(8) == "1",
          default = Option(r(9)))
      })
    } finally conn.close()
  }

  /** min/max of the integer partition key. */
  def integerBounds(params: TdsWire.ConnParams, schema: String,
                    table: String, column: String): (Long, Long) = {
    val conn = new TdsWireConnection(params)
    try {
      val (_, rows) = conn.query(
        s"SELECT MIN(${quoteIdent(column)}), MAX(${quoteIdent(column)}) " +
          s"FROM ${quoteIdent(schema)}.${quoteIdent(table)}")
      val r = rows.head
      (Option(r(0)).map(_.toLong).getOrElse(0L),
        Option(r(1)).map(_.toLong).getOrElse(0L))
    } finally conn.close()
  }

  /** Source types the TDS client cannot bring across the wire at all:
    * cursor / table types are not column data. Everything else
    * sys.types can surface is readable — natively decoded (including
    * sql_variant's per-value SSVARIANT layout), rendered server-side
    * ([[ColumnSqlExpressions.mssqlPair]]: xml, CLR UDTs, date/time
    * family), or an alias type whose underlying token is one of those.
    */
  private val unreadableTypeNames = Set("cursor", "table")

  /** Fail-BEFORE-DDL preflight: walk the introspected catalog against
    * the client's supported-type set, so a migration with an unreadable
    * column aborts while the target catalog is still untouched — not
    * after CREATE TABLE has run and the first read throws mid-load.
    * Returns human-readable `schema.table.column (type)` entries. */
  def unreadableColumns(tables: Seq[graft.catalog.Table]): Seq[String] =
    for {
      t <- tables
      f <- t.fields
      if unreadableTypeNames(f.typeName)
    } yield s"${t.schema}.${t.sourceName}.${f.name} (${f.typeName})"

  /** Plan the read of `schema.table` over TDS. With an integer
    * `partitionKey` (identity / clustered integer PK from
    * introspection) and at least `2 * rowsPerRange` rows it splits into
    * one [[RangeSplit.predicates]] WHERE-range per split —
    * BEYOND the reference, whose FreeTDS path is single-stream
    * (src/sources/mssql/mssql.lisp): at 100× the biggest table this is
    * the difference between one stream and N. Otherwise it is one
    * whole-table SELECT with no WHERE clause. `selectCols` is
    * (server-side expression, output name) pairs —
    * [[ColumnSqlExpressions.mssqlPair]] output for type-stable
    * rendering — and every split selects them. TDS values arrive
    * UTF-16 and transcode to catalyst form per value. */
  def scan(params: TdsWire.ConnParams, schema: String, table: String,
           selectCols: Seq[(String, String)],
           partitionKey: Option[String] = None,
           rowCountEstimate: Long = 0L,
           rowsPerRange: Long = 10000L): ScanPlan[String] = {
    val open = (sql: String) =>
      ScanPlan.opened(new TdsWireConnection(params))(
        _.queryStream(sql)._2.map(ScanPlan.utf8))
    ScanPlan(selectCols.map(_._2), RangeSplit.selects(selectCols,
      s"${quoteIdent(schema)}.${quoteIdent(table)}", partitionKey,
      rowCountEstimate, rowsPerRange, quoteIdent)(
      integerBounds(params, schema, table, _)), open)
  }
}
