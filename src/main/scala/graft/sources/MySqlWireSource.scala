package graft.sources

/** Driver-free distributed MySQL read over the native wire-protocol
  * client — the MySQL twin of [[PgWireSource]], closing the reference's
  * #1 use case (mysql→pg migration, src/sources/mysql/mysql.lisp) with
  * zero Connector/J jars.
  *
  * Partitioning follows the reference's integer-key range split
  * (mysql.lisp:10-62: `rowsPerRange` rows per WHERE range, only when the
  * table is big enough, [[RangeSplit]]). One wire connection per
  * partition task, opened executor-side, rows consumed as a STREAM (one
  * packet decoded per iterator pull).
  * Values arrive as TEXT (fidelity mode; the cast engine types them
  * downstream). Identifiers are back-quoted at every SQL build site.
  */
object MySqlWireSource {
  import MySqlWire.{quoteIdent, quoteLiteral}

  /** Catalog introspection over the wire: an information_schema
    * column query with the schema inlined (the text protocol has no
    * placeholders), carrying each table's `table_rows` estimate (the
    * reference's sizing input for range splits and load ordering),
    * mapped by [[IntrospectionRows.mysqlTables]]; secondary indexes and
    * foreign keys from information_schema statistics/key_column_usage
    * so the target gets them rebuilt (mysql-schema.lisp
    * list-all-indexes / list-all-fkeys). */
  def introspect(params: MySqlWire.ConnParams,
                 schema: String): Seq[graft.catalog.Table] = {
    val conn = new MySqlWireConnection(params)
    try {
      val sql =
        s"""SELECT c.table_name, c.column_name, c.column_type,
            c.column_default, c.is_nullable, c.extra, t.table_rows
            FROM information_schema.columns c
            JOIN information_schema.tables t
              USING (table_schema, table_name)
            WHERE c.table_schema = ${quoteLiteral(schema)}
              AND t.table_type = 'BASE TABLE'
            ORDER BY c.table_name, c.ordinal_position"""
      val (_, rows) = conn.query(sql)
      val tables = IntrospectionRows.mysqlTables(schema, rows.map { r =>
        IntrospectionRows.MySqlColumn(r(0), r(1), r(2), Option(r(3)),
          nullable = r(4) == "YES", extra = Option(r(5)).getOrElse(""),
          tableRows = Option(r(6)).fold(0L)(_.toLong))
      })
      // the server-default group_concat_max_len (1024) silently
      // TRUNCATES the index column list on wide composite indexes,
      // corrupting the trailing column name; raise it for this session
      // before the GROUP_CONCAT query
      try conn.simpleCommand("SET SESSION group_concat_max_len = 1048576")
      catch { case _: MySqlWire.MySqlServerError => () }
      val (_, idxRows) = conn.query(
        IntrospectionSql.mysqlIndexesInline(quoteLiteral(schema)))
      val (_, fkRows) = conn.query(
        IntrospectionSql.mysqlFKeysInline(quoteLiteral(schema)))
      val (_, tcRows) = conn.query(
        IntrospectionSql.mysqlTableCommentsInline(quoteLiteral(schema)))
      val (_, ccRows) = conn.query(
        IntrospectionSql.mysqlColumnCommentsInline(quoteLiteral(schema)))
      val checkRows =
        // information_schema.CHECK_CONSTRAINTS appeared in MySQL 8.0.16;
        // older servers raise ER_UNKNOWN_TABLE (1109) / ER_NO_SUCH_TABLE
        // (1146) for the query itself — migrate without checks, exactly
        // what those servers have
        try conn.query(
          IntrospectionSql.mysqlChecksInline(quoteLiteral(schema)))._2
        catch {
          case e: MySqlWire.MySqlServerError
              if e.code == 1109 || e.code == 1146 => Nil
        }
      IntrospectionRows.mysqlAttachComments(
        IntrospectionRows.mysqlAttachConstraints(tables, idxRows, fkRows),
        tcRows, ccRows, checkRows)
    } finally conn.close()
  }

  /** View introspection for MATERIALIZE VIEWS — the same
    * information_schema query over table_type VIEW, restricted to
    * `names` (None = ALL VIEWS). */
  def introspectViews(params: MySqlWire.ConnParams, schema: String,
                      names: Option[Seq[String]])
      : Seq[graft.catalog.Table] = {
    val conn = new MySqlWireConnection(params)
    try {
      val nameFilter = names match {
        case Some(ns) if ns.nonEmpty =>
          s" AND c.table_name IN (${ns.map(quoteLiteral).mkString(", ")})"
        case _ => ""
      }
      val sql =
        s"""SELECT c.table_name, c.column_name, c.column_type,
            c.column_default, c.is_nullable, c.extra
            FROM information_schema.columns c
            JOIN information_schema.tables t
              USING (table_schema, table_name)
            WHERE c.table_schema = ${quoteLiteral(schema)}
              AND t.table_type IN ('VIEW', 'SYSTEM VIEW')$nameFilter
            ORDER BY c.table_name, c.ordinal_position"""
      val (_, rows) = conn.query(sql)
      IntrospectionRows.mysqlTables(schema, rows.map { r =>
        IntrospectionRows.MySqlColumn(r(0), r(1), r(2), Option(r(3)),
          nullable = r(4) == "YES", extra = Option(r(5)).getOrElse(""))
      })
    } finally conn.close()
  }

  /** min/max of the integer partition key (mysql.lisp:35-43). */
  def integerBounds(params: MySqlWire.ConnParams, schema: String,
                    table: String, column: String): (Long, Long) = {
    val conn = new MySqlWireConnection(params)
    try {
      val (_, rows) = conn.query(
        s"SELECT MIN(${quoteIdent(column)}), MAX(${quoteIdent(column)}) " +
          s"FROM ${quoteIdent(schema)}.${quoteIdent(table)}")
      val r = rows.head
      (Option(r(0)).map(_.toLong).getOrElse(0L),
        Option(r(1)).map(_.toLong).getOrElse(0L))
    } finally conn.close()
  }

  /** Plan the read of `schema.table`. With an integer `partitionKey`
    * and at least `2 * rowsPerRange` rows (the reference's guard,
    * mysql.lisp:44-47) it splits into [[RangeSplit.predicates]] key
    * ranges, one split each; otherwise it is one whole-table SELECT
    * with no WHERE clause. `selectCols` is (server-side expression,
    * output name) pairs — [[ColumnSqlExpressions.mysqlPair]] output, so
    * geometry arrives as `st_astext` text — and every split selects
    * them. Every split decodes with `charsetName` (DECODING TABLE NAMES
    * MATCHING), straight to catalyst form. */
  def scan(params: MySqlWire.ConnParams, schema: String, table: String,
           selectCols: Seq[(String, String)],
           partitionKey: Option[String] = None,
           rowCountEstimate: Long = 0L,
           rowsPerRange: Long = 10000L,
           charsetName: String = "UTF-8"): ScanPlan[String] = {
    val open = (sql: String) =>
      ScanPlan.opened(new MySqlWireConnection(params))(_.queryStreamData(
        sql, java.nio.charset.Charset.forName(charsetName))._2)
    ScanPlan(selectCols.map(_._2), RangeSplit.selects(selectCols,
      s"${quoteIdent(schema)}.${quoteIdent(table)}", partitionKey,
      rowCountEstimate, rowsPerRange, quoteIdent)(
      integerBounds(params, schema, table, _)), open)
  }
}
