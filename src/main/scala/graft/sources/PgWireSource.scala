package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.{PgWire, PgWireConnection}

/** Driver-free distributed PostgreSQL read over the native wire-protocol
  * client — the source-side twin of [[graft.sinks.PgWireCopyEndpoint]]:
  * no pgjdbc jar anywhere, matching the reference's own bundled protocol
  * client for its PG source (pgsql/pgsql.lisp map-rows).
  *
  * Partitioning follows the reference's ctid strategy
  * ([[IntrospectionSql.pgsqlCtidPredicates]]): one block-range predicate
  * per Spark partition, one wire connection per partition task, opened
  * executor-side and consumed as a STREAM — DataRow frames decode one at
  * a time as Spark pulls the iterator, so a partition never holds its
  * page range in heap. Values arrive as TEXT (fidelity mode — the cast
  * engine applies types downstream, never the reader), so the output is
  * an all-string DataFrame like every other engine source.
  *
  * Identifiers from the catalog are quoted (`quote_ident` semantics) at
  * every SQL build site — mixed-case, reserved-word and
  * quote-bearing table names resolve to the right object.
  */
object PgWireSource {

  /** Runs `read` over one catalog connection, with PostgreSQL's JIT
    * switched off. The planner prices the catalog's recursive
    * closures — [[IntrospectionSql.pgsqlCustomTypes]] above all — far
    * past `jit_above_cost`, so a JIT-enabled server spends seconds
    * compiling a query that runs in milliseconds. `jit` exists from
    * PostgreSQL 11; older servers and Redshift (which reports
    * `server_version` 8.0.2) get no SET, and a server that refuses the
    * setting keeps its default. Data reads open their own connections
    * and never see this session. */
  def catalog[T](params: PgWire.ConnParams)(
      read: PgWireConnection => T): T = {
    val conn = new PgWireConnection(params)
    try {
      if (majorVersion(conn.serverParameter("server_version")).exists(_ >= 11))
        try conn.simpleCommand("SET jit = off")
        catch { case _: PgWire.PgServerError => () }
      read(conn)
    } finally conn.close()
  }

  /** The leading number of a `server_version` ("15.4 (Debian …)" → 15,
    * "8.0.2" → 8). */
  private[graft] def majorVersion(v: Option[String]): Option[Int] =
    v.map(_.trim.takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toInt)

  /** Catalog introspection over the wire: runs the shared
    * [[IntrospectionSql.pgsqlColumns]] pg_catalog query through
    * [[PgWireConnection.query]] and maps the TEXT rows with
    * [[IntrospectionRows.pgsqlTables]] — the full driver-free pg→pg
    * migration chain: introspect + read here, DDL + COPY through
    * [[graft.sinks.PgWireCopyEndpoint]]/`simpleCommand`. */
  def introspect(params: PgWire.ConnParams)
      : Seq[graft.catalog.Table] = catalog(params)(c => introspect(c))

  /** [[introspect]] on an open catalog connection. */
  def introspect(conn: PgWireConnection): Seq[graft.catalog.Table] = {
    // modern catalog columns (attgenerated PG 12+, indnullsnotdistinct
    // PG 15+) degrade per-query on older sources — the legacy shapes
    // keep identical column positions (constants), so mappers are
    // untouched; the simple protocol recovers after a server error
    def queryOr(modern: String, legacy: String) =
      try conn.query(modern)._2
      catch { case _: PgWire.PgServerError => conn.query(legacy)._2 }
    val rows = queryOr(IntrospectionSql.pgsqlColumns,
      IntrospectionSql.pgsqlColumnsLegacy)
    // boolean TEXT wire form is t/f
    def truthy(v: String) = v == "t" || v == "true"
    val tables = IntrospectionRows.pgsqlTables(rows.map { r =>
      IntrospectionRows.PgColumn(r(0), r(1), r(2), r(3),
        Option(r(4)), nullable = truthy(r(5)),
        enumLabels = Option(r(6)),
        identity = r(7) == "a" || r(7) == "d",
        relkind = r(8), generated = r(9) == "s", unlogged = r(10) == "u",
        ownedSeq = truthy(r(11)), pages = r(12).toLong)
    })
    val idxRows = queryOr(IntrospectionSql.pgsqlIndexes,
      IntrospectionSql.pgsqlIndexesLegacy)
    val (_, fkRows) = conn.query(IntrospectionSql.pgsqlFKeys)
    val (_, tcRows) = conn.query(IntrospectionSql.pgsqlTableComments)
    val (_, ccRows) = conn.query(IntrospectionSql.pgsqlColumnComments)
    val (_, checkRows) = conn.query(IntrospectionSql.pgsqlChecks)
    val (_, exclRows) = conn.query(IntrospectionSql.pgsqlExclusions)
    IntrospectionRows.pgsqlAttachComments(
      IntrospectionRows.pgsqlAttachConstraints(tables, idxRows, fkRows),
      tcRows, ccRows, checkRows,
      // tolerant of test doubles answering with null/short rows
      exclRows.filter(r => r.length > 3 && r(1) != null && r(3) != null))
  }

  /** Standalone user sequences ([[IntrospectionSql.pgsqlSequences]])
    * — recreated on the target BEFORE the tables whose nextval
    * defaults reference them (Migrator pre phase). */
  def introspectSequences(conn: PgWireConnection)
      : Seq[graft.catalog.SequenceDef] = {
    val (_, rows) = conn.query(IntrospectionSql.pgsqlSequences)
    // tolerant of test doubles answering with null/short rows
    rows.filter(r => r.length > 8 && r(2) != null && r(3) != null &&
      r(4) != null && r(5) != null).map { r =>
      graft.catalog.SequenceDef(
        schema = r(0), name = r(1),
        start = r(2).toLong, increment = r(3).toLong,
        minValue = r(4).toLong, maxValue = r(5).toLong,
        current = Option(r(6)).map(_.toLong),
        cycling = r(7) == "t" || r(7) == "true",
        cache = Option(r(8)).map(_.toLong).getOrElse(0L))
    }.toSeq
  }

  /** User-defined types referenced (directly or nested) by source
    * columns, with target-ready DDL bodies — the Migrator recreates
    * the needed subset before CREATE TABLE. */
  def introspectCustomTypes(conn: PgWireConnection)
      : Seq[graft.catalog.CustomType] =
    IntrospectionRows.pgsqlCustomTypes(
      conn.query(IntrospectionSql.pgsqlCustomTypes)._2)

  /** The session's effective schema search path —
    * `current_schemas(false)`: $user resolved and non-existent
    * entries dropped server-side. This is the resolution order for
    * UNQUALIFIED type names in the custom-type closure
    * ([[graft.catalog.CustomTypes.resolver]]); a customized source
    * search_path or a percent-encoded login would mis-resolve under
    * any client-side guess. */
  def searchPathOf(conn: PgWireConnection): Seq[String] =
    conn.query("SELECT unnest(current_schemas(false))")._2.map(_(0)).toSeq

  /** View introspection for MATERIALIZE VIEWS — the same column query
    * over relkind v/m, restricted to `names` (None = ALL VIEWS). */
  def introspectViews(params: PgWire.ConnParams,
                      names: Option[Seq[String]])
      : Seq[graft.catalog.Table] = {
    val filter = names match {
      case Some(ns) if ns.nonEmpty =>
        s"AND c.relname IN (${ns.map(PgWire.quoteLiteral).mkString(", ")})"
      case _ => ""
    }
    catalog(params) { conn =>
      val (_, rows) = conn.query(IntrospectionSql.pgsqlViewColumns(filter))
      IntrospectionRows.pgsqlTables(rows.map { r =>
        IntrospectionRows.PgColumn(r(0), r(1), r(2), r(3),
          Option(r(4)),
          nullable = r(5) == "t" || r(5) == "true",
          enumLabels = Option(r(6)))
      })
    }
  }

  /** `pg_class.relpages` for `table` (schema-qualified names accepted) —
    * the partition-count input [[readByCtid]] needs, same source the
    * reference uses for its ctid splits (pgsql.clj:206-208). relpages
    * lags VACUUM/ANALYZE; the last open-ended range covers growth. */
  def relpagesOf(params: PgWire.ConnParams, table: String): Long = {
    val conn = new PgWireConnection(params)
    try {
      // regclass parses its input as a (possibly qualified, possibly
      // quoted) identifier — quote both layers: ident inside, literal out
      val regclass = PgWire.quoteLiteral(PgWire.quoteQualified(table))
      val (_, rows) = conn.query(
        s"SELECT relpages FROM pg_class WHERE oid = $regclass::regclass")
      rows.headOption.map(_(0).toLong).getOrElse(0L)
    } finally conn.close()
  }

  /** Plan the read of `table` (schema-qualified names accepted), the
    * same plan whichever route reads it, from its `pages` as the
    * catalog read them ([[graft.catalog.Table.size]]).
    *
    * - A view (MATERIALIZE VIEWS) has no ctid to split on: one
    *   predicate-free stream (`WHERE true`, no ONLY — views reject it).
    * - A table of at most `pagesPerChunk` pages is one whole-table
    *   stream: ONLY for a heap (an INHERITS parent's plain FROM would
    *   also stream every child's rows — children migrate as their own
    *   tables; see ctidPlan), plain FROM for a partitioned parent,
    *   whose rows live in its partitions.
    * - A bigger partitioned parent reads per leaf ([[partitionedPlan]]).
    * - Any other heap splits into ctid page ranges, `pagesPerChunk`
    *   blocks each.
    *
    * `selectCols` is (server-side expression, output name) pairs —
    * the non-generated columns (expressions used verbatim; quote
    * identifiers yourself inside them) — and every split selects them. */
  def scan(params: PgWire.ConnParams, table: String,
           selectCols: Seq[(String, String)], pages: Long,
           partitioned: Boolean = false, view: Boolean = false,
           pagesPerChunk: Long = 1000L): ScanPlan[String] = {
    val qtable = PgWire.quoteQualified(table)
    if (view)
      distributed(params, Seq((qtable, "true")), selectCols, only = false)
    else if (pages <= pagesPerChunk)
      ScanPlan(selectCols.map(_._2), Seq(s"SELECT ${ColumnSqlExpressions
        .selectList(selectCols, PgWire.quoteIdent)} FROM " +
        (if (partitioned) qtable else s"ONLY $qtable")), opener(params))
    else if (partitioned)
      partitionedPlan(params, table, pagesPerChunk, selectCols)
    else ctidPlan(params, table, pages, pagesPerChunk, selectCols)
  }

  /** Column names of `table`, discovered driver-side from a LIMIT 0
    * RowDescription — no catalog query needed. */
  private def columnsOf(params: PgWire.ConnParams,
                        table: String): Seq[String] = {
    val conn = new PgWireConnection(params)
    try conn.query(
      s"SELECT * FROM ${PgWire.quoteQualified(table)} LIMIT 0")._1
    finally conn.close()
  }

  /** Read `table` split into ctid page ranges, `pagesPerChunk` blocks
    * per partition (relpages from pg_class, [[relpagesOf]]).
    * `selectCols` as in [[scan]]; defaults to the [[columnsOf]] list
    * (quoted). */
  def readByCtid(spark: SparkSession, params: PgWire.ConnParams,
                 table: String, relpages: Long,
                 pagesPerChunk: Long = 1000L,
                 selectCols: Seq[(String, String)] = Nil): DataFrame =
    ctidPlan(params, table, relpages, pagesPerChunk,
      if (selectCols.nonEmpty) selectCols
      else columnsOf(params, table).map(n => (PgWire.quoteIdent(n), n)))
      .frame(spark)

  // FROM ONLY: every heap migrates as its own table, so each read
  // must take the table's OWN rows — a plain FROM on an old-style
  // INHERITS parent also returns every descendant's rows, loading
  // the children's data twice (the reference has this blind spot:
  // its read-rows SELECT has no ONLY, pgsql.clj:204-210, while its
  // relkind='r' table list includes the children as tables)
  private def ctidPlan(params: PgWire.ConnParams, table: String,
                       relpages: Long, pagesPerChunk: Long,
                       selectCols: Seq[(String, String)]): ScanPlan[String] = {
    val q = PgWire.quoteQualified(table)
    distributed(params,
      IntrospectionSql.pgsqlCtidPredicates(relpages, pagesPerChunk)
        .map(pred => (q, pred)), selectCols, only = true)
  }

  /** Leaf relations under a partitioned parent — the recursive
    * pg_inherits closure (multi-level partitioning walks through
    * intermediate relkind 'p' nodes), each with its OWN size in pages
    * (`pg_relation_size`, as [[IntrospectionSql.pgsqlColumns]] sizes a
    * table) and relkind. Ordered by (schema, name) so the partition
    * layout is deterministic across runs. */
  def leafPartitionsOf(params: PgWire.ConnParams, table: String)
      : Seq[(String, Long, String)] = {
    val regclass = PgWire.quoteLiteral(PgWire.quoteQualified(table))
    val conn = new PgWireConnection(params)
    try {
      val (_, rows) = conn.query(
        s"""WITH RECURSIVE parts(oid) AS (
           SELECT $regclass::regclass::oid
           UNION ALL
           SELECT i.inhrelid FROM pg_inherits i
           JOIN parts p ON i.inhparent = p.oid
         )
         SELECT n.nspname, c.relname,
           pg_relation_size(c.oid) / current_setting('block_size')::int,
           c.relkind::text
         FROM parts p
         JOIN pg_class c ON c.oid = p.oid
         JOIN pg_namespace n ON n.oid = c.relnamespace
         WHERE c.relkind <> 'p'
         ORDER BY n.nspname, c.relname""")
      rows.map(r => (PgWire.joinQualified(r(0), r(1)), r(2).toLong, r(3)))
    } finally conn.close()
  }

  /** Read a partitioned PARENT by enumerating its leaf partitions and
    * ctid-splitting EACH leaf by its own pages — a parent has no ctid
    * system column at all, so `WHERE ctid >= …` on the parent ERRORS,
    * and one stream would read every partition in turn. Column list
    * and output names come from the PARENT (leaf attnum order can
    * differ after ATTACH PARTITION of an older table; selecting parent
    * columns by name per leaf is order-safe). The
    * reference reads parents through the same relpages machinery as
    * heaps (pgsql.clj:206-208) and so single-streams them — this path
    * beats it instead of matching it. */
  private def partitionedPlan(params: PgWire.ConnParams, table: String,
                              pagesPerChunk: Long,
                              selectCols: Seq[(String, String)])
      : ScanPlan[String] = {
    val leaves = leafPartitionsOf(params, table)
    val q = PgWire.quoteQualified(table)
    if (leaves.isEmpty)
      // no leaves yet (empty parent): one predicate-free stream over
      // the parent is trivially correct
      distributed(params, Seq((q, "true")), selectCols, only = false)
    else
      // heap leaves ctid-split by their own pages; a non-heap leaf
      // (e.g. a postgres_fdw foreign-table partition — no ctid there)
      // gets ONE predicate-free target of its own, so a single archive
      // FDW partition does NOT demote the hot heap partitions to a
      // single stream. ONLY is safe: partitions cannot take part in
      // old-style inheritance (PG rejects INHERITS from/into partition
      // trees), so a leaf's ONLY rows ARE all its rows.
      distributed(params, leaves.flatMap { case (leaf, pages, kind) =>
        val lq = PgWire.quoteQualified(leaf)
        if (kind == "r")
          IntrospectionSql.pgsqlCtidPredicates(pages, pagesPerChunk)
            .map(pred => (lq, pred))
        else Seq((lq, "true"))
      }, selectCols, only = true)
  }

  /** A split read: one split per (quoted relation, predicate) target —
    * identical relation for the ctid/view reads, per-leaf relations for
    * [[partitionedPlan]]. Rows decode straight to catalyst form
    * (UTF8String slices of the wire payload) — no per-field
    * java-String round-trip. */
  private def distributed(params: PgWire.ConnParams,
                          targets: Seq[(String, String)],
                          selectCols: Seq[(String, String)],
                          only: Boolean): ScanPlan[String] = {
    val select = ColumnSqlExpressions.selectList(selectCols, PgWire.quoteIdent)
    ScanPlan(selectCols.map(_._2), targets.map { case (qtable, pred) =>
      s"SELECT $select FROM ${if (only) "ONLY " else ""}$qtable WHERE $pred"
    }, opener(params))
  }

  private def opener(params: PgWire.ConnParams): String => ScanPlan.Stream =
    sql => ScanPlan.opened(new PgWireConnection(params))(
      _.queryStreamData(sql)._2)
}
