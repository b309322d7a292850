package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.casting.{CastRule, DefaultCastRules}
import graft.catalog.{CustomType, SequenceDef, Table}
import graft.dsl.Ast
import graft.sinks.{PgWire, PgWireConnection}

/** The database behind one LOAD DATABASE source URI — everything the
  * migration asks of it, the way the reference reads every database
  * through one source protocol (a catalog plus a streaming row reader):
  * the introspected tables and the kind's default cast rules, the
  * MATERIALIZE VIEWS operations, and [[scan]], which decides once per
  * table how its rows are read. The connection parameters are parsed
  * once, when the value is built.
  *
  * @param spark the session distributed reads run in: views, DISTRIBUTE
  *   backfills, exactly-once loads and reads under a cluster master.
  *   It is called only when such a read starts, so a load whose tables
  *   all stream on driver threads never builds a session
  */
abstract class DbSource(protected val spark: () => SparkSession) {

  /** The source's base tables, introspected when the value is built. */
  def tables: Seq[Table]

  /** The source kind's default cast rules. */
  def defaults: Seq[CastRule]

  /** Standalone user sequences, recreated before the tables. */
  def sequences: Seq[SequenceDef] = Nil

  /** User-defined types the tables' columns reference. */
  def customTypes: Seq[CustomType] = Nil

  /** The resolution order for unqualified type names in
    * [[customTypes]], read from the live source session. */
  def searchPath: Seq[String] = Nil

  /** Column defaults are already PostgreSQL SQL (pg_get_expr), so the
    * DDL must not re-normalize them; other kinds' raw catalog text
    * needs it. */
  def pgNativeDefaults: Boolean = false

  /** Runs MATERIALIZE VIEWS bookkeeping (CREATE VIEW, DROP VIEW) in the
    * source. */
  def exec(sql: String): Unit

  /** The named views (None = all views) as tables. */
  def introspectViews(names: Option[Seq[String]]): Seq[Table]

  /** A view name quoted for [[exec]]. */
  def quoteIdent(name: String): String

  /** Fail-before-DDL check over the tables the migration keeps: throws
    * when a column cannot be read at all. */
  def preflight(tables: Seq[Table]): Unit = ()

  /** Decides how `t` is read: its columns and its splits, planned from
    * its catalog [[Table.size]] with no further query about its size.
    * The one plan serves both routes: driver threads stream its
    * splits, a Spark job reads its [[ScanPlan.frame]]. */
  def scan(t: Table, isView: Boolean): ScanPlan[_]

  /** `t`'s rows as a distributed frame. */
  def frame(t: Table, isView: Boolean): DataFrame =
    scan(t, isView).frame(spark())
}

object DbSource {

  /** The source for `uri`, introspected. The only place a LOAD
    * DATABASE scheme is matched: `mysql://`, `pgsql://` and `mssql://`
    * speak their native wire protocols, `sqlite://` reads the database
    * file format — no driver jars anywhere. */
  def apply(uri: String, cmd: Ast.LoadCommand,
            spark: () => SparkSession): DbSource = {
    val decode = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
    val rowsPerRange =
      cmd.intOption("rows per range").map(_.toLong).getOrElse(10000L)
    uri.takeWhile(_ != ':') match {
      case "mysql" =>
        // SET MySQL PARAMETERS ride the ConnParams so EVERY mysql
        // connection (introspection + each partitioned reader)
        // applies them after auth
        val mp = MySqlWire.connParams(uri, decode)
          .copy(sessionSets = cmd.mysqlParams)
        require(mp.database.nonEmpty, s"no database in $uri")
        // DECODING TABLE NAMES MATCHING … AS cs: matched tables' bytes
        // decode with the override charset (mysql.lisp *decoding-as* /
        // apply-decoding-as-filters), on the driver and in the tasks
        val charsetFor = (table: String) => cmd.decodingAs.collectFirst {
          case (pat, c) if pat.matches(table) => c
        }.getOrElse("UTF-8")
        new MySql(mp, rowsPerRange, charsetFor, spark)
      case "pgsql" | "postgresql" | "postgres" =>
        new Pg(PgWire.connParams(uri, decode),
          createsSchema = !cmd.boolOption("create no tables") &&
            !cmd.boolOption("data only"), spark)
      case "sqlite" => new Sqlite(uri.stripPrefix("sqlite://"), spark)
      case "mssql" =>
        new Mssql(TdsWire.connParams(uri, decode)
          .copy(sessionSets = cmd.mssqlParams), rowsPerRange, spark)
      case other => throw new UnsupportedOperationException(
        s"LOAD DATABASE source $other:// is not wired (mysql/pgsql/mssql " +
          "speak their native wire protocols, sqlite reads the file " +
          "format)")
    }
  }

  private final class MySql(mp: MySqlWire.ConnParams, rowsPerRange: Long,
                            charsetFor: String => String,
                            spark: () => SparkSession)
      extends DbSource(spark) {
    val tables: Seq[Table] = MySqlWireSource.introspect(mp, mp.database)
    def defaults: Seq[CastRule] = DefaultCastRules.mysql
    def exec(sql: String): Unit = {
      val c = new MySqlWireConnection(mp)
      try c.simpleCommand(sql) finally c.close()
    }
    def introspectViews(names: Option[Seq[String]]): Seq[Table] =
      MySqlWireSource.introspectViews(mp, mp.database, names)
    def quoteIdent(name: String): String = MySqlWire.quoteIdent(name)
    def scan(t: Table, isView: Boolean): ScanPlan[_] =
      MySqlWireSource.scan(mp, mp.database, t.sourceName,
        t.fields.map(f => ColumnSqlExpressions.mysqlPair(f.name, f.typeName)),
        partitionKey = t.fields.find(_.autoIncrement).map(_.name),
        rowCountEstimate = t.size, rowsPerRange = rowsPerRange,
        charsetName = charsetFor(t.sourceName))
  }

  private final class Pg(sp: PgWire.ConnParams, createsSchema: Boolean,
                         spark: () => SparkSession)
      extends DbSource(spark) {
    // the whole catalog over one JIT-off connection. Standalone user
    // sequences and the custom-type closure are objects only a
    // schema-creating run recreates (nextval defaults reference the
    // sequences verbatim); data-only and create-no-tables runs skip
    // both catalog queries
    private val (introspected, seqs, types, path) =
      PgWireSource.catalog(sp) { c =>
        val tables = PgWireSource.introspect(c)
        val seqs =
          if (createsSchema) PgWireSource.introspectSequences(c) else Nil
        val types =
          if (createsSchema) PgWireSource.introspectCustomTypes(c) else Nil
        (tables, seqs, types,
          if (types.isEmpty) Nil else PgWireSource.searchPathOf(c))
      }
    val tables: Seq[Table] = introspected
    def defaults: Seq[CastRule] = DefaultCastRules.pgsql
    override def sequences: Seq[SequenceDef] = seqs
    override def customTypes: Seq[CustomType] = types
    override def searchPath: Seq[String] = path
    override def pgNativeDefaults: Boolean = true
    def exec(sql: String): Unit = {
      val c = new PgWireConnection(sp)
      try c.simpleCommand(sql) finally c.close()
    }
    def introspectViews(names: Option[Seq[String]]): Seq[Table] =
      PgWireSource.introspectViews(sp, names)
    def quoteIdent(name: String): String = PgWire.quoteIdent(name)
    def scan(t: Table, isView: Boolean): ScanPlan[_] =
      PgWireSource.scan(sp,
        PgWire.joinQualified(t.sourceSchemaName, t.sourceName),
        // GENERATED ALWAYS AS … STORED columns are excluded from the
        // read (and from the COPY column list downstream): the target
        // re-declares them GENERATED and recomputes — PG refuses
        // direct inserts into them
        t.fields.filter(_.generated.isEmpty).map(f =>
          (PgWire.quoteIdent(f.name), f.name)),
        pages = t.size, partitioned = t.partitioned, view = isView)
  }

  private final class Mssql(tp: TdsWire.ConnParams, rowsPerRange: Long,
                            spark: () => SparkSession)
      extends DbSource(spark) {
    val tables: Seq[Table] = MssqlWireSource.introspect(tp)
    def defaults: Seq[CastRule] = DefaultCastRules.mssql
    override val sequences: Seq[SequenceDef] =
      MssqlWireSource.introspectSequences(tp)
    def exec(sql: String): Unit = {
      val c = new TdsWireConnection(tp)
      try c.simpleCommand(sql) finally c.close()
    }
    def introspectViews(names: Option[Seq[String]]): Seq[Table] =
      MssqlWireSource.introspectViews(tp, names)
    def quoteIdent(name: String): String = TdsWire.quoteIdent(name)
    override def preflight(tables: Seq[Table]): Unit = {
      val bad = MssqlWireSource.unreadableColumns(tables)
      require(bad.isEmpty,
        "unreadable source column types (no target DDL was executed): " +
          bad.mkString(", ") +
          " — exclude these tables or drop the columns in the source")
    }
    def scan(t: Table, isView: Boolean): ScanPlan[_] =
      MssqlWireSource.scan(tp, t.sourceSchemaName, t.sourceName,
        t.fields.map(f => ColumnSqlExpressions.mssqlPair(f.name, f.typeName)),
        partitionKey =
          if (isView) None else t.fields.find(_.autoIncrement).map(_.name),
        rowCountEstimate = t.size, rowsPerRange = rowsPerRange)
  }

  /** sqlite:///path/to/file.db — the native file-format reader (no
    * server, no driver jar); row counts feed the size ordering. */
  private final class Sqlite(path: String, spark: () => SparkSession)
      extends DbSource(spark) {
    val tables: Seq[Table] = SqliteSource.introspect(path, rowCounts = true)
    def defaults: Seq[CastRule] = DefaultCastRules.sqlite
    def quoteIdent(name: String): String =
      "\"" + name.replace("\"", "\"\"") + "\""
    def scan(t: Table, isView: Boolean): ScanPlan[_] = {
      require(!isView, s"view ${t.sourceName} evaluates through Spark SQL")
      SqliteSource.scan(path, t.sourceName)
    }
    override def frame(t: Table, isView: Boolean): DataFrame =
      if (isView) {
        // all-string fidelity frame like every other source read
        val df = evalView(t.sourceName, viewSel(t.sourceName))
        df.select(df.columns.toIndexedSeq.map(c =>
          df.col(c).cast("string").as(c)): _*)
      } else super.frame(t, isView)

    // MATERIALIZE VIEWS without a server (sqlite.lisp:93-160):
    // inline `v AS $$…$$` definitions land in an in-memory registry
    // (the customer's file is NEVER written), stored views come from
    // sqlite_master, and both evaluate their SELECT through Spark
    // SQL over the base tables registered as temp views in a
    // private session. Views can reference earlier views — each
    // evaluated view registers itself as a temp view too.
    private val created = scala.collection.mutable.LinkedHashMap[String, String]()
    private val viewSel = scala.collection.mutable.Map[String, String]()
    private lazy val viewSession = {
      val s = spark().newSession()
      // the base tables are all-string fidelity frames; SQLite
      // compares dynamically typed values numerically where it can,
      // so the view session needs Spark's lenient (non-ANSI) casts
      // — '2.5' < 5 is a double comparison there, not a cast error
      s.conf.set("spark.sql.ansi.enabled", "false")
      tables.foreach { t =>
        // a SQLite table name Spark cannot hold as a temp view
        // (dots, etc.) must not sink the whole session — views that
        // actually reference it still fail loudly at eval
        try {
          val raw = SqliteSource.scan(path, t.sourceName).frame(s)
          // TYPED frames (ints/reals cast per the declared column
          // type, lenient mode: unparseable dynamic values → NULL
          // like sqlite's own numeric context): a plain-projection
          // view then types its materialized columns like the
          // reference's on-source introspection does
          val types = t.fields.map(f => f.name ->
            SqliteSource.viewEvalType(f.ctype)).toMap
          raw.select(raw.columns.toIndexedSeq.map { c =>
            val dt = types.getOrElse(c,
              org.apache.spark.sql.types.StringType)
            raw.col(c).cast(dt).as(c)
          }: _*).createOrReplaceTempView(t.sourceName)
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            System.err.println(s"[graft] sqlite table " +
              s"'${t.sourceName}' not registrable for view " +
              s"evaluation: ${e.getMessage}")
        }
      }
      s
    }
    private def evalView(name: String, sel: String): DataFrame = {
      val df =
        try viewSession.sql(SqliteSource.toSparkIdentQuotes(sel))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"MATERIALIZE VIEWS over sqlite:// evaluates view SQL " +
                s"with Spark SQL; view $name does not parse/resolve: " +
                e.getMessage, e)
        }
      df.createOrReplaceTempView(name)
      df
    }
    private val VCreate =
      """(?is)\s*CREATE\s+VIEW\s+"((?:[^"]|"")*)"\s+AS\s+(.*)""".r
    private val VDrop = """(?is)\s*DROP\s+VIEW\s+"((?:[^"]|"")*)"\s*""".r
    private def unq(n: String) = n.replace("\"\"", "\"")
    def exec(sql: String): Unit = sql match {
      case VCreate(n, sel) => created(unq(n)) = sel.trim
      case VDrop(n) => created.remove(unq(n)): Unit
      case other => throw new UnsupportedOperationException(
        "the sqlite:// file reader executes no SQL beyond " +
          s"MATERIALIZE VIEWS bookkeeping: $other")
    }
    def introspectViews(names: Option[Seq[String]]): Seq[Table] = {
      val fileViews = SqliteSource.introspectViews(path)
      val chosen: Seq[(String, String)] = names match {
        case None => created.toSeq ++
          fileViews.filterNot { case (n, _) => created.contains(n) }
        case Some(ns) => ns.map { n =>
          n -> created.getOrElse(n, fileViews.toMap.getOrElse(n,
            throw new IllegalArgumentException(
              s"no view $n in $path or MATERIALIZE VIEWS definitions")))
        }
      }
      // resolve to a FIXPOINT, not in listing order: a view may
      // reference other views (a server source resolves stored
      // views itself; Spark only sees what we have registered), so
      // retry unresolved views until a full pass makes no progress
      val dfs = scala.collection.mutable.Map[String, DataFrame]()
      var pending = chosen
      var progress = true
      var firstErr: Option[Throwable] = None
      while (pending.nonEmpty && progress) {
        progress = false
        firstErr = None
        val still = Seq.newBuilder[(String, String)]
        pending.foreach { case (n, sel) =>
          try {
            dfs(n) = evalView(n, sel)
            viewSel(n) = sel
            progress = true
          } catch {
            case e: IllegalArgumentException =>
              if (firstErr.isEmpty) firstErr = Some(e)
              still += ((n, sel))
          }
        }
        pending = still.result()
      }
      if (pending.nonEmpty) throw firstErr.get
      chosen.map { case (n, _) =>
        val df = dfs(n)
        Table(name = n, schema = "public", sourceName = n,
          fields = df.schema.fields.toSeq.map(f =>
            graft.casting.SourceColumn(table = n, name = f.name,
              ctype = SqliteSource.ctypeOf(f.dataType))))
      }
    }
  }
}
