package graft

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.casting.DefaultCastRules
import graft.catalog.Ddl
import graft.sources.JdbcSource

/** JDBC introspection against a real embedded database (Derby ships with
  * Spark): tables, column types/typemods, auto-increment, PK/unique
  * indexes, FKs, row counts — then the cast engine + DDL emission over
  * the introspected catalog. */
class JdbcSourceSpec extends AnyFunSuite {

  private lazy val url: String = {
    val dir = java.nio.file.Files.createTempDirectory("derbyspec").toFile
    val u = s"jdbc:derby:${dir.getAbsolutePath}/db;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE REGIONS (
           R_ID INT NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           R_NAME VARCHAR(25) NOT NULL)""")
    st.executeUpdate(
      """CREATE TABLE NATIONS (
           N_ID INT NOT NULL PRIMARY KEY,
           N_NAME VARCHAR(25),
           N_BUDGET DECIMAL(12,2),
           N_REGION INT REFERENCES REGIONS (R_ID))""")
    st.executeUpdate("CREATE INDEX NATIONS_NAME_IDX ON NATIONS (N_NAME)")
    st.executeUpdate(
      "INSERT INTO REGIONS (R_NAME) VALUES ('east'), ('west')")
    st.executeUpdate(
      "INSERT INTO NATIONS VALUES (1, 'a', 10.50, 1), (2, 'b', 20.25, 2)")
    st.close(); conn.close()
    u
  }

  private lazy val cat = JdbcSource.introspect(url,
    schemaPattern = Some("APP"))

  test("tables, columns, typemods, auto-increment") {
    val nations = cat.allTables.find(_.name == "NATIONS").get
    assert(nations.fields.map(_.name) ==
      Seq("N_ID", "N_NAME", "N_BUDGET", "N_REGION"))
    assert(nations.fields.map(_.ctype) ==
      Seq("integer", "varchar(25)", "decimal(12,2)", "integer"))
    assert(!nations.fields.head.nullable)
    assert(nations.rowCountEstimate == 2)
    val regions = cat.allTables.find(_.name == "REGIONS").get
    assert(regions.fields.head.autoIncrement)
    assert(regions.rowCountEstimate == 2)
  }

  test("primary keys, unique + plain indexes, foreign keys") {
    val nations = cat.allTables.find(_.name == "NATIONS").get
    assert(nations.indexes.exists(i => i.primary && i.columns == Seq("N_ID")))
    assert(nations.indexes.exists(i =>
      !i.unique && i.columns == Seq("N_NAME")))
    val fk = nations.fkeys.head
    assert(fk.columns == Seq("N_REGION"))
    assert(fk.foreignTable == "REGIONS")
    assert(fk.foreignColumns == Seq("R_ID"))
  }

  test("cast engine over the introspected catalog: ansi defaults") {
    val cast = cat.cast(Nil, DefaultCastRules.ansi)
    val regions = cast.allTables.find(_.name == "REGIONS").get
    assert(regions.columns.head.pgType == "serial") // identity → serial
    val nations = cast.allTables.find(_.name == "NATIONS").get
    assert(nations.columns.map(_.pgType) ==
      Seq("integer", "text", "numeric(12,2)", "integer"))
  }

  test("DDL emission from the cast-and-cased catalog") {
    // Derby reports uppercase identifiers; the TARGET casing steps
    // (the same ones Migrator.migrate runs — downcase default) fold
    // them, and the Ddl emitters then quote only what still needs it.
    // Emitting WITHOUT casing preserves the names quoted — that is the
    // `quote identifiers` mode's path.
    import graft.catalog.{CatalogRewrite, Identifiers}
    val cased = CatalogRewrite.caseColumns(
      CatalogRewrite.caseTargets(cat, Identifiers.Case.Downcase)
        .cast(Nil, DefaultCastRules.ansi),
      Identifiers.Case.Downcase)
    val nations = cased.allTables.find(_.name == "nations").get
    val ddl = Ddl.createTable(nations)
    assert(ddl.contains("n_id integer NOT NULL"))
    assert(ddl.contains("n_budget numeric(12,2)"))
    val pk = nations.indexes.find(_.primary).get
    assert(Ddl.attachPrimaryKey(pk).contains("ADD PRIMARY KEY USING INDEX"))
    assert(Ddl.addFKey(nations.fkeys.head).contains("REFERENCES"))
    // quote mode: names pass through preserved and come out quoted
    val quoted = Ddl.createTable(cat.cast(Nil, DefaultCastRules.ansi)
      .allTables.find(_.name == "NATIONS").get)
    assert(quoted.contains("\"N_ID\" integer NOT NULL"))
  }

  test("partitioned-read bounds query") {
    val (lo, hi) = JdbcSource.integerBounds(url, new java.util.Properties,
      "APP", "NATIONS", "N_ID")
    assert(lo == 1 && hi == 2)
  }

  test("materialize-views path: view introspected and loaded via query") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE VIEW RICH_NATIONS AS
         SELECT N_ID, N_NAME FROM NATIONS WHERE N_BUDGET > 15""")
    st.close(); conn.close()
    val withViews = JdbcSource.introspect(url, schemaPattern = Some("APP"),
      rowCounts = false, tableTypes = Array("TABLE", "VIEW"))
    assert(withViews.allTables.exists(_.name == "RICH_NATIONS"))
  }

  test("executeDdl hook runs against the target") {
    JdbcSource.executeDdl(url, new java.util.Properties)(
      "CREATE TABLE DDL_HOOK_T (X INT);")
    val (lo, hi) = try {
      JdbcSource.executeDdl(url, new java.util.Properties)(
        "INSERT INTO DDL_HOOK_T VALUES (7)")
      JdbcSource.integerBounds(url, new java.util.Properties,
        "APP", "DDL_HOOK_T", "X")
    } finally JdbcSource.executeDdl(url, new java.util.Properties)(
      "DROP TABLE DDL_HOOK_T")
    assert(lo == 7 && hi == 7)
  }

  test("per-type SELECT expressions match the reference's renderings") {
    import graft.sources.ColumnSqlExpressions._
    assert(mysqlPair("loc", "point") == (("st_astext(`loc`)", "loc")))
    assert(mysqlPair("name", "varchar") == (("`name`", "name")))
    assert(mssqlPair("t", "datetime") ==
      (("convert(varchar(30), [t], 126)", "t")))
    assert(mssqlPair("n", "bigint") == (("cast([n] as numeric(20))", "n")))
    assert(pgsqlPair("c", "jsonb") == (("""CAST("c" AS text)""", "c")))
    assert(selectPairs("mysql",
      Seq(("a", "int"), ("g", "geometry"))) ==
      Seq(("`a`", "a"), ("st_astext(`g`)", "g")))
    // the structured form the wire sources consume: alias carried
    // separately, never re-parsed out of the expression string
    assert(selectPairs("mssql", Seq(("t", "datetime"), ("n", "int"))) ==
      Seq(("convert(varchar(30), [t], 126)", "t"), ("[n]", "n")))
    assert(selectPairs("pgsql", Seq(("c", "jsonb"))) ==
      Seq(("""CAST("c" AS text)""", "c")))
  }

  test("pg ctid predicates split the heap into block ranges") {
    val preds = graft.sources.IntrospectionSql
      .pgsqlCtidPredicates(relpages = 25, pagesPerChunk = 10)
    assert(preds == Seq(
      "ctid >= '(0,0)' AND ctid < '(10,0)'",
      "ctid >= '(10,0)' AND ctid < '(20,0)'",
      "ctid >= '(20,0)'"))
  }

  test("sqlite PRAGMA rows assemble a castable catalog table") {
    import graft.sources.IntrospectionRows._
    // sakila-style: INTEGER PRIMARY KEY (rowid alias → autoincrement),
    // dynamic-typed column (empty type → text), composite FK rows
    val t = sqliteTable("film",
      cols = Seq(
        SqliteColumn(0, "film_id", "INTEGER", notNull = false, None, pk = 1),
        SqliteColumn(1, "title", "VARCHAR(255)", notNull = true, None, 0),
        SqliteColumn(2, "notes", "", notNull = false, None, 0),
        SqliteColumn(3, "rate", "DECIMAL(4,2)", notNull = false,
          Some("4.99"), 0)),
      indexes = Seq(
        SqliteIndex("idx_title", unique = false, Seq("title")),
        SqliteIndex("sqlite_autoindex_film_1", unique = true,
          Seq("film_id"), origin = "pk")),
      fks = Seq(SqliteFk(0, 0, "language", "lang_id", "language_id")),
      rowCount = 1000)
    assert(t.fields.map(_.ctype) ==
      Seq("integer", "varchar(255)", "text", "decimal(4,2)"))
    assert(t.fields.head.autoIncrement) // INTEGER PRIMARY KEY
    assert(!t.fields.head.nullable) // pk implies NOT NULL
    assert(t.indexes.map(_.name) == Seq("film_pkey", "idx_title"))
    assert(t.indexes.head.primary)
    assert(t.fkeys.head.foreignTable == "language")
    // through the cast engine: sqlite defaults
    val cast = t.cast(Nil, graft.casting.DefaultCastRules.sqlite)
    assert(cast.columns.map(_.pgType) ==
      Seq("bigserial", "text", "text", "numeric(4,2)"))
  }

  test("mssql sys.columns rows reconstruct typemod'd ctypes + defaults") {
    import graft.sources.IntrospectionRows._
    assert(mssqlCtype(MssqlColumn("dbo", "t", "c", "nvarchar", 100, 0, 0,
      true, false, None)) == "nvarchar(50)") // bytes → UTF-16 chars
    assert(mssqlCtype(MssqlColumn("dbo", "t", "c", "nvarchar", -1, 0, 0,
      true, false, None)) == "nvarchar") // MAX
    assert(mssqlCtype(MssqlColumn("dbo", "t", "c", "varchar", 25, 0, 0,
      true, false, None)) == "varchar(25)")
    assert(mssqlCtype(MssqlColumn("dbo", "t", "c", "decimal", 9, 12, 2,
      true, false, None)) == "decimal(12,2)")
    assert(stripMssqlDefault("((0))") == "0")
    assert(stripMssqlDefault("('abc')") == "'abc'")
    assert(stripMssqlDefault("(getdate())") == "getdate()")
    val tables = mssqlTables(Seq(
      MssqlColumn("dbo", "orders", "id", "int", 4, 10, 0,
        nullable = false, identity = true, None),
      MssqlColumn("dbo", "orders", "flag", "bit", 1, 1, 0,
        nullable = true, identity = false, Some("((1))")),
      MssqlColumn("sales", "leads", "name", "nvarchar", 80, 0, 0,
        nullable = true, identity = false, None)))
    assert(tables.map(t => (t.schema, t.name)) ==
      Seq(("dbo", "orders"), ("sales", "leads")))
    val orders = tables.head
    assert(orders.fields.map(_.ctype) == Seq("int", "bit"))
    assert(orders.fields.head.autoIncrement)
    assert(orders.fields(1).default == Some("1"))
    // through the cast engine: mssql defaults
    val cast = orders.cast(Nil, graft.casting.DefaultCastRules.mssql)
    assert(cast.columns.map(_.pgType) == Seq("serial", "boolean"))
  }

  test("predicate-partitioned read: one partition per range, full union") {
    val spark = SparkSpec.session
    val preds = Seq("N_ID < 2", "N_ID >= 2") // disjoint + covering
    val df = JdbcSource.readWithPredicates(spark, url,
      new java.util.Properties, "APP.NATIONS", preds)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 2) // no dup, no drop
    assert(df.select("N_ID").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2))
  }

  test("mysqlCheckToPg rewrites delimiters only — literal content is " +
    "sacrosanct") {
    import graft.sources.IntrospectionRows.mysqlCheckToPg
    // backticks INSIDE a literal survive; outside become double quotes
    assert(mysqlCheckToPg("(`note` <> _utf8mb4\\'see `col` docs\\')") ==
      "(\"note\" <> 'see `col` docs')")
    // a literal ENDING in an introducer-shaped word survives
    assert(mysqlCheckToPg("(`c` in (_utf8mb4\\'_utf8\\'))") ==
      "(\"c\" in ('_utf8'))")
    // empty literal; doubled escaped quotes = one embedded quote
    assert(mysqlCheckToPg("((`id` > 0) and (`name` <> _utf8mb4\\'\\'))")
      == "((\"id\" > 0) and (\"name\" <> ''))")
    assert(mysqlCheckToPg("(`a` = _latin1\\'it\\'\\'s\\')") ==
      "(\"a\" = 'it''s')")
    // bare quotes (older servers render without escapes) still work
    assert(mysqlCheckToPg("(`a` = 'x' or `a` = '')") ==
      "(\"a\" = 'x' or \"a\" = '')")
    // escaped backslash inside a literal
    assert(mysqlCheckToPg("(`p` <> _utf8\\'c:\\\\tmp\\')") ==
      "(\"p\" <> 'c:\\tmp')")
  }

  test("pgsql enum-column defaults strip EVERY trailing cast segment, " +
    "quoted type names included") {
    import graft.sources.IntrospectionRows.{PgColumn, pgsqlTables}
    def stripped(default: String): Option[String] = {
      val t = pgsqlTables(Seq(PgColumn("public", "t", "c", "mood",
        Some(default), nullable = true, enumLabels = Some("'a','b'"))))
      t.head.fields.head.default
    }
    assert(stripped("'happy'::mood") == Some("'happy'"))
    // quoted type name with a space — \w$-only matching left it intact
    // and CREATE TABLE failed on the nonexistent source type
    assert(stripped("'happy'::\"my mood\"") == Some("'happy'"))
    assert(stripped("'x'::public.\"my mood\"") == Some("'x'"))
    assert(stripped("'it''s'::\"mo\"\"od\"") == Some("'it''s'"))
    // chained cast: stripping only the final ::mood left a ::text
    // default with no assignment cast to the recreated enum
    assert(stripped("'a'::text::mood") == Some("'a'"))
    // enum ARRAY column defaults
    assert(stripped("'{a,b}'::mood[]") == Some("'{a,b}'"))
    assert(stripped("'{a}'::\"my mood\"[]") == Some("'{a}'"))
    // no cast at all: untouched
    assert(stripped("'a'") == Some("'a'"))
    // a NON-enum column keeps its cast (only enum types vanish on the
    // target)
    val plain = pgsqlTables(Seq(PgColumn("public", "t", "c", "text",
      Some("'t'::text"), nullable = true)))
    assert(plain.head.fields.head.default == Some("'t'::text"))
  }
}
