package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.casting.DefaultCastRules
import graft.catalog.{Catalog, Ddl, FKey, Index, Schema}
import graft.sources.IntrospectionRows.{MssqlColumn, mssqlTables}

/** The catalog SQL's pure parts ([[graft.sources.ColumnSqlExpressions]],
  * [[graft.sources.IntrospectionSql]], [[graft.sources.IntrospectionRows]])
  * and the cast engine + DDL emission over a catalog built from
  * introspection rows. */
class CatalogSqlSpec extends AnyFunSuite {

  /** Two upper-case tables as an MSSQL catalog reports them: an identity
    * key, typemod'd columns, a plain index and a foreign key. */
  private lazy val cat: Catalog = {
    val tables = mssqlTables(Seq(
      MssqlColumn("APP", "REGIONS", "R_ID", "int", 4, 10, 0,
        nullable = false, identity = true, None),
      MssqlColumn("APP", "REGIONS", "R_NAME", "varchar", 25, 0, 0,
        nullable = false, identity = false, None),
      MssqlColumn("APP", "NATIONS", "N_ID", "int", 4, 10, 0,
        nullable = false, identity = false, None),
      MssqlColumn("APP", "NATIONS", "N_NAME", "varchar", 25, 0, 0,
        nullable = true, identity = false, None),
      MssqlColumn("APP", "NATIONS", "N_BUDGET", "decimal", 9, 12, 2,
        nullable = true, identity = false, None),
      MssqlColumn("APP", "NATIONS", "N_REGION", "int", 4, 10, 0,
        nullable = true, identity = false, None))).map {
      case t if t.name == "NATIONS" => t.copy(
        indexes = Seq(
          Index("NATIONS_PK", "NATIONS", primary = true, unique = true,
            columns = Seq("N_ID")),
          Index("NATIONS_NAME_IDX", "NATIONS", columns = Seq("N_NAME"))),
        fkeys = Seq(FKey("NATIONS_FK", "NATIONS", Seq("N_REGION"),
          "REGIONS", Seq("R_ID"))))
      case t => t
    }
    Catalog("mssql://u@h/db", Seq(Schema("APP", tables = tables)))
  }

  test("cast engine over an introspected catalog: identity → serial, " +
    "typemods kept") {
    val cast = cat.cast(Nil, DefaultCastRules.mssql)
    val regions = cast.allTables.find(_.name == "REGIONS").get
    assert(regions.columns.head.pgType == "serial") // identity → serial
    val nations = cast.allTables.find(_.name == "NATIONS").get
    assert(nations.columns.map(_.pgType) ==
      Seq("integer", "text", "numeric(12,2)", "integer"))
  }

  test("DDL emission from the cast-and-cased catalog") {
    // the source reports uppercase identifiers; the TARGET casing steps
    // (the same ones Migrator.migrate runs — downcase default) fold
    // them, and the Ddl emitters then quote only what still needs it.
    // Emitting WITHOUT casing preserves the names quoted — that is the
    // `quote identifiers` mode's path.
    import graft.catalog.{CatalogRewrite, Identifiers}
    val cased = CatalogRewrite.caseColumns(
      CatalogRewrite.caseTargets(cat, Identifiers.Case.Downcase)
        .cast(Nil, DefaultCastRules.mssql),
      Identifiers.Case.Downcase)
    val nations = cased.allTables.find(_.name == "nations").get
    val ddl = Ddl.createTable(nations)
    assert(ddl.contains("n_id integer NOT NULL"))
    assert(ddl.contains("n_budget numeric(12,2)"))
    val pk = nations.indexes.find(_.primary).get
    assert(Ddl.attachPrimaryKey(pk).contains("ADD PRIMARY KEY USING INDEX"))
    assert(Ddl.addFKey(nations.fkeys.head).contains("REFERENCES"))
    // quote mode: names pass through preserved and come out quoted
    val quoted = Ddl.createTable(cat.cast(Nil, DefaultCastRules.mssql)
      .allTables.find(_.name == "NATIONS").get)
    assert(quoted.contains("\"N_ID\" integer NOT NULL"))
  }

  test("per-type SELECT expressions match the reference's renderings") {
    import graft.sources.ColumnSqlExpressions._
    assert(mysqlPair("loc", "point") == (("st_astext(`loc`)", "loc")))
    assert(mysqlPair("name", "varchar") == (("`name`", "name")))
    assert(mssqlPair("t", "datetime") ==
      (("convert(varchar(30), [t], 126)", "t")))
    assert(mssqlPair("n", "bigint") == (("cast([n] as numeric(20))", "n")))
    assert(mysqlPair("g", "geometry") == (("st_astext(`g`)", "g")))
    assert(mssqlPair("n", "int") == (("[n]", "n")))
  }

  test("per-type SELECT expressions escape the quote character inside " +
    "column names") {
    import graft.sources.ColumnSqlExpressions._
    assert(mysqlPair("a`b", "point") == (("st_astext(`a``b`)", "a`b")))
    assert(mssqlPair("a]b", "bigint") ==
      (("cast([a]]b] as numeric(20))", "a]b")))
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
