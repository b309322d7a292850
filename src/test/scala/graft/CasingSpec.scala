package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.casting.{DefaultCastRules, SourceColumn}
import graft.catalog._
import graft.orchestration.Migrator

/** Adversarial review of the identifier-casing surface: the catalog
  * delivers FINAL target names (CatalogRewrite.caseTargets/caseColumns)
  * while source-shape names stay raw. Pinned against the reference's
  * apply-identifier-case (src/utils/quoting.lisp:10-43; v4
  * ddl/common.clj:340-406) and the per-table column collision check
  * (catalog.lisp:404-430; core.clj:595-614) across modes and sources.
  */
class CasingSpec extends AnyFunSuite {
  import Identifiers.Case

  // --- the v4 snake_case pipeline (ddl/common.clj:340-365) ---

  test("snake_case replaces $/whitespace runs, collapses and strips " +
    "underscores, truncates at 63 bytes") {
    assert(Identifiers("Object_Name", Case.SnakeCase) == "object_name")
    // $ is MySQL/SQLite-legal but meaningless in PG: → _
    assert(Identifiers("price$usd", Case.SnakeCase) == "price_usd")
    // a whitespace/hyphen/$ RUN collapses to one underscore
    assert(Identifiers("My  Table", Case.SnakeCase) == "my_table")
    assert(Identifiers("a -\tb", Case.SnakeCase) == "a_b")
    // introduced leading/trailing underscores strip
    assert(Identifiers("$price", Case.SnakeCase) == "price")
    assert(Identifiers("Total-", Case.SnakeCase) == "total")
    // camel split + collapse interact: no double underscore survives
    assert(Identifiers("Foo_Bar Baz", Case.SnakeCase) == "foo_bar_baz")
    // truncation applies the 63-BYTE rule (PG's NAMEDATALEN-1)
    val long = "CamelHead" + ("x" * 80)
    val out = Identifiers(long, Case.SnakeCase)
    assert(out.getBytes("UTF-8").length <= 63)
    assert(out.startsWith("camel_head"))
  }

  // --- catalog-level casing of every TARGET surface ---

  private def mkCat(schema: String) = {
    val t = Table(
      name = "MyTable", schema = schema, sourceName = "MyTable",
      size = 10,
      fields = Seq(
        SourceColumn("MyTable", "Id", "int(10)", autoIncrement = true,
          nullable = false),
        SourceColumn("MyTable", "UpdatedAt", "timestamp",
          onUpdateCurrentTimestamp = true)),
      indexes = Seq(Index("MyTable_PKey", "MyTable", primary = true,
        unique = true, columns = Seq("Id"))))
    Catalog("test", Seq(Schema(schema, sourceName = schema,
      tables = Seq(t))),
      sequences = Seq(SequenceDef(schema, "MySeq", 1, 1, 1, 1000)))
  }

  private def runMigrate(cat: Catalog, mode: Case,
                         preserveIdx: Boolean = false)
      : (Seq[String], Seq[Table]) = {
    val ddl = new ConcurrentLinkedQueue[String]
    val loaded = new ConcurrentLinkedQueue[Table]
    val m = new Migrator(
      executeDdl = (sql, _) => ddl.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) => { loaded.add(t); (1L, 0L, 0L) },
      workers = 1)
    m.migrate(cat, defaults = DefaultCastRules.mysql, idCase = mode,
      preserveIndexNames = preserveIdx)
    (ddl.asScala.toSeq, loaded.asScala.toSeq)
  }

  test("downcase mode cases schema, table, index and sequence names " +
    "while the source read spelling stays raw") {
    val (ddl, loaded) = runMigrate(mkCat("MyDB"), Case.Downcase)
    // the reference cases :schema too (ddl/common.clj:385;
    // catalog.lisp:279) — an uncased CREATE SCHEMA MyDB would fold to
    // mydb while CREATE TABLE "MyDB".x references the preserved name,
    // aborting the whole pre phase
    assert(ddl.exists(_ == "CREATE SCHEMA IF NOT EXISTS mydb;"))
    assert(ddl.exists(_.startsWith("CREATE TABLE mydb.mytable")))
    assert(ddl.exists(_.contains("CREATE SEQUENCE IF NOT EXISTS " +
      "mydb.myseq")))
    assert(ddl.exists(
      _.startsWith("CREATE UNIQUE INDEX mytable_pkey ON mydb.mytable")))
    // the loadTable callback sees target names cased, source raw
    val t = loaded.head
    assert(t.schema == "mydb" && t.name == "mytable")
    assert(t.sourceSchemaName == "MyDB" && t.sourceName == "MyTable")
  }

  test("quote mode preserves every spelling, quoted at emission — " +
    "including CREATE SCHEMA and the dynamic trigger DDL") {
    val (ddl, _) = runMigrate(mkCat("MyDB"), Case.Quote)
    assert(ddl.exists(_ == "CREATE SCHEMA IF NOT EXISTS \"MyDB\";"))
    assert(ddl.exists(_.startsWith(
      "CREATE TABLE \"MyDB\".\"MyTable\"")))
    assert(ddl.exists(_.contains(
      "CREATE SEQUENCE IF NOT EXISTS \"MyDB\".\"MySeq\"")))
    assert(ddl.exists(_.startsWith("CREATE UNIQUE INDEX " +
      "\"MyTable_PKey\" ON \"MyDB\".\"MyTable\"")))
    // ON UPDATE CURRENT_TIMESTAMP trigger references the TARGET
    // (preserved) column spelling, quoted
    assert(ddl.exists(s => s.startsWith("CREATE OR REPLACE FUNCTION " +
      "\"MyDB\".\"on_update_current_timestamp_MyTable\"") &&
      s.contains("NEW.\"UpdatedAt\" = now();")))
    assert(ddl.exists(_.contains("BEFORE UPDATE ON " +
      "\"MyDB\".\"MyTable\" FOR EACH ROW")))
  }

  test("snake_case mode renames the trigger's column reference with " +
    "the column") {
    val (ddl, _) = runMigrate(mkCat("MyDB"), Case.SnakeCase)
    // the trigger body must reference the CREATED column (updated_at),
    // not the raw field spelling (UpdatedAt folds to updatedat inside
    // plpgsql and the trigger would error at first UPDATE)
    assert(ddl.exists(_.contains("NEW.updated_at = now();")))
    assert(ddl.exists(_.startsWith("CREATE TABLE my_db.my_table")))
  }

  test("reserved-word schema name emits quoted") {
    val cat = mkCat("Order")
    val (ddl, _) = runMigrate(cat, Case.Downcase)
    assert(ddl.exists(_ == "CREATE SCHEMA IF NOT EXISTS \"order\";"))
  }

  test("downcasing can CREATE index-name duplicates — uniquify runs " +
    "on the final names") {
    val t = Table(name = "T", schema = "public", sourceName = "T",
      fields = Seq(SourceColumn("T", "a", "int(10)"),
        SourceColumn("T", "b", "int(10)")),
      indexes = Seq(
        Index("MyIdx", "T", columns = Seq("a")),
        Index("myidx", "T", columns = Seq("b"))))
    val cat = Catalog("test", Seq(Schema("public", tables = Seq(t))))
    val (ddl, _) = runMigrate(cat, Case.Downcase)
    val idx = ddl.filter(_.startsWith("CREATE INDEX"))
    assert(idx.exists(_.startsWith("CREATE INDEX myidx ON")))
    assert(idx.exists(_.startsWith("CREATE INDEX myidx_1 ON")))
  }

  // --- the per-table column collision check (catalog.lisp:404-430) ---

  test("two columns identical after 63-byte truncation abort with " +
    "both names reported") {
    val base = "c" * 63
    val t = Table(name = "t", schema = "public", sourceName = "t",
      fields = Seq(SourceColumn("t", base + "x", "int(10)"),
        SourceColumn("t", base + "y", "int(10)")))
    val cat = Catalog("test", Seq(Schema("public", tables = Seq(t))))
    val e = intercept[IllegalArgumentException] {
      runMigrate(cat, Case.Downcase)
    }
    assert(e.getMessage.contains("column name collision"))
    val colls = Identifiers.columnCollisions(
      CatalogRewrite.caseColumns(
        cat.cast(Nil, DefaultCastRules.mysql), Case.Downcase))
    assert(colls.size == 1)
    assert(colls.head._4.toSet == Set(base + "x", base + "y"))
  }

  // --- source-read schema stays raw through target rewrites ---

  test("ALTER SCHEMA RENAME and casing keep the source-read schema") {
    val cat = mkCat("SalesDB")
    val (_, loaded) = {
      val loadedQ = new ConcurrentLinkedQueue[Table]
      val m = new Migrator(
        executeDdl = (_, _) => (),
        loadTable = (t, _) => { loadedQ.add(t); (1L, 0L, 0L) },
        workers = 1)
      m.migrate(cat, defaults = DefaultCastRules.mysql,
        alterSchema = Seq(("SalesDB", "public")),
        idCase = Case.Downcase)
      (Nil, loadedQ.asScala.toSeq)
    }
    val t = loaded.head
    // target: renamed + cased; source: the original spelling
    assert(t.schema == "public")
    assert(t.sourceSchemaName == "SalesDB")
  }

  test("kept indexdef: plain column references recase per mode, " +
    "expressions/literals/functions untouched") {
    val d = "CREATE UNIQUE INDEX people_org_email ON public.people " +
      "USING btree (\"userId\", lower(email)) " +
      "WHERE (note <> 'keep ''userId'' literal'::text)"
    val cols = Set("userId", "email", "note")
    def rc(mode: Identifiers.Case) = CatalogRewrite.recaseIndexDef(
      d, cols, n => Identifiers(n, mode))
    val down = rc(Identifiers.Case.Downcase)
    assert(down.contains("(\"userid\", lower(\"email\"))"), down)
    assert(down.contains("\"note\" <> 'keep ''userId'' literal'"), down)
    // the head (index/table names) is NOT rewritten — the emitter
    // rebuilds it from the cased catalog
    assert(down.startsWith("CREATE UNIQUE INDEX people_org_email ON " +
      "public.people USING"), down)
    val snake = rc(Identifiers.Case.SnakeCase)
    assert(snake.contains("\"user_id\""), snake)
    val quote = rc(Identifiers.Case.Quote)
    assert(quote.contains("\"userId\", lower(\"email\")"), quote)
    // bare word that is a FUNCTION call survives even if a column
    // shares its name
    val tricky = CatalogRewrite.recaseIndexDef(
      "CREATE INDEX i ON t USING btree (lower(lower))",
      Set("lower"), _.toUpperCase)
    assert(tricky.contains("lower(\"LOWER\")"), tricky)
  }

  test("recaseIndexDef: quoted names containing ' on ' / ' using ' " +
    "do not mis-split the head (ADVICE r20)") {
    val d = "CREATE INDEX \"idx on using trap\" ON " +
      "public.\"my on table\" USING btree (\"userId\")"
    val out = CatalogRewrite.recaseIndexDef(d, Set("userId"),
      _.toLowerCase)
    // head verbatim (the emitter rebuilds names from the catalog) …
    assert(out.startsWith("CREATE INDEX \"idx on using trap\" ON " +
      "public.\"my on table\" USING btree"), out)
    // … and the tail column reference IS recased
    assert(out.contains("(\"userid\")"), out)
  }

  test("recaseNextval / renameNextvalSchema rewrite nextval refs " +
    "inside composite defaults (ADVICE r20)") {
    val d = "COALESCE(some_col, nextval('\"MySeq\"'::regclass), " +
      "nextval('other.seq2'::regclass))"
    val cased = CatalogRewrite.recaseNextval(d, _.toLowerCase)
    assert(cased.contains("nextval('\"myseq\"'::regclass)"), cased)
    assert(cased.contains("nextval('\"other\".\"seq2\"'::regclass)"),
      cased)
    assert(cased.startsWith("COALESCE(some_col, "), cased)
    val renamed = CatalogRewrite.renameNextvalSchema(d,
      Map("public" -> "renamed"))
    // unqualified ref resolved via public -> qualified to the rename;
    // the already-qualified other.seq2 ref stays verbatim
    assert(renamed.contains(
      "nextval('\"renamed\".\"MySeq\"'::regclass)"), renamed)
    assert(renamed.contains("nextval('other.seq2'::regclass)"), renamed)
  }
}
