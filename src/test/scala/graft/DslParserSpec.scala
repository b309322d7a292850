package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dsl.{Ast, Parser, ParseException, SexpTranslator}
import graft.dsl.Ast._
import graft.casting.SourceColumn

/** DSL parser cases ported from the reference's parser test suite
  * (clojure/test/pgloader/load_file/parser_test.clj) plus the
  * csv-districts command (test/csv-districts.load). */
class DslParserSpec extends AnyFunSuite {

  test("simple csv") {
    val cmd = Parser.parse(
      "LOAD CSV FROM '/data/sample.csv' INTO postgresql:///target;")
    assert(cmd.loadType == "csv")
    assert(cmd.source.contains(FilePath("/data/sample.csv")))
    assert(cmd.targetUri.contains("postgresql:///target"))
  }

  test("csv with options") {
    val cmd = Parser.parse(
      """LOAD CSV FROM '/data/sample.csv'
           INTO postgresql://user@localhost/db
           WITH skip header = 1,
                fields terminated by ',',
                fields optionally enclosed by '"',
                fields escaped by '\\',
                encoding 'utf-8';""")
    assert(cmd.intOption("skip header").contains(1))
    assert(cmd.option("fields terminated by").contains(","))
    assert(cmd.option("fields optionally enclosed by").contains("\""))
    assert(cmd.option("fields escaped by").contains("\\"))
    assert(cmd.option("encoding").contains("utf-8"))
  }

  test("ddlColumnTypes survives quoted parens/commas and trailing SQL") {
    val cmd = Parser.parse(
      """LOAD CSV FROM '/data/x.csv'
           HAVING FIELDS (a, b, c)
           INTO postgresql:///db TARGET TABLE t
           WITH fields terminated by ','
           BEFORE LOAD DO
           $$ create table t (
                a text default ')(,''',
                b numeric(8,2) check (b > (1)),
                c date
              ); create index t_c on t (c); $$;""")
    val types = graft.dsl.PlanBuilder.ddlColumnTypes(cmd)
    assert(types("a").startsWith("text"))
    assert(types("b").startsWith("numeric(8,2)"))
    assert(types("c") == "date")
    assert(types.size == 3, s"got $types")
  }

  test("WITH exactly once parses beside the error-mode flags") {
    val cmd = Parser.parse(
      """LOAD CSV FROM '/data/sample.csv'
           INTO postgresql://user@localhost/db
           WITH fields terminated by ',',
                on error stop,
                exactly once,
                workers = 8;""")
    assert(cmd.boolOption("exactly once"))
    assert(cmd.boolOption("on error stop"))
    assert(cmd.intOption("workers").contains(8))
  }

  test("WITH copy binary parses plain and auto modes") {
    def opts(withs: String) = Parser.parse(
      s"""LOAD CSV FROM '/data/sample.csv'
           INTO postgresql://user@localhost/db
           WITH fields terminated by ',', $withs;""")
    assert(opts("copy binary").option("copy binary").contains("true"))
    val auto = opts("copy binary auto, workers = 2")
    assert(auto.option("copy binary").contains("auto"))
    assert(auto.intOption("workers").contains(2))
    // `auto` is consumed by the option, not left dangling before ','
    assert(opts("copy binary, truncate").boolOption("truncate"))
  }

  test("csv into table with column list") {
    val cmd = Parser.parse(
      """LOAD CSV FROM '/data/users.csv'
           INTO postgresql:///target INTO public.users
           (id, name, email);""")
    assert(cmd.targetSchema.contains("public"))
    assert(cmd.targetTable.contains("users"))
    assert(cmd.targetColumns.map(_.name) == Seq("id", "name", "email"))
  }

  test("uri?table target is stripped from the target uri") {
    val cmd = Parser.parse(
      """LOAD CSV FROM '/data/users.csv'
           INTO postgresql://host:5432/db?public.users
           WITH fields terminated by ',';""")
    assert(cmd.targetUri.contains("postgresql://host:5432/db"),
      "?table suffix must not leak into the connection uri")
    assert(cmd.targetSchema.contains("public"))
    assert(cmd.targetTable.contains("users"))
  }

  test("mysql database with db options") {
    val cmd = Parser.parse(
      """LOAD DATABASE FROM mysql://user@localhost/mydb
           INTO postgresql:///target
           WITH create tables, create indexes, include drop;""")
    assert(cmd.loadType == "database")
    assert(cmd.boolOption("create tables"))
    assert(cmd.boolOption("create indexes"))
    assert(cmd.boolOption("include drop"))
  }

  test("database with SET and CAST") {
    val cmd = Parser.parse(
      """LOAD DATABASE FROM mysql://user@localhost/mydb
           INTO postgresql:///target
           WITH create tables, include drop
           SET maintenance_work_mem to '128MB',
               client_encoding to 'UTF8'
           CAST type datetime to timestamptz drop default drop not null using zero-dates-to-null,
                type tinyint to boolean drop typemod;""")
    assert(cmd.setParams ==
      Seq("maintenance_work_mem" -> "128MB", "client_encoding" -> "UTF8"))
    assert(cmd.castRules.length == 2)
    // SET MySQL PARAMETERS are SOURCE-session variables — they must
    // land in their own bucket, never as PG GUCs (a PG session
    // running `SET net_read_timeout` would abort)
    val my = Parser.parse(
      """LOAD DATABASE FROM mysql://user@localhost/mydb
           INTO postgresql:///target
           SET MySQL PARAMETERS net_read_timeout = '600',
               net_write_timeout = '600'
           SET PostgreSQL PARAMETERS work_mem to '24MB';""")
    assert(my.mysqlParams ==
      Seq("net_read_timeout" -> "600", "net_write_timeout" -> "600"))
    assert(my.setParams == Seq("work_mem" -> "24MB"))
    val dt = cmd.castRules.head
    assert(dt.source.typeName.contains("datetime"))
    assert(dt.target.exists(t => t.pgType == "timestamptz" &&
      t.dropDefault && t.dropNotNull))
    assert(dt.using.contains("zero-dates-to-null"))
  }

  test("cast when default and not null (#1676)") {
    val cmd = Parser.parse(
      """LOAD DATABASE FROM mysql://user@localhost/mydb
           INTO postgresql:///target
           CAST type datetime when default "0000-00-00 00:00:00" and not null
                to timestamp drop not null drop default using zero-dates-to-null;""")
    val rule = cmd.castRules.head
    assert(rule.source.default.contains("0000-00-00 00:00:00"))
    assert(rule.source.notNull.contains(true))
  }

  test("cast typemod guard compiles to a working predicate") {
    val cmd = Parser.parse(
      """LOAD DATABASE FROM mysql:///d INTO postgresql:///t
           CAST type int when (< precision 10) to int,
                type int when unsigned to bigint;""")
    val smallRule = cmd.castRules.head
    assert(smallRule.source.matches(SourceColumn("t", "c", "int(7)")))
    assert(!smallRule.source.matches(SourceColumn("t", "c", "int(11)")))
    val unsignedRule = cmd.castRules(1)
    assert(unsignedRule.source.matches(
      SourceColumn("t", "c", "int(10) unsigned")))
  }

  test("invalid command rejected") {
    intercept[ParseException](Parser.parse("LOAD BOGUS;"))
  }

  test("comments are whitespace") {
    val cmd = Parser.parse(
      """-- leading comment
         /* block
            comment */
         LOAD CSV FROM '/data/sample.csv' -- trailing
         INTO postgresql:///target;""")
    assert(cmd.loadType == "csv")
  }

  test("null if / unquoted-blank options") {
    val c1 = Parser.parse(
      "LOAD CSV FROM '/d.csv' INTO postgresql:///t WITH null if '\\N';")
    assert(c1.option("null if").contains("\\N"))
    val c2 = Parser.parse(
      "LOAD CSV FROM '/d.csv' INTO postgresql:///t WITH keep unquoted blanks;")
    assert(c2.boolOption("keep unquoted blanks"))
  }

  test("glob source, filters, alter table, distribute, matviews") {
    val cmd = Parser.parse(
      """LOAD DATABASE FROM mysql:///sakila INTO postgresql:///s
           INCLUDING ONLY TABLE NAMES MATCHING ~/film/, 'actor'
           EXCLUDING TABLE NAMES MATCHING ~/temp$/
           ALTER TABLE NAMES MATCHING ~/film/ SET SCHEMA 'video'
           MATERIALIZE VIEWS film_list, staff_list
           DISTRIBUTE orders USING order_id FROM customers, nations;""")
    assert(cmd.includingOnly.head.patterns.map(_.pattern) ==
      Seq("film", "actor"))
    assert(cmd.excludingOnly.head.patterns.head.isRegex)
    assert(cmd.alterTable.head.action == SetSchema("video"))
    assert(cmd.materializeViews.map(_.name) ==
      Seq("film_list", "staff_list"))
    assert(cmd.distribute.head ==
      DistributeUsing("orders", "order_id", Seq("customers", "nations")))
  }

  test("fixed field specs") {
    val cmd = Parser.parse(
      """LOAD FIXED FROM '/d.txt'
           (a from 0 for 10 [trim right whitespace],
            b from 10 for  5 [null if blanks])
           INTO postgresql:///t TARGET TABLE fx;""")
    assert(cmd.fields == Seq(
      FieldDef("a", trimRight = true, start = Some(0), length = Some(10)),
      FieldDef("b", nullIfs = Seq(NullIfBlanks), start = Some(10),
        length = Some(5))))
  }

  test("csv-districts.load parses end-to-end") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/test/csv-districts.load")),
      "UTF-8")
    val cmd = Parser.parse(text)
    assert(cmd.loadType == "csv")
    assert(cmd.source.contains(
      FilePath("data/2013_Gaz_113CDs_national.txt")))
    assert(cmd.fields.map(_.name) == Seq("usps", "geoid", "aland", "awater",
      "aland_sqmi", "awater_sqmi", "intptlat", "intptlong"))
    assert(cmd.targetTable.contains("districts"))
    assert(cmd.targetColumns.length == 7)
    val loc = cmd.targetColumns.last
    assert(loc.name == "location" && loc.typeName.contains("point"))
    assert(cmd.intOption("skip header").contains(1))
    assert(cmd.option("fields terminated by").contains("\t"))
    assert(cmd.intOption("batch rows").contains(200))
    assert(cmd.intOption("batch size").contains(1024 * 1024))
    assert(cmd.beforeLoad.length == 2)
    assert(cmd.beforeLoad.head.toLowerCase.contains("drop table"))
  }

  test("AFTER CREATE SCHEMA DO parses on file and database loads") {
    val file = Parser.parse(
      """LOAD CSV FROM 'x.csv' HAVING FIELDS (a, b)
         INTO postgresql:///g TARGET TABLE t
         BEFORE LOAD DO $$ create table t (a int, b int); $$
         AFTER CREATE SCHEMA DO $$ grant select on t to ro; $$
         AFTER LOAD DO $$ analyze t; $$""")
    assert(file.afterSchema == Seq("grant select on t to ro;"))
    assert(file.beforeLoad.nonEmpty && file.afterLoad.nonEmpty)
    val db = Parser.parse(
      """LOAD DATABASE FROM mysql://r@h/db INTO postgresql:///g
         AFTER SCHEMA DO $$ create extension hstore; $$""")
    assert(db.afterSchema == Seq("create extension hstore;"))
  }

  test("EXECUTE 'file.sql' and FINALLY blocks") {
    val dir = java.nio.file.Files.createTempDirectory("sqlblocks").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "setup.sql").toPath,
      """-- two statements, one with a quoted ';'
        CREATE TABLE t (x text DEFAULT 'a;b');
        CREATE INDEX ti ON t (x)""")
    val cmd = Parser.parse(
      s"""LOAD CSV FROM 'x.csv' HAVING FIELDS (a)
          INTO postgresql:///g TARGET TABLE t
          BEFORE LOAD EXECUTE 'setup.sql' DO $$$$ truncate t; $$$$
          FINALLY DO $$$$ vacuum analyze t; $$$$""",
      baseDir = dir.getAbsolutePath)
    assert(cmd.beforeLoad.length == 3)
    assert(cmd.beforeLoad(0).contains("DEFAULT 'a;b'"))
    assert(cmd.beforeLoad(1).startsWith("CREATE INDEX"))
    assert(cmd.beforeLoad(2) == "truncate t;")
    assert(cmd.finallyDo == Seq("vacuum analyze t;"))
  }

  test("every .load file in the reference test corpus parses") {
    val files = new java.io.File("/root/reference/test").listFiles()
    // listFiles() is null for a missing directory
    if (files == null)
      fail("the reference checkout's test directory (reference/test) " +
        "is missing, so its .load corpus cannot be parsed")
    val loads = files.filter(_.getName.endsWith(".load")).sortBy(_.getName)
    val failures = loads.flatMap { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // baseDir = the .load file's dir, so EXECUTE 'x.sql' resolves
      // (archive.load references its sibling geolite.sql)
      try { Parser.parseWithInline(text, f.getParent); None }
      catch { case e: Exception => Some(s"${f.getName}: ${e.getMessage}") }
    }
    assert(loads.length >= 60)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("USING lambda composes registry transforms") {
    val cmd = Parser.parse(
      """LOAD DBF FROM '/d.dbf' INTO postgresql:///t
           CAST column t.c to uuid
             using (lambda (v) (empty-string-to-null (right-trim v)));""")
    assert(cmd.castRules.head.using.contains(
      "empty-string-to-null|right-trim"))
    // engine resolves the composition: "x  " -> rtrim -> "x"; "  " -> null
    val r = graft.casting.CastEngine.cast(
      SourceColumn("t", "c", "sometype"), cmd.castRules, Nil)
    assert(r.transform.nonEmpty)
  }

  test("sexp USING translation") {
    assert(SexpTranslator.toSql(
      """(format nil "(~a,~a)" intptlong intptlat)""") ==
      "concat('(', intptlong, ',', intptlat, ')')")
    assert(SexpTranslator.toSql("""(string-upcase usps)""") == "upper(usps)")
    intercept[IllegalArgumentException](
      SexpTranslator.toSql("(some-arbitrary-lisp-fn x)"))
  }
}
