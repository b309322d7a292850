package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.casting.{DefaultCastRules, SourceColumn}
import graft.catalog._
import graft.dsl.Ast._
import graft.orchestration.Migrator

/** Orchestrator phase ordering and catalog-rewrite semantics
  * (migrate-database.lisp:326-574): DDL before any load; a finished
  * table's indexes overlap remaining copies; PK/FK/sequences strictly
  * after; stats roll up. */
class MigrateSpec extends AnyFunSuite {

  private def mkCatalog: Catalog = {
    def tbl(name: String, rows: Long, withFk: Boolean = false) = Table(
      name = name, schema = "public", size = rows,
      fields = Seq(
        SourceColumn(name, "id", "int(10)", autoIncrement = true,
          nullable = false),
        SourceColumn(name, "val", "varchar(20)")),
      indexes = Seq(Index(s"${name}_pkey", name, primary = true,
        unique = true, columns = Seq("id"))),
      fkeys = if (withFk)
        Seq(FKey(s"${name}_fk", name, Seq("val"), "big", Seq("id")))
      else Nil)
    Catalog("test", Seq(Schema("public", tables = Seq(
      tbl("small", 10), tbl("big", 1000), tbl("mid", 100, withFk = true),
      tbl("tempthing", 5)))))
  }

  test("phases order correctly and index builds overlap copies") {
    val events = new ConcurrentLinkedQueue[String]
    val loading = new ConcurrentLinkedQueue[String]
    val migrator = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) => {
        events.add(s"LOAD:${t.name}")
        loading.add(t.name)
        Thread.sleep(if (t.name == "big") 150 else 10)
        loading.remove(t.name)
        (t.size, 0L, 0L)
      },
      workers = 4, maxParallelIndexes = 2)
    val summary = migrator.migrate(mkCatalog,
      defaults = DefaultCastRules.mysql,
      excluding = Seq(TableFilter(Seq(NamePattern("^temp", isRegex = true)),
        None)))
    val ev = events.asScala.toSeq

    // filtered table never appears
    assert(!ev.exists(_.contains("tempthing")))
    // every CREATE TABLE precedes every LOAD
    val lastCreate = ev.lastIndexWhere(_.startsWith("CREATE TABLE"))
    val firstLoad = ev.indexWhere(_.startsWith("LOAD:"))
    assert(lastCreate >= 0 && firstLoad > lastCreate)
    // per table: its index build comes after its own load
    for (t <- Seq("small", "big", "mid")) {
      val li = ev.indexOf(s"LOAD:$t")
      val ii = ev.indexWhere(e => e.startsWith("CREATE UNIQUE INDEX") &&
        e.contains(s"${t}_pkey"))
      assert(li >= 0 && ii > li, s"index for $t not after its load: $ev")
    }
    // small's index build happened BEFORE big's (overlap with copies):
    // big's copy sleeps 150ms, small's 10ms
    val smallIdx = ev.indexWhere(e => e.startsWith("CREATE UNIQUE INDEX") &&
      e.contains("small_pkey"))
    val bigIdx = ev.indexWhere(e => e.startsWith("CREATE UNIQUE INDEX") &&
      e.contains("big_pkey"))
    assert(smallIdx < bigIdx)
    // PK attach and FK strictly after all loads and index builds
    val firstAlter = ev.indexWhere(_.startsWith("ALTER TABLE"))
    val lastIdx = ev.lastIndexWhere(_.startsWith("CREATE UNIQUE INDEX"))
    val lastLoad = ev.lastIndexWhere(_.startsWith("LOAD:"))
    assert(firstAlter > lastIdx && firstAlter > lastLoad)
    // serial column → sequence reset in post phase
    assert(ev.exists(_.contains("setval")))

    // stats: ordered biggest-first, totals roll up
    assert(summary.tables.map(_.table) == Seq("big", "mid", "small"))
    assert(summary.totalRows == 1110 && summary.totalRejected == 0)
    assert(summary.render.contains("public.big"))
    assert(summary.render.contains("Total"))

    // itemized phase timings (reference's named pre/post entries):
    // Create tables counts the 3 kept tables; Create Indexes counts
    // the 3 builds; Primary Keys the 3 attaches; Create Foreign Keys
    // mid's single FK; Reset Sequences the 3 serial resets; the COPY
    // wall covers at least big's 150ms sleep
    def entry(label: String) =
      summary.phaseEntries.find(_.label == label).getOrElse(
        fail(s"missing phase entry $label in ${summary.phaseEntries}"))
    assert(entry("Create tables").section == "pre")
    assert(entry("Create tables").rows == 3)
    assert(entry("Create Indexes").rows == 3)
    assert(entry("Primary Keys").rows == 3)
    assert(entry("Create Foreign Keys").rows == 1)
    assert(entry("Reset Sequences").rows == 3)
    assert(entry("COPY Wall-Clock Time").nanos >= 150L * 1000000L)
    assert(summary.phaseEntries.filter(_.section == "post")
      .forall(_.nanos >= 0L))
    // no checks/comments in this catalog → those entries are absent
    assert(!summary.phaseEntries.exists(_.label == "Install Comments"))
    assert(!summary.phaseEntries.exists(
      _.label == "Create Check Constraints"))
  }

  test("including/excluding filters with schema scope") {
    val cat = mkCatalog
    val inc = CatalogRewrite.filter(cat,
      including = Seq(TableFilter(Seq(NamePattern("^(big|mid)$",
        isRegex = true)), None)),
      excluding = Nil)
    assert(inc.allTables.map(_.name).sorted == Seq("big", "mid"))
    val scoped = CatalogRewrite.filter(cat,
      including = Nil,
      excluding = Seq(TableFilter(Seq(NamePattern("big", isRegex = false)),
        Some("other")))) // wrong schema → no effect
    assert(scoped.allTables.map(_.name).contains("big"))
  }

  test("fkey pruning and rename follow-through are schema-scoped") {
    // two schemas each hold a `users`; `a.orders` references a.users.
    // Excluding a.users must prune that fkey even though b.users
    // survives — addFKey qualifies the target with the OWNING schema,
    // so the post phase would otherwise REFERENCES a never-created
    // a.users
    def t(schema: String, name: String, fks: Seq[FKey] = Nil) = Table(
      name = name, schema = schema,
      fields = Seq(SourceColumn(name, "id", "int(10)", nullable = false)),
      fkeys = fks)
    val cat = Catalog("test", Seq(
      Schema("a", tables = Seq(
        t("a", "users"),
        t("a", "orders", Seq(FKey("o_fk", "orders", Seq("id"),
          "users", Seq("id")))))),
      Schema("b", tables = Seq(t("b", "users")))))
    val pruned = CatalogRewrite.filter(cat,
      including = Nil,
      excluding = Seq(TableFilter(Seq(NamePattern("users",
        isRegex = false)), Some("a"))))
    val orders = pruned.schemas.find(_.name == "a").get
      .tables.find(_.name == "orders").get
    assert(orders.fkeys.isEmpty, "fkey to excluded a.users must be pruned")
    assert(pruned.schemas.find(_.name == "b").get
      .tables.exists(_.name == "users"))

    // rename follow-through is schema-scoped too: renaming b.users2
    // must NOT retarget a.orders' fkey (which resolves in schema a)
    val cat2 = Catalog("test", Seq(
      Schema("a", tables = Seq(
        t("a", "users"),
        t("a", "orders", Seq(FKey("o_fk", "orders", Seq("id"),
          "users", Seq("id")))))),
      Schema("b", tables = Seq(t("b", "users2")))))
    val renamed = CatalogRewrite.alterTable(cat2, Seq(
      AlterTableRule(Seq(NamePattern("^users2?$", isRegex = true)),
        RenameTo("accounts"))))
    // a.users matched too and renamed — a.orders' fkey follows its OWN
    // schema's rename to accounts; a name-only map keyed by "users2"
    // collisions would be indistinguishable, so also check the b-only
    // rename in isolation:
    val aOrders = renamed.schemas.find(_.name == "a").get
      .tables.find(_.name == "orders").get
    assert(aOrders.fkeys.head.foreignTable == "accounts")
    val cat3 = Catalog("test", Seq(
      Schema("a", tables = Seq(
        t("a", "orders", Seq(FKey("o_fk", "orders", Seq("id"),
          "ext", Seq("id")))))), // no a.ext — resolves (dangling) in a
      Schema("b", tables = Seq(t("b", "ext")))))
    val renamedBOnly = CatalogRewrite.alterTable(cat3, Seq(
      AlterTableRule(Seq(NamePattern("^ext$", isRegex = true)),
        RenameTo("ext_new")))) // only b.ext exists and renames
    val aOrders2 = renamedBOnly.schemas.find(_.name == "a").get
      .tables.find(_.name == "orders").get
    assert(aOrders2.fkeys.head.foreignTable == "ext",
      "b-schema rename must not retarget a-schema fkey references")
  }

  test("alter table rename and set schema rewrite the catalog") {
    val cat = mkCatalog
    val renamed = CatalogRewrite.alterTable(cat, Seq(
      AlterTableRule(Seq(NamePattern("^big$", isRegex = true)),
        RenameTo("orders"))))
    assert(renamed.allTables.exists(_.name == "orders"))
    assert(!renamed.allTables.exists(_.name == "big"))
    val moved = CatalogRewrite.alterTable(cat, Seq(
      AlterTableRule(Seq(NamePattern("mid", isRegex = false)),
        SetSchema("archive"))))
    val archived = moved.schemas.find(_.name == "archive").get
    assert(archived.tables.map(_.name) == Seq("mid"))
    assert(archived.tables.head.schema == "archive")
  }

  test("before/after DO, SET params, enum types, checks and comments") {
    val events = new ConcurrentLinkedQueue[String]
    val cat = Catalog("c", Seq(Schema("public", tables = Seq(Table(
      name = "shirts", schema = "public", size = 1,
      comment = Some("a table"),
      fields = Seq(
        SourceColumn("shirts", "id", "int(10)"),
        SourceColumn("shirts", "size", "enum('S','M','L')"),
        SourceColumn("shirts", "tags", "set('a','b')")),
      checks = Seq(graft.catalog.CheckDef(None, "id > 0")))))))
    val setups = new ConcurrentLinkedQueue[Seq[String]]
    val loadSetups = new ConcurrentLinkedQueue[Seq[String]]
    val m = new Migrator(
      executeDdl = (sql, setup) => {
        events.add(sql.replaceAll("\\s+", " ")); setups.add(setup) },
      loadTable = (_, setup) => { loadSetups.add(setup); (1L, 0L, 0L) })
    m.migrate(cat, defaults = DefaultCastRules.mysql,
      setParams = Seq("maintenance_work_mem" -> "128MB"),
      disableTriggers = true,
      withIndexes = false, withFKeys = false, resetSequences = false)
    val ev = events.asScala.toSeq
    // ordering: CREATE TYPE/TABLE → load → checks/comments (the
    // command's DO blocks run in the Runner around the migration —
    // PgWireSpec pins their order on a LOAD DATABASE). SET gucs are
    // per-connection setup handed to EVERY ddl call and every load; the
    // trigger-disabling replica role reaches ONLY the data-copy
    // connections — DDL runs with triggers and FK enforcement live
    // (core.clj:821,909 scopes replica to copy-table connections).
    val gucOnly = Seq("SET maintenance_work_mem = '128MB';")
    val copySetup = gucOnly :+ "SET session_replication_role = 'replica';"
    assert(setups.asScala.toSeq.nonEmpty &&
      setups.asScala.toSeq.forall(_ == gucOnly))
    assert(loadSetups.asScala.toSeq == Seq(copySetup))
    val enumIdx = ev.indexWhere(_.startsWith(
      "CREATE TYPE shirts_size AS ENUM ('S', 'M', 'L')"))
    val setIdx = ev.indexWhere(_.startsWith(
      "CREATE TYPE shirts_tags AS ENUM ('a', 'b')"))
    val createIdx = ev.indexWhere(_.startsWith("CREATE TABLE"))
    assert(enumIdx >= 0 && setIdx >= 0 && createIdx > enumIdx)
    // column types rewritten to the registered enum types
    assert(ev(createIdx).contains("size shirts_size"))
    assert(ev(createIdx).contains("tags shirts_tags[]"))
    val checkIdx = ev.indexWhere(_.contains("ADD CONSTRAINT"))
    val commentIdx = ev.indexWhere(_.startsWith("COMMENT ON TABLE"))
    assert(checkIdx > createIdx && commentIdx > createIdx)
  }

  test("failed loads and index DDL surface in the summary, not as aborts") {
    val m = new Migrator(
      executeDdl = (sql, _) =>
        if (sql.startsWith("CREATE UNIQUE INDEX") && sql.contains("big_pkey"))
          throw new RuntimeException("index blew up")
        else (),
      loadTable = (t, _) =>
        if (t.name == "mid") throw new RuntimeException("disk full")
        else (t.size, 0L, 0L))
    val summary = m.migrate(mkCatalog,
      defaults = DefaultCastRules.mysql,
      withFKeys = false, resetSequences = false)
    // mid failed: recorded with its error, everything else loaded
    assert(summary.failedTables.map(_.table) == Seq("mid"))
    assert(summary.failedTables.head.error.get.contains("disk full"))
    assert(summary.totalRows == 1015) // big 1000 + small 10 + tempthing 5
    // big's index DDL failed: collected, run completed anyway
    assert(summary.ddlErrors.exists { case (sql, msg) =>
      sql.contains("big_pkey") && msg.contains("index blew up") })
    // and its PK attach was skipped — attaching a PK USING a missing
    // index would have aborted the post phase
    assert(!summary.postDdl.exists(_.contains("big_pkey")))
  }

  test("post-phase DDL failures are collected, not fatal") {
    val m = new Migrator(
      executeDdl = (sql, _) =>
        if (sql.startsWith("ALTER TABLE") && sql.contains("FOREIGN KEY"))
          throw new RuntimeException("fkey violation")
        else (),
      loadTable = (t, _) => (t.size, 0L, 0L))
    val summary = m.migrate(mkCatalog,
      defaults = DefaultCastRules.mysql, resetSequences = false)
    assert(summary.failedTables.isEmpty)
    assert(summary.ddlErrors.exists { case (sql, msg) =>
      sql.contains("FOREIGN KEY") && msg.contains("fkey violation") })
    // failed FK DDL is not recorded as applied
    assert(!summary.postDdl.exists(_.contains("FOREIGN KEY")))
  }

  test("render surfaces failed tables and ddl errors; exitCode nonzero") {
    val m = new Migrator(
      executeDdl = (sql, _) =>
        if (sql.startsWith("CREATE UNIQUE INDEX") && sql.contains("big_pkey"))
          throw new RuntimeException("index blew up")
        else (),
      loadTable = (t, _) =>
        if (t.name == "mid") throw new RuntimeException("disk full")
        else (t.size, 0L, 0L))
    val summary = m.migrate(mkCatalog,
      defaults = DefaultCastRules.mysql,
      withFKeys = false, resetSequences = false)
    val out = summary.render
    // tolerated failures are VISIBLE in the report text
    assert(out.contains("Failed tables:"))
    assert(out.contains("public.mid: disk full"))
    assert(out.contains("DDL errors (tolerated):"))
    assert(out.contains("index blew up"))
    assert(summary.exitCode == 1)

    val clean = new Migrator((_, _) => (),
      (t, _) => (t.size, 0L, 0L))
    val ok = clean.migrate(mkCatalog, defaults = DefaultCastRules.mysql)
    assert(!ok.render.contains("Failed tables:"))
    assert(ok.exitCode == 0)
  }

  test("sequences: case-sensitive names quote, and a sequence-only " +
    "schema gets CREATE SCHEMA before its CREATE SEQUENCE") {
    // sequence names arrive CASED from CatalogRewrite.caseTargets like
    // every other target identifier; Ddl emits the FINAL name with the
    // shared quote-if-needed rule (folding here would destroy `quote
    // identifiers`-preserved case)
    val cased = CatalogRewrite.caseTargets(
      Catalog("t", sequences = Seq(SequenceDef(
        schema = "Sales", name = "Order-Seq", start = 1, increment = 1,
        minValue = 1, maxValue = 100, current = None, cycling = false))),
      Identifiers.Case.Downcase).sequences.head
    val quoted = Ddl.createSequence(cased)
    assert(quoted.contains("sales.\"order-seq\""), quoted)
    assert(Ddl.dropSequence(cased).contains("sales.\"order-seq\""))
    // quote mode preserves the spelling, quoted at emission
    val preserved = CatalogRewrite.caseTargets(
      Catalog("t", sequences = Seq(SequenceDef(
        "Sales", "Order-Seq", 1, 1, 1, 100, None, cycling = false))),
      Identifiers.Case.Quote).sequences.head
    assert(Ddl.createSequence(preserved)
      .contains("\"Sales\".\"Order-Seq\""))
    // a reserved word still quotes after the downcase
    assert(Ddl.createSequence(SequenceDef(
      "dbo", "order", 1, 1, 1, 100, None, cycling = false))
      .contains("dbo.\"order\""))
    // a sequence in a schema with no tables: the Migrator derives
    // CREATE SCHEMA from table schemas, so the sequence loop must add
    // its own schema first or CREATE SEQUENCE fails
    val events = new ConcurrentLinkedQueue[String]
    val migrator = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) => (t.size, 0L, 0L), workers = 2)
    migrator.migrate(
      mkCatalog.copy(sequences = Seq(SequenceDef(
        schema = "seqs", name = "order_seq", start = 5, increment = 1,
        minValue = 1, maxValue = 1000, current = Some(41),
        cycling = false))),
      defaults = DefaultCastRules.mysql)
    val ev = events.asScala.toSeq
    val schemaIdx = ev.indexWhere(_ == "CREATE SCHEMA IF NOT EXISTS seqs;")
    val seqIdx = ev.indexWhere(_.contains("CREATE SEQUENCE"))
    assert(schemaIdx >= 0 && seqIdx > schemaIdx, ev.take(8))
    assert(ev(seqIdx).contains("seqs.order_seq") &&
      ev(seqIdx).contains("START WITH 42"), ev(seqIdx))
  }

  test("ALTER SCHEMA renames carry sequences; kept() mirrors the " +
    "filter predicate") {
    val cat = mkCatalog.copy(sequences = Seq(SequenceDef(
      schema = "dbo", name = "s1", start = 1, increment = 1,
      minValue = 1, maxValue = 10, current = None, cycling = false)))
    val renamed = CatalogRewrite.alterSchema(cat, Seq("dbo" -> "public2"))
    // a sequence left in the old schema would be silently re-created
    // there on the target while every table followed the rename
    assert(renamed.sequences.map(_.schema) == Seq("public2"))
    // the standalone predicate agrees with filter() — the mssql
    // preflight uses it so EXCLUDING an unreadable table works
    val exc = Seq(TableFilter(
      Seq(NamePattern("legacy_.*", isRegex = true)), inSchema = None))
    assert(!CatalogRewrite.kept("dbo", "legacy_stuff", Nil, exc))
    assert(CatalogRewrite.kept("dbo", "fine_table", Nil, exc))
  }

  test("post-phase DDL is skipped for tables whose copy failed") {
    // big's COPY fails → no PK attach for big, no sequence reset for big,
    // and mid's FK (which REFERENCES big) is skipped too
    val events = new ConcurrentLinkedQueue[String]
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) =>
        if (t.name == "big") throw new RuntimeException("copy died")
        else (t.size, 0L, 0L))
    val summary = m.migrate(mkCatalog, defaults = DefaultCastRules.mysql)
    assert(summary.failedTables.map(_.table) == Seq("big"))
    // no post-phase DDL touches the failed table
    assert(!summary.postDdl.exists(_.contains("big_pkey")))
    assert(!summary.postDdl.exists(sql =>
      sql.contains("setval") && sql.contains("public.big")))
    // mid's FK references big → skipped; mid's own PK still attaches
    assert(!summary.postDdl.exists(_.contains("FOREIGN KEY")))
    assert(summary.postDdl.exists(_.contains("mid_pkey")))
    // and none of it was even ATTEMPTED (not just unrecorded)
    assert(!events.asScala.exists(e =>
      e.contains("ADD PRIMARY KEY") && e.contains("big_pkey")))
    assert(!events.asScala.exists(_.contains("FOREIGN KEY")))
  }

  test("on-update-current-timestamp triggers and extensions DDL") {
    val events = new ConcurrentLinkedQueue[String]
    val cat = Catalog("c",
      schemas = Seq(Schema("public", tables = Seq(Table(
        name = "posts", schema = "public", size = 1,
        fields = Seq(
          SourceColumn("posts", "id", "int(10)"),
          SourceColumn("posts", "updated_at", "timestamp",
            onUpdateCurrentTimestamp = true)))))),
      extensions = Seq("ip4r"))
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (_, _) => { events.add("LOAD:posts"); (1L, 0L, 0L) })
    val summary = m.migrate(cat, defaults = DefaultCastRules.mysql,
      withIndexes = false, withFKeys = false, resetSequences = false)
    val ev = events.asScala.toSeq
    // extension DDL in the PRE phase, before any CREATE TABLE
    val extIdx = ev.indexWhere(_.startsWith(
      """CREATE EXTENSION IF NOT EXISTS "ip4r""""))
    val createIdx = ev.indexWhere(_.startsWith("CREATE TABLE"))
    assert(extIdx >= 0 && createIdx > extIdx)
    assert(summary.preDdl.exists(_.contains("ip4r")))
    // trigger function + trigger in the POST phase, after the load —
    // the bulk copy must never fire the trigger
    val loadIdx = ev.indexOf("LOAD:posts")
    val fnIdx = ev.indexWhere(_.contains(
      "FUNCTION public.on_update_current_timestamp_posts"))
    val trgIdx = ev.indexWhere(_.startsWith(
      "CREATE TRIGGER on_update_current_timestamp"))
    assert(fnIdx > loadIdx && trgIdx > fnIdx)
    assert(ev(fnIdx).contains("NEW.updated_at = now()"))
    assert(ev(trgIdx).contains("BEFORE UPDATE ON public.posts"))
    assert(ev(trgIdx).contains(
      "EXECUTE PROCEDURE public.on_update_current_timestamp_posts()"))

    // a failed copy skips its trigger DDL like all other post-phase DDL
    val m2 = new Migrator(
      executeDdl = (_, _) => (),
      loadTable = (_, _) => throw new RuntimeException("copy died"))
    val s2 = m2.migrate(cat, defaults = DefaultCastRules.mysql,
      withIndexes = false, withFKeys = false, resetSequences = false)
    assert(!s2.postDdl.exists(_.contains("on_update_current_timestamp")))
  }

  test("extensions inferred from cast column types and defaults") {
    val cat = Catalog("c", Seq(Schema("public", tables = Seq(Table(
      name = "t", schema = "public",
      columns = Seq(
        ColumnDef("tags", "hstore", org.apache.spark.sql.types.StringType),
        ColumnDef("id", "uuid", org.apache.spark.sql.types.StringType,
          default = Some("uuid_generate_v4()"))))))))
    assert(Ddl.requiredExtensions(cat) == Seq("hstore", "uuid-ossp"))
    assert(Ddl.requiredExtensions(
      Catalog("e", Seq(Schema("public")))) == Nil)
  }

  test("duplicate index names across tables are uniquified") {
    def tbl(name: String, schema: String = "public") = Table(
      name = name, schema = schema, size = 1,
      fields = Seq(SourceColumn(name, "id", "int(10)")),
      indexes = Seq(Index("idx_common", name, columns = Seq("id"))))
    val cat = Catalog("c", Seq(
      Schema("public", tables = Seq(tbl("a"), tbl("b"))),
      // same index name in ANOTHER schema: no collision, left alone
      Schema("other", tables = Seq(tbl("c", "other")))))
    val uniq = CatalogRewrite.uniquifyIndexNames(cat)
    val pub = uniq.schemas.find(_.name == "public").get
    assert(pub.tables.flatMap(_.indexes).map(_.name) ==
      Seq("idx_common", "idx_common_1"))
    assert(uniq.schemas.find(_.name == "other").get
      .tables.flatMap(_.indexes).map(_.name) == Seq("idx_common"))
    // end-to-end: the emitted CREATE INDEX statements don't collide
    val events = new ConcurrentLinkedQueue[String]
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) => (1L, 0L, 0L))
    m.migrate(cat, defaults = DefaultCastRules.mysql,
      withFKeys = false, resetSequences = false)
    val creates = events.asScala.toSeq.filter(_.startsWith("CREATE INDEX"))
    assert(creates.size == 3)
    // uniqueness is PER SCHEMA: (schema, index-name) pairs are distinct
    val pairs = creates.map { c =>
      (c.split(" ")(4).split("\\.")(0), c.split(" ")(2))
    }
    assert(pairs.distinct.size == 3,
      s"index names must be unique per schema: $creates")
  }

  test("mssql index WHERE filters rewrite to PG and emit in DDL") {
    import graft.catalog.IndexFilters.mssqlToPg
    assert(mssqlToPg("([deleted]=(0))") == "deleted = 0")
    assert(mssqlToPg("[type]<>N'archived'") == "type <> 'archived'")
    assert(mssqlToPg("([a]=(1) AND [b] IS NOT NULL)") ==
      "a = 1 AND b IS NOT NULL")
    // quoted identifiers downcase like unquoted ones — migrated column
    // names are downcased, so [My Col] must become "my col"
    assert(mssqlToPg("([My Col]=(1))") == "\"my col\" = 1")
    assert(mssqlToPg("([price]>=(12.50))") == "price >= 12.50")
    // string literals pass through VERBATIM — rewrites must not fire
    // inside them
    assert(mssqlToPg("([flag]='N')") == "flag = 'N'")
    assert(mssqlToPg("([name]<>'JOHN''S')") == "name <> 'JOHN''S'")
    assert(mssqlToPg("([path]='a=b')") == "path = 'a=b'")
    assert(mssqlToPg("([v]='(1)')") == "v = '(1)'")
    // filtered index → partial-index DDL
    val ddl = Ddl.createIndex(Index("idx_live", "docs",
      columns = Seq("id"), filter = Some(mssqlToPg("([deleted]=(0))"))))
    assert(ddl ==
      "CREATE INDEX idx_live ON public.docs (id) WHERE deleted = 0;")
  }

  test("AFTER CREATE SCHEMA DO runs after DDL and before any load") {
    val events = new ConcurrentLinkedQueue[String]
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (t, _) => { events.add(s"LOAD:${t.name}"); (1L, 0L, 0L) })
    m.migrate(mkCatalog, defaults = DefaultCastRules.mysql,
      afterSchema = Seq("GRANT SELECT ON ALL TABLES IN SCHEMA public TO ro;"),
      withIndexes = false, withFKeys = false, resetSequences = false)
    val ev = events.asScala.toSeq
    val grantIdx = ev.indexWhere(_.startsWith("GRANT SELECT"))
    val lastCreate = ev.lastIndexWhere(_.startsWith("CREATE TABLE"))
    val firstLoad = ev.indexWhere(_.startsWith("LOAD:"))
    assert(grantIdx > lastCreate && grantIdx < firstLoad)
  }

  test("dry-run records the full plan without executing anything") {
    val events = new ConcurrentLinkedQueue[String]
    val loads = new ConcurrentLinkedQueue[String]
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql),
      loadTable = (t, _) => { loads.add(t.name); (1L, 0L, 0L) })
    val summary = m.migrate(mkCatalog, defaults = DefaultCastRules.mysql,
      dryRun = true)
    // nothing executed, no data moved
    assert(events.isEmpty && loads.isEmpty)
    assert(summary.tables.isEmpty && summary.exitCode == 0)
    // but the plan is complete: tables, indexes, PK attach, FKs, setval
    assert(summary.preDdl.count(_.startsWith("CREATE TABLE")) == 4)
    assert(summary.postDdl.exists(_.startsWith("CREATE UNIQUE INDEX")))
    assert(summary.postDdl.exists(_.contains("ADD PRIMARY KEY USING INDEX")))
    assert(summary.postDdl.exists(_.contains("FOREIGN KEY")))
    assert(summary.postDdl.exists(_.contains("setval")))
    // no phase clock on a plan: nothing ran, times would be noise
    assert(summary.phaseEntries.isEmpty)
  }

  test("closure-recreated column types render SCHEMA-QUALIFIED in " +
    "CREATE TABLE; pg-source enums skip the <table>_<column> rewrite") {
    // source search_path made app.mood/app.posint visible UNQUALIFIED
    // in format_type output — the target session's path has no 'app',
    // so the column spelling must be requalified or CREATE TABLE dies
    val events = new ConcurrentLinkedQueue[String]
    val cat = Catalog("postgresql://u@h/db", Seq(Schema("public",
      tables = Seq(Table(
        name = "t", schema = "public", size = 1,
        fields = Seq(
          SourceColumn("t", "m", "mood",
            enumLabels = Some(Seq("'a'", "'b'"))),
          SourceColumn("t", "ms", "mood[]",
            enumLabels = Some(Seq("'a'", "'b'"))),
          SourceColumn("t", "p", "posint")))))),
      customTypes = Seq(
        CustomType("app", "mood", "e", "('a', 'b')"),
        CustomType("app", "posint", "d", "integer CHECK ((VALUE > 0))")),
      searchPath = Seq("app", "public"))
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (_, _) => (1L, 0L, 0L))
    m.migrate(cat, defaults = DefaultCastRules.pgsql,
      withIndexes = false, withFKeys = false, resetSequences = false)
    val ev = events.asScala.toSeq
    // the closure created the source-named types, schema-qualified
    assert(ev.exists(_.startsWith("CREATE TYPE \"app\".\"mood\" AS ENUM")))
    assert(ev.exists(_.startsWith("CREATE DOMAIN \"app\".\"posint\"")))
    // NO <table>_<column> duplicate enum
    assert(!ev.exists(_.contains("t_m ")), ev.mkString("; "))
    // the column spellings were requalified (array dims preserved)
    val create = ev.find(_.startsWith("CREATE TABLE")).get
    assert(create.contains("m \"app\".\"mood\""), create)
    assert(create.contains("ms \"app\".\"mood\"[]"), create)
    assert(create.contains("p \"app\".\"posint\""), create)
  }

  test("identifier collision check fails fast") {
    val longA = "public." + ("x" * 62) + "a"
    val longB = ("x" * 62) + "b"
    val cat = Catalog("c", Seq(Schema("public", tables = Seq(
      Table(name = ("x" * 62) + "ay", schema = "public"),
      Table(name = ("x" * 62) + "az", schema = "public")))))
    val m = new Migrator((_, _) => (), (_, _) => (0L, 0L, 0L))
    val e = intercept[IllegalArgumentException](m.migrate(cat))
    assert(e.getMessage.contains("collision"))
  }

  test("WITH drop schema drops each target schema CASCADE before " +
    "recreating; preserve index names skips the uniquify") {
    val events = new ConcurrentLinkedQueue[String]
    def mkCat = Catalog("u", Seq(Schema("app", tables = Seq(
      Table(name = "a", schema = "app",
        fields = Seq(SourceColumn("a", "id", "int")),
        indexes = Seq(Index("same_name", "a", columns = Seq("id")))),
      Table(name = "b", schema = "app",
        fields = Seq(SourceColumn("b", "id", "int")),
        indexes = Seq(Index("same_name", "b", columns = Seq("id"))))))))
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (_, _) => (0L, 0L, 0L))
    m.migrate(mkCat, defaults = DefaultCastRules.mssql, dropSchema = true)
    val ev = events.asScala.toSeq
    val drop = ev.indexWhere(_ == "DROP SCHEMA IF EXISTS app CASCADE;")
    val create = ev.indexWhere(_ == "CREATE SCHEMA IF NOT EXISTS app;")
    assert(drop >= 0 && create > drop, ev.mkString("; "))
    // default: table-scoped source index names uniquify per schema
    assert(ev.exists(_.contains("same_name_1")))
    events.clear()
    m.migrate(mkCat, defaults = DefaultCastRules.mssql,
      preserveIndexNames = true)
    val ev2 = events.asScala.toSeq
    assert(ev2.count(_.contains("INDEX same_name ")) == 2,
      ev2.filter(_.contains("INDEX")).mkString("; "))
    assert(!ev2.exists(_.contains("same_name_1")))
  }

  test("WITH on error stop: the first failed table latches and later " +
    "copies record a visible skip") {
    val m = new Migrator(
      executeDdl = (_, _) => (),
      loadTable = (t, _) =>
        if (t.name == "big") sys.error("disk full")
        else { Thread.sleep(30); (t.size, 0L, 0L) },
      workers = 1) // serial: big (largest) fails first, rest must skip
    val summary = m.migrate(mkCatalog,
      defaults = graft.casting.DefaultCastRules.mysql,
      stopOnError = true, withFKeys = false, resetSequences = false)
    val byName = summary.tables.map(t => t.table -> t.error).toMap
    assert(byName("big").exists(_.contains("disk full")))
    val skipped = summary.tables.filter(
      _.error.exists(_.contains("skipped (on error stop)")))
    assert(skipped.nonEmpty, summary.tables.mkString("; "))
    assert(summary.exitCode == 1)
  }

  test("schema only: every DDL phase runs, no data moves") {
    val events = new ConcurrentLinkedQueue[String]
    var loads = 0
    val m = new Migrator(
      executeDdl = (sql, _) => events.add(sql.replaceAll("\\s+", " ")),
      loadTable = (_, _) => { loads += 1; (1L, 0L, 0L) })
    val summary = m.migrate(mkCatalog,
      defaults = DefaultCastRules.mysql, copyData = false)
    assert(loads == 0, "schema only must not call loadTable")
    val ev = events.asScala.toSeq
    // tables, indexes, PK attaches, FKs and sequence resets all ran
    assert(ev.exists(_.startsWith("CREATE TABLE")))
    assert(ev.exists(_.startsWith("CREATE UNIQUE INDEX")))
    assert(ev.exists(_.contains("ADD PRIMARY KEY USING INDEX")))
    assert(ev.exists(_.contains("FOREIGN KEY")))
    assert(summary.tables.forall(t => t.rows == 0 && t.error.isEmpty))
    assert(summary.exitCode == 0)
  }

  test("create no indexes / no foreign keys parse and gate their phases") {
    val text =
      """LOAD DATABASE FROM pgsql://u@h/src INTO pgsql://u@h/dst
         WITH create no indexes, no foreign keys, schema only;"""
    val (cmd, _) = graft.dsl.Parser.parseWithInline(text, ".")
    assert(cmd.boolOption("create no indexes"))
    assert(cmd.boolOption("no foreign keys"))
    assert(cmd.boolOption("schema only"))
    assert(!cmd.boolOption("create indexes"))
    assert(!cmd.boolOption("foreign keys"))
    // the reference's other (? kw-no) spellings parse too
    val (cmd2, _) = graft.dsl.Parser.parseWithInline(
      """LOAD DATABASE FROM pgsql://u@h/src INTO pgsql://u@h/dst
         WITH no truncate, disable no triggers, drop no indexes;""", ".")
    assert(cmd2.boolOption("no truncate"))
    assert(cmd2.boolOption("disable no triggers"))
    assert(cmd2.boolOption("drop no indexes"))
  }
}
