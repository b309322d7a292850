package graft.orchestration

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.casting.CastRule
import graft.catalog._
import graft.dsl.Ast.{AlterTableRule, TableFilter}

/** Per-table load outcome for the summary report
  * (src/utils/state.lisp:11-50; clojure summary.clj:1-167). A load that
  * threw is recorded here with its message instead of aborting the whole
  * migration (the reference keeps going and reports per-table errors). */
final case class TableStats(schema: String, table: String, rows: Long,
                            rejected: Long, millis: Long,
                            error: Option[String] = None,
                            bytes: Long = 0L)

/** One itemized phase-timing row for the summary report — the
  * reference's named pre/post stats entries ("fetch meta data",
  * "Create tables", "COPY Wall-Clock Time", "Create Indexes",
  * "Primary Keys", "Create Foreign Keys", "Create Check Constraints",
  * "Reset Sequences"; core.clj stats/new-entry!/update-entry! sites
  * at :513,:716,:769,:779,:1001-1059). `section` is "pre" or "post";
  * `rows` counts the statements/objects the step processed; `nanos`
  * is the step's wall time. */
final case class PhaseEntry(section: String, label: String,
                            rows: Long, nanos: Long)

/** Three-section migration summary: pre (DDL), data (per-table stats),
  * post (indexes/PKs/FKs/sequences), like the reference's report.
  * `ddlErrors` collects index/post-phase DDL failures (statement →
  * message) that did not abort the run. `phaseEntries` itemizes the
  * pre/post phases with real wall times ([[PhaseEntry]]); empty for
  * dry runs and for loads that predate the phase clock. */
final case class Summary(preDdl: Seq[String], tables: Seq[TableStats],
                         postDdl: Seq[String], totalMillis: Long,
                         ddlErrors: Seq[(String, String)] = Nil,
                         phaseEntries: Seq[PhaseEntry] = Nil) {
  def totalRows: Long = tables.map(_.rows).sum
  def totalRejected: Long = tables.map(_.rejected).sum
  def totalBytes: Long = tables.map(_.bytes).sum
  def failedTables: Seq[TableStats] = tables.filter(_.error.nonEmpty)

  /** pgloader-style fixed-width report (summary.clj format). */
  def render: String = {
    val sb = new StringBuilder
    sb.append(f"${"table name"}%-30s ${"rows"}%10s ${"errors"}%8s ${"time"}%8s\n")
    sb.append("-" * 60).append('\n')
    tables.foreach { t =>
      sb.append(f"${t.schema + "." + t.table}%-30s ${t.rows}%10d " +
        f"${t.rejected}%8d ${t.millis / 1000.0}%7.1fs\n")
    }
    sb.append("-" * 60).append('\n')
    sb.append(f"${"Total"}%-30s $totalRows%10d $totalRejected%8d " +
      f"${totalMillis / 1000.0}%7.1fs\n")
    // tolerated failures must be VISIBLE in the report, not only in the
    // Summary fields — the reference prints its error log inline
    if (failedTables.nonEmpty) {
      sb.append('\n').append("Failed tables:\n")
      failedTables.foreach(t =>
        sb.append(s"  ${t.schema}.${t.table}: ${t.error.getOrElse("?")}\n"))
    }
    if (ddlErrors.nonEmpty) {
      sb.append('\n').append("DDL errors (tolerated):\n")
      ddlErrors.foreach { case (sql, msg) =>
        sb.append(s"  $sql\n    -> $msg\n")
      }
    }
    sb.toString
  }

  /** Non-zero when anything went wrong — the CLI exit code
    * (reference report-full-summary → *exit-code*). */
  def exitCode: Int =
    if (failedTables.nonEmpty || ddlErrors.nonEmpty || totalRejected > 0) 1
    else 0
}

/** The migrate-database orchestrator (migrate-database.lisp:326-574;
  * clojure core.clj:411-1104), Spark-adapted: per-table loads are
  * independent Spark jobs submitted from a driver thread pool; index
  * builds for a finished table overlap the remaining copies on a second
  * pool; PK attach / FKs / sequence resets run after everything.
  *
  * Session parameters (`SET guc`, `WITH disable triggers` → replica
  * role) are PER-CONNECTION state in PostgreSQL, and every hook here may
  * open a fresh connection — so the hooks receive the session-setup
  * statements and must apply them on each connection they open, exactly
  * like the reference applies its GUC list when opening every pgconn
  * (pgsql/connection.lisp set-session-gucs; core.clj:818-825).
  *
  * @param executeDdl runs one DDL statement on the target, after applying
  *   the given session-setup statements on the same connection (the
  *   CLI passes [[graft.sinks.PgWireDdlExecutor]]; a recorder in tests)
  * @param loadTable runs the data copy for one table; the session-setup
  *   statements must reach every endpoint connection the load opens;
  *   returns (rowsSent, rowsRejected, bytesSent)
  */
/** @param maxParallelIndexes `WITH max parallel create index = n`;
  *   0 = auto-size the pool to the catalog's max-indexes-per-table
  *   (catalog.lisp:513-524; core.clj:655-662). */
final class Migrator(
    executeDdl: (String, Seq[String]) => Unit,
    loadTable: (Table, Seq[String]) => (Long, Long, Long),
    workers: Int = 4,
    maxParallelIndexes: Int = 0) {

  def migrate(cat0: Catalog,
              userCast: Seq[CastRule] = Nil,
              defaults: Seq[CastRule] = Nil,
              including: Seq[TableFilter] = Nil,
              excluding: Seq[TableFilter] = Nil,
              alterSchema: Seq[(String, String)] = Nil,
              alterTable: Seq[AlterTableRule] = Nil,
              truncate: Boolean = false,
              createTables: Boolean = true,
              /** WITH include drop: drop each target table (CASCADE)
                * before re-creating it — the reference's re-run flow
                * (migrate-database.lisp prepare-pgsql-database). */
              includeDrop: Boolean = false,
              withIndexes: Boolean = true,
              withFKeys: Boolean = true,
              /** `WITH schema only` (migrate-database.lisp:358
                * copy-data): run every DDL phase — tables, indexes,
                * PKs, FKs, sequences — but move NO data. */
              copyData: Boolean = true,
              resetSequences: Boolean = true,
              beforeLoad: Seq[String] = Nil,
              /** AFTER CREATE SCHEMA DO — between target DDL and the
                * data phase (command-sql-block.lisp:61;
                * migrate-database.lisp:459-465). */
              afterSchema: Seq[String] = Nil,
              afterLoad: Seq[String] = Nil,
              /** FINALLY DO/EXECUTE — the very last statements, after
                * AFTER LOAD DO (command-sql-block.lisp:52-55). */
              finallyDo: Seq[String] = Nil,
              setParams: Seq[(String, String)] = Nil,
              disableTriggers: Boolean = false,
              /** target identifier casing for COLUMN names (table
                * names are cased by the caller before the catalog
                * arrives — they also name the source reads, so only
                * the caller can split name from sourceName). */
              idCase: Identifiers.Case = Identifiers.Case.Downcase,
              /** `WITH drop schema`: drop each target schema CASCADE
                * before recreating (core.clj:672-684). */
              dropSchema: Boolean = false,
              /** `WITH preserve index names`: keep source index names
                * verbatim instead of uniquifying collisions (the
                * reference's preserve-index-names / the uniquify
                * default — core.clj:746-753). */
              preserveIndexNames: Boolean = false,
              /** `WITH on error stop` (params.lisp:83): the first
                * failed table load aborts the remaining copies — the
                * reference quits instead of continuing per-table. */
              stopOnError: Boolean = false,
              dryRun: Boolean = false): Summary = {
    val t0 = System.nanoTime()

    // session-setup statements, applied by the hooks on EVERY connection
    // they open (GUCs and replica role are per-connection state). GUCs
    // (SET params, core.clj:518-545, 1061-1075) go to ALL connections;
    // the trigger-disabling replica role is scoped to the data-copy
    // connections ONLY (core.clj:821,909 sets replica around copy-table
    // and resets to origin) — DDL and user BEFORE/AFTER LOAD DO must run
    // with triggers and FK enforcement live.
    val gucSql: Seq[String] =
      setParams.map { case (k, v) => s"SET $k = '$v';" }
    val copySessionSql: Seq[String] =
      gucSql ++
        (if (disableTriggers)
           Seq("SET session_replication_role = 'replica';")
         else Nil)
    // dry-run (reference --dry-run, core.clj): the full catalog pipeline
    // runs — rewrites, collision check, cast, DDL GENERATION — but no
    // hook is ever called and no data moves; the Summary carries every
    // statement that WOULD have run, as a reviewable plan
    def ddl(sql: String): Unit = if (!dryRun) executeDdl(sql, gucSql)

    // (BEFORE LOAD DO runs below, after driver-side catalog validation
    // — it mutates the TARGET, and a run the collision check is about
    // to abort must not have executed the user's statements first; it
    // is also recorded in Summary.preDdl so dry-run plans carry it)

    // ---- 1. process-catalog (migrate-database.lisp:253-302)
    var cat = CatalogRewrite.filter(cat0, including, excluding)
    cat = CatalogRewrite.alterSchema(cat, alterSchema)
    cat = CatalogRewrite.alterTable(cat, alterTable)
    // TARGET identifier casing: table names before the collision check
    // (PG collides on the names it will actually create)
    cat = CatalogRewrite.caseTargets(cat, idCase)
    // source index names are table-scoped; PG's are schema-scoped
    // (core.clj:746-753) — dedupe before any CREATE INDEX. AFTER the
    // casing step: downcase/snake_case can itself create duplicates
    // (MyIdx vs myidx), so uniquify must see the FINAL names
    if (!preserveIndexNames)
      cat = CatalogRewrite.uniquifyIndexNames(cat)
    // PG truncates each IDENTIFIER to 63 bytes, never the qualified
    // pair — truncating "schema.name" as one string would spuriously
    // collide legal sub-63-byte names whose qualified spelling crosses
    // the boundary; collide per schema on the table name alone
    val collisions = cat.allTables.groupBy(_.schema).flatMap {
      case (sch, ts) => Identifiers.collisions(ts.map(_.name))
        .map { case (k, v) => s"$sch.$k" -> v }
    }
    require(collisions.isEmpty,
      s"identifier collision after 63-byte truncation: $collisions")
    cat = cat.cast(userCast, defaults)
    // the COLUMN half of the target casing needs the post-cast shape
    cat = CatalogRewrite.caseColumns(cat, idCase)
    // per-table COLUMN collisions after 63-byte truncation, on the
    // names PG will actually receive — every instance accumulated and
    // reported together before aborting (migrate-database.lisp:266-284;
    // core.clj:595-614)
    val colCollisions = Identifiers.columnCollisions(cat)
    if (colCollisions.nonEmpty) {
      colCollisions.foreach { case (sch, tbl, eff, cols) =>
        System.err.println(s"[graft] $sch.$tbl: column name collision" +
          s" — ${cols.mkString(", ")} all truncate to $eff")
      }
      throw new IllegalArgumentException(
        s"${colCollisions.size} column name collision(s) found in " +
          "source catalog: PostgreSQL limits identifiers to 63 bytes " +
          "and the columns reported above become identical after " +
          "truncation. Rename them in the source before migrating.")
    }

    // itemized pre/post wall times for the summary report (the
    // reference's named stats entries — see [[PhaseEntry]]); dry runs
    // skip them: no work happens, so the times would be noise
    val phaseEntries = Seq.newBuilder[PhaseEntry]

    // ---- 2. prepare target (prepare-pgsql-database :11-150)
    val pre = Seq.newBuilder[String]
    val preT0 = System.nanoTime()
    def preDdl(sql: String): Unit = { ddl(sql); pre += sql }
    // BEFORE LOAD DO, ahead of any schema DDL (and inside the plan)
    beforeLoad.foreach(preDdl)
    // WITH drop schema: drop each target schema wholesale before
    // recreating (core.clj:672-684 — executed once per schema ahead
    // of per-table DDL; only sane when tables are being recreated)
    if (dropSchema && createTables)
      cat.schemas.filter(_.name.nonEmpty).foreach(s =>
        preDdl(Ddl.dropSchema(s.name)))
    cat.schemas.filter(_.name.nonEmpty).foreach(s =>
      preDdl(Ddl.createSchema(s.name)))
    // user-defined sequences right after the schemas, before any table
    // references them (migrate-database.lisp:65-70); a sequence living
    // in a schema that holds no tables still needs its schema created —
    // the loop above derives schemas from tables only
    cat.sequences.map(_.schema).distinct.filter(_.nonEmpty)
      .filterNot(s => cat.schemas.exists(_.name == s))
      .foreach(s => preDdl(Ddl.createSequenceSchema(s)))
    cat.sequences.foreach { sq =>
      if (includeDrop) preDdl(Ddl.dropSequence(sq))
      preDdl(Ddl.createSequence(sq))
    }
    // extensions before any table DDL — a column typed hstore/ip4r or
    // defaulted with uuid_generate_v4() needs its extension installed
    // first (core.clj:227-265)
    (cat.extensions ++ Ddl.requiredExtensions(cat)).distinct
      .foreach(e => preDdl(Ddl.createExtension(e)))
    // dynamic ENUM types for enum/set source columns, and rewrite the
    // column's placeholder pg type to the registered type name
    // (mysql-cast-rules.lisp:260-301; ddl/common.clj:557-574)
    if (createTables) {
      if (includeDrop)
        cat.allTables.foreach(t => preDdl(Ddl.dropTable(t)))
      // pg-source user-defined types (domains, composites, ranges +
      // enums nested inside them), recreated before any table
      // references them — the same completeness story enums got,
      // for the families a single column field can't carry. NEEDED
      // subset only, computed on the POST-cast catalog: a user
      // `CAST type posint_src to int4` removes the column's
      // reference and the type is not recreated. Emitted in
      // dependency order (refs first); drops run reversed, after
      // the table drops (CASCADE would otherwise chase still-
      // existing tables from a prior run).
      val neededTypes = graft.catalog.CustomTypes.needed(cat)
      // a column whose type the closure recreates keeps that
      // source-named type — the <table>_<column> rewrite below is for
      // sources whose enums are INLINE column types (MySQL enum/set);
      // running both created the source-named enum unused and, under
      // include drop, a gratuitous extra DROP TYPE CASCADE
      val closureResolved = graft.catalog.CustomTypes.resolver(cat)
      val neededKeys =
        neededTypes.map(ct => s"${ct.schema}.${ct.name}").toSet
      neededTypes.map(_.schema).distinct
        .filter(s => s.nonEmpty && s != "public")
        .filterNot(s => cat.schemas.exists(_.name == s))
        .foreach(s => preDdl("CREATE SCHEMA IF NOT EXISTS " +
          s"${graft.catalog.CustomTypes.quoteIdent(s)};"))
      if (includeDrop)
        neededTypes.reverse.foreach(ct =>
          preDdl(graft.catalog.CustomTypes.dropSql(ct)))
      neededTypes.foreach(ct =>
        preDdl(graft.catalog.CustomTypes.createSql(ct)))
      cat = cat.copy(schemas = cat.schemas.map(s => s.copy(
        tables = s.tables.map { t =>
          val patched = t.columns.map { c =>
            val field = t.fields.find(_.name == c.name)
            val isEnumish = field.exists(f =>
              f.typeName == "enum" || f.typeName == "set")
            // PG-source enums carry their labels in the IR and keep
            // the REAL source type name — which only needs a dynamic
            // type when no user CAST rule retargeted the column (a
            // passthrough pgType still equals the source ctype; a
            // user `CAST type mood to text` leaves pgType = text and
            // this block alone)
            val pgEnum = field.exists(f =>
              f.enumLabels.nonEmpty && c.pgType == f.ctype) &&
              // the custom-type closure already recreates this very
              // type under its source name — keep the column on it
              !closureResolved(c.pgType).exists(ct =>
                neededKeys(s"${ct.schema}.${ct.name}"))
            if ((isEnumish &&
                  (c.pgType == "enum" || c.pgType == "enum[]")) ||
                pgEnum) {
              // SCHEMA-qualified type name: two same-named tables in
              // different schemas would otherwise fight over one type;
              // includeDrop drops it first — DROP TABLE CASCADE does
              // not remove types, so the documented re-run flow would
              // abort on "type already exists" in the intolerant pre
              // phase
              // qualified OUTSIDE the default schema only: two
              // same-named tables in different schemas must not fight
              // over one type, while public-schema types keep the
              // reference's bare `<table>_<column>` name
              // quote-if-needed parts: under `quote identifiers` a
              // preserved MixedCase table yields a MixedCase type name,
              // and an unquoted CREATE TYPE would fold it while the
              // column's pgType spelling (emitted through createTable)
              // must reference the same object
              val tn =
                if (t.schema.nonEmpty && t.schema != "public")
                  Ddl.qualified(t.schema, s"${t.name}_${c.name}")
                else Ddl.ident(s"${t.name}_${c.name}")
              if (includeDrop)
                preDdl(s"DROP TYPE IF EXISTS $tn CASCADE;")
              val labels = field.get.enumLabels.getOrElse(
                Ddl.enumLabels(field.get.ctype))
              preDdl(Ddl.createEnum(tn, labels))
              c.copy(pgType =
                if (c.pgType.endsWith("[]")) tn + "[]" else tn)
            } else closureResolved(c.pgType) match {
              // a closure-recreated type: rewrite the column to the
              // CANONICAL schema-qualified spelling. format_type
              // rendered the name UNQUALIFIED whenever it was visible
              // on the SOURCE search path — but the TARGET session's
              // path need not contain that schema, so `m mood` for a
              // non-public app.mood would abort CREATE TABLE with
              // 'type "mood" does not exist'. Multirange columns
              // resolve to their 'm' alias row (not in neededKeys —
              // its range's CREATE makes it) and qualify the same way.
              case Some(ct) =>
                var base = c.pgType.trim
                var dims = 0
                while (base.endsWith("[]")) {
                  dims += 1; base = base.stripSuffix("[]").trim
                }
                c.copy(pgType = graft.catalog.CustomTypes.qname(ct) +
                  "[]" * dims)
              case None => c
            }
          }
          t.copy(columns = patched)
        })))
      cat.allTables.foreach(t => preDdl(Ddl.createTable(t,
        pgNativeDefaults = cat0.pgNativeDefaults)))
    }
    if (truncate) cat.allTables.foreach(t => preDdl(Ddl.truncate(t)))
    // AFTER CREATE SCHEMA DO: the schema exists, no data has moved yet
    afterSchema.foreach(preDdl)
    // reference "Create tables" pre entry (core.clj:716,764-766):
    // rows = catalog table count, nanos = the whole target-prepare wall
    if (!dryRun)
      phaseEntries += PhaseEntry("pre", "Create tables",
        cat.allTables.size.toLong, System.nanoTime() - preT0)

    // ---- 3. data phase: biggest tables first
    // (optimize-table-copy-ordering :304-320), index builds overlapping
    // remaining copies (:511-559)
    val ordered = cat.allTables.sortBy(-_.rowCountEstimate)
    val copyPool = Executors.newFixedThreadPool(math.max(1, workers))
    val indexPoolSize =
      if (maxParallelIndexes > 0) maxParallelIndexes
      else math.max(1,
        cat.allTables.map(_.indexes.size).maxOption.getOrElse(1))
    val indexPool = Executors.newFixedThreadPool(indexPoolSize)
    val stats = new ConcurrentLinkedQueue[TableStats]
    val ddlErrors = new ConcurrentLinkedQueue[(String, String)]
    // index builds that failed — their PK attach must be skipped later
    // (attaching a PK USING a missing index would abort the run)
    val failedIndexes = new ConcurrentLinkedQueue[(String, String)]
    val indexFutures =
      new ConcurrentLinkedQueue[java.util.concurrent.Future[_]]
    // wall clock of the first index SUBMIT — "Create Indexes" measures
    // from there to the last build's completion (core.clj idx-wall-t0),
    // so it reports how long index work extended past its start, most
    // of which overlaps the remaining copies
    val idxWallT0 = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      val copyT0 = System.nanoTime()
      // `WITH on error stop`: latched by the first failed load; later
      // copies record a visible skip row instead of loading
      val abortCopies = new java.util.concurrent.atomic.AtomicBoolean(false)
      val copyFutures = if (dryRun) Nil else ordered.map { t =>
        copyPool.submit(new Runnable {
          def run(): Unit = {
            val s0 = System.nanoTime()
            if (stopOnError && abortCopies.get()) {
              stats.add(TableStats(t.schema, t.name, 0L, 0L, 0L,
                error = Some("skipped (on error stop)")))
              return
            }
            // a failed table is reported in the summary, not fatal — the
            // other copies keep going (reference per-table error state;
            // under stopOnError the latch above ends the run instead)
            try {
              val (rows, rejected, bytes) =
                if (copyData) loadTable(t, copySessionSql)
                else (0L, 0L, 0L) // schema only: DDL phases, no data
              stats.add(TableStats(t.schema, t.name, rows, rejected,
                (System.nanoTime() - s0) / 1000000, bytes = bytes))
              // this table is done copying → build its indexes NOW, while
              // other tables may still be loading
              if (withIndexes) t.indexes.foreach { i =>
                idxWallT0.compareAndSet(0L, System.nanoTime())
                indexFutures.add(indexPool.submit(new Runnable {
                  def run(): Unit = {
                    val sql = Ddl.createIndex(i, t.schema)
                    try ddl(sql) catch {
                      case e: Exception =>
                        ddlErrors.add((sql, e.getMessage))
                        failedIndexes.add((t.schema, i.name))
                    }
                  }
                }))
              }
            } catch {
              // NonFatal only: OOM / interrupts must propagate, not be
              // folded into a per-table summary row
              case scala.util.control.NonFatal(e) =>
                if (stopOnError) abortCopies.set(true)
                stats.add(TableStats(t.schema, t.name, 0L, 0L,
                  (System.nanoTime() - s0) / 1000000,
                  error = Some(Option(e.getMessage).getOrElse(e.toString))))
            }
          }
        })
      }
      copyFutures.foreach(_.get())
      if (!dryRun)
        phaseEntries += PhaseEntry("post", "COPY Wall-Clock Time", 0L,
          System.nanoTime() - copyT0)
      indexFutures.asScala.foreach(_.get())
      if (!dryRun && withIndexes && !indexFutures.isEmpty)
        phaseEntries += PhaseEntry("post", "Create Indexes",
          indexFutures.size.toLong, System.nanoTime() - idxWallT0.get())
    } finally {
      // never leak the non-daemon pools, whatever threw above
      copyPool.shutdownNow()
      indexPool.shutdownNow()
      indexPool.awaitTermination(1, TimeUnit.HOURS)
    }

    // ---- 4. post phase (complete-pgsql-database :153-250) — failure
    // tolerant like the index phase: a bad FK or comment is collected in
    // ddlErrors, it does not abort the migration. Tables whose COPY failed
    // are excluded from ALL post-phase DDL, like the reference's
    // @failed-tables set — attaching a PK to a half-loaded table or an FK
    // referencing one would either fail or, worse, succeed misleadingly.
    val failedCopies: Set[(String, String)] =
      stats.asScala.filter(_.error.nonEmpty)
        .map(s => (s.schema, s.table)).toSet
    val okTables = cat.allTables
      .filterNot(t => failedCopies((t.schema, t.name)))
    val post = Seq.newBuilder[String]
    var postCount = 0L
    def postDdl(sql: String): Unit = {
      postCount += 1
      try { ddl(sql); post += sql } catch {
        case scala.util.control.NonFatal(e) =>
          ddlErrors.add((sql, Option(e.getMessage).getOrElse(e.toString)))
      }
    }
    // timed post step: rows = statements attempted inside `body`
    // (failures land in ddlErrors but still count as attempted, like
    // the reference's exec-post-ddl! accounting); `always` emits the
    // entry even when the step had nothing to do (the reference
    // creates "Create Foreign Keys"/"Reset Sequences" entries whenever
    // the option is on, but "Primary Keys"/"Create Check Constraints"
    // only when work exists — core.clj:1007,1016,1042,1050)
    def timedPost(label: String, always: Boolean)(body: => Unit): Unit = {
      val t = System.nanoTime(); val n0 = postCount
      body
      val n = postCount - n0
      if (!dryRun && (always || n > 0))
        phaseEntries += PhaseEntry("post", label, n,
          System.nanoTime() - t)
    }
    // the index builds interleave with the data phase in a REAL run
    // (executed concurrently via ddl()); record the successful ones in
    // the summary here so the report matches what a dry-run plans —
    // otherwise CREATE INDEX statements vanish from postDdl exactly
    // when they ran
    if (!dryRun && withIndexes)
      okTables.foreach(t => t.indexes
        .filterNot(i => failedIndexes.contains((t.schema, i.name)))
        .foreach(i => post += Ddl.createIndex(i, t.schema)))
    // dry-run: the index builds that normally interleave with the data
    // phase still belong in the reviewable plan
    if (dryRun && withIndexes)
      okTables.foreach(t => t.indexes.foreach(i =>
        postDdl(Ddl.createIndex(i, t.schema))))
    if (withIndexes)
      timedPost("Primary Keys", always = false) {
        okTables.foreach(t => t.indexes.filter(_.primary)
          // an index whose build failed has nothing to attach the PK to
          .filterNot(i => failedIndexes.contains((t.schema, i.name)))
          .foreach(i => postDdl(Ddl.attachPrimaryKey(i, t.schema))))
      }
    if (withFKeys)
      timedPost("Create Foreign Keys", always = true) {
        okTables.foreach(t =>
          // the REFERENCED side of an FK must have loaded too —
          // resolved in the fkey's foreign schema (cross-schema
          // REFERENCES, catalog.lisp:91-93)
          t.fkeys.filterNot(f =>
            failedCopies((f.foreignSchemaOr(t.schema), f.foreignTable)))
            .foreach(f => postDdl(Ddl.addFKey(f, t.schema))))
      }
    if (resetSequences)
      timedPost("Reset Sequences", always = true) {
        okTables.foreach(t =>
          t.columns.filter(c =>
            c.pgType == "serial" || c.pgType == "bigserial")
            .foreach(c => postDdl(Ddl.resetSequence(t, c.name))))
      }
    timedPost("Create Check Constraints", always = false) {
      okTables.foreach { t =>
        t.checks.zipWithIndex.foreach { case (ck, i) =>
          postDdl(Ddl.addCheck(t,
            ck.name.getOrElse(s"${t.name}_check_$i"), ck.expr,
            valid = ck.valid)) }
        t.exclusions.zipWithIndex.foreach { case (x, i) =>
          postDdl(Ddl.addExclusion(t,
            x.name.getOrElse(s"${t.name}_excl_$i"), x.expr)) }
      }
    }
    timedPost("Install Comments", always = false) {
      okTables.foreach { t =>
        t.comment.foreach(cm => postDdl(Ddl.commentOnTable(t, cm)))
        t.columns.foreach(c =>
          c.comment.foreach(cm => postDdl(Ddl.commentOnColumn(t, c, cm))))
      }
    }
    // MySQL ON UPDATE CURRENT_TIMESTAMP → plpgsql trigger emulation
    // (pgsql-trigger.lisp; ddl/common.clj:576-601). Created AFTER the data
    // phase so the bulk load never fires them.
    okTables.foreach { t =>
      // TARGET column names: the trigger body references the CREATED
      // columns, which the casing step may have renamed from the raw
      // field spelling (fields and columns stay index-aligned through
      // cast + caseColumns + the enum patch)
      val cols = t.fields.zip(t.columns)
        .filter(_._1.onUpdateCurrentTimestamp).map(_._2.name)
      if (cols.nonEmpty) {
        postDdl(Ddl.onUpdateTriggerFunction(t, cols))
        postDdl(Ddl.onUpdateTrigger(t))
      }
    }
    // no replica-role restore needed: the role was per-connection session
    // setup, and every connection that carried it is closed by now
    // AFTER LOAD DO, then FINALLY, last (core.clj:518-545)
    afterLoad.foreach { sql => ddl(sql); post += sql }
    finallyDo.foreach { sql => ddl(sql); post += sql }

    // ---- 5. summary
    val byName = ordered.map(t => (t.schema, t.name)).zipWithIndex.toMap
    Summary(pre.result(),
      stats.asScala.toSeq.sortBy(s => byName((s.schema, s.table))),
      post.result(), (System.nanoTime() - t0) / 1000000,
      ddlErrors.asScala.toSeq, phaseEntries.result())
  }
}
