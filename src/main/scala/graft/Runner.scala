package graft

import org.apache.spark.sql.SparkSession
import graft.dsl.{Ast, Parser, PlanBuilder}
import graft.orchestration.TableStats
import graft.sinks.{CopyEndpoint, CopySink}
import graft.sources.Archive

/** The engine's top-level entry point: run a `.load` command end-to-end —
  * parse → plan → BEFORE LOAD DO → sink → AFTER LOAD DO — the Spark
  * realization of `pgloader file.load` (v3 api.lisp:29
  * process-command-file; v4 core.clj:411 run-command).
  *
  * Session parameters (`SET guc TO v`, `WITH disable triggers`) are
  * per-connection PostgreSQL state, so both hooks receive the command's
  * session-setup statements and must apply them on every connection they
  * open (the reference applies its GUC list when opening each pgconn).
  *
  * @param executeDdl  target DDL hook, (sql, sessionSetup) (the CLI
  *   passes a pooled wire-protocol [[graft.sinks.PgWireDdlExecutor]];
  *   a recorder in tests)
  * @param endpointFactory COPY endpoint per partition, given (COPY
  *   target — the quoted table plus any column list — and
  *   sessionSetup) ([[graft.sinks.PgWireCopyEndpoint]] in the CLI,
  *   or test doubles)
  * @param rejectRoot when set, each table's rejected rows land under
  *   `<root>/<table>.dat/` (the reference's root-dir/<table>.dat): rows
  *   the server refused as replayable COPY TEXT in `part-*.dat`, source
  *   lines that did not decode or parse as read in `part-*.txt`, and
  *   one message per reject in `<root>/<table>.log/part-*.log`. Both
  *   directories are cleared when the table's load starts. Rejects of
  *   either kind are counted into the stats with or without a root —
  *   the COPY job's own scan finds them
  * @param queryTarget read-only SQL against the target, rows as string
  *   arrays (used by `WITH drop indexes` to list the target table's
  *   index definitions); null disables the option with a clear error
  * @param binaryEndpointFactory ignored: every table loads through
  *   `endpointFactory`'s COPY TEXT. Kept so callers built against the
  *   retired COPY BINARY sink still compile; never called
  */
final class Runner(executeDdl: (String, Seq[String]) => Unit,
                   endpointFactory: (String, Seq[String]) => Int => CopyEndpoint,
                   rejectRoot: Option[String] = None,
                   queryTarget: String => Seq[Array[String]] = null,
                   binaryEndpointFactory:
                     (String, Seq[String]) => Int => CopyEndpoint = null,
                   /** `--dry-run`: database migrations run the whole
                     * catalog pipeline and record every statement that
                     * WOULD run in the Summary, but call no hook and
                     * move no data (the reference CLI's --dry-run). */
                   dryRun: Boolean = false) {

  /** Full summaries of the DATABASE loads this Runner executed (one per
    * LOAD DATABASE command): the Migrator's pre/data/post phases and
    * tolerated DDL errors — the machine-readable `--summary` output
    * needs them, where `runFile`'s flat stats lose the phase detail. */
  @volatile private var dbSummaries: Seq[graft.orchestration.Summary] = Nil

  /** Named phase entries recorded by FILE loads — before/after/finally
    * DDL walls ([[graft.orchestration.PhaseEntry]]); database loads
    * carry theirs inside their Migrator summaries. */
  private val fileEntries = new java.util.concurrent.ConcurrentLinkedQueue[
    graft.orchestration.PhaseEntry]
  // blocked-on-rebuild accounting: total driver nanos spent WAITING on
  // async `drop indexes` rebuilds (the non-overlapped index cost — the
  // reference's "Index Build Completion" entry, core.clj:769) and the
  // number of rebuild futures drained. The overlapped part of each
  // build costs no wall time and is deliberately not reported.
  private val rebuildWaitNanos = new java.util.concurrent.atomic.AtomicLong
  private val rebuildsDrained = new java.util.concurrent.atomic.AtomicLong

  /** Build the FULL run summary from [[runFile]]'s stats: database
    * loads contribute their Migrator phases (pre DDL, post DDL,
    * tolerated errors); file loads contribute their per-table stats. */
  def fullSummary(stats: Seq[TableStats],
                  totalMillis: Long): graft.orchestration.Summary =
    graft.orchestration.Summary(
      preDdl = dbSummaries.flatMap(_.preDdl),
      tables = stats,
      postDdl = dbSummaries.flatMap(_.postDdl),
      totalMillis = totalMillis,
      ddlErrors = dbSummaries.flatMap(_.ddlErrors),
      phaseEntries = dbSummaries.flatMap(_.phaseEntries) ++
        fileEntries.toArray(Array.empty[graft.orchestration.PhaseEntry]) ++
        (if (rebuildsDrained.get > 0)
           Seq(graft.orchestration.PhaseEntry("post",
             "Index Build Completion", rebuildsDrained.get,
             rebuildWaitNanos.get))
         else Nil))

  /** Run every command in the file text; returns per-table stats. */
  def runFile(spark: SparkSession, text: String,
              baseDir: String = "."): Seq[TableStats] =
    runFileWith(() => spark, text, baseDir)

  /** [[runFile]] with the SparkSession supplied lazily. File loads call
    * `sparkF` at once. A database load calls it only for reads that
    * need Spark — views, DISTRIBUTE backfills, or a table's scan plan
    * read as a frame (`exactly once`, a cluster master's multi-split
    * tables) — and then calls it first
    * from a background thread before introspection, so a lazy boot
    * overlaps the catalog and DDL phases; under a local master a load
    * of plain tables never calls it. `sparkF` must be thread-safe and
    * idempotent (a join on a future or a lazy val). */
  def runFileWith(sparkF: () => SparkSession, text: String,
                  baseDir: String = "."): Seq[TableStats] = {
    // baseDir also resolves EXECUTE 'file.sql' references at parse time
    val (first, trailing) = Parser.parseWithInline(text, baseDir)
    // the trailing text after the first command is an inline DATA
    // payload only for `FROM inline` (test/reformat.load pattern);
    // otherwise it is MORE COMMANDS (a multi-command file, e.g. a
    // multi-table CSV load) and must parse, not feed the first load
    val inline =
      if (first.source.contains(Ast.InlineData)) trailing else None
    // archives expand to ordered sub-commands; other types run directly
    val cmds =
      if (first.loadType == "archive") Seq(first)
      else Parser.parseAll(
        text.substring(0, findInlineCut(text, inline)), baseDir)
    try cmds.flatMap(cmd => runCommandWith(sparkF, cmd, baseDir, inline))
    finally drainIndexRebuilds() // surface async rebuild failures here
  }

  private def findInlineCut(text: String, inline: Option[String]): Int =
    inline.map(d => text.length - d.length).getOrElse(text.length)

  private def runCommandWith(sparkF: () => SparkSession,
                             cmd: Ast.LoadCommand,
                             baseDir: String = ".",
                             inline: Option[String] = None)
      : Seq[TableStats] = {
    // per-connection session setup. GUCs (SET params) apply to every
    // connection; the trigger-disabling replica role is scoped to the
    // data-copy endpoint connections ONLY (the reference sets replica
    // around copy-table and resets to origin, core.clj:821,909) — user
    // BEFORE/AFTER LOAD DO must run with triggers and FKs enforced.
    val gucSql: Seq[String] =
      cmd.setParams.map { case (k, v) => s"SET $k = '$v';" }
    val copySessionSql: Seq[String] =
      gucSql ++
        (if (cmd.boolOption("disable triggers"))
           Seq("SET session_replication_role = 'replica';")
         else Nil)
    // --dry-run: nothing executes and no data moves, for FILE loads
    // too (the Migrator has its own richer plan mode for database
    // loads — it still runs under dryRun and records the full plan).
    // User DO hooks are part of "nothing executes".
    if (dryRun && cmd.loadType != "database") {
      val table = targetName(cmd)
      System.err.println(s"graft: dry run — skipping ${cmd.loadType} " +
        s"load into $table")
      return Seq(TableStats("", table, 0L, 0L, 0L))
    }
    if (!dryRun) timedDdl("pre", "before load", cmd.beforeLoad, gucSql)
    // file loads have no schema-creation phase of their own, so AFTER
    // CREATE SCHEMA DO runs at the same seam, after BEFORE LOAD DO and
    // before any data (the reference fires it once the target table
    // exists, migrate-database.lisp:459-465). Database loads DO have a
    // schema phase — the Migrator places the hook after its DDL.
    if (cmd.loadType != "database")
      cmd.afterSchema.foreach(ddl(_, gucSql))
    val results = cmd.loadType match {
      case "archive" =>
        // the archive expands once; each sub-command then runs as a
        // command of its own against the extracted files — its SETs,
        // DDL options and hooks included — and the directory goes after
        // the last one (archive.lisp; core.clj:328-399)
        val dir = Archive.expand(
          PlanBuilder.resolvePath(sparkF(), cmd.source.get, baseDir))
        try cmd.subCommands.flatMap(
          runCommandWith(sparkF, _, dir.getAbsolutePath))
        finally Archive.deleteTree(dir.getAbsolutePath)
      case "database" => runDatabase(sparkF, cmd)
      case _ =>
        val spark = sparkF()
        // the tagged frame: parse rejects ride the COPY job's own scan
        // and are counted and filed by the sink
        val flow = PlanBuilder.dataflow(spark, cmd, baseDir, inline)
        // a zipped DBF source's extracted members go once the load has
        // read them
        try {
          val df = flow.frame
          val table = targetName(cmd)
          // DBF/IXF files carry their own schema, resolved once by the
          // dataflow: `WITH create table` creates the target table from it
          // (db3.lisp / ixf.lisp cast path; fixture dbf-31.load) and the
          // COPY column list names the same columns. Names case by the
          // command's identifier mode (downcase default; quote preserves
          // the descriptor spelling, like the reference; snake_case splits
          // it), as load() cases the COPY column list.
          if (flow.fileColumns.nonEmpty &&
              (cmd.boolOption("create table") ||
                cmd.boolOption("create tables"))) {
            val qt = graft.sinks.PgWire.quoteQualified(table)
            if (cmd.boolOption("include drop"))
              ddl(s"DROP TABLE IF EXISTS $qt;", gucSql)
            ddl(s"CREATE TABLE IF NOT EXISTS $qt (" +
              flow.fileColumns.map(c => graft.sinks.PgWire.quoteIdent(
                graft.catalog.Identifiers(c.raw, idModeOf(cmd))) +
                s" ${c.pgType}").mkString(", ") + ");", gucSql)
          }
          // `WITH truncate` empties the target before loading (the
          // reference truncates in its before-copy hook) — without it a
          // re-run silently doubles the table (live golden dbf-31)
          if (cmd.boolOption("truncate") &&
              !cmd.boolOption("no truncate"))
            ddl("TRUNCATE " +
              s"${graft.sinks.PgWire.quoteQualified(table)};", gucSql)
          stopOnMalformed(df, cmd)
          // `WITH drop indexes` (csv.lisp option; copy-format drops the
          // target's indexes before COPY and recreates them after — index
          // maintenance during bulk load costs more than one rebuild):
          // constraint-backed indexes drop via their constraint, plain
          // ones via DROP INDEX; the rebuild is submitted ASYNC so it
          // overlaps the NEXT command's data load (the reference's
          // create-indexes-again runs in its parallel index pool), and
          // drains before any later DDL or at end of run
          val droppedIdx =
            if (cmd.boolOption("drop indexes") &&
                !cmd.boolOption("drop no indexes"))
              dropTargetIndexes(table, gucSql)
            else Nil
          val stats = Seq(load(table, df, copySessionSql, cmd,
            nameColumns = cmd.fields.nonEmpty ||
              cmd.targetColumns.nonEmpty,
            fileNameCase = idModeOf(cmd),
            rawFileNames = flow.fileColumns.map(_.raw)))
          rebuildIndexesAsync(table, droppedIdx, gucSql,
            cmd.intOption("max parallel create index").getOrElse(0))
          stats
        } finally flow.extracted.foreach(d => Archive.deleteTree(d.getPath))
    }
    if (!dryRun) {
      timedDdl("post", "after load", cmd.afterLoad, gucSql)
      timedDdl("post", "finally", cmd.finallyDo, gucSql)
    }
    results
  }

  /** `WITH on error stop` covers PARSE errors too (the reference's
    * *on-error-stop* quits on any bad row, process-bad-row path): a
    * malformed source line aborts before any data moves. The probe
    * stops at the first tagged row. */
  private def stopOnMalformed(df: org.apache.spark.sql.DataFrame,
                              cmd: Ast.LoadCommand): Unit =
    if (cmd.boolOption("on error stop") &&
        df.columns.contains(graft.sources.TaggedLines.Col) &&
        !graft.sources.TaggedLines.rejects(df).isEmpty)
      throw new IllegalStateException(
        "malformed row in the source (on error stop)")

  /** Run a DO-block statement list through [[ddl]] and record one
    * [[graft.orchestration.PhaseEntry]] for it (rows = statements).
    * The entry's wall EXCLUDES time spent blocked draining async index
    * rebuilds inside `ddl`'s barrier — that wait is index-build cost,
    * reported once under "Index Build Completion", and attributing it
    * here would double-bill it to whatever DDL happened to run next. */
  private def timedDdl(section: String, label: String,
                       stmts: Seq[String], gucSql: Seq[String]): Unit =
    if (stmts.nonEmpty) {
      val w0 = rebuildWaitNanos.get(); val t0 = System.nanoTime()
      stmts.foreach(ddl(_, gucSql))
      val waited = rebuildWaitNanos.get() - w0
      fileEntries.add(graft.orchestration.PhaseEntry(section, label,
        stmts.size.toLong,
        math.max(0L, System.nanoTime() - t0 - waited)))
    }

  // ---- `WITH drop indexes`: drop before COPY, rebuild in parallel ----

  /** Daemon pool for async index rebuilds — sized like the reference's
    * default index pool (max-parallel-create-index defaults to the CPU
    * count; a handful is plenty since each build is server-side). */
  private lazy val indexPool = java.util.concurrent.Executors
    .newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors),
      (r: Runnable) => {
        val t = new Thread(r, "graft-index-rebuild"); t.setDaemon(true); t
      })
  private val pendingRebuilds =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (String, java.util.concurrent.Future[_])]

  private def awaitRebuild(f: java.util.concurrent.Future[_]): Unit = {
    val t0 = System.nanoTime()
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally {
      rebuildWaitNanos.addAndGet(System.nanoTime() - t0)
      rebuildsDrained.incrementAndGet()
    }
  }

  /** Wait for every submitted rebuild; rethrows the first failure. */
  private def drainIndexRebuilds(): Unit = {
    var e = pendingRebuilds.poll()
    while (e != null) {
      awaitRebuild(e._2)
      e = pendingRebuilds.poll()
    }
  }

  /** Wait only for `table`'s own rebuilds — the same-table list/drop
    * race guard in [[dropTargetIndexes]]. Other tables' in-flight
    * rebuilds keep overlapping this command's load (the point of the
    * async pool: table N's CREATE INDEX runs server-side while table
    * N+1 COPYies). */
  private def drainIndexRebuilds(table: String): Unit = {
    val key = rebuildKey(table)
    val it = pendingRebuilds.iterator()
    val mine = scala.collection.mutable.ArrayBuffer[
      java.util.concurrent.Future[_]]()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 == key) { mine += e._2; it.remove() }
    }
    // await EVERY dequeued future even after a failure — stopping at
    // the first throw would abandon still-running rebuilds that the
    // end-of-run drain can no longer see (they were already dequeued)
    var firstFailure: Throwable = null
    mine.foreach { f =>
      try awaitRebuild(f)
      catch { case t: Throwable =>
        if (firstFailure == null) firstFailure = t
      }
    }
    if (firstFailure != null) throw firstFailure
  }

  /** Canonical per-relation key for the rebuild queue: bare names get
    * the default schema, so `foo` and `public.foo` (the same pg_class
    * relation) drain together — a mixed-spelling pair of commands must
    * not bypass the same-table race guard. */
  private def rebuildKey(table: String): String =
    if (table.indexOf('.') < 0) "public." + table else table

  /** DDL with a rebuild barrier: user DDL (and any later command's
    * schema work) must observe completed indexes/constraints, so every
    * runner-issued statement drains the async pool first. The rebuild
    * tasks themselves call `executeDdl` directly. */
  private def ddl(sql: String, gucSql: Seq[String]): Unit = {
    drainIndexRebuilds()
    executeDdl(sql, gucSql)
  }

  /** (indexName, indexDef, constraint (name, contype, condef)) for
    * every index on `table`, dropping each as it is listed —
    * constraint-backed indexes (PK/unique/exclusion) via DROP
    * CONSTRAINT, plain ones via DROP INDEX. Mirrors the reference's
    * drop-indexes path (pgsql/pgsql-index.lisp drop-indexes +
    * sql/list-all-indexes.sql, which also carries
    * pg_get_constraintdef for the non-PK/unique rebuild). */
  private def dropTargetIndexes(table: String, gucSql: Seq[String])
      : Seq[(String, String, Option[(String, String, String)])] = {
    require(queryTarget != null,
      "WITH drop indexes needs the Runner's queryTarget channel")
    // a prior same-table command's async rebuilds must not race this
    // command's list/drop — the listing would see half-rebuilt indexes
    // and the drops could interleave with in-flight CREATEs. Scoped to
    // THIS table: other tables' rebuilds overlap this command's load.
    drainIndexRebuilds(table)
    // first-dot split — the same PgWire.splitQualified the sinks name
    // their stage tables with, and the convention of
    // PgWire.quoteQualified, so index handling, sink naming and summary
    // stats all agree on which relation a dotted string targets
    val (schemaOpt, rel) = graft.sinks.PgWire.splitQualified(table)
    val schema = schemaOpt.getOrElse("public")
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val qt = graft.sinks.PgWire.quoteQualified(table)
    val rows = queryTarget(
      "SELECT i.relname, pg_get_indexdef(ix.indexrelid), " +
        "con.conname, con.contype::text, " +
        "pg_get_constraintdef(con.oid), " +
        // a PK/unique index other tables' FOREIGN KEYs depend on can't
        // be dropped without CASCADE (which would drop the FKs) — flag
        // it so the drop is SKIPPED and the load runs with it in place
        "EXISTS (SELECT 1 FROM pg_constraint fk WHERE fk.contype = 'f' " +
        "AND fk.conindid = ix.indexrelid)::text " +
        "FROM pg_index ix " +
        "JOIN pg_class i ON i.oid = ix.indexrelid " +
        "JOIN pg_class t ON t.oid = ix.indrelid " +
        "JOIN pg_namespace n ON n.oid = t.relnamespace " +
        // conindid alone also matches FOREIGN KEY constraints on OTHER
        // tables (an FK's conindid is the REFERENCED table's PK/unique
        // index), which would drop/rebuild the FK against the wrong
        // table. Only the constraint that OWNS the index counts: same
        // relation and an index-backed contype — the reference resolves
        // the same ownership via pg_depend deptype='i'
        // (sql/list-all-indexes.sql:25-29)
        "LEFT JOIN pg_constraint con ON con.conindid = ix.indexrelid " +
        "AND con.conrelid = ix.indrelid " +
        "AND con.contype IN ('p','u','x') " +
        s"WHERE t.relname = ${lit(rel)} AND n.nspname = ${lit(schema)}")
    rows.flatMap { r =>
      val con = Option(r(2)).map(c => (c, r(3), r(4)))
      if (r(5) == "true") {
        // inbound-FK-pinned index: keep it through the load (slower
        // COPY for that index, but the FKs — and the load — survive)
        System.err.println(
          s"graft: WITH drop indexes keeps ${r(0)} on $qt " +
            "(foreign keys on other tables depend on it)")
        None
      } else {
        con match {
          case Some((cname, _, _)) =>
            executeDdl(s"ALTER TABLE $qt DROP CONSTRAINT " +
              s"${graft.sinks.PgWire.quoteIdent(cname)};", gucSql)
          case None =>
            // an index lives in its table's schema; unqualified DROP
            // would resolve against search_path (csv.partial golden)
            executeDdl(
              s"DROP INDEX ${graft.sinks.PgWire.quoteIdent(schema)}." +
                s"${graft.sinks.PgWire.quoteIdent(r(0))};", gucSql)
        }
        Some((r(0), r(1), con))
      }
    }
  }

  /** Recreate dropped indexes in the shared pool: each task runs the
    * saved CREATE INDEX definition, then re-attaches the constraint
    * (`ADD CONSTRAINT … PRIMARY KEY/UNIQUE USING INDEX`) when the index
    * backed one — the reference's create-indexes-again semantics. */
  private def rebuildIndexesAsync(
      table: String,
      dropped: Seq[(String, String, Option[(String, String, String)])],
      gucSql: Seq[String],
      maxParallel: Int = 0): Unit = {
    val qt = graft.sinks.PgWire.quoteQualified(table)
    // `WITH max parallel create index = n` (the reference's option,
    // honored by the Migrator's pool for database loads) bounds THIS
    // command's concurrent rebuilds without resizing the shared pool
    val gate = if (maxParallel > 0)
      Some(new java.util.concurrent.Semaphore(maxParallel)) else None
    dropped.foreach { case (iname, idef, con) =>
      pendingRebuilds.add((rebuildKey(table), indexPool.submit(new Runnable {
        def run(): Unit = {
          gate.foreach(_.acquire())
          try rebuild() finally gate.foreach(_.release())
        }
        private def rebuild(): Unit = con match {
          // PK/unique: build the index first (no ACCESS EXCLUSIVE lock
          // while it builds), then attach the constraint to it — the
          // reference's two-statement shape (pgsql-ddl.lisp:225-245)
          case Some((cname, ctype, _)) if ctype == "p" || ctype == "u" =>
            executeDdl(s"$idef;", gucSql)
            val kind = if (ctype == "p") "PRIMARY KEY" else "UNIQUE"
            executeDdl(s"ALTER TABLE $qt ADD CONSTRAINT " +
              s"${graft.sinks.PgWire.quoteIdent(cname)} $kind USING INDEX " +
              s"${graft.sinks.PgWire.quoteIdent(iname)};", gucSql)
          // any OTHER constraint-backed index (exclusion constraints,
          // contype 'x'): USING INDEX only accepts unique/PK indexes,
          // and rebuilding as UNIQUE would change semantics — recreate
          // from the saved constraint definition, which builds its own
          // index (the reference's index-condef branch,
          // pgsql-ddl.lisp:247-250)
          case Some((cname, _, condef)) =>
            executeDdl(s"ALTER TABLE $qt ADD CONSTRAINT " +
              s"${graft.sinks.PgWire.quoteIdent(cname)} $condef;", gucSql)
          case None =>
            executeDdl(s"$idef;", gucSql)
        }
      })))
    }
  }

  /** A file load's target as COPY names it, `data` when the command
    * names no table. Schema-qualified targets (INTO
    * pg:///db?schema.table / TARGET TABLE schema.table) keep their
    * schema — an unqualified COPY lands in the wrong relation (live
    * golden csv.partial). */
  private def targetName(cmd: Ast.LoadCommand): String =
    (cmd.targetSchema, cmd.targetTable) match {
      case (Some(s), Some(tn)) => s"$s.$tn"
      case (_, tn) => tn.getOrElse("data")
    }

  /** `WITH batch rows / batch size` — the sink batch bounds
    * (copy-batch rows/bytes caps, src/params.lisp *copy-batch-rows*
    * 25000 / *copy-batch-size* 20MB; batch.clj:10-16). `batch
    * concurrency` is an accepted no-op like the other reader-side
    * knobs: Spark's partition pipeline replaces batch prefetch. */
  private def batchRowsOf(cmd: Ast.LoadCommand): Int =
    cmd.intOption("batch rows").getOrElse(25000)
  private def batchBytesOf(cmd: Ast.LoadCommand): Long =
    cmd.option("batch size").map(_.toLong).getOrElse(20L << 20)

  /** TARGET identifier casing mode from the command's WITH options
    * (params.lisp *identifier-case*; accepted on EVERY source in the
    * reference grammar — command-dbf/ixf/csv/fixed.lisp all include
    * option-identifiers-case). */
  private def idModeOf(cmd: Ast.LoadCommand): graft.catalog.Identifiers.Case =
    if (cmd.boolOption("quote identifiers"))
      graft.catalog.Identifiers.Case.Quote
    else if (cmd.boolOption("snake_case identifiers"))
      graft.catalog.Identifiers.Case.SnakeCase
    else graft.catalog.Identifiers.Case.Downcase

  /** `LOAD DATABASE FROM mysql://… | pgsql://…` — the reference's
    * headline command, end-to-end with no driver jars: the URI's
    * [[graft.sources.DbSource]] introspects the source catalog, which
    * runs through the cast engine and [[graft.orchestration.Migrator]];
    * each table's source scan plans its read once — its splits stream
    * on driver threads, or the same plan's frame runs as a Spark job
    * for `exactly once` and a cluster master's multi-split tables;
    * views and backfills read distributed frames — and is COPYed through
    * this Runner's endpoint factory. WITH options map to the Migrator's
    * surface; BEFORE LOAD DO ran already (`runCommandWith`), AFTER LOAD
    * DO / FINALLY run after this returns, AFTER CREATE SCHEMA DO is
    * placed by the Migrator between DDL and data. Here live only the
    * Migrator wiring, the MATERIALIZE VIEWS lifecycle and the
    * DISTRIBUTE backfill. */
  private def runDatabase(sparkF: () => SparkSession,
                          cmd: Ast.LoadCommand): Seq[TableStats] = {
    import graft.catalog.{Catalog, Schema, Table}
    // a prior file-load command's async index rebuilds must complete
    // before the Migrator starts issuing its own DDL (the per-command
    // ddl() wrapper drains, but the Migrator holds raw executeDdl)
    drainIndexRebuilds()
    val uri = cmd.source match {
      case Some(Ast.Uri(u)) => u
      case other => throw new IllegalArgumentException(
        s"LOAD DATABASE needs a URI source, got $other")
    }
    val wantViews = cmd.materializeAllViews || cmd.materializeViews.nonEmpty
    // DISTRIBUTE (citus.lisp:250-340): rules with an FK chain BACKFILL
    // the distribution key — the target table gains the key column and
    // its data is the chain join ([[graft.operators.Citus]]); the
    // create_distributed_table / create_reference_table DDL runs
    // between schema creation and the data phase (afterSchema slot)
    val backfill: Map[String, Ast.DistributeUsing] =
      cmd.distribute.collect {
        case r: Ast.DistributeUsing if r.from.nonEmpty =>
          r.table.toLowerCase -> r
      }.toMap
    val exactlyOnce = cmd.boolOption("exactly once")
    // under a local master every plain table streams on driver threads
    // (a Spark task would be a thread of this JVM too); views, backfill
    // joins and exactly-once stages need Spark, and so may a cluster
    // master's tables — start that boot now, behind introspection and
    // the DDL phase, instead of at the first read
    val localMaster = Sessions.localMaster
    if (!dryRun && !cmd.boolOption("schema only") &&
        (!localMaster || exactlyOnce || wantViews || backfill.nonEmpty)) {
      val boot = new Thread(() =>
        try sparkF() catch { case scala.util.control.NonFatal(_) => () },
        "graft-spark-boot")
      boot.setDaemon(true)
      boot.start()
    }
    // reference "fetch meta data" pre entry (core.clj:513-514): the
    // source-catalog introspection wall, rows = tables discovered
    val fetchT0 = System.nanoTime()
    val src = graft.sources.DbSource(uri, cmd, sparkF)
    val fetchNanos = System.nanoTime() - fetchT0

    // MATERIALIZE VIEWS (matviews.lisp:24-63): create user-defined
    // views in the SOURCE, introspect the named (or all) views as
    // tables, migrate them as ordinary tables, drop the created views
    // afterward — success or failure
    val createdViews = cmd.materializeViews.filter(_.definition.isDefined)
    def dropCreatedViews(): Unit = createdViews.foreach { v =>
      try src.exec(s"DROP VIEW ${src.quoteIdent(v.name)}")
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[graft] DROP VIEW ${v.name} failed: ${e.getMessage}")
      }
    }
    // anything that can throw after the views exist in the CUSTOMER'S
    // source database runs inside this try — view introspection,
    // DISTRIBUTE chain validation, the unreadable-type preflight, DDL,
    // data — so created views never leak (mysql.lisp cleanup semantics)
    val summary = try {
      val viewTables: Seq[Table] = if (!wantViews) Nil else {
        createdViews.foreach(v => src.exec(
          s"CREATE VIEW ${src.quoteIdent(v.name)} AS ${v.definition.get}"))
        src.introspectViews(
          if (cmd.materializeAllViews) None
          else Some(cmd.materializeViews.map(_.name)))
      }
      val viewKeys = viewTables.map(t => (t.schema, t.sourceName)).toSet
      val tables = src.tables ++ viewTables

      // fail-before-DDL preflight: an introspectable-but-unreadable source
      // column must abort while the target catalog is untouched, not after
      // CREATE TABLE has run and the first read dies mid-migration.
      // Checked AGAINST THE FILTERED table set — the same
      // INCLUDING/EXCLUDING predicate the migration applies — so
      // excluding an offending table (the error's own advice) works
      src.preflight(tables.filter(t => graft.catalog.CatalogRewrite
        .kept(t.schema, t.name, cmd.includingOnly, cmd.excludingOnly)))

      // catalog as INTROSPECTED (no prepended key) — the backfill
      // dataflow resolves fkeys and source fields from it
      val sourceCat = Catalog(uri,
        tables.groupBy(_.schema).toSeq.sortBy(_._1).map { case (s, ts) =>
          Schema(name = s, sourceName = s, tables = ts)
        })
      val tablesForTarget = tables.map { t =>
        backfill.get(t.sourceName.toLowerCase) match {
          case Some(rule) if !t.fields.exists(
              _.name.equalsIgnoreCase(rule.column)) =>
            val chainEnd = tables.find(
              _.name.equalsIgnoreCase(rule.from.last)).getOrElse(
              throw new IllegalArgumentException(
                s"DISTRIBUTE FROM chain table ${rule.from.last} not found"))
            val keyField = chainEnd.fields.find(
              _.name.equalsIgnoreCase(rule.column)).getOrElse(
              throw new IllegalArgumentException(
                s"${rule.column} is not a column of ${chainEnd.name}"))
            // the key lands as a plain column (autoIncrement would cast
            // it to a fresh serial on the target)
            t.copy(fields =
              keyField.copy(table = t.sourceName, autoIncrement = false) +:
                t.fields)
          case _ => t
        }
      }
      // TARGET identifier casing mode (params.lisp *identifier-case*):
      // downcase default, snake_case / quote per flags. Applied inside
      // Migrator.migrate (CatalogRewrite.caseTargets/caseColumns) so
      // EVERY migration flow cases consistently; sourceName stays RAW
      // for the source reads.
      val idMode = idModeOf(cmd)
      val bySchema = tablesForTarget.groupBy(_.schema).toSeq.sortBy(_._1)
      val cat = Catalog(uri, bySchema.map { case (s, ts) =>
        Schema(name = s, sourceName = s, tables = ts.sortBy(_.name))
      }, sequences = src.sequences,
        customTypes = src.customTypes,
        searchPath = src.searchPath,
        pgNativeDefaults = src.pgNativeDefaults)
      val migrator = new graft.orchestration.Migrator(
        executeDdl = executeDdl,
        loadTable = (t, setup) => {
          val isView = viewKeys((t.sourceSchemaName, t.sourceName))
          val rule = backfill.get(t.sourceName.toLowerCase)
          // one plan per table, whichever route reads it. Views (a
          // SQLite view evaluates through Spark SQL) and DISTRIBUTE
          // backfills (the join dataflow) read distributed frames;
          // any other table streams its plan's splits on driver threads
          // under a local master, and under a cluster master when it
          // has one split (a single Spark task would gain nothing).
          // Exactly-once loads read the plan's frame: their stages need
          // Spark's task attempts
          val plan =
            if (isView || rule.isDefined) None
            else Some(src.scan(t, isView = false))
          // generated columns recompute server-side: COPY lists the
          // others (the migrated table is otherwise positional,
          // created in frame order)
          val hasGen = t.columns.exists(_.generated.isDefined)
          writeTable(graft.sinks.PgWire.joinQualified(t.schema, t.name),
            if (hasGen) t.columns.filter(_.generated.isEmpty).map(_.name)
            else Nil,
            driver = plan.filter(p =>
              !exactlyOnce && (localMaster || p.splits.length == 1)),
            df = rule match {
              case Some(rule) =>
                val chain = rule.table +: rule.from
                val frames = chain.map { n =>
                  val ct = tables.find(_.name.equalsIgnoreCase(n)).getOrElse(
                    throw new IllegalArgumentException(
                      s"DISTRIBUTE rule references unknown table $n"))
                  n -> src.frame(ct, viewKeys((ct.sourceSchemaName, ct.sourceName)))
                }.toMap
                graft.operators.Citus.backfillJoin(sourceCat, rule, frames)
              case None => plan.fold(src.frame(t, isView))(_.frame(sparkF()))
            },
            sessionSql = setup, rejectName = t.name, cmd = cmd)
        },
        workers = cmd.intOption("workers")
          .orElse(cmd.intOption("concurrency")).getOrElse(4),
        maxParallelIndexes =
          cmd.intOption("max parallel create index").getOrElse(0))
      migrator.migrate(cat,
        userCast = cmd.castRules,
        defaults = src.defaults,
        including = cmd.includingOnly,
        excluding = cmd.excludingOnly,
        alterSchema = cmd.alterSchema,
        alterTable = cmd.alterTable,
        truncate = cmd.boolOption("truncate") &&
          !cmd.boolOption("no truncate"),
        createTables = !cmd.boolOption("create no tables") &&
          !cmd.boolOption("data only"),
        // database migrations DROP-and-recreate BY DEFAULT — the
        // reference's documented default WITH clause for every
        // database source includes `include drop` (docs/ref/
        // {mysql,pgsql,sqlite}.rst; core.clj:731 drops unless
        // :include-no-drop) — `include no drop` opts out; dropping
        // only makes sense when tables are being (re)created
        includeDrop = !cmd.boolOption("include no drop") &&
          !cmd.boolOption("create no tables") &&
          !cmd.boolOption("data only"),
        withIndexes = !cmd.boolOption("data only") &&
          !cmd.boolOption("create no indexes"),
        withFKeys = !cmd.boolOption("data only") &&
          !cmd.boolOption("no foreign keys"),
        // `WITH schema only` (migrate-database.lisp:358): full DDL
        // phases, no data phase
        copyData = !cmd.boolOption("schema only"),
        resetSequences = !cmd.boolOption("reset no sequences"),
        afterSchema = cmd.afterSchema ++
          graft.operators.Citus.distributionDdl(cmd.distribute),
        setParams = cmd.setParams,
        disableTriggers = cmd.boolOption("disable triggers") &&
          !cmd.boolOption("disable no triggers"),
        idCase = idMode,
        dropSchema = cmd.boolOption("drop schema"),
        // the reference ALSO preserves when tables are not being
        // (re)created — pre-existing indexes are re-installed under
        // their own names (migrate-database.lisp:381-384)
        preserveIndexNames = cmd.boolOption("preserve index names") ||
          cmd.boolOption("create no tables") ||
          cmd.boolOption("data only"),
        stopOnError = cmd.boolOption("on error stop"),
        dryRun = dryRun)
    } finally dropCreatedViews()
    dbSummaries = dbSummaries :+ summary.copy(phaseEntries =
      graft.orchestration.PhaseEntry("pre", "fetch meta data",
        src.tables.size.toLong, fetchNanos) +: summary.phaseEntries)
    summary.tables
  }

  private def load(table: String, df: org.apache.spark.sql.DataFrame,
                   sessionSql: Seq[String],
                   /** the command whose WITH clause sets the sink
                     * options */
                   cmd: Ast.LoadCommand,
                   nameColumns: Boolean,
                   /** casing for FILE-DERIVED column names (DBF/IXF
                     * descriptors) — user-written names stay as
                     * written; Downcase = the historical fold. */
                   fileNameCase: graft.catalog.Identifiers.Case,
                   /** RAW descriptor spellings (DBF/IXF) — the casing
                     * basis; empty = case the frame's column names. */
                   rawFileNames: Seq[String]): TableStats = {
    val t0 = System.nanoTime()
    // loads with REAL column names — an explicit field/column list, or
    // csv-header-derived names — send a COPY column list: the user's
    // pre-created table may order columns differently from the
    // command's field list, and a positional COPY then type-fails or
    // silently cross-assigns (caught by the live-PG goldens csv-header
    // and csv-trim-extra-blanks; the reference always sends its
    // copy-column-list). Synthetic positional names (c1../col1.. from
    // a list-less load) keep positional COPY — the target's DDL
    // provides the real names server-side. The DATABASE path stays
    // positional too: it creates the table in the frame's own order.
    val cols = graft.sources.TaggedLines.untagged(df).columns.toSeq
    val synthetic = cols.forall(_.matches("c(ol)?\\d+"))
    // nameColumns ⇔ the names were written by the user (or a csv
    // header): quoted as-written. File-schema names (DBF/IXF) case by
    // the command's identifier mode, matching the `create table` DDL
    // of the file-load branch.
    val copyCols: Seq[String] =
      if (nameColumns) cols
      else if (synthetic) Nil
      else (if (rawFileNames.nonEmpty) rawFileNames else cols)
        .map(graft.catalog.Identifiers(_, fileNameCase))
    val (sent, rejected, bytes) = writeTable(table, copyCols,
      driver = None, df = df, sessionSql,
      rejectName = table, cmd)
    // summary label: a qualified TARGET TABLE already carries its
    // schema — don't prefix "public." on top (public.public.t)
    val (statSchema, statTable) = table.indexOf('.') match {
      case -1 => ("public", table)
      case i  => (table.substring(0, i), table.substring(i + 1))
    }
    TableStats(statSchema, statTable, sent, rejected,
      (System.nanoTime() - t0) / 1000000, bytes = bytes)
  }

  /** Copy one table's rows into PostgreSQL as COPY TEXT — the one place
    * a table's sink is chosen, from the command's `exactly once`,
    * `on error stop` and `batch rows / batch size` options. The COPY
    * column list goes to whichever writer runs: the driver route
    * [[graft.sinks.LocalCopy]] for a database table's scan plan, the
    * staged [[graft.sinks.ExactlyOnce]] publish, or the distributed
    * [[CopySink]]. `WITH copy binary [auto]` still parses and only
    * earns a stderr note: the table loads through COPY TEXT.
    *
    * @param table qualified target: COPY statement, stage names
    * @param copyCols COPY column list, user-cased; empty = positional
    *   (every target column, in attnum order). A table with generated
    *   columns lists the others
    * @param driver a database table's [[graft.sources.ScanPlan]], its
    *   splits streamed on driver threads; never given with exactly
    *   once, whose stages need Spark's task attempts (they read the
    *   same plan's frame as `df`)
    * @param df the distributed rows, built only when no driver plan
    *   applies; a line reader's [[graft.sources.TaggedLines]] frame
    *   has its parse rejects filed and counted by the sink
    * @param rejectName rejects land under `<root>/<rejectName>.dat`
    *   and `.log`, both cleared first so no earlier run's parts stay
    * @return (sent, rejected, bytes) */
  private def writeTable(
      table: String, copyCols: Seq[String],
      driver: Option[graft.sources.ScanPlan[_]],
      df: => org.apache.spark.sql.DataFrame,
      sessionSql: Seq[String], rejectName: String,
      cmd: Ast.LoadCommand): (Long, Long, Long) = {
    import graft.sinks.{ExactlyOnce, LocalCopy, PgWire}
    val onErrorStop = cmd.boolOption("on error stop")
    val maxRows = batchRowsOf(cmd); val maxBytes = batchBytesOf(cmd)
    val rejectDir = rejectRoot.map(r => s"$r/$rejectName.dat")
    rejectDir.foreach { d =>
      Seq(d, CopySink.logDirFor(d)).foreach(Archive.deleteTree)
    }
    cmd.option("copy binary").foreach(_ => System.err.println(
      s"graft: WITH copy binary is accepted; $table loads through COPY TEXT"))
    // shipped to executors inside the sinks' endpoint factories: a
    // LOCAL, so no closure drags the non-serializable Runner along
    val ef = endpointFactory
    driver match {
      case Some(plan) =>
        LocalCopy.write(plan, ef(PgWire.copyTarget(table, copyCols),
          sessionSql), rejectDir = rejectDir, maxRows = maxRows,
          maxBytes = maxBytes, onErrorStop = onErrorStop)
      case None if cmd.boolOption("exactly once") =>
        // per-attempt stage tables + one atomic publish, with the same
        // COPY column list and reject files as the direct path
        // (rejected rows never reach a stage, so nothing can
        // double-publish)
        ExactlyOnce.write(df, table,
          exec = sql => executeDdl(sql, sessionSql),
          endpointFor = (stage, stageSetup, pid) =>
            ef(PgWire.copyTarget(stage, copyCols),
              sessionSql ++ stageSetup)(pid),
          quote = PgWire.quoteQualified, columns = copyCols,
          maxRows = maxRows, maxBytes = maxBytes,
          onErrorStop = onErrorStop, rejectDir = rejectDir)
      case None =>
        new CopySink(ef(PgWire.copyTarget(table, copyCols), sessionSql),
          maxRows = maxRows, maxBytes = maxBytes, onErrorStop = onErrorStop,
          rejectDir = rejectDir).write(df)
    }
  }
}

/** The `pgloader file.load` CLI (v3 main.lisp; v4 core.clj:411): parse the
  * command file, run every load against the command's own PostgreSQL
  * target over the native wire-protocol client (no driver jar), print
  * the pgloader-style report, exit nonzero when any table failed or
  * rejected rows (the reference's *exit-code* contract). Needs a live PG
  * target — the class above is the testable seam (PgWireSpec drives it
  * against an in-process protocol server); this object is production
  * glue only.
  */
object Runner {

  /** Percent-decode exactly once, splitting done beforehand on the RAW
    * (still percent-encoded) string so an encoded ':' in a password
    * can't shift the split. URLDecoder is NOT used: it is a form
    * decoder that maps '+' to space, which corrupts passwords like
    * 'a+b'. */
  private[graft] def pctDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** pgloader's no-command-file CLI mode: `pgloader [--with …]… SOURCE
    * TARGET` builds a synthetic command routed through the SAME
    * grammar as a .load file (cli.clj:247-330 build-inline-command;
    * the CL main's parse-commands-from-source-and-target). `--with`,
    * `--cast` and `--set` are repeatable and join into the
    * corresponding clauses; `--type` forces a file LOAD kind for bare
    * paths; otherwise the LOAD kind comes from the source scheme. */
  private[graft] def synthesizeCommand(
      source: String, target: String,
      withOpts: Seq[String] = Nil,
      castRules: Seq[String] = Nil,
      setParams: Seq[String] = Nil,
      sourceType: Option[String] = None,
      fieldDefs: Seq[String] = Nil,
      encoding: Option[String] = None,
      beforeSql: Option[String] = None,
      afterSql: Option[String] = None): String = {
    val effSource = sourceType match {
      case Some(t) if !source.contains("://") => s"$t://$source"
      case _ => source
    }
    val lower = effSource.toLowerCase
    val kind = sourceType.map(_.toUpperCase).getOrElse {
      if (lower.startsWith("csv://")) "CSV"
      else if (lower.startsWith("copy://")) "COPY"
      else if (lower.startsWith("fixed://")) "FIXED"
      else if (lower.startsWith("dbf://")) "DBF"
      else if (lower.startsWith("ixf://")) "IXF"
      else "DATABASE" // mysql/pgsql/postgres(ql)/sqlite/mssql
    }
    val fileKind = Set("CSV", "COPY", "FIXED")(kind)
    val parts = Seq.newBuilder[String]
    parts += s"LOAD $kind"
    parts += s"  FROM $effSource"
    encoding.filter(_ => fileKind || kind == "DBF")
      .foreach(e => parts += s"  WITH ENCODING '$e'")
    if (fileKind && fieldDefs.nonEmpty)
      parts += s"  HAVING FIELDS (${fieldDefs.mkString(", ")})"
    parts += s"  INTO $target"
    if (withOpts.nonEmpty) parts += s"  WITH ${withOpts.mkString(", ")}"
    if (castRules.nonEmpty) parts += s"  CAST ${castRules.mkString(", ")}"
    if (setParams.nonEmpty) parts += s"  SET ${setParams.mkString(", ")}"
    // --before/--after: whole FILES of SQL wrapped in DO blocks, like
    // the reference CLI (cli.clj:294-308 slurps them)
    beforeSql.foreach(s => parts += s"  BEFORE LOAD DO $$$$ $s $$$$")
    afterSql.foreach(s => parts += s"  AFTER LOAD DO $$$$ $s $$$$")
    parts.result().mkString("\n") + "\n;"
  }

  private val usageText =
    "usage: graft.Runner [--summary|-S path] [--verbose|--debug] " +
      "[--quiet] [--on-error-stop] [--dry-run] [--root-dir dir] " +
      "[--logfile path] [--client-min-messages level] " +
      "[--log-min-messages level] [--with 'opt']… [--cast 'rule']… " +
      "[--set 'guc to val']… [--type csv|copy|fixed|dbf] " +
      "[--encoding enc] [--field def]… [--before file] [--after file] " +
      "(<file.load> [baseDir] | SOURCE TARGET)"

  def main(args: Array[String]): Unit = {
    // --summary <path> writes the machine-readable report (reference
    // main.lisp --summary; summary.clj write-summary); --verbose adds
    // the read/write time columns
    var summaryPath: Option[String] = None
    var verbose = false
    val withOpts = Seq.newBuilder[String]
    val castRules = Seq.newBuilder[String]
    val setParams = Seq.newBuilder[String]
    val fieldDefs = Seq.newBuilder[String]
    var sourceType: Option[String] = None
    var cliEncoding: Option[String] = None
    var beforeFile: Option[String] = None
    var afterFile: Option[String] = None
    var rootDir: Option[String] = None
    var logfilePath: Option[String] = None
    var dryRun = false
    val pos = Seq.newBuilder[String]
    var i = 0
    def arg(flag: String): String = {
      require(i + 1 < args.length, s"$flag requires a value")
      val v = args(i + 1); i += 2; v
    }
    while (i < args.length) {
      args(i) match {
        case "--help" =>
          println(usageText); sys.exit(0)
        case "--version" =>
          println("graft (pgloader-compatible Spark loader)"); sys.exit(0)
        case "--list-encodings" =>
          // the canonical names + the alias table the loader accepts
          // (CsvSource.canonicalEncoding), like the reference's
          // --list-encodings (cli.clj:188)
          Seq("utf-8 (utf8)", "utf-16 (utf16)", "us-ascii (ascii)",
            "iso-8859-1 (latin1)", "iso-8859-2 (latin2)",
            "iso-8859-15 (latin9)", "windows-1250..1258 (cp125x)",
            "ibm850 (cp850)", "ibm866 (cp866)", "Big5 (cp950)",
            "windows-31j (cp932)",
            "…plus every charset the JVM provides").foreach(println)
          sys.exit(0)
        case "--summary" | "-S" => summaryPath = Some(arg("--summary"))
        case "--verbose" => verbose = true; i += 1
        case "--debug" => verbose = true; i += 1
        case "--quiet" => i += 1 // accepted for compatibility
        case "--on-error-stop" =>
          // the dedicated v4 flag (cli.clj:193) — same effect as
          // `--with "on error stop"`
          withOpts += "on error stop"; i += 1
        case "--client-min-messages" =>
          // the reference maps this to the PG GUC on every connection
          setParams += s"client_min_messages to '${arg("--client-min-messages")}'"
        case "--log-min-messages" =>
          arg("--log-min-messages"); () // internal log level: accepted
        case "--logfile" =>
          logfilePath = Some(arg("--logfile"))
        case "--dry-run" => dryRun = true; i += 1
        case "--with" => withOpts += arg("--with")
        case "--cast" => castRules += arg("--cast")
        case "--set" =>
          // both spellings: `--set "guc to 'val'"` (one arg) and the
          // reference CLI's `--set guc to val` (three args)
          val v = arg("--set")
          if (!v.toLowerCase.matches("(?s).*\\bto\\b.*") &&
              i + 1 < args.length && args(i).equalsIgnoreCase("to")) {
            require(i + 1 < args.length, "--set guc to VALUE")
            setParams += s"$v to '${args(i + 1)}'"
            i += 2
          } else setParams += v
        case "--field" => fieldDefs += arg("--field")
        case "--type" => sourceType = Some(arg("--type"))
        case "--encoding" => cliEncoding = Some(arg("--encoding"))
        case "--before" => beforeFile = Some(arg("--before"))
        case "--after" => afterFile = Some(arg("--after"))
        case "--root-dir" => rootDir = Some(arg("--root-dir"))
        case a => pos += a; i += 1
      }
    }
    val positional = pos.result()
    require(positional.nonEmpty, usageText)
    // no-command-file mode: two positionals where the first is a URI
    // (or --type names a file kind for a bare path) and the second is
    // the PG target — exactly the reference CLI's inline command
    val inlineMode = positional.length == 2 &&
      (positional(0).contains("://") || sourceType.nonEmpty) &&
      positional(1).matches("(?i)^(pgsql|postgres|postgresql)://.*")
    def slurp(p: Option[String]): Option[String] = p.map(f =>
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(f).toPath), "UTF-8").trim)
    val (file, baseDir, text) =
      if (inlineMode) {
        val cmd = synthesizeCommand(positional(0), positional(1),
          withOpts.result(), castRules.result(), setParams.result(),
          sourceType, fieldDefs.result(), cliEncoding,
          slurp(beforeFile), slurp(afterFile))
        (new java.io.File("<inline>"), ".", cmd)
      } else {
        val f = new java.io.File(positional(0)).getAbsoluteFile
        val bd = if (positional.length > 1) positional(1) else f.getParent
        (f, bd,
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      }
    // baseDir resolves relative EXECUTE 'file.sql' references here too
    val (first, _) = Parser.parseWithInline(text, baseDir)
    val target = first.targetUri.getOrElse(
      throw new IllegalArgumentException(s"$file has no INTO target"))
    val wire = graft.sinks.PgWire.connParams(target, pctDecode)
    // the session boots on a background thread. A file load needs it
    // for its first plan, so its boot starts now, behind the target
    // connection and the BEFORE LOAD DDL; a database load starts it
    // only when one of its reads needs Spark (runDatabase), and a load
    // of plain tables under a local master never builds one
    @volatile var booted = false
    lazy val boot = {
      booted = true
      java.util.concurrent.CompletableFuture.supplyAsync(() => {
        val b = Sessions.builder("graft-load", Sessions.cpus)
        sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
      })
    }
    if (first.loadType != "database") boot
    val t0 = System.nanoTime()
    // driver-free by default: DDL and COPY both speak the wire protocol
    // directly (no pgjdbc jar needed anywhere on the cluster). DDL
    // statements share a pooled executor (DISCARD ALL on reuse keeps
    // fresh-connection semantics) — per-statement dial+auth was the
    // last table-count-linear cost; closed in the finally below.
    val ddlExec = new graft.sinks.PgWireDdlExecutor(wire)
    val runner = new Runner(
      executeDdl = ddlExec,
      endpointFactory = (table, sessionSql) => _ =>
        new graft.sinks.PgWireCopyEndpoint(wire,
          s"COPY ${graft.sinks.PgWire.quoteQualified(table)} FROM STDIN",
          sessionSql),
      // --root-dir wins over the env (reference root-dir semantics:
      // rejected rows land under <root>/<table>.dat)
      rejectRoot = rootDir.orElse(sys.env.get("GRAFT_REJECT_ROOT")),
      queryTarget = ddlExec.query,
      dryRun = dryRun)
    val stats =
      try runner.runFileWith(() => boot.get(), text, baseDir)
      finally {
        ddlExec.close() // never throws
        // stop a session whose boot started, waiting for a boot still
        // running; a failed background boot must not mask the
        // migration's own outcome from this finally
        try {
          if (booted && !boot.isCompletedExceptionally) boot.get().stop()
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] spark stop: ${e.getMessage}")
        }
      }
    val summary = runner.fullSummary(stats,
      (System.nanoTime() - t0) / 1000000)
    print(summary.render)
    // --logfile: the reference appends its run log there; the summary
    // is the run record this CLI produces
    logfilePath.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        summary.render.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] logfile write failed: ${e.getMessage}") }
    }
    summaryPath.foreach(p =>
      graft.orchestration.SummaryOut.write(summary, p, verbose))
    if (summary.exitCode != 0) sys.exit(summary.exitCode)
  }
}
