package graft.sinks

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Opt-in exactly-once delivery for the COPY sink — the staging-table
  * escape hatch the at-least-once contract note names
  * (CopySink.write doc): the default path re-commits a partition's
  * already-landed batches when a Spark task retries (or speculates),
  * which is the standard non-transactional-sink trade. When the target
  * cannot tolerate that, stage per TASK ATTEMPT and publish atomically:
  *
  *   1. driver: pattern-drop any stale `<table>__graft_stage_p*` tables
  *      a previously crashed run left behind;
  *   2. executors: each task attempt COPYies into ITS OWN stage table,
  *      named by the attempt's globally-unique taskAttemptId — the
  *      endpoint's session setup (`stageSetup`) runs `CREATE TABLE IF
  *      NOT EXISTS <stage> (LIKE <table>); TRUNCATE <stage>` on its own
  *      fresh connection, so CONCURRENT speculative attempts write
  *      disjoint tables and can never erase or interleave each other's
  *      batches (a single per-partition stage truncated per attempt is
  *      only sequential-retry safe: a slower concurrent attempt's
  *      TRUNCATE would silently drop the winner's committed batches).
  *      With a COPY column list, one DO block between the two drops
  *      NOT NULL from every stage column OUTSIDE the list: LIKE copies
  *      NOT NULL but not defaults, identities or generation
  *      expressions, so an unlisted serial, defaulted or generated
  *      column would otherwise fail every staged row. Listed columns
  *      keep their NOT NULL, so a NULL there rejects its row at
  *      staging, as a plain COPY would;
  *   3. executors: the attempt that Spark accepts as the partition's
  *      completion records its stage name through an accumulator —
  *      Spark applies result-stage accumulator updates only for the
  *      FIRST successful completion of each partition, so exactly one
  *      winner is recorded per partition;
  *   4. driver: one transaction publishes every WINNING stage into the
  *      target (`BEGIN; INSERT INTO t SELECT * FROM stage; …; COMMIT;`,
  *      or `INSERT INTO t (cols) SELECT cols FROM stage` with a column
  *      list, so the target fills the rest from its own defaults) —
  *      the target sees all rows or none — then pattern-drops all
  *      stages (winners and any losing attempts' leftovers).
  *
  * Guarantees: task-retry AND speculative-execution safe end to end —
  * concurrent attempts are isolated by construction, not serialized.
  * Whole-RUN retry safe up to the publish transaction (a rerun
  * pre-cleans and re-stages). A rerun AFTER a successful publish
  * inserts again — run-level idempotence needs a key (`INSERT … ON
  * CONFLICT DO NOTHING`), exactly as any transactional loader. Default
  * CopySink behavior is untouched; this is a wrapper, not a mode flag.
  *
  * Scale shape: identical to the plain sink (the COPY work is the same
  * bytes into different tables); the publish is server-side
  * `INSERT … SELECT` per partition inside one transaction — no data
  * returns to the driver. Stage-per-attempt additionally keeps
  * concurrent attempts off each other's locks entirely.
  *
  * @param exec        driver-side SQL channel to the target
  * @param endpointFor builds the per-task-attempt endpoint for a STAGE
  *                    table: (stageName, sessionSetup, pid). The
  *                    implementation MUST run the given sessionSetup
  *                    statements first on the connection it opens
  *                    (PgWireCopyEndpoint does when they are passed as
  *                    its sessionSetup — the connection opens once per
  *                    task attempt); the wrapper supplies the
  *                    CREATE-stage + TRUNCATE statements
  * @param columns     the COPY column list, as the target spells them;
  *                    empty = every column, positionally
  */
object ExactlyOnce extends Serializable {

  /** Bare-relname base bounded so every stage name fits PostgreSQL's
    * NAMEDATALEN (63 bytes). Worst-case suffix is
    * `__graft_stage_p<10-digit pid>_a<19-digit attemptId>` = 46 bytes,
    * leaving 17 for the base. Longer relnames keep an 8-byte name
    * prefix plus 8 hex chars of the name's SHA-1 — distinct long names
    * stay distinct AFTER truncation. Without the bound PG silently
    * truncates identifiers at 63 bytes, so two concurrent attempts
    * whose stage names differ only past byte 63 would collide on ONE
    * table and the `CREATE IF NOT EXISTS` + `TRUNCATE` session setup
    * would erase the winner's rows — exactly the speculation hazard
    * the per-attempt design exists to prevent.
    *
    * Continuity note: for relnames LONGER than the budget this hashed
    * base differs from the unbounded names earlier revisions produced
    * (which PG truncated), so epochs ledgers and crashed-run stage
    * tables created by those revisions are not recognized after an
    * upgrade. Before upgrading a deployment that streams into such
    * long-named tables: stop the query at a checkpointed batch
    * boundary and drop leftover `<rel>__graft_stage_*` /
    * `<rel>__graft_epochs` tables manually — otherwise the fresh
    * ledger re-delivers already-published batches.
    */
  /** relnames already warned about this JVM — the hashed-base hazard
    * is per deployment, not per call, and stageName runs per task
    * attempt; an unbounded stderr stream would bury the warning. */
  private val warnedBases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def boundBase(rel: String, budget: Int = 63 - 46): String = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (rel.getBytes(utf8).length <= budget) rel
    else {
      // surface the continuity hazard at runtime, not just in this doc:
      // pre-hashing revisions produced names PG silently truncated, so
      // a ledger/stage created by them is NOT recognized after an
      // upgrade — a streaming query on this relname starts a fresh
      // ledger and re-delivers already-published batches
      if (warnedBases.add(rel))
        System.err.println(
          s"graft: relname '$rel' exceeds the stage-name byte budget " +
            s"($budget); staging/ledger names use a hashed base. If " +
            "this table was written by a pre-hashing graft version, " +
            "drop its old __graft_stage_*/__graft_epochs tables before " +
            "streaming into it — the fresh ledger would otherwise " +
            "re-deliver already-published batches.")
      val h = java.security.MessageDigest.getInstance("SHA-1")
        .digest(rel.getBytes(utf8)).take(4).map("%02x".format(_)).mkString
      val pre = new java.lang.StringBuilder
      var i = 0; var n = 0
      while (i < rel.length) {
        val cp = rel.codePointAt(i)
        val w = new String(Character.toChars(cp)).getBytes(utf8).length
        if (n + w > budget - 9) i = rel.length
        else { pre.appendCodePoint(cp); n += w; i += Character.charCount(cp) }
      }
      s"$pre-$h"
    }
  }

  /** Stage-table name prefix for `table`'s BARE relname — what stage
    * relnames start with, and what the drop pattern matches. Any schema
    * qualifier in `table` is stripped (pg_tables.tablename holds the
    * bare relname); [[stageName]] re-attaches it.
    */
  def stagePrefix(table: String): String =
    s"${boundBase(PgWire.splitQualified(table)._2)}__graft_stage_p"

  def stageName(table: String, pid: Int, attemptId: Long): String = {
    val (schema, _) = PgWire.splitQualified(table)
    val rel = s"${stagePrefix(table)}${pid}_a$attemptId"
    schema.fold(rel)(s => PgWire.joinQualified(s, rel))
  }

  /** A stage's session setup: create it `LIKE` the target, relax NOT
    * NULL outside a non-empty column list (see the object doc), empty
    * it. `quote` renders a qualified name. */
  private def stageSetup(stage: String, table: String, columns: Seq[String],
                         quote: String => String): Seq[String] = {
    val relax =
      if (columns.isEmpty) Nil
      else {
        val st = PgWire.quoteLiteral(quote(stage))
        val listed = columns.map(PgWire.quoteLiteral).mkString(", ")
        Seq("DO $$ DECLARE r record; BEGIN " +
          "FOR r IN SELECT attname FROM pg_attribute " +
          s"WHERE attrelid = $st::regclass AND attnum > 0 " +
          "AND NOT attisdropped AND attnotnull " +
          s"AND attname <> ALL (ARRAY[$listed]::name[]) LOOP " +
          "EXECUTE format('ALTER TABLE %s ALTER COLUMN %I DROP NOT NULL', " +
          s"$st, r.attname); " +
          "END LOOP; END $$;")
      }
    s"CREATE TABLE IF NOT EXISTS ${quote(stage)} (LIKE ${quote(table)});" +:
      relax :+ s"TRUNCATE ${quote(stage)};"
  }

  /** One winning stage's publish statement inside the commit
    * transaction: the listed columns only when there is a list. */
  private def publish(stage: String, table: String, columns: Seq[String],
                      quote: String => String): String =
    if (columns.isEmpty)
      s"INSERT INTO ${quote(table)} SELECT * FROM ${quote(stage)};"
    else {
      val cols = columns.map(PgWire.quoteIdent).mkString(", ")
      s"INSERT INTO ${quote(table)} ($cols) SELECT $cols FROM " +
        s"${quote(stage)};"
    }

  /** Stage cleanup (PostgreSQL): one DO block dropping every
    * stage of `table`'s relname in `table`'s OWN schema. Qualified
    * names filter on `pg_tables.schemaname` and match the BARE relname
    * (pg_tables.tablename is never schema-qualified — a
    * `'schema.rel…%'` pattern matches nothing, which would leak one
    * stage table per task attempt forever). Unqualified names filter
    * on `current_schema()` — that is where the unqualified
    * `CREATE TABLE` placed the stages — and the drop is always
    * schema-qualified so `search_path` can never resolve it to a
    * same-named table in another schema.
    */
  def dropStages(table: String): String = {
    val (schema, rel) = PgWire.splitQualified(table)
    def lit(x: String) = x.replace("'", "''")
    val schemaFilter = schema match {
      case Some(s) => s"schemaname = '${lit(s)}'"
      case None    => "schemaname = current_schema()"
    }
    // rel is ALREADY the bare relname — build the prefix from it
    // directly. Routing it back through stagePrefix would re-split a
    // dotted relname ("t.dot3" → prefix "dot3…"), and the mismatched
    // pattern leaks one stage table per task attempt forever.
    val pat = lit(s"${boundBase(rel)}__graft_stage_p").replace("_", "\\_")
    "DO $$ DECLARE r record; BEGIN " +
      "FOR r IN SELECT schemaname, tablename FROM pg_tables " +
      s"WHERE $schemaFilter AND tablename LIKE '$pat%' ESCAPE '\\' LOOP " +
      "EXECUTE 'DROP TABLE ' || quote_ident(r.schemaname) || '.' || " +
      "quote_ident(r.tablename); " +
      "END LOOP; END $$;"
  }

  def write(df: DataFrame, table: String,
            exec: String => Unit,
            endpointFor: (String, Seq[String], Int) => CopyEndpoint,
            quote: String => String = identity,
            columns: Seq[String] = Nil,
            maxRows: Int = 25000,
            maxBytes: Long = 20L << 20,
            onErrorStop: Boolean = false,
            publishExtra: Seq[String] = Nil,
            rejectDir: Option[String] = None)
      : (Long, Long, Long) = {
    // pre-clean: a previously crashed run's stages must not publish
    exec(dropStages(table))
    val winners = df.sparkSession.sparkContext
      .collectionAccumulator[String]("graftStageWinners")
    val tbl = table; val ef = endpointFor; val q = quote; val cols = columns
    def attemptStage(pid: Int): String = {
      // taskAttemptId is unique across the application, so concurrent
      // speculative attempts — and resubmitted stages — get disjoint
      // stage tables; outside a task (unit-test harnesses) fall back
      // to attempt 0
      val att = Option(TaskContext.get).map(_.taskAttemptId).getOrElse(0L)
      stageName(tbl, pid, att)
    }
    val sink = new CopySink(
      endpointFactory = pid => {
        val stage = attemptStage(pid)
        ef(stage, stageSetup(stage, tbl, cols, q), pid)
      },
      maxRows = maxRows, maxBytes = maxBytes,
      onErrorStop = onErrorStop,
      // runs after the attempt's final flush: result-stage accumulator
      // semantics record exactly one completed attempt per partition
      onPartitionSuccess = pid => winners.add(attemptStage(pid)),
      // rejected rows never reach a stage table, so they can't
      // double-publish — reject FILES are pure diagnostics here and
      // carry the same replayable contract as the direct path
      rejectDir = rejectDir)
    val result = sink.write(df)
    import scala.jdk.CollectionConverters._
    val stages = winners.value.asScala.toSeq.distinct.sorted
    // atomic publish: all partitions land or none; `publishExtra`
    // statements (e.g. the streaming epoch marker) commit atomically
    // WITH the data
    exec((Seq("BEGIN;") ++ stages.map(publish(_, table, columns, quote)) ++
      publishExtra ++ Seq("COMMIT;")).mkString(" "))
    exec(dropStages(table))
    result
  }

  /** Exactly-once STREAMING delivery: the `foreachBatch` body for a
    * Structured Streaming query writing to PostgreSQL. Spark's
    * foreachBatch is at-least-once — after a crash between a batch's
    * side effect and the checkpoint commit, the SAME (queryId, batchId)
    * replays. This wrapper makes the replay a no-op: each batch stages
    * per task attempt exactly like [[write]], and the publish
    * transaction ALSO inserts an epoch marker row into
    * `<table>__graft_epochs` — data and marker commit atomically, so a
    * replayed batch sees its marker and skips, and a crash BEFORE the
    * publish left no marker and no published rows (the rerun's
    * pre-clean drops its orphan stages). The standard idempotent-sink
    * pattern, with the dedup ledger server-side in the target database.
    *
    * Usage: `ds.writeStream.foreachBatch { (batch, id) =>
    *   ExactlyOnce.writeStreamBatch(batch, "events", qid, id, …); () }`
    *
    * '''queryId stability contract''': the guarantee holds only while
    * `(queryId, batchId)` is stable across restarts of the same query —
    * pass `query.id` (stable per checkpoint location) or a user-chosen
    * stream name. NEVER pass `query.runId`: it changes on every
    * restart, so a post-crash replay arrives under a fresh ledger key
    * and the batch double-publishes. And if the CHECKPOINT itself is
    * lost, Spark restarts batch ids at 0 while the ledger still holds
    * the old run's markers — batches would silently no-op against
    * stale entries. After checkpoint loss either start a fresh
    * `queryId` (accepting re-delivery of unacknowledged source data,
    * the standard foreachBatch-ledger limitation) or dedup on a data
    * key via a custom publish instead of the epoch ledger.
    *
    * @param query read-only SQL against the target (epoch lookup)
    * @return (sent, rejected, bytes); (0, 0, 0) for a replayed batch
    */
  def writeStreamBatch(df: DataFrame, table: String,
                       queryId: String, batchId: Long,
                       exec: String => Unit,
                       query: String => Seq[Array[String]],
                       endpointFor: (String, Seq[String], Int) => CopyEndpoint,
                       quote: String => String = identity,
                       maxRows: Int = 25000,
                       maxBytes: Long = 20L << 20,
                                  rejectDir: Option[String] = None)
      : (Long, Long, Long) = {
    // ledger name bounded the same way as stage names: two long-named
    // tables whose relnames differ only past NAMEDATALEN must not
    // truncate onto ONE ledger (same (queryId, batchId) key space —
    // a collision would silently no-op the other table's batches)
    val (tschema, trel) = PgWire.splitQualified(table)
    val erel = s"${boundBase(trel, 63 - "__graft_epochs".length)}__graft_epochs"
    // joinQualified, not bare concat: a dotted/quoted schema must
    // re-render pre-quoted or quoteQualified splits at the wrong dot
    // (same fix as stageName)
    val epochs = tschema.fold(erel)(s => PgWire.joinQualified(s, erel))
    val qlit = "'" + queryId.replace("'", "''") + "'"
    exec(s"CREATE TABLE IF NOT EXISTS ${quote(epochs)} " +
      "(query_id text NOT NULL, batch_id bigint NOT NULL, " +
      "PRIMARY KEY (query_id, batch_id));")
    val seen = query(s"SELECT 1 FROM ${quote(epochs)} " +
      s"WHERE query_id = $qlit AND batch_id = $batchId")
    if (seen.nonEmpty) (0L, 0L, 0L)
    else write(df, table, exec, endpointFor, quote,
      maxRows = maxRows, maxBytes = maxBytes,
      publishExtra = Seq(s"INSERT INTO ${quote(epochs)} " +
        s"VALUES ($qlit, $batchId);"),
      rejectDir = rejectDir)
  }
}
