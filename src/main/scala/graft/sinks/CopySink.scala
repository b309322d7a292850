package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator
import graft.sources.{CopyText, TaggedLines}
import scala.collection.mutable.ArrayBuffer

/** Failure reported by a COPY endpoint. `lineInBatch` is the 1-based row
  * index inside the failed batch when the server reports it (PG does via
  * `CONTEXT: COPY table, line N` — parsed at copy-retry-batch.lisp:47-52);
  * None when the error carries no position (e.g. an FK violation at COMMIT).
  */
final case class CopyError(lineInBatch: Option[Int], message: String)
  extends Exception(message)

/** Where formatted COPY rows go. One endpoint per task/partition.
  * Implementations: the driver-free wire client ([[PgWireCopyEndpoint]],
  * what the CLI uses), plain JDBC batched INSERT
  * ([[JdbcInsertEndpoint]]), or in-memory test doubles. `send` is
  * transactional: on [[CopyError]] NONE of the rows were kept. */
trait CopyEndpoint extends AutoCloseable {
  def send(rows: Seq[Array[Byte]]): Unit
  override def close(): Unit = ()
}

object CopyEndpoint {
  /** Run session-setup statements (SET gucs, replica role) on a freshly
    * opened endpoint connection — per-connection state must be applied on
    * every connection that loads data, or triggers silently still fire. */
  def applySessionSetup(conn: java.sql.Connection,
                        sessionSetup: Seq[String]): Unit =
    if (sessionSetup.nonEmpty) {
      val st = conn.createStatement()
      try sessionSetup.foreach(s => st.execute(s.stripSuffix(";")))
      finally st.close()
    }
}

/** Batch of pre-formatted rows — format-once-retry-many, exactly the
  * reference's batch structure (src/pg-copy/copy-batch.lisp:11-50): capped
  * by max(rows, bytes), row capacity randomized 0.7–1.3× so concurrent
  * writers don't commit in lockstep (copy-batch.lisp:29-34).
  */
final class Batch(maxRows: Int = 25000, maxBytes: Long = 20L << 20,
                  seed: Long = 0) {
  private val rnd = new java.util.Random(seed)
  private val capacity =
    math.max(1, (maxRows * (0.7 + rnd.nextDouble() * 0.6)).toInt)
  val rows = new ArrayBuffer[Array[Byte]](math.min(capacity, 1 << 16))
  private var bytes = 0L

  def add(row: Array[Byte]): Unit = { rows += row; bytes += row.length }
  def isFull: Boolean = rows.length >= capacity || bytes >= maxBytes
  def nonEmpty: Boolean = rows.nonEmpty
}

/** Per-row error recovery around a transactional COPY endpoint
  * (src/pg-copy/copy-retry-batch.lisp:47-214):
  *   - error WITH a line number: resend the prefix `[0,bad)`, reject the bad
  *     row, continue with the tail — O(errors) round-trips;
  *   - error WITHOUT a line number: bisect halves until single rows isolate
  *     — O(errors·log N) round-trips.
  */
object BatchRetry {

  /** Iterative worklist (a batch with thousands of bad rows must not
    * recurse once per error — executor stacks are finite).
    * @return (rowsSent, rowsRejected) */
  def sendWithRecovery(endpoint: CopyEndpoint,
                       rows: IndexedSeq[Array[Byte]],
                       reject: (Array[Byte], String) => Unit): (Long, Long) = {
    var sent = 0L
    var rejected = 0L
    // ranges [start, end) pending send, processed in original row order
    val work = scala.collection.mutable.Stack.empty[(Int, Int)]
    if (rows.nonEmpty) work.push((0, rows.length))
    while (work.nonEmpty) {
      val (s, e) = work.pop()
      if (s < e) {
        try { endpoint.send(rows.slice(s, e)); sent += (e - s) }
        catch {
          case CopyError(Some(n), msg) if n >= 1 && n <= e - s =>
            val bad = s + n - 1
            reject(rows(bad), msg)
            rejected += 1
            work.push((bad + 1, e)) // tail after the prefix (stack = LIFO)
            work.push((s, bad))
          case CopyError(_, msg) =>
            if (e - s == 1) { reject(rows(s), msg); rejected += 1 }
            else {
              val mid = (s + e) / 2
              work.push((mid, e))
              work.push((s, mid))
            }
        }
      }
    }
    (sent, rejected)
  }
}

/** The distributed COPY sink: each partition formats its rows to COPY TEXT
  * bytes once, accumulates batches, and streams them to its own endpoint —
  * the Spark realization of copy-rows-in-batch.lisp:6-31 where Spark tasks
  * replace the reader/writer thread pairs.
  *
  * @param endpointFactory built ON THE EXECUTOR per partition (must be a
  *   serializable closure); e.g. opens one PG connection per task.
  * @param onErrorStop fail-fast streaming mode (copy-from-queue.lisp:53-59)
  * @param onPartitionSuccess executor-side hook run after a partition's
  *   final flush succeeds and its reject files are closed — a serializable
  *   closure, typically adding to an accumulator so the driver learns
  *   which task attempt completed each partition ([[ExactlyOnce]]'s
  *   winner tracking). Result-stage accumulator semantics apply: only
  *   the first successful completion per partition is recorded.
  */
final class CopySink(
    endpointFactory: Int => CopyEndpoint,
    maxRows: Int = 25000,
    maxBytes: Long = 20L << 20,
    onErrorStop: Boolean = false,
    rejectDir: Option[String] = None,
    onPartitionSuccess: Int => Unit = null,
    renderer: DataFrame => DataFrame = CopySink.textRenderer,
    rejectRender: Array[Byte] => Array[Byte] = null)
  extends Serializable {

  /** Write `df`; returns (sent, rejected, bytes) via accumulators —
    * `bytes` counts the rendered row payload actually handed to
    * endpoints in the ACTIVE format: COPY TEXT lines under the default
    * renderer, COPY BINARY tuple frames under [[graft.sinks.PgBinary]]'s
    * (so summary byte totals are not comparable across formats — binary
    * frames of the same rows are usually smaller). This is the
    * reference's per-table bytes column in the load summary.
    *
    * Delivery contract: at-least-once per PARTITION — each COPY batch
    * commits atomically, but a Spark task retry (or a speculative
    * attempt) re-runs its partition from the first row and re-commits
    * batches the failed attempt already landed. That is the standard
    * non-transactional-sink trade (the reference's loader makes the
    * same one); when the target demands exactly-once, use the opt-in
    * [[ExactlyOnce]] wrapper (a stage table per task ATTEMPT — so
    * concurrent speculative attempts stay isolated — and one atomic
    * publish transaction of the winning attempts). */
  def write(df: DataFrame): (Long, Long, Long) = {
    val spark = df.sparkSession
    val sent = spark.sparkContext.longAccumulator("rowsSent")
    val rejected = spark.sparkContext.longAccumulator("rowsRejected")
    val bytesSent = spark.sparkContext.longAccumulator("bytesSent")
    val mr = maxRows; val mb = maxBytes; val stop = onErrorStop
    val rDir = rejectDir; val factory = endpointFactory
    val successHook = onPartitionSuccess; val rr = rejectRender
    // rows are rendered by a codegen'd projection to (value, reject,
    // raw): COPY TEXT lines by default (typed PG literals + escaping,
    // newline-terminated, cast to BINARY inside codegen so the task
    // receives UTF-8 bytes without a UTF8String→String round-trip —
    // profiled as a top-5 sink cost at reference-bench scale), or
    // COPY BINARY tuple frames ([[PgBinary.renderer]]). A null value
    // = the renderer could not encode the row (binary path only) —
    // routed to rejects with the `reject` column's text rendering,
    // matching what the server itself would do to that row. A non-null
    // raw = a line reader's parse reject ([[TaggedLines]]), filed as
    // its source line.
    val lines = renderer(df)
    lines.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val (s, r, b) = CopySink.writePartition[org.apache.spark.sql.Row](
        pid, it, _.getAs[Array[Byte]](0), _.getAs[Array[Byte]](1),
        _.getString(2), factory, mr, mb, stop, rDir, rr)
      sent.add(s); rejected.add(r); bytesSent.add(b)
      if (successHook != null) successHook(pid)
    }
    (sent.value, rejected.value, bytesSent.value)
  }
}

object CopySink {
  /** One partition's COPY — the loop both the distributed sink (per
    * Spark partition) and [[LocalCopy]] (on the driver, pid 0) run:
    * rendered rows fill a [[Batch]], each full batch goes through
    * [[BatchRetry.sendWithRecovery]], and every rejected row lands in
    * `<rejectDir>/part-<pid>.dat` (replayable COPY TEXT) — or, for a
    * source line that did not decode or parse, in
    * `<rejectDir>/part-<pid>.txt` as it was read — with one error
    * message per reject, in reject order, in `<logDir>/part-<pid>.log`.
    *
    * @param value the row's rendered bytes, or null when the renderer
    *   could not encode it (binary path only) — the row is then
    *   rejected with its `rejectText` rendering, exactly like a
    *   server-refused row
    * @param raw the row's source line when the reader could not decode
    *   or parse it (the row is then rejected unsent), else null
    * @param rejectRender server-rejected SENT bytes → replayable COPY
    *   TEXT (binary frames need [[PgBinary.frameToTextLine]]; null =
    *   the sent bytes are already text)
    * @return (rowsSent, rowsRejected, bytesSent) — bytes = rendered
    *   payload handed to the endpoint in the active format */
  private[sinks] def writePartition[R](
      pid: Int, rows: Iterator[R],
      value: R => Array[Byte], rejectText: R => Array[Byte],
      raw: R => String,
      endpointFactory: Int => CopyEndpoint,
      maxRows: Int, maxBytes: Long, onErrorStop: Boolean,
      rejectDir: Option[String],
      rejectRender: Array[Byte] => Array[Byte]): (Long, Long, Long) = {
    var sent = 0L; var rejected = 0L; var bytes = 0L
    val endpoint = endpointFactory(pid)
    // a plain Writer, NOT PrintWriter: PrintWriter swallows
    // IOExceptions behind an internal flag, so a disk-full reject
    // directory would silently lose the replay file while the job
    // reported N rejected rows as safely captured. Explicit UTF-8:
    // rows were decoded from UTF-8 bytes, and the platform-default
    // charset would silently mangle them ('?') on a non-UTF-8 host.
    // The reference pairs each reject data file with a .log of the
    // per-row error messages (state.lisp:55-95 reject-log-file;
    // reject.clj:33-58 writes msg per rejected row) — replay needs
    // the .dat, diagnosis needs WHY each row bounced.
    def rejectFile(dir: String, ext: String) = {
      val d = new java.io.File(dir); d.mkdirs()
      new java.io.BufferedWriter(new java.io.FileWriter(
        new java.io.File(d, f"part-$pid%05d.$ext"),
        java.nio.charset.StandardCharsets.UTF_8))
    }
    val rejectWriter = rejectDir.map(rejectFile(_, "dat"))
    val rejectLogWriter = rejectDir.map(d => rejectFile(logDirFor(d), "log"))
    // raw source lines are rare: their file opens on the first one
    var rawWriter: Option[java.io.Writer] = None
    def fileReject(msg: String)(write: => Unit): Unit = {
      if (onErrorStop) throw CopyError(None, msg)
      if (rejectDir.nonEmpty) write
      rejectLogWriter.foreach { w =>
        // one line per rejected row — multi-line server messages
        // fold so the Nth .log line explains the Nth reject
        w.write(Option(msg).getOrElse("").replace('\n', ' '))
        w.write("\n")
      }
      rejected += 1
    }
    val rejectFn: (Array[Byte], String) => Unit = (row, msg) =>
      fileReject(msg)(rejectWriter.get.write(new String(row, "UTF-8")))
    val rawReject: String => Unit = line =>
      fileReject(RawRejectMessage) {
        if (rawWriter.isEmpty) rawWriter = Some(rejectFile(rejectDir.get, "txt"))
        rawWriter.get.write(line)
        rawWriter.get.write("\n")
      }
    // SERVER-rejected rows reach BatchRetry as the bytes we SENT —
    // binary tuple frames under the binary renderer; encode-failure
    // rejects below already carry text
    val sendReject: (Array[Byte], String) => Unit =
      if (rejectRender == null) rejectFn
      else (row, msg) => rejectFn(rejectRender(row), msg)
    try {
      var batch = new Batch(maxRows, maxBytes, seed = pid)
      def flush(): Unit = if (batch.nonEmpty) {
        sent += BatchRetry.sendWithRecovery(
          endpoint, batch.rows.toIndexedSeq, sendReject)._1
        batch = new Batch(maxRows, maxBytes, seed = pid)
      }
      rows.foreach { row =>
        val line = value(row)
        val source = raw(row)
        if (source != null) rawReject(source)
        else if (line == null)
          rejectFn(rejectText(row),
            "value does not parse as its target type (COPY BINARY)")
        else {
          batch.add(line)
          bytes += line.length
          if (batch.isFull) flush()
        }
      }
      flush()
    } finally {
      rejectWriter.foreach(_.close())
      rawWriter.foreach(_.close())
      rejectLogWriter.foreach(_.close())
      endpoint.close()
    }
    (sent, rejected, bytes)
  }

  /** The .log sibling of a reject data dir — `<root>/<table>.dat` →
    * `<root>/<table>.log` (the reference's reject-log-file naming);
    * a dir without the .dat suffix appends .log. */
  def logDirFor(rejectDir: String): String =
    if (rejectDir.endsWith(".dat"))
      rejectDir.stripSuffix(".dat") + ".log"
    else rejectDir + ".log"

  /** The `.log` line of a source line the reader could not use. */
  val RawRejectMessage = "source line does not decode or parse"

  /** Default renderer: (value = COPY TEXT line bytes, reject = null,
    * raw = [[rawSlot]]). `value` is never null here — text rendering
    * cannot fail; the reject column exists so both renderers share one
    * row shape. */
  def textRenderer: DataFrame => DataFrame = { df =>
    import org.apache.spark.sql.functions.{concat, lit}
    df.select(
      concat(CopyText.lineColumn(TaggedLines.untagged(df)), lit("\n"))
        .cast(org.apache.spark.sql.types.BinaryType).as("value"),
      lit(null).cast(org.apache.spark.sql.types.BinaryType)
        .as("reject"),
      rawSlot(df))
  }

  /** A rendered row's raw slot: the source line of a row the reader
    * could not decode or parse ([[TaggedLines]]), NULL for a good row
    * or a frame with no tag. */
  private[sinks] def rawSlot(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    (if (df.columns.contains(TaggedLines.Col)) col(TaggedLines.Col)
     else lit(null).cast(org.apache.spark.sql.types.StringType)).as("raw")
  }
}

/** Batched-INSERT endpoint over plain JDBC — the sink fallback for targets
  * without COPY (SURVEY §2.2: `reWriteBatchedInserts` path). Consumes the
  * same COPY TEXT row bytes as the PG endpoint (format-once applies to
  * both), parsing them back to fields per batch. Transactional per send:
  * a failed batch is rolled back and reported with its failing line when
  * the driver identifies it.
  */
final class JdbcInsertEndpoint(url: String, props: java.util.Properties,
                               insertSql: String, nCols: Int,
                               sessionSetup: Seq[String] = Nil)
    extends CopyEndpoint {
  private val conn = java.sql.DriverManager.getConnection(url, props)
  // GUCs / replica role are per-connection: apply them on THIS connection
  // before any data flows (reference: set-session-gucs on every pgconn)
  CopyEndpoint.applySessionSetup(conn, sessionSetup)
  conn.setAutoCommit(false)
  private val ps = conn.prepareStatement(insertSql)

  override def send(rows: Seq[Array[Byte]]): Unit = {
    try {
      rows.foreach { bytes =>
        val line = new String(bytes, "UTF-8").stripSuffix("\n")
        val vals = graft.sources.CopyText.parseLine(line)
        var i = 0
        while (i < nCols) {
          if (i < vals.length && vals(i) != null) ps.setString(i + 1, vals(i))
          else ps.setNull(i + 1, java.sql.Types.VARCHAR)
          i += 1
        }
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } catch {
      case e: java.sql.BatchUpdateException =>
        conn.rollback(); ps.clearBatch()
        // update counts attribute a row ONLY when exactly one statement
        // failed: under pgjdbc's reWriteBatchedInserts every row of the
        // rewritten chunk is marked EXECUTE_FAILED, and blaming the
        // first index would reject good row 1, then good row 2, …
        // before reaching the bad one — fall back to bisect instead
        val counts = e.getUpdateCounts
        val failed = counts.zipWithIndex
          .filter(_._1 == java.sql.Statement.EXECUTE_FAILED)
        val line = failed match {
          case Array((_, i)) => Some(i + 1)
          case _ => None
        }
        throw CopyError(line,
          Option(e.getCause).getOrElse(e).getMessage)
      case e: Exception =>
        conn.rollback(); ps.clearBatch()
        throw CopyError(None, Option(e.getCause).getOrElse(e).getMessage)
    }
  }

  override def close(): Unit = { ps.close(); conn.close() }
}
