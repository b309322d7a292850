package graft.sinks

import graft.sources.CopyText
import org.apache.spark.unsafe.types.UTF8String

/** The driver route of a database table: each split of its
  * [[graft.sources.ScanPlan]] streams on a driver thread through the
  * distributed sink's own partition loop, [[CopySink.writePartition]],
  * with the split's index as partition id — the same opener, batching,
  * per-row recovery, reject files (`part-<pid>.dat` and `.log`) and
  * endpoint factories (text or COPY BINARY) as the Spark route, with
  * no job, no task serialization and no session.
  *
  * Under `local[n]` a Spark task is a thread of this JVM too, so the
  * route gives up no parallelism: the reference likewise streams every
  * table through one kernel of worker threads
  * (migrate-database.lisp:480-507). At most [[graft.Sessions.cpus]]
  * split streams run at once in the JVM, the slot count `local[cpus]`
  * gives Spark tasks; the Migrator's copy threads wait for their
  * table's streams.
  *
  * What else stays here is rendering, the scalar twin of the sink's
  * codegen renderers, kept equal by LocalCopySpec: [[CopyText.formatRow]]
  * is the scalar spec the codegen `lineColumn` is pinned to
  * (PgLiteralParitySpec), and the binary path composes the very same
  * [[PgBinary.encodeField]] the codegen expression calls.
  */
object LocalCopy {

  /** Tables loaded through the driver route since JVM start — a
    * diagnostic/test counter (specs assert the route actually ran; it
    * is not part of any user-facing contract). */
  val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A scan row in catalyst form (one `UTF8String` or null per column)
    * → (value bytes, reject-text bytes) — the DataFrame renderers' row
    * shape without its raw-line slot, which a database scan never
    * fills: exactly one side is null. */
  type Render = Array[Any] => (Array[Byte], Array[Byte])

  private def textLineBytes(values: Array[Any]): Array[Byte] =
    (CopyText.formatRow(values.map(v => if (v == null) null else v.toString)) +
      "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** COPY TEXT line renderer (never fails — text rendering is total). */
  val textRender: Render = values => (textLineBytes(values), null)

  /** COPY BINARY tuple-frame renderer: int16 field count + each field
    * via [[PgBinary.encodeField]] (null field = 4-byte −1). A value
    * that does not parse as its kind rejects the ROW with its COPY
    * TEXT rendering — the same contract as [[PgBinary.rowColumn]]'s
    * null-value/reject-column pair. */
  def binaryRender(kinds: Seq[PgBinKind]): Render = {
    val ks = kinds.toArray
    values => {
      require(values.length == ks.length,
        s"${values.length} values for ${ks.length} binary kinds")
      val n = ks.length
      val fields = new Array[Array[Byte]](n)
      var total = 2
      var i = 0
      var failed = false
      while (i < n && !failed) {
        val f =
          if (values(i) == null) PgBinary.NullField
          else PgBinary.encodeField(values(i).asInstanceOf[UTF8String], ks(i))
        if (f == null) failed = true
        else { fields(i) = f; total += f.length; i += 1 }
      }
      if (failed) (null, textLineBytes(values))
      else {
        val out = new Array[Byte](total)
        out(0) = (n >> 8).toByte; out(1) = n.toByte
        var off = 2; i = 0
        while (i < n) {
          System.arraycopy(fields(i), 0, out, off, fields(i).length)
          off += fields(i).length; i += 1
        }
        (out, null)
      }
    }
  }

  /** Where a table's streams go, chosen once per table from its plan's
    * column count (a COPY BINARY load resolves its encoders against it).
    *
    * @param endpointFactory the endpoint of one split, by partition id
    * @param rejectRender server-rejected SENT bytes → replayable COPY
    *   TEXT (binary frames need [[PgBinary.frameToTextLine]]; null =
    *   the sent bytes are already text) */
  final case class Sink(endpointFactory: Int => CopyEndpoint,
                        render: Render = textRender,
                        rejectRender: Array[Byte] => Array[Byte] = null)

  /** The driver's split-stream slots; idle threads exit. */
  private lazy val slots: java.util.concurrent.ExecutorService = {
    val n = graft.Sessions.cpus
    val threads = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = new java.util.concurrent.ThreadPoolExecutor(n, n,
      30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-copy-stream-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Load every split of `plan`, one stream per split on the driver's
    * slots, and wait for all of them. The [[Sink]] is chosen once, from
    * the plan's column count, before any stream opens. When a split
    * fails, the splits not yet started are dropped, the running ones
    * finish, and the first failure is rethrown.
    *
    * @return (rowsSent, rowsRejected, bytesSent) — same accounting as
    *   the distributed sink */
  def write(plan: graft.sources.ScanPlan[_],
            sink: Int => Sink,
            rejectDir: Option[String] = None,
            maxRows: Int = 25000,
            maxBytes: Long = 20L << 20,
            onErrorStop: Boolean = false): (Long, Long, Long) = {
    val k = sink(plan.columns.length)
    val streams = plan.splits.indices.map { pid =>
      slots.submit(new java.util.concurrent.Callable[(Long, Long, Long)] {
        def call(): (Long, Long, Long) = {
          val s = plan.stream(pid)
          try CopySink.writePartition[(Array[Byte], Array[Byte])](
            pid, s.rows.map(k.render), _._1, _._2, _ => null,
            k.endpointFactory, maxRows, maxBytes, onErrorStop, rejectDir,
            k.rejectRender)
          finally s.close()
        }
      })
    }
    var failure: Throwable = null
    val totals = streams.map { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (failure == null) {
            failure = e.getCause
            streams.foreach(_.cancel(false))
          }
          (0L, 0L, 0L)
        case _: java.util.concurrent.CancellationException => (0L, 0L, 0L)
        case e: InterruptedException =>
          streams.foreach(_.cancel(true))
          throw e
      }
    }
    if (failure != null) throw failure
    loads.incrementAndGet()
    (totals.map(_._1).sum, totals.map(_._2).sum, totals.map(_._3).sum)
  }
}
