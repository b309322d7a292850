package graft.sinks

import graft.sources.CopyText
import org.apache.spark.unsafe.types.UTF8String

/** Driver-local COPY fast path for small tables — the per-table
  * Spark-job floor amortization (reference: migrate-database.lisp:480-507
  * schedules every table into one shared kernel, paying a millisecond
  * per-table floor; a Spark job submit + task round per 9-row table
  * pays ~0.1 s uncontended and whole seconds when the scheduler is
  * saturated by a big table's partitions).
  *
  * A table its source's `scan` plans as a single split
  * ([[graft.sources.ScanPlan]]`.local`: one ctid chunk, below the
  * key-range guard, one B-tree subtree) would run as ONE Spark task
  * anyway — zero parallelism is lost by reading its stream on the
  * driver (the Migrator's copy pool thread, so `workers` small tables
  * still load concurrently), opened by the same opener a Spark task
  * would use.
  * The rows then run through the distributed sink's own partition
  * loop, [[CopySink.writePartition]], as partition 0: the same
  * batching, per-row recovery, reject files (`part-00000.dat` and
  * `.log`) and endpoint factories (text or COPY BINARY).
  *
  * What stays here is rendering, the scalar twin of the sink's codegen
  * renderers, kept equal by LocalCopySpec: [[CopyText.formatRow]] is
  * the scalar spec the codegen `lineColumn` is pinned to
  * (PgLiteralParitySpec), and the binary path composes the very same
  * [[PgBinary.encodeField]] the codegen expression calls.
  */
object LocalCopy {

  /** Tables loaded through the local path since JVM start — a
    * diagnostic/test counter (the live fixture spec asserts the fast
    * path actually ran; it is not part of any user-facing contract). */
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

  /** Load `rows` through one endpoint on the calling thread — the
    * sink's partition loop with partition id 0, so reject files land
    * as `part-00000.dat`, exactly where the distributed path would put
    * a single partition's.
    *
    * @param rejectRender server-rejected SENT bytes → replayable COPY
    *   TEXT (binary frames need [[PgBinary.frameToTextLine]]; null =
    *   the sent bytes are already text)
    * @return (rowsSent, rowsRejected, bytesSent) — same accounting as
    *   the distributed sink */
  def write(rows: Iterator[Array[Any]],
            endpointFactory: Int => CopyEndpoint,
            render: Render = textRender,
            rejectDir: Option[String] = None,
            rejectRender: Array[Byte] => Array[Byte] = null,
            maxRows: Int = 25000,
            maxBytes: Long = 20L << 20,
            onErrorStop: Boolean = false): (Long, Long, Long) = {
    val result = CopySink.writePartition[(Array[Byte], Array[Byte])](
      0, rows.map(render), _._1, _._2, _ => null, endpointFactory,
      maxRows, maxBytes, onErrorStop, rejectDir, rejectRender)
    loads.incrementAndGet()
    result
  }
}
