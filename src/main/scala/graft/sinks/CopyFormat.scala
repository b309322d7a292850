package graft.sinks

import graft.sources.CopyText
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String

/** The row format of one table's COPY, chosen once per table and handed
  * to whichever writer runs it ([[CopySink]], [[LocalCopy]] or
  * [[ExactlyOnce]]) — a row is formatted once and its bytes resent on
  * every retry (copy-format.lisp:9-13, copy-rows-in-batch.lisp:6-31).
  * The format owns all three renderings a writer needs, so a binary
  * frame renderer can never meet text reject handling:
  *
  *   - [[render]]: the Spark route's codegen renderer, a frame → rows
  *     of (value, reject, raw);
  *   - [[rowRenderer]]: its scalar twin for the driver route, resolved
  *     once per table;
  *   - [[rejectLine]]: bytes the server refused → the replayable COPY
  *     TEXT line the reject file keeps.
  */
sealed trait CopyFormat extends Serializable {
  def render(df: DataFrame): DataFrame
  def rowRenderer: CopyFormat.RowRender
  def rejectLine(sent: Array[Byte]): Array[Byte]
}

object CopyFormat {

  /** A scan row in catalyst form (one `UTF8String` or null per column)
    * → (value bytes, reject-text bytes) — the frame renderers' row
    * shape without its raw-line slot, which a database scan never
    * fills: exactly one side is null. */
  type RowRender = Array[Any] => (Array[Byte], Array[Byte])

  private def textLine(values: Array[Any]): Array[Byte] =
    (CopyText.formatRow(values.map(v => if (v == null) null else v.toString)) +
      "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** COPY TEXT: rendering is total, and the bytes sent are already the
    * replayable line. [[CopyText.formatRow]] is the scalar spec the
    * codegen `lineColumn` is pinned to (PgLiteralParitySpec). */
  case object Text extends CopyFormat {
    def render(df: DataFrame): DataFrame = CopySink.textRenderer(df)
    val rowRenderer: RowRender = values => (textLine(values), null)
    def rejectLine(sent: Array[Byte]): Array[Byte] = sent
  }

  /** COPY BINARY with one encoder per COPY column, resolved from the
    * target catalog. The driver renderer composes the very same
    * [[PgBinary.encodeField]] the codegen expression calls: int16 field
    * count + each field (null = 4-byte −1). A value that does not parse
    * as its kind rejects the ROW with its COPY TEXT line — the
    * null-value/reject-column pair of [[PgBinary.rowColumn]]. */
  final case class Binary(kinds: Seq[PgBinKind]) extends CopyFormat {
    def render(df: DataFrame): DataFrame = PgBinary.renderer(kinds)(df)

    def rowRenderer: RowRender = {
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
        if (failed) (null, textLine(values))
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

    def rejectLine(sent: Array[Byte]): Array[Byte] =
      PgBinary.frameToTextLine(sent, kinds)
  }
}
