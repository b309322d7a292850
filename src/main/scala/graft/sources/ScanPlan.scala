package graft.sources

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** How one database table or set of files is read, decided once by its
  * source's `scan` (the ctid or leaf ranges of [[PgWireSource]], the key
  * ranges of [[MySqlWireSource]] and [[MssqlWireSource]], the B-tree
  * subtrees of [[SqliteSource]], one file each for [[DbfSource]] and
  * [[IxfSource]], byte ranges of the files for the line formats'
  * [[SkipLines]]). Each split is opened
  * by `open` into a stream of catalyst-form rows: one `UTF8String` or
  * null per column (fidelity mode: the cast engine types the values
  * downstream).
  *
  * A plan is read one of two ways, with the same columns, splits,
  * opener and split numbering: on driver threads, one stream per split
  * ([[graft.sinks.LocalCopy]]), or as a Spark job, one partition per
  * split ([[frame]]). `open` ships to executors, so it must capture
  * only serializable values (connection parameters, paths), never a
  * source object.
  *
  * @param columns the column names every split yields, in order: the
  *   frame's string schema and the driver route's row width
  * @param splits one stream or Spark partition each; the wire sources'
  *   split is the full SELECT statement of its range
  */
final case class ScanPlan[S](
    columns: Seq[String],
    splits: Seq[S],
    open: S => ScanPlan.Stream)(implicit tag: ClassTag[S]) {
  require(columns.nonEmpty, "a scan plan needs its columns")

  /** Opens split `i` on the calling thread. */
  def stream(i: Int): ScanPlan.Stream = open(splits(i))

  /** The distributed read: one Spark partition per split, each opened
    * executor-side and consumed as a stream, its rows entering the plan
    * through the internal-row scan (no `Row` or encoder pass per row).
    * The source closes when its stream drains and, as a backstop for a
    * task that stops early (limit, failure), when the task completes.
    * No split (an empty directory) reads no row. */
  def frame(spark: SparkSession): DataFrame = {
    val open = this.open // capture the function, not the plan
    val rdd =
      if (splits.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
      else spark.sparkContext.parallelize(splits, splits.length)
        .mapPartitions { it =>
          it.flatMap { split =>
            val s = open(split)
            val tc = org.apache.spark.TaskContext.get()
            if (tc != null) tc.addTaskCompletionListener[Unit](_ => s.close())
            new Iterator[InternalRow] {
              private var closed = false
              override def hasNext: Boolean = {
                val h = s.rows.hasNext
                if (!h && !closed) { closed = true; s.close() }
                h
              }
              override def next(): InternalRow =
                new GenericInternalRow(s.rows.next())
            }
          }
        }
    val schema = StructType(columns.map(n =>
      StructField(n, StringType, nullable = true)))
    org.apache.spark.sql.graft.FunctionInstaller
      .internalDataFrame(spark, rdd, schema)
  }
}

object ScanPlan {

  /** One opened split: the rows in catalyst form, and the close (safe
    * to call twice). */
  final case class Stream(rows: Iterator[Array[Any]], close: () => Unit)

  /** Starts a stream on a freshly opened `resource` (a connection or a
    * file); a failing start closes the resource before rethrowing. */
  def opened[C <: AutoCloseable](resource: C)(
      start: C => Iterator[Array[Any]]): Stream =
    try Stream(start(resource), () => resource.close())
    catch {
      case e: Throwable => resource.close(); throw e
    }

  /** Java-String row → catalyst form. */
  def utf8(values: Array[String]): Array[Any] = {
    val out = new Array[Any](values.length)
    var i = 0
    while (i < values.length) {
      if (values(i) != null)
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(values(i))
      i += 1
    }
    out
  }
}
