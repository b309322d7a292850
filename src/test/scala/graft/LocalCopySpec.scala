package graft

import java.nio.file.Files
import graft.sinks.{CopyEndpoint, CopyError, CopySink, LocalCopy}

/** The driver route of database tables ([[graft.sinks.LocalCopy]]):
  * its scalar renderer must stay byte-identical to the distributed
  * sink's codegen renderer (the route is a pure execution-venue
  * change, never a format change), and its batch/reject machinery must
  * honor the same recovery contract. */
class LocalCopySpec extends SparkSpec {

  /** A plan over `columns` with one split per stream of `splits`. */
  private def plan(columns: Seq[String], splits: Iterator[Array[Any]]*) =
    graft.sources.ScanPlan[Int](columns, splits.indices,
      i => graft.sources.ScanPlan.Stream(splits(i), () => ()))

  // tricky corpus: every COPY TEXT escape class, unicode, nulls, the
  // literal "\N" spelling that must NOT round-trip as NULL, plus a
  // seeded random batch for breadth
  private val tricky: Seq[String] = Seq(
    "", "\t", "\n", "\r", "\\", "\\N", "a\tb\nc\\d", "héllo wörld",
    "line1\nline2", "\\x41", "  padded  ", "∀x∈X", "\u0001\u007f",
    "ends with backslash\\", "\btab\fvert\u000b")
  private val rnd = new scala.util.Random(18)
  private def randomString(): String = {
    val chars = "ab\t\n\\é∀ \r"
    (0 until rnd.nextInt(12)).map(_ => chars(rnd.nextInt(chars.length)))
      .mkString
  }
  private val rows3: Seq[Array[String]] =
    tricky.map(s => Array(s, null: String, s.reverse)) ++
      (0 until 40).map(_ => Array(
        if (rnd.nextInt(5) == 0) null else randomString(),
        if (rnd.nextInt(5) == 0) null else randomString(),
        if (rnd.nextInt(5) == 0) null else randomString()))

  private def stringDf(rows: Seq[Array[String]]) = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq("a", "b", "c")
      .map(n => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r.toIndexedSeq: _*)).asJava,
      schema)
  }

  // scan rows arrive in catalyst form
  private def utf8(r: Array[String]): Array[Any] = graft.sources.ScanPlan.utf8(r)

  test("textRender matches the codegen textRenderer byte-for-byte") {
    val codegen = CopySink.textRenderer(stringDf(rows3)).collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    val local = rows3.map(r => CopySink.textLine(utf8(r)).toSeq)
    assert(codegen.length == local.length)
    // a local relation of this size collects in input order
    codegen.zip(local).zipWithIndex.foreach { case ((c, l), i) =>
      assert(c == l, s"row $i diverged")
    }
  }

  test("write: batches flow through BatchRetry with the line-numbered " +
    "prefix-resend contract; rejects land in part-00000.dat") {
    val landed = scala.collection.mutable.ArrayBuffer.empty[String]
    val endpoint = new CopyEndpoint {
      def send(rows: Seq[Array[Byte]]): Unit = {
        val bad = rows.indexWhere(b => new String(b, "UTF-8").contains("BAD"))
        if (bad >= 0) throw CopyError(Some(bad + 1), "boom")
        rows.foreach(b => landed += new String(b, "UTF-8").stripSuffix("\n"))
      }
    }
    val dir = Files.createTempDirectory("localcopy").toString
    val rows = Iterator(Array[String]("1", "a"), Array("2", "BAD"),
      Array("3", "c"), Array[String](null, "d")).map(utf8)
    val (sent, rejected, bytes) = LocalCopy.write(plan(Seq("k", "v"), rows),
      _ => endpoint, rejectDir = Some(dir))
    assert(sent == 3 && rejected == 1)
    assert(bytes > 0)
    assert(landed == Seq("1\ta", "3\tc", "\\N\td"))
    val rf = new java.io.File(dir, "part-00000.dat")
    assert(rf.exists())
    val content = new String(Files.readAllBytes(rf.toPath), "UTF-8")
    assert(content == "2\tBAD\n")
  }

  test("write: onErrorStop fails fast instead of rejecting") {
    val endpoint = new CopyEndpoint {
      def send(rows: Seq[Array[Byte]]): Unit =
        throw CopyError(Some(1), "constraint")
    }
    intercept[CopyError] {
      LocalCopy.write(plan(Seq("x"), Iterator(Array("x")).map(utf8)),
        _ => endpoint, onErrorStop = true)
    }
  }
}
