package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every source reads through [[graft.sources.ScanPlan]], and a
  * self-describing file's header is read once, by its source's `scan`.
  * The line formats list their files once
  * ([[graft.sources.SkipLines.enumerateFiles]]), read their heads on the
  * driver ([[graft.sources.SkipLines.heads]]) and their lines through
  * [[graft.sources.SkipLines.scan]]. A database
  * table's size comes with its catalog read, never from a query of its
  * own. */
class ReadCoreSpec extends AnyFunSuite {

  private def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("graft.sources has no binaryFile reader and no createDataFrame") {
    val root = Paths.get("src/main/scala/graft/sources")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("ScanPlan.scala")),
      s"${files.size} files under $root")
    val hits = for {
      p <- files
      needle <- Seq("format(\"binaryFile\")", "createDataFrame(")
      if text(p).contains(needle)
    } yield s"$p: $needle"
    assert(hits.isEmpty, s"a second read core: $hits")
  }

  test("graft.sources has no Hadoop RDD read: no hadoopRDD, JobConf or " +
    "mapPartitionsWithInputSplit") {
    val files = scalaFiles("src/main/scala/graft/sources")
    assert(files.exists(_.endsWith("SkipLines.scala")), files)
    val hits = for {
      p <- files
      needle <- Seq("hadoopRDD(", "JobConf", "mapPartitionsWithInputSplit")
      if text(p).contains(needle)
    } yield s"$p: $needle"
    assert(hits.isEmpty, s"a second read core: $hits")
  }

  test("no DBF or IXF header read outside the scan: no FileInputStream " +
    "in Runner or PlanBuilder") {
    val hits = Seq("src/main/scala/graft/Runner.scala",
        "src/main/scala/graft/dsl/PlanBuilder.scala")
      .map(Paths.get(_))
      .filter(p => text(p).contains("FileInputStream("))
    assert(hits.isEmpty, s"a second header read in $hits")
  }

  test("no Spark job reads a line format's head: no textFile or " +
    "CsvSource.sample in graft.dsl or graft.sources") {
    val files = scalaFiles("src/main/scala/graft/dsl") ++
      scalaFiles("src/main/scala/graft/sources")
    assert(files.exists(_.endsWith("PlanBuilder.scala")), files)
    val hits = for {
      p <- files
      needle <- Seq("textFile(", "CsvSource.sample(", "def sample(")
      if text(p).contains(needle)
    } yield s"$p: $needle"
    assert(hits.isEmpty, s"a second head read: $hits")
  }

  test("graft.sources lists files only in SkipLines.enumerateFiles") {
    def count(t: String) = Seq("globStatus(", "listStatus(").map(n =>
      t.split(java.util.regex.Pattern.quote(n), -1).length - 1).sum
    val skipLines = text(Paths.get(
      "src/main/scala/graft/sources/SkipLines.scala"))
    val start = skipLines.indexOf("def enumerateFiles(")
    assert(start >= 0, "SkipLines.enumerateFiles is gone")
    // up to the method's closing brace at member indentation
    val body = skipLines.substring(start,
      skipLines.indexOf("\n  }\n", start))
    val total = scalaFiles("src/main/scala/graft/sources")
      .map(p => count(text(p))).sum
    assert(count(body) > 0 && total == count(body),
      s"$total globStatus/listStatus calls, ${count(body)} in enumerateFiles")
  }

  test("graft.sources sizes a table only in its catalog read: no " +
    "rowCountOf, no PG probe and no capacity OFFSET subquery") {
    val files = scalaFiles("src/main/scala/graft/sources")
    assert(files.exists(_.endsWith("PgWireSource.scala")), files)
    val hits = for {
      p <- files
      needle <- Seq("rowCountOf", "LIMIT 1 OFFSET", "probe(")
      if text(p).contains(needle)
    } yield s"$p: $needle"
    assert(hits.isEmpty, s"a per-table size query: $hits")
  }
}
