package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every source that is not line-based reads through
  * [[graft.sources.ScanPlan]], and a self-describing file's header is
  * read once, by its source's `scan`. */
class ReadCoreSpec extends AnyFunSuite {

  private def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

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

  test("no DBF or IXF header read outside the scan: no FileInputStream " +
    "in Runner or PlanBuilder") {
    val hits = Seq("src/main/scala/graft/Runner.scala",
        "src/main/scala/graft/dsl/PlanBuilder.scala")
      .map(Paths.get(_))
      .filter(p => text(p).contains("FileInputStream("))
    assert(hits.isEmpty, s"a second header read in $hits")
  }
}
