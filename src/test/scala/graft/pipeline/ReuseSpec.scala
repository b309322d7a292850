package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ReuseSpec extends SparkSpec {

  private def counts =
    spark.range(0, 40).groupBy((col("id") % 7).as("k")).count()

  test("shared under the local session is a checkpointed plan with the " +
    "same rows") {
    assert(spark.sparkContext.isLocal)
    val df = counts
    val got = Reuse.shared(df)
    assert(got.queryExecution.logical.isInstanceOf[LogicalRDD],
      got.queryExecution.logical.treeString)
    assert(got.collect().toSet == df.collect().toSet)
  }

  test("shared off a local master returns the frame as is") {
    val df = counts
    assert(Reuse.shared(df, local = false) eq df)
  }

  test("the reuse decision lives in Reuse alone: no other localCheckpoint " +
    "call and no checkpoint… parameter in src/main") {
    val root = Paths.get("src/main/scala")
    val reuse = root.resolve("graft/pipeline/Reuse.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(reuse), s"${files.size} files under $root")
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val calls = files.filter(p => p != reuse &&
      text(p).contains("localCheckpoint("))
    assert(calls.isEmpty, s"localCheckpoint( outside Reuse: $calls")
    val param = """\bcheckpoint[A-Z]\w*\s*:""".r
    val params = files.flatMap(p =>
      param.findAllIn(text(p)).map(m => s"$p: $m"))
    assert(params.isEmpty, s"checkpoint… parameters: $params")
  }
}
