package graft.tools

/** Plan-audit helper: print the formatted physical plan of one or more
  * [[graft.SparkEntry]] queries without running their final action (a
  * frame an operator shares through [[graft.pipeline.Reuse]] is still
  * materialized while the query is built) — the loop behind
  * "iterate until it's the plan you'd want" (broadcasts where expected,
  * filters pushed to the scan, WindowGroupLimit below the exchange).
  *
  * Usage: runMain graft.tools.ExplainQuery <sfDir> <name>[,<name>...]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExplainQuery <sfDir> <queryName>[,<queryName>...]")
    val (dir, names) = (args(0), args(1).split(',').toSeq)
    val spark = graft.Sessions.builder("explain-query", graft.Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
