package perfbench

import org.apache.spark.sql.SparkSession

/** The pipeline_suite runner: one SparkSession built as `graft.Bench`
  * builds it, Bench's untimed warmup set, then one pass over the given
  * `SparkEntry.queries` in the given order, one query at a time, each
  * timed around `.count()`. Writes one JSON result file.
  *
  * Usage: Suite --data DIR --scratch DIR --cpus N --order q1,q2,..
  *   --warmups w1,.. --trace 0|1 --out F
  * or:    Suite --dump-oracle F   (writes `SparkEntry.oracleSql` as JSON)
  */
object Suite {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    a.get("dump-oracle") match {
      case Some(f) =>
        Json.write(f, Json.obj(graft.SparkEntry.oracleSql.toSeq.sorted
          .map { case (k, v) => k -> Json.str(v) }))
      case None => run(a)
    }
  }

  private def run(a: Map[String, String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val dataDir = a("data")
    val scratch = a("scratch")
    val cpus = a("cpus")
    val trace = a("trace") == "1"
    val order = a("order").split(",").filter(_.nonEmpty).toSeq
    val warmups = a("warmups").split(",").filter(_.nonEmpty).toSeq
    new java.io.File(scratch).mkdirs()
    System.setProperty("java.io.tmpdir", scratch)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", scratch)
    val spark = (if (trace) SparkProbe.configure(builder) else builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val queries = graft.SparkEntry.queries
    warmups.foreach { w =>
      try queries(w)(spark, dataDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warmup $w failed: ${e.getMessage}") }
    }
    spark.catalog.clearCache()
    System.gc()
    // counters cover the timed queries only
    val probe = new SparkProbe
    if (trace) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      SparkProbe.reset()
      probe.install(spark)
    }
    val readyMs = System.currentTimeMillis()
    val codegen0 = Codegen.sample()
    val results = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    val runId = Spans.newId()
    order.foreach { name =>
      val id = Spans.newId()
      val q0 = System.nanoTime()
      val (count, err) =
        try (queries(name)(spark, dataDir).count(), "")
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: ${e.getMessage}")
          (-1L, String.valueOf(e.getMessage).take(300)) }
      val q1 = System.nanoTime()
      Spans.add(Span(id, runId, "query", name, q0, q1))
      // untimed isolation between queries, as graft.Bench does
      spark.catalog.clearCache()
      System.gc()
      results += Json.arr(Seq(Json.str(name), Json.num((q1 - q0) / 1e9),
        count.toString, Json.str(err)))
    }
    Spans.add(Span(runId, 0, "run", "suite", t0, System.nanoTime()))
    val metrics = new Metrics
    if (trace) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      metrics ++= probe.counters
      metrics ++= Codegen.delta(codegen0)
    }
    val spans = Spans.snapshot ++ (if (trace) probe.jobSpans else Nil)
    spark.stop()
    Json.write(a("out"), Json.obj(Seq(
      "main_ms" -> mainMs.toString,
      "session_ms" -> sessionMs.toString,
      "ready_ms" -> readyMs.toString,
      "results" -> Json.arr(results.result()),
      "metrics" -> metrics.json,
      "spans" -> (if (trace) Json.spans(spans) else "[]"))))
  }
}
