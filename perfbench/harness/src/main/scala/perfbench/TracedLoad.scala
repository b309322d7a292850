package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Runner
import graft.dsl.{Parser, PlanBuilder}
import graft.sinks.{CopyEndpoint, CopySink, PgWire,
  PgWireCopyEndpoint, PgWireDdlExecutor}
import graft.sources.PgWireSource

/** Counters of the COPY endpoints. Endpoints are built on executors,
  * which share this JVM under `local[…]`. */
object SinkCounters {
  val sendCalls = new AtomicLong
  val sendFailures = new AtomicLong
  val rowsTransmitted = new AtomicLong
  val rowsCommitted = new AtomicLong
  val bytesSent = new AtomicLong
  val connections = new AtomicLong

  def counters: Seq[(String, Double)] = Seq(
    "sinks.send_calls" -> sendCalls.get.toDouble,
    "sinks.send_failures" -> sendFailures.get.toDouble,
    "sinks.rows_transmitted" -> rowsTransmitted.get.toDouble,
    "sinks.rows_committed" -> rowsCommitted.get.toDouble,
    "sinks.mb_sent" -> bytesSent.get / 1048576.0,
    "sinks.connections" -> connections.get.toDouble)
}

/** Timing decorator of one COPY endpoint: a "task" span from open to
  * close, with one "send" span per `send` call inside it. */
final class TimedEndpoint(table: String, open: => CopyEndpoint)
    extends CopyEndpoint {
  private val id = Spans.newId()
  private val t0 = System.nanoTime()
  private val inner = open
  SinkCounters.connections.incrementAndGet()

  override def send(rows: Seq[Array[Byte]]): Unit = {
    val s0 = System.nanoTime()
    var ok = false
    try { inner.send(rows); ok = true }
    finally {
      Spans.add(Span(Spans.newId(), id, "send", table, s0, System.nanoTime()))
      SinkCounters.sendCalls.incrementAndGet()
      SinkCounters.rowsTransmitted.addAndGet(rows.length)
      SinkCounters.bytesSent.addAndGet(rows.iterator.map(_.length.toLong).sum)
      if (ok) SinkCounters.rowsCommitted.addAndGet(rows.length)
      else SinkCounters.sendFailures.incrementAndGet()
    }
  }

  override def close(): Unit =
    try inner.close()
    finally Spans.add(Span(id, 0, "task", table, t0, System.nanoTime()))
}

/** The traced load. `--mode run` builds `graft.Runner` through its
  * public constructor, composed as `Runner.main` composes it, with a
  * timing decorator around the COPY endpoint factory and around the
  * DDL executor, and runs the command file. `--mode probe` times the
  * layers one at a time: the DSL parse, source introspection, each
  * command's frame drained to Spark's `noop` sink (decode), and the
  * same frame through `CopySink.textRenderer` (decode + encode).
  *
  * Usage: TracedLoad --mode run --load FILE --target URI [--root-dir DIR]
  *          --out FILE
  *        TracedLoad --mode probe --load FILE [--source URI] --out FILE
  */
object TracedLoad {
  /** The session `Runner.main` builds, with the probes registered. */
  private def session(): SparkSession = SparkProbe.configure(
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-load")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
    .getOrCreate()

  private val noPct: String => String = identity

  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(a("load"))), "UTF-8")
    val baseDir = new java.io.File(a("load")).getAbsoluteFile.getParent
    val (out, code) = a("mode") match {
      case "run" => run(a, text, baseDir)
      case "probe" => (probe(a, text, baseDir), 0)
    }
    Json.write(a("out"), out)
    if (code != 0) sys.exit(code)
  }

  private def ddlKind(sql: String): String = {
    val s = sql.toLowerCase.replaceAll("\\s+", " ")
    if (s.contains("foreign key")) "fk"
    else if (s.matches("^ ?create (unique )?index.*") ||
             s.contains(" using index")) "index"
    else "other"
  }

  /** @return the result JSON and the exit code `Runner.main` would
    * give: 1 when rows were rejected or a table failed. */
  private def run(a: Map[String, String], text: String,
                  baseDir: String): (String, Int) = {
    val wire = PgWire.connParams(a("target"), noPct)
    val probe = new SparkProbe
    val sparkFut = java.util.concurrent.CompletableFuture.supplyAsync(
      () => { val s = session(); probe.install(s); s })
    val runId = Spans.newId()
    val t0 = System.nanoTime()
    val ddlExec = new PgWireDdlExecutor(wire)
    val executeDdl: (String, Seq[String]) => Unit = (sql, setup) =>
      Spans.timed("ddl", ddlKind(sql))(ddlExec(sql, setup))
    val queryTarget: String => Seq[Array[String]] = sql =>
      Spans.timed("ddl", "query")(ddlExec.query(sql))
    def factory(binary: Boolean): (String, Seq[String]) => Int => CopyEndpoint =
      (table, sessionSql) => _ => new TimedEndpoint(table,
        new PgWireCopyEndpoint(wire,
          s"COPY ${PgWire.quoteQualified(table)} FROM STDIN" +
            (if (binary) " WITH (FORMAT binary)" else ""),
          sessionSql, binary = binary))
    val runner = new Runner(
      executeDdl = executeDdl,
      endpointFactory = factory(binary = false),
      rejectRoot = a.get("root-dir"),
      queryTarget = queryTarget,
      binaryEndpointFactory = factory(binary = true))
    val codegen0 = Codegen.sample()
    val stats =
      try runner.runFileWith(() => sparkFut.get(), text, baseDir)
      finally ddlExec.close()
    val spark = sparkFut.get()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val t1 = System.nanoTime()
    Spans.add(Span(runId, 0, "run", "load", t0, t1))
    val metrics = new Metrics
    metrics ++= probe.counters
    metrics ++= Codegen.delta(codegen0)
    metrics ++= SinkCounters.counters
    metrics("sinks.rejected_rows") = stats.map(_.rejected).sum.toDouble
    val spans = Spans.snapshot ++ probe.jobSpans
    spark.stop()
    val code = runner.fullSummary(stats, (t1 - t0) / 1000000).exitCode
    (Json.obj(Seq(
      "metrics" -> metrics.json,
      "tables" -> Json.arr(stats.map(s => Json.obj(Seq(
        "table" -> Json.str(s.table), "rows" -> s.rows.toString,
        "rejected" -> s.rejected.toString,
        "error" -> s.error.map(Json.str).getOrElse("null"))))),
      "spans" -> Json.spans(spans))), code)
  }

  /** Wall seconds of draining `df` to the `noop` sink. */
  private def drain(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def probe(a: Map[String, String], text: String,
                    baseDir: String): String = {
    val p0 = System.nanoTime()
    val cmds = Parser.parseAll(text, baseDir)
    val parseS = (System.nanoTime() - p0) / 1e9
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    val (introspectS, frames) = a.get("source") match {
      case Some(uri) =>
        val src = PgWire.connParams(uri, noPct)
        val i0 = System.nanoTime()
        val tables = PgWireSource.introspect(src)
        val introspectS = (System.nanoTime() - i0) / 1e9
        (introspectS, tables.map { t =>
          val q = s"${t.schema}.${t.name}"
          PgWireSource.readByCtid(spark, src, q,
            PgWireSource.relpagesOf(src, q))
        })
      case None =>
        (0.0, cmds.filter(_.source.nonEmpty)
          .map(c => PlanBuilder.build(spark, c, baseDir)))
    }
    // the first pass over each frame pays class loading and codegen;
    // the second pass of each kind is the one reported
    var decodeS = 0.0
    var renderS = 0.0
    frames.foreach { df =>
      drain(df); drain(CopySink.textRenderer(df))
      decodeS += drain(df)
      renderS += drain(CopySink.textRenderer(df))
    }
    val rows = frames.map(_.count()).sum
    spark.stop()
    val m = new Metrics
    m ++= Seq(
      "dsl.parse_s" -> parseS,
      "sources.introspect_s" -> introspectS,
      "sources.decode_s" -> decodeS,
      "sources.rows_read" -> rows.toDouble,
      "sinks.encode_s" -> math.max(0.0, renderS - decodeS))
    Json.obj(Seq("metrics" -> m.json))
  }
}
