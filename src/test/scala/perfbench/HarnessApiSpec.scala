package perfbench

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Runner
import graft.dsl.{Parser, PlanBuilder}
import graft.sinks.{CopyEndpoint, CopySink, PgWire,
  PgWireCopyEndpoint, PgWireDdlExecutor}
import graft.sources.PgWireSource

/** The graft API the benchmark harness (`perfbench/harness`) compiles
  * against, called the way its `TracedLoad` and `Suite` call it, from a
  * package outside `graft` so only what the harness can see resolves.
  * `Test/compile` fails the moment a change breaks one of these calls;
  * the harness itself is built only by `perfbench/run.py`. */
object HarnessApiSpec {
  /** Rows the endpoints received; static, since endpoint factories
    * serialize into Spark tasks. */
  val sent = new ConcurrentLinkedQueue[String]
}

class HarnessApiSpec extends graft.SparkSpec {

  private val noPct: String => String = identity

  /** `TracedLoad --mode run`'s composition of the Runner, with
    * `endpoint` in the place of its timed COPY TEXT factory. */
  private def tracedRunner(target: String,
                           endpoint: (String, Seq[String]) => Int => CopyEndpoint)
      : (Runner, PgWireDdlExecutor) = {
    val wire = PgWire.connParams(target, noPct)
    val ddlExec = new PgWireDdlExecutor(wire)
    val executeDdl: (String, Seq[String]) => Unit = (sql, setup) => ()
    val queryTarget: String => Seq[Array[String]] = sql => ddlExec.query(sql)
    def factory(binary: Boolean): (String, Seq[String]) => Int => CopyEndpoint =
      (table, sessionSql) => _ => new PgWireCopyEndpoint(wire,
        s"COPY ${PgWire.quoteQualified(table)} FROM STDIN" +
          (if (binary) " WITH (FORMAT binary)" else ""),
        sessionSql, binary = binary)
    val runner = new Runner(
      executeDdl = executeDdl,
      endpointFactory = endpoint,
      rejectRoot = None,
      queryTarget = queryTarget,
      binaryEndpointFactory = factory(binary = true))
    (runner, ddlExec)
  }

  /** `TracedLoad --mode probe`'s database reads; compiled, not run
    * (they need a PostgreSQL source). */
  private def probeSource(spark: SparkSession, uri: String): Seq[DataFrame] = {
    val src = PgWire.connParams(uri, noPct)
    PgWireSource.introspect(src).map { t =>
      val q = s"${t.schema}.${t.name}"
      PgWireSource.readByCtid(spark, src, q, PgWireSource.relpagesOf(src, q))
    }
  }

  /** `Suite`'s registry reads. */
  private def suiteQueries: (Int, Seq[(String, String)]) =
    (graft.SparkEntry.queries.size, graft.SparkEntry.oracleSql.toSeq.sorted)

  test("the traced load's Runner composition loads a file and sums " +
    "its exit code") {
    val dir = Files.createTempDirectory("harness-api").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|two\n")
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql://u@127.0.0.1:1/db TARGET TABLE kv
          WITH fields terminated by '|';"""
    HarnessApiSpec.sent.clear()
    val (runner, ddlExec) = tracedRunner("postgresql://u@127.0.0.1:1/db",
      (_, _) => _ => new CopyEndpoint {
        def send(rows: Seq[Array[Byte]]): Unit =
          rows.foreach(r => HarnessApiSpec.sent.add(new String(r, "UTF-8")))
      })
    val stats =
      try runner.runFileWith(() => spark, text, dir.getAbsolutePath)
      finally ddlExec.close()
    assert(stats.map(s => (s.table, s.rows, s.rejected, s.error)) ==
      Seq(("kv", 2L, 0L, None)))
    assert(runner.fullSummary(stats, 1L).exitCode == 0)
    assert(HarnessApiSpec.sent.size == 2)
  }

  test("the probe's parse, plan and render calls run") {
    val dir = Files.createTempDirectory("harness-api-probe").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath, "1|one\n")
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql://u@127.0.0.1:1/db TARGET TABLE kv
          WITH fields terminated by '|';"""
    val cmds = Parser.parseAll(text, dir.getAbsolutePath)
    val frames = cmds.filter(_.source.nonEmpty)
      .map(c => PlanBuilder.build(spark, c, dir.getAbsolutePath))
    frames.foreach(df =>
      CopySink.textRenderer(df).write.format("noop").mode("overwrite").save())
    assert(frames.map(_.count()).sum == 1L)
  }

  test("the harness's binary endpoint fails at construction, before " +
    "any connection") {
    val e = intercept[IllegalArgumentException] {
      new PgWireCopyEndpoint(PgWire.connParams("postgresql://u@127.0.0.1:1/db",
        noPct), "COPY t FROM STDIN WITH (FORMAT binary)", Nil, binary = true)
    }
    assert(e.getMessage.contains("COPY TEXT"))
    // probeSource needs a PostgreSQL source: referenced, not run, so
    // the compiler still checks its calls
    assert((probeSource _) != null)
    assert(suiteQueries._1 == suiteQueries._2.size)
  }
}
