package graft

import java.nio.file.Files
import graft.sinks.{CopyEndpoint, CopyError, CopySink}

/** The sink's untested modes: reject files (bad rows land in per-task
  * .dat files in COPY text, docs/batches.rst:27-34) and on-error-stop
  * (fail fast, no recovery — copy-from-queue.lisp:53-59). */
object SinkModesSpec {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger

  /** In-memory "database" for the exactly-once harness: per-ATTEMPT
    * stage tables as row buffers whose CREATE+TRUNCATE arrives via the
    * endpoint's session setup (mirroring PgWireCopyEndpoint running it
    * once per task attempt), a target table, a pattern-drop for the
    * wrapper's DO-block cleanup, and an attempt counter that fails
    * partition 0's FIRST attempt midway — after it already landed a
    * batch. */
  object StageDb {
    val stages = new ConcurrentHashMap[String, java.util.List[String]]
    val target = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String])
    val p0Attempts = new AtomicInteger(0)
    def reset(): Unit = { stages.clear(); target.clear(); p0Attempts.set(0) }

    def exec(sql: String): Unit = {
      val s = sql.trim
      if (s.startsWith("DO $$")) {
        // the wrapper's pattern drop of ALL stage tables for the target
        val prefix = "LIKE '([^%]+)%'".r.findFirstMatchIn(s)
          .getOrElse(sys.error(s"bad drop block: $s"))
          .group(1).replace("\\", "")
        stages.keySet().removeIf(k => k.startsWith(prefix))
      } else if (s.startsWith("BEGIN;")) {
        // the publish transaction: INSERT INTO target SELECT * FROM stage
        "FROM ([^;]+);".r.findAllMatchIn(s).foreach { m =>
          target.addAll(stages.get(m.group(1).trim))
        }
      } else sys.error(s"unexpected sql: $s")
    }

    /** One endpoint per task ATTEMPT; its session setup CREATEs and
      * truncates the attempt's OWN stage table. */
    def endpoint(stage: String, setup: Seq[String],
                 pid: Int): CopyEndpoint = {
      setup.map(_.trim.stripSuffix(";")).foreach { st =>
        if (st.startsWith("CREATE TABLE IF NOT EXISTS "))
          stages.putIfAbsent(stage,
            java.util.Collections.synchronizedList(
              new java.util.ArrayList[String]))
        else if (st.startsWith("TRUNCATE ")) stages.get(stage).clear()
        else sys.error(s"unexpected session setup: $st")
      }
      val attempt = if (pid == 0) p0Attempts.incrementAndGet() else 99
      new CopyEndpoint {
        var batches = 0
        def send(rows: Seq[Array[Byte]]): Unit = {
          rows.foreach(b =>
            stages.get(stage).add(new String(b, "UTF-8").stripSuffix("\n")))
          batches += 1
          // partition 0, first attempt: die AFTER landing a batch — the
          // double-send the default sink would re-commit
          if (pid == 0 && attempt == 1)
            sys.error("simulated task death after partial send")
        }
      }
    }
  }

  def rejectingEndpoint(): CopyEndpoint = new CopyEndpoint {
    def send(rows: Seq[Array[Byte]]): Unit =
      rows.zipWithIndex.foreach { case (b, i) =>
        val k = new String(b, "UTF-8").split("\t")(0).toLong
        if (k % 10 == 3) throw CopyError(Some(i + 1), s"bad row $k")
      }
  }
  def countingEndpoint(): CopyEndpoint = new CopyEndpoint {
    def send(rows: Seq[Array[Byte]]): Unit = ()
  }
}

class SinkModesSpec extends SparkSpec {

  import spark.implicits._
  import SinkModesSpec._

  test("reject files collect exactly the bad rows in COPY text") {
    val dir = Files.createTempDirectory("rejects").toFile.getAbsolutePath
    val df = (1L to 100L).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("val"),
        org.apache.spark.sql.functions.col("k")))
      .repartition(4)
    val sink = new CopySink(endpointFactory = _ => rejectingEndpoint(),
      rejectDir = Some(dir))
    val (sent, rejected, _) = sink.write(df)
    assert(sent == 90 && rejected == 10)
    val rejectedKeys = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
      .map(_.split("\t")(0).toLong).sorted.toSeq
    assert(rejectedKeys == (1L to 100L).filter(_ % 10 == 3))
    // the .log sibling carries one error message per rejected row
    // (reference .dat/.log pair, state.lisp:55-95; reject.clj:33-58)
    val logMsgs = new java.io.File(CopySink.logDirFor(dir)).listFiles()
      .filter(_.getName.endsWith(".log"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
      .map(_.split(" ").last.toLong).sorted.toSeq
    assert(logMsgs == rejectedKeys,
      s"every rejected row needs its message line: $logMsgs")
  }

  test("a file endpoint reopened for a retried partition holds only " +
    "the retry's rows") {
    val dir = Files.createTempDirectory("file-endpoint").toFile
    val rows = Seq("1\ta\n", "2\tb\n", "3\tc\n")
      .map(_.getBytes("UTF-8"))
    val failed = CopyEndpoint.file(dir.getAbsolutePath, 0)
    failed.send(Seq(rows.head, "2\tb".getBytes("UTF-8"))) // torn batch
    failed.close()
    val retry = CopyEndpoint.file(dir.getAbsolutePath, 0)
    retry.send(rows)
    retry.close()
    assert(dir.list().toSeq == Seq("part-00000.dat"))
    assert(new String(Files.readAllBytes(
      new java.io.File(dir, "part-00000.dat").toPath), "UTF-8") ==
      "1\ta\n2\tb\n3\tc\n")
  }

  test("on-error-stop fails the write instead of recovering") {
    val df = (1L to 50L).toDF("k").repartition(2)
    val sink = new CopySink(endpointFactory = _ => rejectingEndpoint(),
      onErrorStop = true)
    val e = intercept[org.apache.spark.SparkException](sink.write(df))
    assert(e.getMessage != null)
  }

  test("exactly-once staging: a retried partial send lands once") {
    import graft.sinks.ExactlyOnce
    StageDb.reset()
    val df = (1L to 40L).toDF("k").repartition(2)
    // attempt 1: partition 0 lands a batch into its stage, then dies →
    // the job fails before publish; nothing reached the target
    val e = intercept[org.apache.spark.SparkException] {
      ExactlyOnce.write(df, "t", StageDb.exec, StageDb.endpoint,
        maxRows = 5)
    }
    assert(e.getMessage != null)
    assert(StageDb.target.isEmpty, "failed run must publish nothing")
    assert(StageDb.p0Attempts.get() == 1)
    // the failed attempt DID land rows in its stage — the double-send
    // hazard the default at-least-once sink would re-commit
    assert(StageDb.stages.values().stream()
      .mapToInt(_.size).sum() > 0)
    // retry: each attempt stages into its OWN per-attemptId table, and
    // the rerun's pre-clean drops the failed attempt's leftovers — only
    // winning attempts publish
    val (sent, rejected, _) =
      ExactlyOnce.write(df, "t", StageDb.exec, StageDb.endpoint,
        maxRows = 5)
    assert(sent == 40 && rejected == 0)
    import scala.jdk.CollectionConverters._
    val landed = StageDb.target.asScala.map(_.toLong).sorted.toSeq
    assert(landed == (1L to 40L), s"each row exactly once, got $landed")
    assert(StageDb.stages.isEmpty, "stages dropped after publish")
  }

  test("exactly-once: a losing attempt's stage never publishes") {
    import graft.sinks.ExactlyOnce
    StageDb.reset()
    StageDb.p0Attempts.set(10) // no simulated deaths this run
    // a concurrent/stale attempt left a COMPLETE stage behind (the
    // speculative-loser shape: same rows, or a crashed prior run's
    // garbage) — publish must take only the winning attempts' stages
    StageDb.stages.put(ExactlyOnce.stageName("t", 0, 999L),
      java.util.Collections.synchronizedList(new java.util.ArrayList(
        java.util.List.of("31337"))))
    val df = (1L to 20L).toDF("k").repartition(2)
    val (sent, _, _) =
      ExactlyOnce.write(df, "t", StageDb.exec, StageDb.endpoint,
        maxRows = 5)
    assert(sent == 20)
    import scala.jdk.CollectionConverters._
    val landed = StageDb.target.asScala.map(_.toLong).sorted.toSeq
    assert(landed == (1L to 20L),
      s"loser/stale stage rows must not publish, got $landed")
    assert(StageDb.stages.isEmpty, "all stages (winners AND strays) dropped")
  }

  test("stage names fit NAMEDATALEN and stay distinct for long tables") {
    import graft.sinks.ExactlyOnce
    // short names keep the historical shape
    assert(ExactlyOnce.stageName("t", 0, 1L) == "t__graft_stage_p0_a1")
    assert(ExactlyOnce.stageName("s.t", 3, 7L) == "s.t__graft_stage_p3_a7")
    // long relnames: bounded so the WORST-case suffix (10-digit pid,
    // 19-digit attempt) still fits PG's 63-byte NAMEDATALEN — silent
    // identifier truncation would otherwise collapse two concurrent
    // attempts' stages onto one table
    val long1 = "x" * 80
    val long2 = "x" * 79 + "y" // differs only past any truncation point
    val n1 = ExactlyOnce.stageName(long1, Int.MaxValue, Long.MaxValue)
    val n2 = ExactlyOnce.stageName(long2, Int.MaxValue, Long.MaxValue)
    assert(n1.getBytes("UTF-8").length <= 63, s"${n1.length} bytes: $n1")
    assert(n1 != n2, "names differing past the bound must stay distinct")
    // the schema qualifier is NOT part of the 63-byte relname budget
    val q = ExactlyOnce.stageName("myschema." + long1, 0, 1L)
    assert(q.startsWith("myschema."))
    assert(q.drop("myschema.".length).getBytes("UTF-8").length <= 63)
    // drop pattern and created names agree for long tables
    assert(n1.startsWith(ExactlyOnce.stagePrefix(long1)))
    assert(q.drop("myschema.".length)
      .startsWith(ExactlyOnce.stagePrefix("myschema." + long1)))
    // multi-byte identifiers are cut on codepoint boundaries
    val uni = "é" * 50
    val un = ExactlyOnce.stageName(uni, Int.MaxValue, Long.MaxValue)
    assert(un.getBytes("UTF-8").length <= 63)
    assert(un.startsWith(ExactlyOnce.stagePrefix(uni)))
  }

  test("default stage drop is schema-aware and schema-qualified") {
    import graft.sinks.ExactlyOnce
    val q = ExactlyOnce.dropStages("myschema.rel")
    // filter on the table's OWN schema, pattern on the BARE relname
    // (pg_tables.tablename is never qualified — a 'schema.rel%' pattern
    // matches nothing and leaks one stage per attempt forever)
    assert(q.contains("schemaname = 'myschema'"), q)
    assert(q.contains("'rel\\_\\_graft\\_stage\\_p%'"), q)
    assert(!q.contains("myschema.rel__"), q)
    // the drop itself is schema-qualified — quote_ident(tablename)
    // alone resolves through search_path and can hit the wrong schema
    assert(q.contains("quote_ident(r.schemaname) || '.' || " +
      "quote_ident(r.tablename)"), q)
    val u = ExactlyOnce.dropStages("rel")
    assert(u.contains("schemaname = current_schema()"), u)
    assert(u.contains("'rel\\_\\_graft\\_stage\\_p%'"), u)
  }

  test("clean data passes through untouched in stop mode") {
    val df = (1L to 20L).filter(_ % 10 != 3).toDF("k").repartition(2)
    val sink = new CopySink(endpointFactory = _ => countingEndpoint(),
      onErrorStop = true)
    val (sent, rejected, _) = sink.write(df)
    assert(sent == 18 && rejected == 0)
  }
}
