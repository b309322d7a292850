package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.sinks.CopyEndpoint

object RunnerSpec {
  // executor-side capture of what the sink receives, per table, and of
  // the session setup each endpoint connection would apply
  val received = new ConcurrentLinkedQueue[(String, String)]
  val endpointSetups = new ConcurrentLinkedQueue[Seq[String]]
  // static: executor closures serialize — an instance-held queue would
  // collect into a copy
  val batchSizes = new ConcurrentLinkedQueue[Int]
  def endpoint(table: String,
               sessionSetup: Seq[String]): Int => CopyEndpoint = _ => {
    endpointSetups.add(sessionSetup)
    // the Runner passes a rendered COPY target — `"kv" ("k", "v")` —
    // strip to the bare table name for the assertions
    val label = table.split(" \\(")(0).replace("\"", "")
    new CopyEndpoint {
      def send(rows: Seq[Array[Byte]]): Unit =
        rows.foreach(b => received.add(
          (label, new String(b, "UTF-8").stripSuffix("\n"))))
    }
  }

  /** Every COPY target and session setup a Runner asked an endpoint
    * for, as sent; the endpoints take rows and keep nothing. */
  val copyTargets = new ConcurrentLinkedQueue[(String, Seq[String])]
  def recordingEndpoint(target: String,
                        sessionSetup: Seq[String]): Int => CopyEndpoint = {
    copyTargets.add((target, sessionSetup))
    _ => new CopyEndpoint { def send(rows: Seq[Array[Byte]]): Unit = () }
  }

  /** [[endpoint]] refusing every batch with a `BAD` row in it, the way
    * the server does: nothing kept, the bad row's line number reported. */
  def rejectingEndpoint(table: String,
                        sessionSetup: Seq[String]): Int => CopyEndpoint =
    pid => {
      val inner = endpoint(table, sessionSetup)(pid)
      new CopyEndpoint {
        def send(rows: Seq[Array[Byte]]): Unit = {
          val bad = rows.indexWhere(b => new String(b, "UTF-8").contains("BAD"))
          if (bad >= 0)
            throw graft.sinks.CopyError(Some(bad + 1), "invalid input syntax")
          inner.send(rows)
        }
      }
    }
}

/** End-to-end: `.load` text → Runner → DDL hooks + sink, like running
  * `pgloader file.load`. */
class RunnerSpec extends SparkSpec {

  test("csv load runs DO blocks around the sink and reports stats") {
    val dir = Files.createTempDirectory("runner").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "k|v\n1|one\n2|two\n3|three\n")
    val ddl = new ConcurrentLinkedQueue[String]
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH skip header = 1, fields terminated by '|'
          SET work_mem TO '64MB'
          BEFORE LOAD DO $$$$ create table kv (k int, v text); $$$$
          AFTER LOAD DO $$$$ analyze kv; $$$$;"""
    RunnerSpec.received.clear()
    RunnerSpec.endpointSetups.clear()
    val setups = new ConcurrentLinkedQueue[Seq[String]]
    val runner = new Runner(
      (sql, setup) => { ddl.add(sql.trim); setups.add(setup) },
      RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("kv", 3L, 0L)))
    val d = ddl.asScala.toSeq
    assert(d == Seq("create table kv (k int, v text);", "analyze kv;"))
    // SET gucs are session setup carried to EVERY connection: both DO
    // blocks and every sink endpoint
    assert(setups.asScala.toSeq.forall(_ == Seq("SET work_mem = '64MB';")))
    assert(RunnerSpec.endpointSetups.asScala.toSeq.nonEmpty &&
      RunnerSpec.endpointSetups.asScala.toSeq.forall(
        _ == Seq("SET work_mem = '64MB';")))
    val rows = RunnerSpec.received.asScala.toSeq.sorted
    assert(rows == Seq(("kv", "1\tone"), ("kv", "2\ttwo"),
      ("kv", "3\tthree")))
  }

  test("exactly once stages LIKE the target and publishes the COPY " +
      "column list, relaxing NOT NULL outside it; with no list it " +
      "stages and publishes every column") {
    import graft.sinks.ExactlyOnce
    val dir = Files.createTempDirectory("runnereo").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|two\n")
    def run(fields: String): (Seq[String], Seq[(String, Seq[String])]) = {
      val ddl = new ConcurrentLinkedQueue[String]
      RunnerSpec.copyTargets.clear()
      new Runner((sql, _) => ddl.add(sql), RunnerSpec.recordingEndpoint)
        .runFile(spark,
          s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv' $fields
              INTO postgresql:///t TARGET TABLE kv
              WITH fields terminated by '|', exactly once;""")
      (ddl.asScala.toSeq, RunnerSpec.copyTargets.asScala.toSeq)
    }
    def publishTx(stages: Seq[String], insert: String => String) =
      (("BEGIN;" +: stages.distinct.sorted.map(insert)) :+ "COMMIT;")
        .mkString(" ")
    val stagePat = "\"kv__graft_stage_p\\d+_a\\d+\""

    // a column list: every stage attempt gets the list, the stage
    // relaxes NOT NULL on the columns outside it, the publish names it
    val (ddl, targets) = run("HAVING FIELDS (k, v)")
    val cols = " (\"k\", \"v\")"
    assert(targets.nonEmpty && targets.forall(_._1.endsWith(cols)))
    val stages = targets.map(_._1.stripSuffix(cols))
    targets.zip(stages).foreach { case ((_, setup), stage) =>
      assert(stage.matches(stagePat), stage)
      val lit = s"'$stage'"
      assert(setup == Seq(
        s"CREATE TABLE IF NOT EXISTS $stage (LIKE \"kv\");",
        "DO $$ DECLARE r record; BEGIN FOR r IN SELECT attname FROM " +
          s"pg_attribute WHERE attrelid = $lit::regclass AND attnum > 0 " +
          "AND NOT attisdropped AND attnotnull AND attname <> ALL " +
          "(ARRAY['k', 'v']::name[]) LOOP EXECUTE format('ALTER TABLE " +
          s"%s ALTER COLUMN %I DROP NOT NULL', $lit, r.attname); " +
          "END LOOP; END $$;",
        s"TRUNCATE $stage;"))
    }
    // pre-clean, one publish transaction, cleanup
    assert(ddl == Seq(ExactlyOnce.dropStages("kv"),
      publishTx(stages, st =>
        s"INSERT INTO \"kv\" (\"k\", \"v\") SELECT \"k\", \"v\" FROM $st;"),
      ExactlyOnce.dropStages("kv")))

    // no list (positional names): LIKE stage, every column published
    val (ddl2, targets2) = run("")
    assert(targets2.nonEmpty)
    targets2.foreach { case (stage, setup) =>
      assert(stage.matches(stagePat), stage)
      assert(setup == Seq(
        s"CREATE TABLE IF NOT EXISTS $stage (LIKE \"kv\");",
        s"TRUNCATE $stage;"))
    }
    assert(ddl2 == Seq(ExactlyOnce.dropStages("kv"),
      publishTx(targets2.map(_._1),
        st => s"INSERT INTO \"kv\" SELECT * FROM $st;"),
      ExactlyOnce.dropStages("kv")))
  }

  test("qualified TARGET TABLE splits into schema+table stats, not " +
      "a double public. prefix") {
    val dir = Files.createTempDirectory("runnerq").toFile
    Files.writeString(new java.io.File(dir, "q.csv").toPath, "1|one\n")
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/q.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE myschema.q
          WITH fields terminated by '|';"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.schema, s.table, s.rows)) ==
      Seq(("myschema", "q", 1L)))
  }

  test("summary CSV and JSON carry the reference's column sets") {
    import graft.orchestration.{Summary, SummaryOut, TableStats}
    val s = Summary(
      preDdl = Seq("CREATE TABLE a (x int);"),
      tables = Seq(
        TableStats("public", "a", rows = 100L, rejected = 2L,
          millis = 1500L, bytes = 4096L),
        TableStats("public", "semi;colon", rows = 5L, rejected = 0L,
          millis = 10L, bytes = 64L,
          error = Some("copy died"))),
      postDdl = Seq("CREATE INDEX i ON a (x);"),
      totalMillis = 2000L,
      ddlErrors = Seq(("CREATE INDEX i ON a (x);", "duplicate")))

    // CSV: reference header (summary.clj:104-106), semicolon-separated,
    // one row per phase entry, GRAND TOTAL last
    val csv = SummaryOut.renderCsv(s)
    val lines = csv.trim.split("\n").toSeq
    assert(lines.head == "table name;errors;rows;bytes;total time")
    assert(lines.last.startsWith("GRAND TOTAL;"))
    val dataRow = lines.find(_.startsWith("public.a;")).get
    assert(dataRow == "public.a;2;100;4096;1.500s")
    // label quoting: ';' in a table name must be quoted (with the
    // CLOSING quote)
    assert(lines.exists(_.startsWith("\"public.semi;colon\";")))
    // verbose adds the read/write time columns (summary.clj:105)
    val vcsv = SummaryOut.renderCsv(s, verbose = true)
    assert(vcsv.startsWith(
      "table name;errors;rows;bytes;total time;read time;write time\n"))
    assert(vcsv.contains("public.a;2;100;4096;1.500s;0.000s;1.500s"))

    // JSON: phases/pre|data|post with tables + total, grand-total
    // (summary.clj:131-157 key names)
    val json = SummaryOut.renderJson(s, verbose = true)
    for (key <- Seq("\"phases\"", "\"pre\"", "\"data\"", "\"post\"",
        "\"grand-total\"", "\"label\"", "\"errors\"", "\"rows\"",
        "\"bytes\"", "\"total-time\"", "\"read-time\"", "\"write-time\"",
        "\"errs\"", "\"total-nanos\""))
      assert(json.contains(key), s"missing $key in $json")
    // grand total: data rows/bytes, all-phase errors, wall nanos
    assert(json.contains(
      "\"grand-total\": {\"rows\": 105, \"errs\": 4, \"bytes\": 4160, " +
        "\"total-nanos\": 2000000000}"))
    // the emitted JSON must PARSE (driver-style consumption) — feed it
    // through the same escape-sensitive path Verify's oracle JSON uses
    assert(json.startsWith("{") && json.endsWith("}"))

    // dispatch by extension + duration formatting edge (minutes)
    assert(SummaryOut.fmtDuration(61500L * 1000000L) == "1m01.500s")
    val tmp = Files.createTempDirectory("sum")
    SummaryOut.write(s, s"$tmp/out.json")
    SummaryOut.write(s, s"$tmp/out.csv")
    assert(Files.readString(java.nio.file.Path.of(s"$tmp/out.json"))
      .startsWith("{\"phases\""))
    assert(Files.readString(java.nio.file.Path.of(s"$tmp/out.csv"))
      .startsWith("table name;"))
  }

  test("summary itemizes pre/post phases when the run recorded them") {
    import graft.orchestration.{PhaseEntry, Summary, SummaryOut,
      TableStats}
    val s = Summary(
      preDdl = Seq("CREATE TABLE a (x int);"),
      tables = Seq(TableStats("public", "a", rows = 10L, rejected = 0L,
        millis = 100L, bytes = 64L)),
      postDdl = Seq("CREATE INDEX i ON a (x);"),
      totalMillis = 900L,
      ddlErrors = Seq(("ALTER TABLE a ADD x;", "dup")),
      phaseEntries = Seq(
        PhaseEntry("pre", "fetch meta data", 1L, 12000000L),
        PhaseEntry("pre", "Create tables", 1L, 34000000L),
        PhaseEntry("post", "COPY Wall-Clock Time", 0L, 100000000L),
        PhaseEntry("post", "Create Indexes", 1L, 56000000L),
        PhaseEntry("post", "Primary Keys", 1L, 7000000L)))
    val csv = SummaryOut.renderCsv(s)
    // itemized rows replace the aggregate "pre load"/"post load"
    assert(csv.contains("fetch meta data;0;1;0;0.012s"))
    assert(csv.contains("Create tables;0;1;0;0.034s"))
    assert(csv.contains("COPY Wall-Clock Time;0;0;0;0.100s"))
    assert(csv.contains("Create Indexes;0;1;0;0.056s"))
    assert(csv.contains("Primary Keys;0;1;0;0.007s"))
    assert(!csv.contains("pre load"))
    // tolerated DDL errors stay VISIBLE next to the itemized rows
    assert(csv.contains("post load errors;1;0;0"))
    // JSON: the post section total sums the itemized walls
    val json = SummaryOut.renderJson(s)
    assert(json.contains("\"label\": \"Create Indexes\""))
    assert(json.contains("\"total-nanos\": " +
      (100000000L + 56000000L + 7000000L)))
    // grand errors include the itemized-phase error row exactly once
    assert(json.contains("\"errs\": 1, \"bytes\": 64"))
  }

  test("file loads record before/after/finally and Index Build " +
    "Completion phase entries, rebuild wait not billed to after-load") {
    val dir = Files.createTempDirectory("runner-phases").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|two\n")
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|', drop indexes
          BEFORE LOAD DO
            $$$$ create table kv (k int, v text); $$$$,
            $$$$ create index kv_pre on kv (v); $$$$
          AFTER LOAD DO $$$$ analyze kv; $$$$
          FINALLY DO $$$$ vacuum kv; $$$$;"""
    RunnerSpec.received.clear()
    val runner = new Runner(
      // the async rebuild is the only slow statement: its wall must
      // land in "Index Build Completion", NOT in "after load" (whose
      // first ddl() drains the rebuild behind its barrier)
      (sql, _) => if (sql.trim.startsWith("CREATE INDEX"))
        Thread.sleep(300),
      RunnerSpec.endpoint,
      // 6th column = the inbound-FK-pinned flag ('false' = droppable)
      queryTarget = _ => Seq(Array[String](
        "kv_idx", "CREATE INDEX kv_idx ON public.kv (k)",
        null, null, null, "false")))
    val stats = runner.runFile(spark, text)
    val summary = runner.fullSummary(stats, 1000L)
    def entry(label: String) =
      summary.phaseEntries.find(_.label == label).getOrElse(
        fail(s"missing $label in ${summary.phaseEntries}"))
    assert(entry("before load").section == "pre")
    assert(entry("before load").rows == 2)
    assert(entry("after load").rows == 1)
    assert(entry("finally").rows == 1)
    val idx = entry("Index Build Completion")
    assert(idx.section == "post" && idx.rows == 1)
    assert(idx.nanos >= 100L * 1000000L,
      s"rebuild wait should carry the sleep, got ${idx.nanos}")
    assert(entry("after load").nanos < 200L * 1000000L,
      "after-load wall must exclude the rebuild drain " +
        s"(got ${entry("after load").nanos})")
  }

  test("rejectRoot lands parse rejects in <table>.dat and counts them") {
    val dir = Files.createTempDirectory("runner-rej").toFile
    // row 2 has a stray quote mid-field: a parse error, rejected engine-
    // side; rows 1 and 3 load
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|o\"no|x\n3|three\n")
    val rejRoot = Files.createTempDirectory("runner-rej-root").toFile
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|';"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint,
      rejectRoot = Some(rejRoot.getAbsolutePath))
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("kv", 2L, 1L)))
    assert(RunnerSpec.received.asScala.toSeq.sorted ==
      Seq(("kv", "1\tone"), ("kv", "3\tthree")))
    val rejLines = spark.read.textFile(
      new java.io.File(rejRoot, "kv.dat").getAbsolutePath).collect().toSeq
    assert(rejLines == Seq("2|o\"no|x"))
  }

  test("parse rejects count without a reject root, inline loads too") {
    val dir = Files.createTempDirectory("runner-norej").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|o\"no|x\n3|three\n")
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark,
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|';""")
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("kv", 2L, 1L)))
    val inline = runner.runFile(spark,
      """LOAD CSV FROM inline
          HAVING FIELDS (a, b)
          INTO postgresql:///t TARGET TABLE inl
          WITH fields terminated by ',';
1,x
2,y"z""")
    assert(inline.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("inl", 1L, 1L)))
  }

  test("a re-run clears the table's reject parts before it loads") {
    val dir = Files.createTempDirectory("runner-rerun").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|o\"no|x\n3|three\n")
    val root = Files.createTempDirectory("runner-rerun-root").toFile
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|';"""
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint,
      rejectRoot = Some(root.getAbsolutePath))
    runner.runFile(spark, text)
    // the parts an earlier run with more partitions would leave behind
    val datDir = new java.io.File(root, "kv.dat")
    val logDir = new java.io.File(root, "kv.log")
    logDir.mkdirs()
    Seq(new java.io.File(datDir, "part-00003.dat") -> "9\tstale\n",
      new java.io.File(datDir, "part-00003.txt") -> "9|stale\n",
      new java.io.File(logDir, "part-00003.log") -> "stale\n").foreach {
      case (f, body) => Files.writeString(f.toPath, body)
    }
    val stats = runner.runFile(spark, text)
    assert(stats.map(_.rejected) == Seq(1L))
    def lines(d: java.io.File): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(lines(datDir) == Seq("2|o\"no|x"))
    assert(lines(logDir) == Seq(graft.sinks.CopySink.RawRejectMessage))
  }

  /** The Spark jobs `body` starts, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"runner-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs of one load")
    val out =
      try body
      finally {
        sc.clearJobGroup()
        org.apache.spark.graft.BusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (jobs.get, out)
  }

  test("a csv load runs one Spark job and files parse and server " +
    "rejects apart") {
    val dir = Files.createTempDirectory("runner-onejob").toFile
    // row 2 does not parse (stray quote); row 3 parses and the server
    // refuses it
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|o\"no|x\n3|BAD\n4|four\n")
    val root = Files.createTempDirectory("runner-onejob-root").toFile
    val runner = new Runner((_, _) => (), RunnerSpec.rejectingEndpoint,
      rejectRoot = Some(root.getAbsolutePath))
    RunnerSpec.received.clear()
    val (jobs, stats) = jobsOf(runner.runFile(spark,
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|';"""))
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("kv", 2L, 2L)))
    assert(jobs == 1, s"$jobs Spark jobs")
    assert(RunnerSpec.received.asScala.toSeq.sorted ==
      Seq(("kv", "1\tone"), ("kv", "4\tfour")))
    def read(d: String, ext: String): Seq[String] =
      Option(new java.io.File(root, d).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(ext))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(read("kv.dat", ".txt") == Seq("2|o\"no|x"))
    assert(read("kv.dat", ".dat") == Seq("3\tBAD"))
    assert(read("kv.log", ".log").sorted ==
      Seq("invalid input syntax", graft.sinks.CopySink.RawRejectMessage))
  }

  test("a DBF load and an IXF load each run one Spark job") {
    import graft.sources.DbfSource
    val dir = Files.createTempDirectory("runner-onejob-files").toFile
    DbfSource.write(new java.io.File(dir, "p.dbf"),
      Seq(DbfSource.DbfField("id", 'N', 5, 0),
        DbfSource.DbfField("label", 'C', 10, 0)),
      Seq(Seq("1", "apple"), Seq("2", "pear")))
    IxfSpec.write(new java.io.File(dir, "t.ixf"),
      Seq((1, Some("alpha")), (2, None)))
    // jobs and rows of one load, its DDL included (`create table`
    // resolves the columns from the same header read)
    def run(kind: String, file: String): (Int, Seq[Long]) = {
      val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
      val (jobs, stats) = jobsOf(runner.runFile(spark,
        s"""LOAD $kind FROM '${dir.getAbsolutePath}/$file'
            INTO postgresql:///t TARGET TABLE t
            WITH create table;"""))
      (jobs, stats.map(_.rows))
    }
    assert(run("DBF", "p.dbf") == (1, Seq(2L)))
    assert(run("IXF", "t.ixf") == (1, Seq(2L)))
  }

  test("a line-format load without a field list runs one Spark job: " +
    "guessed CSV, csv header, COPY and fixed header") {
    val dir = Files.createTempDirectory("runner-onejob-lines").toFile
    def file(name: String, text: String): String = {
      Files.writeString(new java.io.File(dir, name).toPath, text)
      new java.io.File(dir, name).getAbsolutePath
    }
    // jobs and rows sent of one load
    def run(load: String): (Int, Seq[String]) = {
      RunnerSpec.received.clear()
      val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
      val (jobs, stats) = jobsOf(runner.runFile(spark, load))
      val rows = RunnerSpec.received.asScala.toSeq.map(_._2).sorted
      assert(stats.map(_.rows) == Seq(rows.size.toLong))
      (jobs, rows)
    }
    assert(run(
      s"""LOAD CSV FROM '${file("g.csv", "1;a\n2;b\n")}'
          INTO postgresql:///t TARGET TABLE t;""") ==
      (1, Seq("1\ta", "2\tb")))
    assert(run(
      s"""LOAD CSV FROM '${file("h.csv", "id,name\n1,a\n2,b\n")}'
          INTO postgresql:///t TARGET TABLE t
          WITH csv header, fields terminated by ',';""") ==
      (1, Seq("1\ta", "2\tb")))
    assert(run(
      s"""LOAD COPY FROM '${file("c.dat", "1\ta\n2\tb\n")}'
          INTO postgresql:///t TARGET TABLE t;""") ==
      (1, Seq("1\ta", "2\tb")))
    assert(run(
      s"""LOAD FIXED FROM '${file("f.txt", "id  name\n1   ab\n2   cd\n")}'
          INTO postgresql:///t TARGET TABLE t
          WITH fixed header;""") ==
      (1, Seq("1\tab", "2\tcd")))
  }

  test("LOAD CSV HAVING FIELDS and LOAD COPY over an empty directory " +
    "load 0 rows") {
    val dir = Files.createTempDirectory("runner-empty").toFile
    def rows(load: String): Seq[Long] =
      new Runner((_, _) => (), RunnerSpec.endpoint).runFile(spark, load)
        .map(_.rows)
    assert(rows(
      s"""LOAD CSV FROM '${dir.getAbsolutePath}' HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE e;""") == Seq(0L))
    assert(rows(
      s"""LOAD COPY FROM '${dir.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE e;""") == Seq(0L))
  }

  test("the column count comes from the lines after skip header") {
    val dir = Files.createTempDirectory("runner-heads").toFile
    // a one-field preamble two lines long, then three-field rows
    Files.writeString(new java.io.File(dir, "p.csv").toPath,
      "exported rows\nby a tool\n1,a,x\n2,b,y\n")
    def load(withs: String): Seq[String] = {
      RunnerSpec.received.clear()
      val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
      runner.runFile(spark,
        s"""LOAD CSV FROM '${dir.getAbsolutePath}/p.csv'
            INTO postgresql:///t TARGET TABLE p
            WITH skip header = 2$withs;""")
      RunnerSpec.received.asScala.toSeq.map(_._2).sorted
    }
    assert(load(", fields terminated by ','") == Seq("1\ta\tx", "2\tb\ty"))
    assert(load("") == Seq("1\ta\tx", "2\tb\ty"))
  }

  test("a latin1 csv header names the COPY columns as written") {
    val dir = Files.createTempDirectory("runner-latin-header").toFile
    val latin = new java.io.File(dir, "l.csv")
    Files.write(latin.toPath, "numéro,nom\n1,Léa\n".getBytes("ISO-8859-1"))
    RunnerSpec.copyTargets.clear()
    new Runner((_, _) => (), RunnerSpec.recordingEndpoint).runFile(spark,
      s"""LOAD CSV FROM '${latin.getAbsolutePath}' WITH ENCODING latin1
          INTO postgresql:///t TARGET TABLE l
          WITH csv header, fields terminated by ',';""")
    assert(RunnerSpec.copyTargets.asScala.toSeq.map(_._1) ==
      Seq("\"l\" (\"numéro\", \"nom\")"))
  }

  test("LOAD COPY honours WITH ENCODING and skip header") {
    val f = Files.createTempFile("runner-copyenc", ".dat")
    Files.write(f, "k\tv\n1\tcafé\n2\tthé\n".getBytes("ISO-8859-1"))
    RunnerSpec.received.clear()
    val stats = new Runner((_, _) => (), RunnerSpec.endpoint).runFile(spark,
      s"""LOAD COPY FROM '$f' WITH ENCODING latin1 (k, v)
          INTO postgresql:///t TARGET TABLE cp
          WITH skip header = 1;""")
    assert(stats.map(s => (s.rows, s.rejected)) == Seq((2L, 0L)))
    assert(RunnerSpec.received.asScala.toSeq.map(_._2).sorted ==
      Seq("1\tcafé", "2\tthé"))
  }

  test("COPY loads count undecodable rows as rejects, not silent drops") {
    val dir = Files.createTempDirectory("runner-copyrej").toFile
    val f = new java.io.File(dir, "cp.dat")
    val out = new java.io.FileOutputStream(f)
    out.write("1\tone\n".getBytes("UTF-8"))
    out.write("2\thé\n".getBytes("ISO-8859-1")) // invalid UTF-8 byte
    out.write("3\tthree\n".getBytes("UTF-8"))
    out.close()
    val rejRoot = Files.createTempDirectory("runner-copyrej-root").toFile
    val text =
      s"""LOAD COPY FROM '${f.getAbsolutePath}' (k, v)
          INTO postgresql:///t TARGET TABLE cp;"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint,
      rejectRoot = Some(rejRoot.getAbsolutePath))
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("cp", 2L, 1L)),
      s"undecodable row must be COUNTED rejected, got $stats")
    val rejLines = spark.read.textFile(
      new java.io.File(rejRoot, "cp.dat").getAbsolutePath).collect().toSeq
    assert(rejLines.length == 1 && rejLines.head.startsWith("2\t"),
      s"undecodable row must land in the reject file: $rejLines")
  }

  test("inline load goes through the same path") {
    val text =
      """LOAD CSV FROM inline
          HAVING FIELDS (a, b)
          INTO postgresql:///t TARGET TABLE inl
          WITH fields terminated by ',';
1,x
2,y"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.head.rows == 2)
    assert(RunnerSpec.received.asScala.toSeq.sorted ==
      Seq(("inl", "1\tx"), ("inl", "2\ty")))
  }

  test("multi-command file runs EVERY command, not just the first") {
    // regression tripwire: runFile used to hand commands 2..N to the
    // first load as its `FROM inline` data payload (fixed round 14) —
    // a multi-table file silently loaded one table
    val dir = Files.createTempDirectory("runner-multi").toFile
    Files.writeString(new java.io.File(dir, "a.csv").toPath, "1|one\n")
    Files.writeString(new java.io.File(dir, "b.csv").toPath,
      "2|two\n3|three\n")
    val text =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/a.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE ta
          WITH fields terminated by '|';

          LOAD CSV FROM '${dir.getAbsolutePath}/b.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE tb
          WITH fields terminated by '|';"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.table, s.rows)) ==
      Seq(("ta", 1L), ("tb", 2L)))
    val byTable = RunnerSpec.received.asScala.toSeq.groupBy(_._1)
    assert(byTable("ta").map(_._2) == Seq("1\tone"))
    assert(byTable("tb").map(_._2).sorted == Seq("2\ttwo", "3\tthree"))
  }

  test("--dry-run: a file load executes NOTHING — no DDL, no DO " +
    "hooks, no data") {
    val dir = Files.createTempDirectory("runner-dry").toFile
    Files.writeString(new java.io.File(dir, "kv.csv").toPath,
      "1|one\n2|two\n")
    val ddl = new ConcurrentLinkedQueue[String]
    RunnerSpec.received.clear()
    val runner = new Runner(
      (sql, _) => ddl.add(sql.trim),
      RunnerSpec.endpoint,
      dryRun = true)
    val stats = runner.runFile(spark,
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/kv.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|'
          BEFORE LOAD DO $$$$ create table kv (k int, v text); $$$$
          AFTER LOAD DO $$$$ analyze kv; $$$$;""")
    assert(stats.map(s => (s.table, s.rows)) == Seq(("kv", 0L)))
    assert(ddl.isEmpty, s"dry run executed DDL: ${ddl.asScala.toSeq}")
    assert(RunnerSpec.received.isEmpty, "dry run moved data")
  }

  test("no-command-file CLI mode synthesizes a parseable command " +
    "(cli.clj build-inline-command)") {
    // database source: scheme decides the LOAD kind; --with/--cast/
    // --set join into their clauses and round-trip the grammar
    val db = Runner.synthesizeCommand(
      "sqlite:///tmp/x.db", "pgsql://u@h/t",
      withOpts = Seq("quote identifiers", "include drop",
        "create tables"),
      castRules = Seq("type integer to bigint"),
      setParams = Seq("work_mem to '12MB'"))
    val (cmd, _) = graft.dsl.Parser.parseWithInline(db)
    assert(cmd.loadType == "database")
    assert(cmd.boolOption("quote identifiers") &&
      cmd.boolOption("include drop"))
    assert(cmd.castRules.nonEmpty)
    assert(cmd.setParams == Seq("work_mem" -> "12MB"))
    // file source: --type names the kind for a bare path; --field and
    // --encoding land in their clauses
    val csv = Runner.synthesizeCommand(
      "/tmp/data.csv", "postgresql://u@h/t?tbl",
      withOpts = Seq("truncate", "fields terminated by ','"),
      sourceType = Some("csv"),
      fieldDefs = Seq("a", "b"),
      encoding = Some("latin1"))
    val (c2, _) = graft.dsl.Parser.parseWithInline(csv)
    assert(c2.loadType == "csv")
    assert(c2.fields.map(_.name) == Seq("a", "b"))
    assert(c2.encoding.contains("latin1"))
    assert(c2.boolOption("truncate"))
    // --before/--after: file contents wrapped in DO blocks
    val withDo = Runner.synthesizeCommand(
      "pgsql://u@h/src", "pgsql://u@h/t",
      beforeSql = Some("create schema if not exists x;"),
      afterSql = Some("analyze;"))
    val (c3, _) = graft.dsl.Parser.parseWithInline(withDo)
    assert(c3.beforeLoad == Seq("create schema if not exists x;"))
    assert(c3.afterLoad == Seq("analyze;"))
  }

  test("WITH on error stop aborts a csv load on the first malformed " +
    "row instead of filing rejects") {
    val dir = Files.createTempDirectory("runner-stop").toFile
    // last line has an unterminated quote -> parse reject (short rows
    // pad with NULLs like the reference, so arity is not the trigger)
    Files.writeString(new java.io.File(dir, "bad.csv").toPath,
      "1|one\n2|two\n4|four\n3|\"unc\n")
    def text(opt: String) =
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/bad.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE kv
          WITH fields terminated by '|'$opt;"""
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    // default = resume next: good rows load, the bad row is dropped
    // and counted rejected
    val stats = runner.runFile(spark, text(""))
    assert(stats.map(_.rows) == Seq(3L), stats.mkString("; "))
    // on error stop: aborts before any data moves
    RunnerSpec.received.clear()
    val e = intercept[Exception] {
      runner.runFile(spark, text(", on error stop"))
    }
    assert(e.getMessage.contains("on error stop"), e.getMessage)
    assert(RunnerSpec.received.isEmpty,
      "no rows may reach the sink after the stop")
    // a bad line after the first one-row batch stops the load before
    // that batch is sent
    Files.writeString(new java.io.File(dir, "bad.csv").toPath,
      "1|one\n2|two\n4|four\n5|five\n3|\"unc\n")
    RunnerSpec.received.clear()
    val late = intercept[Exception] {
      runner.runFile(spark, text(", batch rows = 1, on error stop"))
    }
    assert(late.getMessage.contains("on error stop"), late.getMessage)
    assert(RunnerSpec.received.isEmpty,
      "no batch may reach the sink before a later malformed line")
  }

  test("WITH batch rows bounds the sink's COPY batches") {
    val dir = Files.createTempDirectory("runner-batch").toFile
    Files.writeString(new java.io.File(dir, "n.csv").toPath,
      (1 to 10).map(i => s"$i|v$i").mkString("\n") + "\n")
    RunnerSpec.batchSizes.clear()
    val runner = new Runner((_, _) => (),
      (_, _) => _ => new CopyEndpoint {
        def send(rows: Seq[Array[Byte]]): Unit =
          RunnerSpec.batchSizes.add(rows.size)
      })
    val stats = runner.runFile(spark,
      s"""LOAD CSV FROM '${dir.getAbsolutePath}/n.csv'
          HAVING FIELDS (k, v)
          INTO postgresql:///t TARGET TABLE n
          WITH fields terminated by '|', batch rows = 3;""")
    assert(stats.map(_.rows) == Seq(10L))
    val sizes = RunnerSpec.batchSizes.asScala.toSeq
    // the desync jitter keeps batches within 0.7-1.3x of the cap, and
    // nothing may exceed the hard 1.3x ceiling of 3
    assert(sizes.sum == 10 && sizes.max <= 4, sizes.mkString(","))
    assert(sizes.length >= 3, s"3-row cap must split 10 rows: $sizes")
  }

  test("lines terminated by: the v3 csv-newline fixture's '\u00b6' " +
    "records load as multi-field rows") {
    // the reference's own inline fixture (test/csv-newline.load):
    // fields terminated by '\u00a6', lines terminated by '\u00b6' —
    // two 3-field records, the second with a space inside a field
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/test/csv-newline.load")),
      "UTF-8")
      // the fixture's target URI carries no table; give the sink one
      .replace("postgresql:///pgloader?lines", "postgresql:///pgloader")
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.map(_.rows) == Seq(2L), stats.mkString("; "))
    val rows = RunnerSpec.received.asScala.toSeq.map(_._2).sorted
    assert(rows == Seq("plip\tsecond line\tbar", "plop\tbar\tfoo"), rows)
  }

  test("DBF create table: the DDL and the COPY column list case the " +
    "same descriptors (quote identifiers keeps their raw spelling, a " +
    "user cast rule retypes one column)") {
    import graft.sources.DbfSource
    val dir = Files.createTempDirectory("runnerdbf").toFile
    val dbf = new java.io.File(dir, "people.dbf")
    // the writer stores descriptor names uppercase, like dBase itself
    // (a blank character field loads as an empty string, the
    // reference's db3-trim-string)
    DbfSource.write(dbf, Seq(
      DbfSource.DbfField("prodid", 'N', 5, 0),
      DbfSource.DbfField("label", 'C', 10, 0),
      DbfSource.DbfField("price", 'N', 8, 2)),
      Seq(Seq("1", "apple", "0.50"), Seq("2", null, "12.25")))
    val ddl = new ConcurrentLinkedQueue[String]
    val targets = new ConcurrentLinkedQueue[String]
    val runner = new Runner((sql, _) => ddl.add(sql),
      (table, setup) => {
        targets.add(table)
        RunnerSpec.endpoint(table, setup)
      })
    RunnerSpec.received.clear()
    val stats = runner.runFile(spark,
      s"""LOAD DBF FROM '${dbf.getAbsolutePath}'
            INTO postgresql:///t TARGET TABLE people
            WITH create table, quote identifiers
            CAST column people.label to varchar;""")
    assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
      Seq(("people", 2L, 0L)))
    assert(ddl.asScala.toSeq == Seq("CREATE TABLE IF NOT EXISTS " +
      "\"people\" (\"PRODID\" bigint, \"LABEL\" varchar, " +
      "\"PRICE\" numeric(8,2));"))
    assert(targets.asScala.toSeq ==
      Seq("\"people\" (\"PRODID\", \"LABEL\", \"PRICE\")"))
    assert(RunnerSpec.received.asScala.toSeq.map(_._2).sorted ==
      Seq("1\tapple\t0.50", "2\t\t12.25"))
  }

  test("a guessed CSV dialect keeps the command's quote and escape") {
    // no HAVING FIELDS and no `fields terminated by`: only the separator
    // (and the doubling, when no escape is named) comes from the guess
    val dir = Files.createTempDirectory("runner-guess").toFile
    Files.writeString(new java.io.File(dir, "q.csv").toPath,
      "1;\"a;b\"\n2;\"c;d\"\n")
    Files.writeString(new java.io.File(dir, "e.csv").toPath,
      "1;\"a\\\\\"\n2;\"c\"\n")
    def load(file: String, withs: String): Seq[String] = {
      RunnerSpec.received.clear()
      val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
      val stats = runner.runFile(spark,
        s"""LOAD CSV FROM '${dir.getAbsolutePath}/$file'
            INTO postgresql:///t TARGET TABLE q
            WITH $withs;""")
      assert(stats.map(s => (s.rows, s.rejected)) == Seq((2L, 0L)))
      RunnerSpec.received.asScala.toSeq.map(_._2).sorted
    }
    assert(load("q.csv", "fields not enclosed") ==
      Seq("1\t\"a\tb\"", "2\t\"c\td\""))
    assert(load("e.csv", "fields escaped by backslash-quote") ==
      Seq("1\ta\\\\", "2\tc"))
  }

  test("WITH copy binary and copy binary auto are accepted: the same " +
    "rows reach the text endpoints, with one note per table") {
    val dir = Files.createTempDirectory("runner-copybin").toFile
    Files.writeString(new java.io.File(dir, "t.csv").toPath,
      "1|3.14|2024-01-02 03:04:05+00|\\x00ff|héllo\tworld\n" +
        "2||||\n-3|NaN|infinity|\\x|{1,2}\n")
    val binaryCalls = new java.util.concurrent.atomic.AtomicInteger
    def load(withs: String): (Seq[String], String) = {
      RunnerSpec.received.clear()
      val runner = new Runner((_, _) => (), RunnerSpec.endpoint,
        binaryEndpointFactory = (_, _) => {
          binaryCalls.incrementAndGet()
          _ => sys.error("the binary endpoint factory was called")
        })
      val err = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val stats =
        try runner.runFile(spark,
          s"""LOAD CSV FROM '${dir.getAbsolutePath}/t.csv'
              HAVING FIELDS (i, n, ts, b, s)
              INTO postgresql:///t TARGET TABLE t
              WITH fields terminated by '|'$withs;""")
        finally System.setErr(saved)
      assert(stats.map(s => (s.table, s.rows, s.rejected)) ==
        Seq(("t", 3L, 0L)))
      (RunnerSpec.received.asScala.toSeq.map(_._2), err.toString("UTF-8"))
    }
    val note = "graft: WITH copy binary is accepted; t loads through COPY TEXT"
    val (plain, plainErr) = load("")
    val (binary, binaryErr) = load(", copy binary")
    val (auto, autoErr) = load(", copy binary auto")
    assert(plain.length == 3)
    assert(binary == plain)
    assert(auto == plain)
    assert(binaryCalls.get == 0)
    assert(!plainErr.contains("copy binary"))
    assert(binaryErr.linesIterator.count(_ == note) == 1, binaryErr)
    assert(autoErr.linesIterator.count(_ == note) == 1, autoErr)
  }
}
