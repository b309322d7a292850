package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.dsl.{Parser, PlanBuilder}
import graft.sinks.{CopyEndpoint, CopyError}

object ArchiveInlineSpec {
  // static: the endpoint runs inside serialized executor closures
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]

  /** The archive extraction directories under the temp dir that hold
    * `member`. */
  def extractedHolding(member: String): Seq[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(d => d.getName.startsWith("graft-archive") &&
        new File(d, member).exists)
}

/** LOAD ARCHIVE (zip expansion + ordered sub-commands) and FROM inline
  * (data embedded after the command). */
class ArchiveInlineSpec extends SparkSpec {

  private def mkZip(entries: (String, String)*): String = {
    val f = File.createTempFile("graft-arch", ".zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    f.getAbsolutePath
  }

  test("archive with two ordered csv sub-commands") {
    // a member name no other run extracts, to find this run's directory
    val regions = s"regions-${java.util.UUID.randomUUID}.csv"
    val zip = mkZip(
      regions -> "1,east\n2,west\n",
      "cities.csv" -> "10,1,springfield\n20,2,shelbyville\n")
    val text =
      s"""LOAD ARCHIVE FROM '$zip' INTO postgresql:///t
          LOAD CSV FROM FILENAME MATCHING ~/regions-.*[.]csv/
            HAVING FIELDS (r_id, r_name)
            INTO postgresql:///t TARGET TABLE regions
            BEFORE LOAD DO $$$$ create table regions (r_id int); $$$$;
          LOAD CSV FROM FILENAME MATCHING ~/cities[.]csv/
            HAVING FIELDS (c_id, c_region, c_name)
            INTO postgresql:///t TARGET TABLE cities;
          ;"""
    val cmd = Parser.parse(text)
    assert(cmd.loadType == "archive" && cmd.subCommands.length == 2)
    // the sub-command's BEFORE LOAD DO runs while the files are out
    val during = new java.util.concurrent.ConcurrentLinkedQueue[File]
    RunnerSpec.received.clear()
    val runner = new Runner(
      (_, _) => ArchiveInlineSpec.extractedHolding(regions)
        .foreach(during.add),
      RunnerSpec.endpoint)
    val stats = runner.runFile(spark, text)
    assert(stats.map(s => (s.table, s.rows)) ==
      Seq(("regions", 2L), ("cities", 2L)))
    val byTable = RunnerSpec.received.toArray
      .map(_.asInstanceOf[(String, String)]).toSeq.groupBy(_._1)
    assert(byTable("regions").map(_._2).sorted == Seq("1\teast", "2\twest"))
    assert(byTable("cities").size == 2)
    // the extracted directory existed during the load and is gone after
    assert(during.size == 1, during)
    assert(!during.peek().exists, s"${during.peek()} left behind")
  }

  test("archive sub-commands run their own truncate and drop indexes") {
    val zip = mkZip("n.csv" -> "1,a\n2,b\n")
    val ddl = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val runner = new Runner((sql, _) => ddl.add(sql.trim),
      RunnerSpec.endpoint,
      queryTarget = _ => Seq(Array[String](
        "n_idx", "CREATE INDEX n_idx ON public.n (k)",
        null, null, null, "false")))
    val stats = runner.runFile(spark,
      s"""LOAD ARCHIVE FROM '$zip' INTO postgresql:///t
          LOAD CSV FROM FILENAME MATCHING ~/n[.]csv/
            HAVING FIELDS (k, v)
            INTO postgresql:///t TARGET TABLE n
            WITH fields terminated by ',', truncate, drop indexes;
          ;""")
    assert(stats.map(s => (s.table, s.rows)) == Seq(("n", 2L)))
    val sent = ddl.toArray.map(_.toString).toSeq
    assert(sent.exists(_.startsWith("TRUNCATE")), sent)
    assert(sent.exists(_.startsWith("DROP INDEX")), sent)
    assert(sent.contains("CREATE INDEX n_idx ON public.n (k);"), sent)
  }

  test("LOAD DBF from a zip deletes its extracted members after the " +
    "load's COPY") {
    import graft.sources.DbfSource
    val member = s"fruit-${java.util.UUID.randomUUID}.dbf"
    val f = File.createTempFile("graft-arch-member", ".dbf")
    DbfSource.write(f, Seq(DbfSource.DbfField("id", 'N', 5, 0)),
      Seq(Seq("1"), Seq("2")))
    val zip = File.createTempFile("graft-arch", ".zip")
    val z = new ZipOutputStream(new FileOutputStream(zip))
    z.putNextEntry(new ZipEntry(member))
    z.write(java.nio.file.Files.readAllBytes(f.toPath))
    z.closeEntry()
    z.close()
    // `create table` runs before the COPY, while the members are out
    val during = new java.util.concurrent.ConcurrentLinkedQueue[File]
    val runner = new Runner(
      (_, _) => ArchiveInlineSpec.extractedHolding(member)
        .foreach(during.add),
      RunnerSpec.endpoint)
    val stats = runner.runFile(spark,
      s"""LOAD DBF FROM '${zip.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE fruit
          WITH create table;""")
    assert(stats.map(_.rows) == Seq(2L))
    assert(during.size == 1, during)
    assert(!during.peek().exists, s"${during.peek()} left behind")
  }

  test("archive sub-loads take their sink options from their own " +
    "WITH clause") {
    val zip = mkZip("n.csv" -> (1 to 10).map(i => s"$i,v$i").mkString("\n"))
    def text(withs: String) =
      s"""LOAD ARCHIVE FROM '$zip' INTO postgresql:///t
          LOAD CSV FROM FILENAME MATCHING ~/n[.]csv/
            HAVING FIELDS (k, v)
            INTO postgresql:///t TARGET TABLE n
            WITH fields terminated by ',', $withs;
          ;"""
    ArchiveInlineSpec.batchSizes.clear()
    // the server refuses row k=3 and reports its line, like PG's
    // `CONTEXT: COPY n, line N`
    val runner = new Runner((_, _) => (),
      (_, _) => _ => new CopyEndpoint {
        def send(rows: Seq[Array[Byte]]): Unit = {
          val bad = rows.indexWhere(new String(_, "UTF-8").startsWith("3\t"))
          if (bad >= 0) throw CopyError(Some(bad + 1), "bad row 3")
          ArchiveInlineSpec.batchSizes.add(rows.size)
        }
      })
    val stats = runner.runFile(spark, text("batch rows = 3"))
    assert(stats.map(s => (s.rows, s.rejected)) == Seq((9L, 1L)))
    val sizes = ArchiveInlineSpec.batchSizes.toArray.map(_.asInstanceOf[Int])
    assert(sizes.sum == 9 && sizes.max <= 4, sizes.mkString(","))
    val e = intercept[Exception](runner.runFile(spark, text("on error stop")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad row 3")), e)
  }

  test("zip-slip entries are rejected") {
    // a member extracted before the bad entry finds the directory
    val member = s"ok-${java.util.UUID.randomUUID}.txt"
    val zip = mkZip(member -> "fine", "../evil.txt" -> "boom")
    val e = intercept[Exception](graft.sources.Archive.expand(zip))
    assert(e.getMessage.contains("escapes"))
    assert(ArchiveInlineSpec.extractedHolding(member).isEmpty,
      "the failed expansion left its directory behind")
  }

  test("a zipped DBF whose scan fails leaves no extracted directory") {
    val member = s"broken-${java.util.UUID.randomUUID}.dbf"
    val zip = mkZip(member -> "not a dbf header")
    intercept[Exception](PlanBuilder.dataflow(spark, Parser.parse(
      s"""LOAD DBF FROM '$zip' INTO postgresql:///t TARGET TABLE b""")))
    assert(ArchiveInlineSpec.extractedHolding(member).isEmpty,
      "the failed scan left the extracted members behind")
  }

  test("http source downloads from a real (local) server and loads") {
    // zero-egress-safe: a loopback JDK HttpServer serves the CSV bytes
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "10,alpha\n20,beta\n".getBytes("UTF-8")
    server.createContext("/data.csv",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val cmd = Parser.parse(
        s"""LOAD CSV FROM 'http://127.0.0.1:$port/data.csv'
            HAVING FIELDS (k, v)
            INTO postgresql:///t TARGET TABLE kv
            WITH fields terminated by ','""")
      val got = PlanBuilder.build(spark, cmd)
        .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      assert(got.toSeq == Seq(("10", "alpha"), ("20", "beta")))
      // a 404 fails loudly, not silently empty
      val bad = Parser.parse(
        s"""LOAD CSV FROM 'http://127.0.0.1:$port/missing.csv'
            HAVING FIELDS (k, v)
            INTO postgresql:///t TARGET TABLE kv""")
      val e = intercept[Exception](PlanBuilder.build(spark, bad))
      assert(e.getMessage.contains("404"))
    } finally server.stop(0)
  }

  test("FROM inline reads the payload after the command") {
    val text =
      """LOAD CSV FROM inline
           HAVING FIELDS (k, v)
           INTO postgresql:///t TARGET TABLE kv
           WITH fields terminated by ',';
         1,one
         2,two
         3,three"""
    val (cmd, inline) = Parser.parseWithInline(text)
    assert(cmd.source.contains(graft.dsl.Ast.InlineData))
    assert(inline.nonEmpty)
    val df = PlanBuilder.build(spark, cmd, inlineData =
      inline.map(_.linesIterator.map(_.trim).filter(_.nonEmpty)
        .mkString("\n")))
    val got = df.collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("1", "one"), ("2", "two"), ("3", "three")))
  }
}
