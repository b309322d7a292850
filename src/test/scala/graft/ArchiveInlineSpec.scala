package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.dsl.{Parser, PlanBuilder}
import graft.sinks.{CopyEndpoint, CopyError}

object ArchiveInlineSpec {
  // static: the endpoint runs inside serialized executor closures
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]
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
    val zip = mkZip(
      "regions.csv" -> "1,east\n2,west\n",
      "cities.csv" -> "10,1,springfield\n20,2,shelbyville\n")
    val cmd = Parser.parse(
      s"""LOAD ARCHIVE FROM '$zip' INTO postgresql:///t
          LOAD CSV FROM FILENAME MATCHING ~/regions[.]csv/
            HAVING FIELDS (r_id, r_name)
            INTO postgresql:///t TARGET TABLE regions;
          LOAD CSV FROM FILENAME MATCHING ~/cities[.]csv/
            HAVING FIELDS (c_id, c_region, c_name)
            INTO postgresql:///t TARGET TABLE cities;
          ;""")
    assert(cmd.loadType == "archive" && cmd.subCommands.length == 2)
    val results = PlanBuilder.buildArchive(spark, cmd)
    assert(results.map(_._1.targetTable) ==
      Seq(Some("regions"), Some("cities")))
    val regions = results(0)._2.collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(regions.toSeq == Seq(("1", "east"), ("2", "west")))
    assert(results(1)._2.count() == 2)
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
    val zip = mkZip("../evil.txt" -> "boom")
    val e = intercept[Exception](graft.sources.Archive.expand(zip))
    assert(e.getMessage.contains("escapes"))
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
