package graft

import graft.sources.IxfSource
import graft.sources.IxfSource.IxfColumn

object IxfSpec {
  /** shared with local-mode executor tasks (closures are serialized) */
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A minimal PC/IXF file: H and T records, one C record each for a
    * non-null INTEGER `ID` and a nullable VARCHAR(16) `NAME`, and one D
    * record per row (a None name is NULL). Records are `LLLLLL` (the
    * length of what follows) + type char + content; a C record's content
    * is name length (3), name (256), null flag, 5 reserved, type code
    * (3), code pages (10), length (5), D-record id (3), POSN (6). */
  def write(file: java.io.File, rows: Seq[(Int, Option[String])]): Unit = {
    val out = new java.io.ByteArrayOutputStream
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def record(typ: Char, content: Array[Byte]): Unit = {
      out.write(ascii(f"${content.length + 1}%06d$typ"))
      out.write(content)
    }
    def column(name: String, nullable: Boolean, typeCode: Int,
               length: Int, posn: Int): Unit =
      record('C', ascii(f"${name.length}%03d" + name.padTo(256, ' ') +
        (if (nullable) "Y" else "N") + " " * 5 + f"$typeCode%03d" +
        " " * 10 + f"$length%05d" + "001" + f"$posn%06d"))
    record('H', ascii("IXF0002"))
    record('T', ascii("IXF"))
    column("ID", nullable = false, 496, 4, posn = 1)
    column("NAME", nullable = true, 448, 16, posn = 5)
    rows.foreach { case (id, name) =>
      val area = java.nio.ByteBuffer.allocate(4 + 2 + 2 + 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      area.putInt(id)
      name match {
        case None => area.putShort(-1.toShort) // 0xFFFF: NULL
        case Some(v) =>
          val b = v.getBytes("ISO-8859-1")
          area.putShort(0.toShort).putShort(b.length.toShort).put(b)
      }
      // DRID 001 + 4 reserved, then the data area
      record('D', ascii("001    ") ++ area.array.take(area.position()))
    }
    java.nio.file.Files.write(file.toPath, out.toByteArray)
  }
}

/** PC/IXF reader against the reference's OWN fixtures
  * (test/data/nsitra.test*.ixf) and its regress golden
  * (test/regress/expected/ixf.out), and against files written by
  * [[IxfSpec.write]]. */
class IxfSpec extends SparkSpec {

  private def fixture(n: Int): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"/root/reference/test/data/nsitra.test$n.ixf"))

  test("test1 decodes to exactly the reference's expected output") {
    val parsed = IxfSource.parse(fixture(1))
    assert(parsed.columns.map(_.name) == Seq("test1_id", "intcol",
      "intcal_notnull", "charcol15", "charcol15_notnull", "varcharcol16",
      "varcharcol16_notnull"))
    val expected = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          "/root/reference/test/regress/expected/ixf.out")), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSeq
      .map(_.split("\t", -1).map(v => if (v == "\\N") null else v).toSeq)
    val got = parsed.rows.map(_.toSeq)
    assert(got == expected, s"golden mismatch:\n$got\nvs\n$expected")
  }

  test("timestamp, numeric and time/date fixtures parse with PG shapes") {
    val ts = IxfSource.parse(fixture(2))
    assert(ts.columns.forall(_.typeCode == 392))
    // 'yyyy-mm-dd HH:MM:SS.ffffff'
    val tsRe = "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{6}".r
    ts.rows.flatten.filter(_ != null).foreach(v =>
      assert(tsRe.matches(v), s"bad timestamp shape: $v"))

    val num = IxfSource.parse(fixture(3))
    assert(num.columns.map(_.typeCode) == Seq(500, 492, 484, 480, 480))
    num.rows.flatten.filter(_ != null).foreach(v =>
      assert(v.matches("-?\\d+(\\.\\d+)?([eE]-?\\d+)?"), s"bad number: $v"))

    val dt = IxfSource.parse(fixture(4))
    assert(dt.columns.map(_.typeCode) == Seq(388, 388, 384, 384))
    val timeRe = "\\d{2}:\\d{2}:\\d{2}".r
    val dateRe = "\\d{4}-\\d{2}-\\d{2}".r
    dt.rows.foreach { r =>
      Seq(r(0), r(1)).filter(_ != null).foreach(v =>
        assert(timeRe.matches(v), s"bad time: $v"))
      Seq(r(2), r(3)).filter(_ != null).foreach(v =>
        assert(dateRe.matches(v), s"bad date: $v"))
    }
  }

  test("pg type mapping") {
    assert(IxfSource.pgType(IxfColumn("a", true, 496, "", 1, 1)) ==
      "integer")
    assert(IxfSource.pgType(IxfColumn("a", true, 484, "00502", 1, 1)) ==
      "numeric(5,2)")
    assert(IxfSource.pgType(IxfColumn("a", true, 448, "00016", 1, 1)) ==
      "varchar(16)")
    assert(IxfSource.pgType(IxfColumn("a", true, 392, "00006", 1, 1)) ==
      "timestamp")
  }

  test("streaming schema read stops before row data") {
    val in = new java.io.FileInputStream(
      "/root/reference/test/data/nsitra.test1.ixf")
    val cols = try IxfSource.readColumns(in) finally in.close()
    assert(cols.map(_.name).take(2) == Seq("test1_id", "intcol"))
    assert(cols.forall(_.drid == 1))
  }

  test("the reference's own ixf.load runs end-to-end through the Runner") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/test/ixf.load")), "UTF-8")
    val ddl = new java.util.concurrent.ConcurrentLinkedQueue[String]
    IxfSpec.rows.clear()
    val runner = new Runner(
      executeDdl = (sql, _) => ddl.add(sql),
      // endpoint closures are task-serialized: collect through static
      // state, which local-mode executors share with the driver JVM
      endpointFactory = (_, _) => _ => new graft.sinks.CopyEndpoint {
        def send(batch: Seq[Array[Byte]]): Unit =
          batch.foreach(b =>
            IxfSpec.rows.add(new String(b, "UTF-8").stripSuffix("\n")))
      })
    val stats = runner.runFile(spark, text, baseDir = "/root/reference/test")
    assert(stats.map(_.rows) == Seq(4L))
    import scala.jdk.CollectionConverters._
    assert(ddl.asScala.exists(_.contains("drop schema if exists nsitra")))
    // row 2 of the golden: nullable cols are NULL (\N on the wire)
    assert(IxfSpec.rows.asScala.exists(r =>
      r.startsWith("2\t\\N\t88\t\\N\tabcdef")))
  }

  test("LOAD IXF flows through the PlanBuilder") {
    val cmd = graft.dsl.Parser.parse(
      """LOAD IXF FROM '/root/reference/test/data/nsitra.test1.ixf'
         INTO postgresql:///g TARGET TABLE nsitra_test1""")
    val df = graft.dsl.PlanBuilder.build(spark, cmd)
    assert(df.columns.head == "test1_id")
    assert(df.count() == 4)
  }

  private def tempIxf(dir: java.io.File, name: String,
                      rows: Seq[(Int, Option[String])]): java.io.File = {
    val f = new java.io.File(dir, name)
    IxfSpec.write(f, rows)
    f
  }

  test("a written PC/IXF file round-trips through parse") {
    val dir = java.nio.file.Files.createTempDirectory("ixf-write").toFile
    val f = tempIxf(dir, "t.ixf",
      Seq((1, Some("alpha")), (-7, None), (3, Some(""))))
    val parsed = IxfSource.parse(
      java.nio.file.Files.readAllBytes(f.toPath))
    assert(parsed.columns.map(c =>
      (c.name, c.rawName, c.nullable, c.typeCode, c.drid, c.posn)) ==
      Seq(("id", "ID", false, 496, 1, 1), ("name", "NAME", true, 448, 1, 5)))
    assert(parsed.rows.map(_.toSeq) ==
      Seq(Seq("1", "alpha"), Seq("-7", null), Seq("3", "")))
    val in = new java.io.FileInputStream(f)
    try assert(IxfSource.readColumns(in) == parsed.columns)
    finally in.close()
  }

  /** Runs `load`; returns its DDL and the rows its endpoints got. */
  private def runLoad(load: String): (Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val ddl = new java.util.concurrent.ConcurrentLinkedQueue[String]
    RunnerSpec.received.clear()
    val runner = new Runner((sql, _) => ddl.add(sql), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, load)
    val rows = RunnerSpec.received.asScala.toSeq.map(_._2).sorted
    assert(stats.map(s => (s.rows, s.rejected)) ==
      Seq((rows.size.toLong, 0L)))
    (ddl.asScala.toSeq, rows)
  }

  test("LOAD IXF over a glob of two files loads both through the Runner") {
    val dir = java.nio.file.Files.createTempDirectory("ixf-glob").toFile
    tempIxf(dir, "a.ixf", Seq((1, Some("alpha")), (2, None)))
    tempIxf(dir, "b.ixf", Seq((3, Some("gamma"))))
    val (ddl, rows) = runLoad(
      s"""LOAD IXF FROM ALL FILENAMES MATCHING ~/[.]ixf$$/
            IN DIRECTORY '${dir.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE things
          WITH create table;""")
    assert(ddl == Seq("CREATE TABLE IF NOT EXISTS \"things\" " +
      "(\"id\" integer, \"name\" varchar(16));"))
    assert(rows == Seq("1\talpha", "2\t\\N", "3\tgamma"))
  }

  test("an IXF CAST column … using transforms the values it retypes") {
    val dir = java.nio.file.Files.createTempDirectory("ixf-cast").toFile
    val f = tempIxf(dir, "t.ixf",
      Seq((1, Some("ff")), (2, Some("0x10")), (3, None)))
    val (ddl, rows) = runLoad(
      s"""LOAD IXF FROM '${f.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE things
          WITH create table
          CAST column things.name to bigint using hex-to-dec;""")
    assert(ddl == Seq("CREATE TABLE IF NOT EXISTS \"things\" " +
      "(\"id\" integer, \"name\" bigint);"))
    assert(rows == Seq("1\t255", "2\t16", "3\t\\N"))
  }
}
