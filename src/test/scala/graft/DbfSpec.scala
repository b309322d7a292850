package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.sources.DbfSource
import graft.sources.DbfSource.DbfField

/** DBF reader: header parse validated against the reference's real dBase
  * fixture (test/data/dbase_8b.dbf, whose layout is documented in
  * dbase_8b_summary.txt), plus a write/read round-trip with deleted-row
  * skip and multi-file loads through the Runner. */
class DbfSpec extends SparkSpec {

  private val fields = Seq(
    DbfField("prodid", 'N', 5, 0),
    DbfField("label", 'C', 10, 0))

  /** Runs `load` through a Runner whose endpoints record the rows. */
  private def loadRows(load: String): Seq[String] = {
    RunnerSpec.received.clear()
    val runner = new Runner((_, _) => (), RunnerSpec.endpoint)
    val stats = runner.runFile(spark, load)
    val rows = RunnerSpec.received.asScala.toSeq.map(_._2).sorted
    assert(stats.map(s => (s.rows, s.rejected)) ==
      Seq((rows.size.toLong, 0L)))
    rows
  }

  test("header of the reference's dbase_8b.dbf matches its summary") {
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(
      "/root/reference/test/data/dbase_8b.dbf"))
    val h = DbfSource.parseHeader(bytes)
    assert(h.recordCount == 10)
    assert(h.fields.map(f => (f.name, f.ftype, f.length, f.decimals)) == Seq(
      ("character", 'C', 100, 0),
      ("numerical", 'N', 20, 2),
      ("date", 'D', 8, 0),
      ("logical", 'L', 1, 0),
      ("float", 'F', 20, 18),
      ("memo", 'M', 10, 0)))
  }

  test("records of dbase_8b.dbf parse (10 live rows, fields line up)") {
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(
      "/root/reference/test/data/dbase_8b.dbf"))
    val h = DbfSource.parseHeader(bytes)
    val recs = DbfSource.parseRecords(bytes, h,
      java.nio.charset.Charset.forName("ISO-8859-1")).toSeq
    assert(recs.length == 10)
    assert(recs.head.length == 6)
    // date field is an 8-digit YYYYMMDD or blank
    assert(recs.forall(r => r(2).trim.isEmpty ||
      r(2).trim.matches("\\d{8}")))
    // logical field is one char
    assert(recs.forall(_(3).length == 1))
  }

  test("write/read round-trip with deleted rows and typed transforms") {
    val dir = Files.createTempDirectory("dbf").toFile
    val f = new java.io.File(dir, "t.dbf")
    val fields = Seq(
      DbfField("id", 'N', 6, 0),
      DbfField("name", 'C', 12, 0),
      DbfField("amt", 'N', 10, 2),
      DbfField("d", 'D', 8, 0),
      DbfField("ok", 'L', 1, 0))
    val rows = Seq(
      Seq("1", "alpha", "10.50", "20040101", "T"),
      Seq("2", "beta", "-3.25", "20041231", "F"),
      Seq("3", "gone", "0.00", "20040615", "T"),
      Seq("4", "delta", "99.99", "", "?"))
    DbfSource.write(f, fields, rows,
      deleted = Seq(false, false, true, false))

    val df = DbfSource.read(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "name", "amt", "d", "ok"))
    import org.apache.spark.sql.functions.col
    val typed = df.select(
      DbfSource.defaultTransform(fields(0))(col("id")).cast("long").as("id"),
      DbfSource.defaultTransform(fields(1))(col("name")).as("name"),
      DbfSource.defaultTransform(fields(2))(col("amt")).as("amt"),
      DbfSource.defaultTransform(fields(3))(col("d")).as("d"),
      DbfSource.defaultTransform(fields(4))(col("ok")).as("ok"))
      .orderBy(col("id"))
    val got = typed.collect().map(r => (r.get(0), r.get(1), r.get(2),
      r.get(3), r.get(4))).toSeq
    // row 3 was deleted; '?' logical → null, blank date → null
    assert(got == Seq(
      (1L, "alpha", "10.50", "2004-01-01", "t"),
      (2L, "beta", "-3.25", "2004-12-31", "f"),
      (4L, "delta", "99.99", null, null)))
  }

  test("pg type mapping follows the reference's dbf rules") {
    assert(DbfSource.pgType(DbfField("a", 'C', 10, 0)) == "text")
    assert(DbfSource.pgType(DbfField("a", 'N', 10, 2)) == "numeric(10,2)")
    assert(DbfSource.pgType(DbfField("a", 'N', 10, 0)) == "bigint")
    assert(DbfSource.pgType(DbfField("a", 'D', 8, 0)) == "date")
    assert(DbfSource.pgType(DbfField("a", 'L', 1, 0)) == "boolean")
  }

  test("hadoop-conf broadcast is cached per session, not leaked per read") {
    val b1 = DbfSource.hadoopConfBroadcast(spark)
    val b2 = DbfSource.hadoopConfBroadcast(spark)
    assert(b1 eq b2, "each read must reuse the session's one broadcast")
    assert(b1.id == b2.id)
  }

  test("LOAD DBF over a glob of two files loads both files' rows") {
    val dir = Files.createTempDirectory("dbf-glob").toFile
    DbfSource.write(new java.io.File(dir, "a.dbf"), fields,
      Seq(Seq("1", "apple"), Seq("2", "pear")))
    DbfSource.write(new java.io.File(dir, "b.dbf"), fields,
      Seq(Seq("3", "plum")))
    assert(loadRows(
      s"""LOAD DBF FROM ALL FILENAMES MATCHING ~/[.]dbf$$/
            IN DIRECTORY '${dir.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE fruit;""") ==
      Seq("1\tapple", "2\tpear", "3\tplum"))
  }

  test("LOAD DBF from a zip with two .dbf members loads both") {
    val dir = Files.createTempDirectory("dbf-zip").toFile
    val zip = new java.io.File(dir, "fruit.zip")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zip))
    try Seq("a.dbf" -> Seq(Seq("1", "apple")),
            "b.dbf" -> Seq(Seq("2", "pear"), Seq("3", "plum"))).foreach {
      case (name, rows) =>
        val f = new java.io.File(dir, name)
        DbfSource.write(f, fields, rows)
        out.putNextEntry(new java.util.zip.ZipEntry(name))
        out.write(Files.readAllBytes(f.toPath))
        out.closeEntry()
    } finally out.close()
    assert(loadRows(
      s"""LOAD DBF FROM '${zip.getAbsolutePath}'
          INTO postgresql:///t TARGET TABLE fruit;""") ==
      Seq("1\tapple", "2\tpear", "3\tplum"))
  }
}
