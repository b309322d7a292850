package graft

import java.nio.file.Files
import graft.sources.{CsvDialect, CsvSource, SkipLines}

/** Per-file preamble skip: each file of a multi-file source drops its own
  * head lines (csv.lisp:84-127), including files shorter than the skip. */
class SkipLinesSpec extends SparkSpec {

  private def tmpDir(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("skiplines").toFile
    files.foreach { case (name, content) =>
      Files.write(new java.io.File(dir, name).toPath,
        content.getBytes("UTF-8"))
    }
    dir.getAbsolutePath
  }

  /** The decodable lines of `path` after each file's first `skip`. */
  private def lines(path: String, skip: Int, splitHint: Int = 1) = {
    import spark.implicits._
    SkipLines.scan(spark, SkipLines.heads(spark, path, skip), splitHint)
      .frame(spark).filter(org.apache.spark.sql.functions.col("__bad").isNull)
      .select("value").as[String]
  }

  test("each file drops its own head lines") {
    val dir = tmpDir(
      "a.txt" -> "pre1\npre2\na1\na2\n",
      "b.txt" -> "pre1\npre2\nb1\n")
    val got = lines(dir, 2).collect().toSeq.sorted
    assert(got == Seq("a1", "a2", "b1"))
  }

  test("skip longer than the file drops the whole file") {
    val dir = tmpDir("short.txt" -> "only\n", "ok.txt" -> "p\nkeep\n")
    val got = lines(dir, 1).collect().toSeq.sorted
    assert(got == Seq("keep"))
  }

  test("zero skip is the plain text read") {
    val dir = tmpDir("a.txt" -> "x\ny\n")
    assert(lines(dir, 0).collect().toSeq.sorted ==
      Seq("x", "y"))
  }

  test("strict decode: undecodable bytes reject the ROW, not mojibake") {
    // a latin1 'é' (0xE9) in a file declared ascii: the reference's
    // decoder errors and the row lands in rejects (csv-error.load);
    // replacement-decoding would silently load mojibake
    val dir = Files.createTempDirectory("strictdec").toFile
    val f = new java.io.File(dir, "x.csv")
    Files.write(f.toPath,
      ("ok|1\n" + "hé|2\n" + "fine|3\n").getBytes("ISO-8859-1"))
    val d = CsvDialect(separator = '|', encoding = "us-ascii",
      skipLines = 1) // skip>0 forces the decoding path
    val got = CsvSource.read(spark, f.getAbsolutePath, d, Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == Seq(("fine", "3")))
    val rej = CsvSource.rejects(spark, f.getAbsolutePath, d, Seq("a", "b"))
      .collect().map(_.getString(0)).toSeq
    assert(rej.length == 1 && rej.head.endsWith("|2"),
      s"undecodable row must surface in rejects: $rej")
    // the same bytes under the RIGHT charset load fully
    val ok = CsvSource.read(spark, f.getAbsolutePath,
        d.copy(encoding = "latin1"), Seq("a", "b"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(ok == Seq("fine", "hé"))
  }

  test("COPY and fixed-width reads surface undecodable rows as rejects") {
    // invalid UTF-8 (a lone 0xE9 latin1 byte) mid-file: the row must
    // not silently vanish — it is excluded from data AND surfaced by
    // the rejects() companion so the loader counts it (the r14 ADVICE
    // finding: these paths dropped __bad rows with stats unchanged)
    val dir = Files.createTempDirectory("strictrej").toFile
    val f = new java.io.File(dir, "x.dat")
    val out = new java.io.FileOutputStream(f)
    out.write("ok\t1\n".getBytes("UTF-8"))
    out.write("hé\t2\n".getBytes("ISO-8859-1")) // bad UTF-8
    out.write("fine\t3\n".getBytes("UTF-8"))
    out.close()
    import graft.sources.{CopyText, FixedWidth, TaggedLines}
    val files = SkipLines.heads(spark, f.getAbsolutePath)
    val copy = CopyText.tagged(spark, files, Seq("a", "b"))
    val copied = TaggedLines.clean(copy)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(copied == Seq("fine", "ok"))
    val copyRej = TaggedLines.rejects(copy)
      .collect().map(_.getString(0)).toSeq
    assert(copyRej.length == 1 && copyRej.head.endsWith("\t2"),
      s"undecodable COPY row must surface in rejects: $copyRej")
    val specs = Seq(FixedWidth.FieldPos("a", 0, 4),
      FixedWidth.FieldPos("b", 4, 2))
    val fixedTagged = FixedWidth.tagged(spark, files, specs)
    val fixed = TaggedLines.clean(fixedTagged)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(fixed.length == 2, s"bad row excluded from fixed data: $fixed")
    val fixedRej = TaggedLines.rejects(fixedTagged)
      .collect().map(_.getString(0)).toSeq
    assert(fixedRej.length == 1,
      s"undecodable fixed row must surface in rejects: $fixedRej")
  }

  test("splitHint splits only inputs big enough for 4 MB per split") {
    // tiny file: splitHint must NOT shatter it — file-order serial
    // semantics depend on sub-4MB inputs staying one task
    val small = tmpDir("s.txt" -> (1 to 100).map(i => s"row$i").mkString("\n"))
    assert(lines(small, 0, splitHint = 8)
      .rdd.getNumPartitions == 1)
    // ~9 MB file: splitHint=8 is size-capped to 2 splits (9MB/4MB)
    val line = "x" * 99
    val big = tmpDir("b.txt" ->
      Seq.fill(90000)(line).mkString("\n"))
    val parts = lines(big, 0, splitHint = 8)
      .rdd.getNumPartitions
    assert(parts == 2, s"9 MB at hint 8 must size-cap to 2 splits, got $parts")
    // no hint: one split regardless (sub-block file)
    assert(lines(big, 0).rdd.getNumPartitions == 1)
    // an empty file: no split, no task
    val empty = tmpDir("e.txt" -> "")
    assert(SkipLines.scan(spark, SkipLines.heads(spark, empty)).splits.isEmpty)
    // rows identical across split settings
    assert(lines(big, 0, 8).count() == 90000L)
  }

  test("a file read as two splits yields the one-split read's records, " +
    "in order: CRLF lines, a multi-byte terminator and skip header") {
    // ~8.8 MB of equal records after a first record two bytes longer:
    // without a header line the two-split boundary (half the file)
    // falls between the last two bytes of a record's terminator
    def check(name: String, header: String, end: String,
              delimiter: Option[String], skipHeader: Int): Unit = {
      val recs = (0 until 90000).map(i =>
        (if (i == 0) "xy" else "") + f"$i%08d" + "z" * 88)
      val dir = tmpDir(name -> (header + recs.map(_ + end).mkString))
      val h = SkipLines.heads(spark, s"$dir/$name", header = skipHeader,
        delimiter = delimiter)
      def read(hint: Int) = {
        val plan = SkipLines.scan(spark, h, hint)
        (plan.splits.length,
          plan.frame(spark).collect().map(_.getString(0)).toSeq)
      }
      val (oneSplit, one) = read(1)
      val (twoSplits, two) = read(2)
      assert(oneSplit == 1 && twoSplits == 2, s"$name: $oneSplit, $twoSplits")
      assert(one == recs, s"$name: the one-split read")
      assert(two == one, s"$name: the two-split read")
    }
    check("crlf.txt", "", "\r\n", None, 0)
    check("pilcrow.txt", "", "\u00b6\n", Some("\u00b6\n"), 0)
    check("header.txt", "id,name\n", "\n", None, 1)
  }

  test("a guessed CSV dialect keeps the command's workers: 9 MB at " +
    "workers = 2 reads 2 splits") {
    // no HAVING FIELDS and no `fields terminated by`: the separator,
    // quote and doubling are guessed, every other option comes from
    // the command — the guess used to drop `workers` (one split)
    val line = (1 to 3).map(i => s"field$i" + "y" * 28).mkString(";")
    val dir = tmpDir("g.csv" -> Seq.fill(90000)(line).mkString("\n"))
    val cmd = graft.dsl.Parser.parse(
      s"""LOAD CSV FROM '$dir/g.csv'
          INTO postgresql:///g TARGET TABLE t
          WITH workers = 2;""")
    val df = graft.dsl.PlanBuilder.build(spark, cmd)
    assert(df.columns.length == 3, df.columns.mkString(","))
    val parts = df.rdd.getNumPartitions
    assert(parts == 2, s"guessed dialect at workers = 2 read $parts splits")
    assert(df.count() == 90000L)
  }

  test("isWellFormedUtf8 equals the strict JDK UTF-8 decoder " +
      "(randomized + exhaustive short sequences)") {
    import graft.sources.SkipLines
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def jdkAccepts(b: Array[Byte]): Boolean =
      try {
        utf8.newDecoder().decode(java.nio.ByteBuffer.wrap(b)); true
      } catch {
        case _: java.nio.charset.CharacterCodingException => false
      }
    // exhaustive: every 1- and 2-byte sequence
    for (a <- 0 to 255) {
      val s1 = Array(a.toByte)
      assert(SkipLines.isWellFormedUtf8(s1, 0, 1) == jdkAccepts(s1),
        s"1-byte $a")
    }
    for (a <- 0 to 255; b <- Seq(0x00, 0x41, 0x7F, 0x80, 0x9F, 0xA0,
        0xBF, 0xC0, 0xC2, 0xE0, 0xED, 0xF0, 0xF4, 0xF5, 0xFF)) {
      val s2 = Array(a.toByte, b.toByte)
      assert(SkipLines.isWellFormedUtf8(s2, 0, 2) == jdkAccepts(s2),
        s"2-byte $a,$b")
    }
    // randomized longer sequences, biased toward structured bytes
    val rnd = new scala.util.Random(42)
    val pool = Array(0x24, 0x7F, 0x80, 0x9F, 0xA0, 0xBF, 0xC1, 0xC2,
      0xDF, 0xE0, 0xE1, 0xEC, 0xED, 0xEE, 0xF0, 0xF3, 0xF4, 0xF5)
    for (_ <- 1 to 20000) {
      val len = 1 + rnd.nextInt(8)
      val b = Array.fill(len)(pool(rnd.nextInt(pool.length)).toByte)
      assert(SkipLines.isWellFormedUtf8(b, 0, len) == jdkAccepts(b),
        s"seq ${b.map(x => x & 0xFF).mkString(",")}")
    }
    // valid text round-trips
    for (s <- Seq("", "plain", "h\u00e9h\u00e9", "\u6f22\u5b57",
        "\ud83d\ude42 ok", "\u0000nul")) {
      val b = s.getBytes(utf8)
      assert(SkipLines.isWellFormedUtf8(b, 0, b.length), s)
    }
  }

  test("undecodable UTF-8 rows are flagged __bad with bytes preserved") {
    val dir = java.nio.file.Files.createTempDirectory("badutf").toFile
    val f = new java.io.File(dir, "x.csv")
    val out = new java.io.FileOutputStream(f)
    out.write("1,ok\n".getBytes("UTF-8"))
    out.write(Array[Byte]('2', ',', 0xC3.toByte, 0x28, '\n')) // bad cont.
    out.write("3,fine\n".getBytes("UTF-8"))
    out.close()
    val rows = SkipLines.scan(spark,
        SkipLines.heads(spark, f.getAbsolutePath)).frame(spark)
      .collect().map(r => (r.getString(0), !r.isNullAt(1))).toSeq
    assert(rows.count(_._2) == 1)
    assert(rows.filter(!_._2).map(_._1).sorted == Seq("1,ok", "3,fine"))
    // the bad row's string form replacement-decodes
    assert(rows.find(_._2).get._1.startsWith("2,"))
  }

  test("CSV read honors skipLines + header per file") {
    val dir = tmpDir(
      "a.csv" -> "junk|junk\nk|v\n1|one\n2|two\n",
      "b.csv" -> "junk|junk\nk|v\n3|three\n")
    val got = CsvSource.read(spark, dir,
        CsvDialect(separator = '|', skipLines = 1, header = true),
        Seq("k", "v"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == Seq(("1", "one"), ("2", "two"), ("3", "three")))
  }

  test("the listing skips _ and . names, as Hadoop's FileInputFormat") {
    val dir = tmpDir("a.txt" -> "x\n", ".a.txt.crc" -> "junk\n",
      "_SUCCESS" -> "")
    assert(SkipLines.enumerateFiles(spark, dir).map(_.getPath.getName) ==
      Seq("a.txt"))
    assert(lines(dir, 0).collect().toSeq == Seq("x"))
  }

  test("the head read returns each file's cut and its first records " +
    "after the skip, in the file's charset") {
    val dir = Files.createTempDirectory("heads").toFile
    Files.write(new java.io.File(dir, "a.csv").toPath,
      "# pre\r\nnom|ville\r\n1|Orléans\r\n".getBytes("ISO-8859-1"))
    Files.write(new java.io.File(dir, "b.csv").toPath,
      "# pre\nnom|ville\n2|Zürich\n".getBytes("UTF-8"))
    val h = SkipLines.heads(spark, dir.getAbsolutePath, skip = 1,
      header = 1, charset = f => if (f.endsWith("a.csv")) "ISO-8859-1"
        else "UTF-8", sample = 3)
    assert(h.files.map(f => (f.cut, f.records)) == Seq(
      (18L, Seq("nom|ville", "1|Orléans")),
      (16L, Seq("nom|ville"))))
    assert(h.records.length == 3)
    // the scan starts at each cut and decodes with the same charsets
    assert(SkipLines.scan(spark, h).frame(spark).collect().map(_.getString(0))
      .toSeq.sorted == Seq("1|Orléans", "2|Zürich"))
  }
}
