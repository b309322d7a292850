package graft

import graft.sources.{CsvDialect, CsvSource}

class CsvParseFieldsSpec extends SparkSpec {

  private val trimD = CsvDialect(trimUnquoted = true)
  private val keepD = CsvDialect(trimUnquoted = false)

  private def p(line: String, d: CsvDialect) = CsvSource.parseFields(line, d)

  test("quoted vs unquoted empties: NULL only when unquoted") {
    assert(p("""a,"",b""", keepD).toSeq == Seq("a", "", "b"))
    assert(p("a,,b", keepD).toSeq == Seq("a", null, "b"))
    assert(p("a,b,", keepD).toSeq == Seq("a", "b", null))
  }

  test("trim mode: space/TAB trimmed, control bytes are data") {
    assert(p("a, b ,c", trimD).toSeq == Seq("a", "b", "c"))
    assert(p("a, \u0005b ,c", trimD).toSeq == Seq("a", "\u0005b", "c"))
    assert(p("a,   ,c", trimD).toSeq == Seq("a", null, "c"))
    // keep mode: blanks survive
    assert(p("a, b ,c", keepD).toSeq == Seq("a", " b ", "c"))
  }

  test("both modes recognize a quote after leading blanks") {
    assert(p("""a, "b,c" ,d""", trimD).toSeq == Seq("a", "b,c", "d"))
    // keep mode too: whitespace in FRONT of an opening quote is
    // ignored (the reference's v4 reader — tests/csv/blanks-keep
    // row 7 loads its ` "quoted"` third field)
    assert(p("""a, "b" """, keepD).toSeq == Seq("a", "b"))
  }

  test("doubled-quote and backslash escape modes") {
    assert(p("""a,"x""y",b""", keepD).toSeq == Seq("a", "x\"y", "b"))
    val esc = keepD.copy(doubledQuote = false)
    assert(p("""a,"x\"y",b""", esc).toSeq == Seq("a", "x\"y", "b"))
  }

  test("NUL quote disables quoting entirely") {
    val noq = keepD.copy(quote = '\u0000')
    assert(p("""a,"b",c""", noq).toSeq == Seq("a", "\"b\"", "c"))
  }

  test("TAB separator: TAB is never a trimmable blank") {
    val tab = CsvDialect(separator = '\t', trimUnquoted = true)
    assert(p("a\t b \tc", tab).toSeq == Seq("a", "b", "c"))
    assert(p("a\t\tc", tab).toSeq == Seq("a", null, "c"))
  }

  test("custom null marker matches unquoted post-trim values") {
    val d = trimD.copy(nullValue = "NA")
    assert(p("a, NA ,b", d).toSeq == Seq("a", null, "b"))
    assert(p("""a,"NA",b""", d).toSeq == Seq("a", "NA", "b"))
  }

  test("quote inside an unquoted field rejects the row") {
    assert(p("""a,mid"quote,b""", keepD) == null)
    // a quote after leading blanks is an OPENER in both modes (blanks
    // in front of a quote are ignored, like the reference's reader)
    assert(p("""a, "q"""", keepD).toSeq == Seq("a", "q"))
    assert(p("""a, "q"""", trimD).toSeq == Seq("a", "q"))
    // but after non-blank data a quote is still a parse error
    assert(p("""a, x"q"""", keepD) == null)
    // disabled quoting: quotes are plain data
    assert(p("""a,mid"quote,b""", keepD.copy(quote = '\u0000')).toSeq ==
      Seq("a", "mid\"quote", "b"))
  }

  test("junk after a closing quote rejects the row") {
    assert(p("""a,"q"x,b""", keepD) == null)
    assert(p("""a,"q" ,b""", keepD).toSeq == Seq("a", "q", "b"))
  }

  test("unterminated quote rejects the row") {
    assert(p("""a,"unclosed value""", keepD) == null)
  }

  /** `text` written to a temp file, read back by the line reader. */
  private def lineRead(text: String, d: CsvDialect, fields: Seq[String])
      : (Seq[Seq[String]], Seq[String]) = {
    val tmp = java.nio.file.Files.createTempFile("lines", ".csv")
    java.nio.file.Files.writeString(tmp, text)
    (CsvSource.read(spark, tmp.toString, d, fields).collect()
      .map(r => fields.indices.map(r.getString)).toSeq.sortBy(_.head),
      CsvSource.rejects(spark, tmp.toString, d).collect()
        .map(_.getString(0)).toSeq.sorted)
  }

  test("line reader: newlines inside quotes are data, CRLF stripped") {
    val (good, bad) = lineRead(
      "h1,h2,h3\r\na,\"line1\nline2\",b\r\nc,d,e\n\"f\"\"g\n h\",i,j",
      keepD.copy(header = true), Seq("x", "y", "z"))
    assert(good == Seq(Seq("a", "line1\nline2", "b"), Seq("c", "d", "e"),
      Seq("f\"g\n h", "i", "j")))
    assert(bad.isEmpty)
  }

  test("line reader: a stray mid-field quote does not absorb later rows") {
    // the quote in ab"cd is field data (not at a field start): only THAT
    // row is malformed; the following rows stay separate records
    val (good, bad) = lineRead("a,b\nab\"cd,x\ne,f\n", keepD, Seq("p", "q"))
    assert(good == Seq(Seq("a", "b"), Seq("e", "f")))
    assert(bad == Seq("ab\"cd,x")) // rejected alone
    // a quote after leading blanks still opens a field under trim mode
    val trimD = keepD.copy(trimUnquoted = true)
    val (good2, bad2) = lineRead("a,  \"x\ny\",b\n1,2,3\n", trimD,
      Seq("p", "q", "r"))
    assert(good2 == Seq(Seq("1", "2", "3"), Seq("a", "x\ny", "b")))
    assert(bad2.isEmpty)
  }

  test("rejects() surfaces the rows read() drops") {
    val tmp = java.nio.file.Files.createTempFile("rej", ".csv")
    java.nio.file.Files.writeString(tmp,
      "1,ok\n2,ba\"d\n\n3,\"fine\"\n4,\"open\n")
    val d = CsvDialect()
    val good = CsvSource.read(spark, tmp.toString, d, Seq("id", "v"))
      .collect().map(_.getString(0)).sorted
    val bad = CsvSource.rejects(spark, tmp.toString, d)
      .collect().map(_.getString(0)).sorted
    assert(good.toSeq == Seq("1", "3"))
    // blank line skipped silently; stray-quote and unterminated rows land
    assert(bad.toSeq == Seq("2,ba\"d", "4,\"open"))
    assert(good.length + bad.length == 4)
  }

  test("line reader stitches quoted embedded newlines: multi-record, " +
      "escape modes, EOF-open reject, blank interior lines") {
    val tmp = java.nio.file.Files.createTempFile("stitch", ".csv")
    // record 1 spans 3 lines with a BLANK interior line; record 2 is
    // plain; record 3's first line ends on a doubled-quote escape
    // (stays open); record 4 ends open at EOF (reject, replayable)
    java.nio.file.Files.writeString(tmp,
      "1,\"a\n\nb\",x\n" +
        "2,plain,y\n" +
        "3,\"q\"\"\nz\",w\n" +
        "4,\"open,eof\n")
    val d = CsvDialect()
    val got = CsvSource.read(spark, tmp.toString, d,
        Seq("id", "t", "u"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("1", "a\n\nb", "x"), ("2", "plain", "y"), ("3", "q\"\nz", "w")))
    val bad = CsvSource.rejects(spark, tmp.toString, d)
      .collect().map(_.getString(0))
    assert(bad.toSeq == Seq("4,\"open,eof"))
    // backslash escape mode: \" at a line end does NOT close; a lone
    // closing quote does
    val tmp2 = java.nio.file.Files.createTempFile("stitch2", ".csv")
    java.nio.file.Files.writeString(tmp2,
      "1,\"esc\\\"\nstill\",k\n2,\"done\"\n")
    val d2 = CsvDialect(doubledQuote = false)
    val got2 = CsvSource.read(spark, tmp2.toString, d2,
        Seq("id", "t", "u"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(got2.toSeq == Seq(("1", "esc\"\nstill"), ("2", "done")))
    // readWithSerial numbers stitched records once, in file order
    val ser = CsvSource.readWithSerial(spark, tmp.toString, d,
        Seq("id", "t", "u"))
      .collect().map(r => (r.getString(0), r.getLong(3))).sortBy(_._1)
    assert(ser.toSeq == Seq(("1", 1L), ("2", 2L), ("3", 3L)))
    // the parity fast path's one documented bias: an even-parity line
    // with a stray mid-field quote BEFORE a real opener is treated
    // closed, so the fragments stay separate — and both REJECT (the
    // record has a mid-field quote either way), never loading wrong
    // data; good rows around it are untouched
    val tmp3 = java.nio.file.Files.createTempFile("stitch3", ".csv")
    java.nio.file.Files.writeString(tmp3,
      "1,ok\n2,ab\"cd,\"op\nen\",x\n3,fine\n")
    val good3 = CsvSource.read(spark, tmp3.toString, d, Seq("id", "t"))
      .collect().map(_.getString(0)).sorted
    assert(good3.toSeq == Seq("1", "3"))
    val bad3 = CsvSource.rejects(spark, tmp3.toString, d)
      .collect().map(_.getString(0)).sorted
    assert(bad3.length == 2 && bad3.forall(_.contains("\"")))
  }

  test("byte-level parseFieldsData equals the scalar spec across " +
      "dialects (randomized)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20260814)
    val dialects = for {
      sep <- Seq(',', '\t', '|', ';')
      quote <- Seq('"', '\'', '\u0000', ' ')
      doubled <- Seq(true, false)
      trim <- Seq(true, false)
      nullV <- Seq("", "NULL", "\\N")
    } yield CsvDialect(separator = sep, quote = quote,
      doubledQuote = doubled, trimUnquoted = trim, nullValue = nullV)
    val alphabet = "ab,;|\t'\"\\ Né€漢NULL"
    def randLine(): String =
      (0 until rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    val lines = (1 to 400).map(_ => randLine()) ++ Seq(
      "", "\"\"", "a,\"b\"\"c\",d", "a,\"b\\\"c\",d", "\\", "a\\",
      "é,漢 字, \"q,q\" ", "NULL, NULL ,x", "\\N,x", "a,'b',c")
    var checked = 0
    for (d <- dialects; line <- lines) {
      val spec = CsvSource.parseFields(line, d)
      val got = CsvSource.parseFieldsData(UTF8String.fromString(line), d)
      if (spec == null) assert(got == null, s"dialect=$d line=<$line>")
      else {
        assert(got != null, s"dialect=$d line=<$line>")
        val gotSeq = (0 until got.numElements()).map { i =>
          val u = got.getUTF8String(i)
          if (u == null) null else u.toString
        }
        assert(gotSeq == spec.toSeq, s"dialect=$d line=<$line>")
      }
      checked += 1
    }
    assert(checked > 10000)
  }

  test("column expression path matches the scalar spec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lines = Seq("""a, "b,c" ,d""", "x,,z", "1,\u00052,3")
    val got = lines.toDF("value")
      .select(graft.functions.StringExpressions
        .csvParseLine(col("value"), trimD).as("f"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(got.toSeq == lines.map(l => p(l, trimD).toSeq))
  }

  test("lines terminated by: 300 random records with embedded newlines " +
    "and quoted fields round-trip through the custom-terminator scan") {
    val rnd = new scala.util.Random(0x5eed5eedL)
    // pool EXCLUDES the ';' terminator: the splitter is record-level
    // (Hadoop record.delimiter) and cannot see quotes — a quoted
    // terminator splitting mid-record is the documented divergence
    // from cl-csv's whole-stream parser (such fragments reject
    // visibly, never load wrong data)
    val pool = "ab c,\"x\n\t0é"
    def field(): String =
      (0 until rnd.nextInt(8)).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString
    def needsQuote(f: String): Boolean =
      f.exists(c => c == ',' || c == '"' || c == '\n' || c == ';') ||
        f != f.trim // unquoted outer blanks would trim away
    def render(f: String): String =
      if (needsQuote(f) || f.isEmpty)
        "\"" + f.replace("\"", "\"\"") + "\""
      else f
    val rows = (0 until 300).map(k =>
      Seq(k.toString, field(), field()))
    val text = rows.map(_.map(render).mkString(",")).mkString(";")
    val dir = java.nio.file.Files.createTempDirectory("lt-prop")
    val file = dir.resolve("data.csv")
    java.nio.file.Files.writeString(file, text)
    val d = CsvDialect(separator = ',', quote = '"',
      trimUnquoted = true, lineTerminator = Some(";"))
    val got = CsvSource.read(spark, file.toString, d,
      Seq("k", "f1", "f2")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1.toInt)
    assert(got.length == 300, s"got ${got.length} rows")
    rows.zip(got).foreach { case (exp, act) =>
      // quoted empties stay empty; unquoted empties are NULL — mirror
      // the reader's null semantics on the expected side
      def norm(f: String): String =
        if (f.isEmpty) "" else f
      assert(act._1 == exp(0) &&
        Option(act._2).getOrElse("") == norm(exp(1)) &&
        Option(act._3).getOrElse("") == norm(exp(2)),
        s"row ${exp(0)}: expected $exp got $act")
    }
  }

  test("the dialect guess parses with parseFields: a sample the load " +
    "would reject does not guess its separator") {
    // junk after a closing quote is a parse error under the load's
    // grammar, so `,` would reject every row it was guessed from
    assert(!CsvSource.guessDialect(Seq("1,\"a\"b,2", "3,\"c\"d,4"))
      .exists(_.separator == ','))
    // a quoted separator stays data, so a well-formed sample guesses
    assert(CsvSource.guessDialect(Seq("1;\"a;b\";2", "3;\"c\";4"))
      .map(_.separator).contains(';'))
  }
}
