package graft

import java.nio.file.{Files, Path}

/** Fuzz BOTH SQLite file walkers ([[graft.sources.SqliteFile]]) against
  * files produced by the REAL `sqlite3` CLI:
  *
  *  - the WITHOUT ROWID index-b-tree walker (scanIndex) — the r19
  *    walker was pinned by one 500-row fixture (page_size 512, one
  *    overflow shape); this randomizes every axis the r19 verdict
  *    listed: page sizes 512..65536, payload sizes straddling the
  *    index-page overflow budget (including multi-page overflow
  *    chains), composite PKs with DESC parts at random mid-table
  *    positions, NULLs, all four storage classes (including
  *    int-stored REALs and the 0/1 serial-type constants),
  *    multi-level interior trees (index interiors carry FULL key
  *    records, so fanout is tiny and depth >2 comes fast), and
  *    fragmented (DELETE + UPDATE churn) vs VACUUMed files;
  *  - the rowid table-b-tree walker (scan + the subtreeRoots
  *    distributed partitioning) over the same randomized axes, with
  *    the INTEGER-PRIMARY-KEY rowid-alias shape (single-part INTEGER
  *    PK → the column stores NULL and reads from the rowid) covered
  *    by the single-arity seeds.
  *
  * The oracle is the generator's own row ledger (the CLI is the
  * authoritative WRITER; a CLI count() cross-checks that the script
  * fully applied). Seed count is env-tunable: GRAFT_WOR_FUZZ_SEEDS,
  * default 12 per walker. Skips (assume) when no sqlite3 binary is on
  * PATH. */
class SqliteWorFuzzSpec extends SparkSpec {

  private lazy val sqlite3Bin: Option[String] = {
    val p = new ProcessBuilder("sh", "-c", "command -v sqlite3").start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
    if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
  }

  private def runSqlite(bin: String, db: Path, script: String): Unit = {
    val f = Files.createTempFile("worfuzz", ".sql")
    try {
      Files.write(f, script.getBytes("UTF-8"))
      val pb = new ProcessBuilder(bin, db.toString)
        .redirectInput(f.toFile).redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0 && !out.toLowerCase.contains("error"),
        s"sqlite3 failed: $out")
    } finally Files.delete(f)
  }

  private def query1(bin: String, db: Path, sql: String): String = {
    val p = new ProcessBuilder(bin, "-noheader", db.toString, sql)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
    assert(p.waitFor() == 0, s"sqlite3 query failed: $out")
    out
  }

  // a typed cell: (SQL literal to insert, expected fidelity string out
  // of the walker — null for SQL NULL)
  private type Cell = (String, String)

  private def sqlText(s: String): String = "'" + s.replace("'", "''") + "'"

  private def genCell(rnd: scala.util.Random, ctype: String,
                      nullable: Boolean, maxLen: Int): Cell = {
    if (nullable && rnd.nextInt(100) < 15) ("NULL", null)
    else ctype match {
      case "INTEGER" =>
        // span the serial-type widths 1/2/3/4/6/8 and the 0/1 consts
        val v = rnd.nextInt(7) match {
          case 0 => rnd.nextInt(2).toLong // serial types 8/9
          case 1 => (rnd.nextInt(256) - 128).toLong
          case 2 => (rnd.nextInt(65536) - 32768).toLong
          case 3 => (rnd.nextInt(1 << 24) - (1 << 23)).toLong
          case 4 => rnd.nextInt().toLong
          case 5 => rnd.nextLong() >> 16
          case _ => rnd.nextLong()
        }
        (v.toString, v.toString)
      case "REAL" =>
        // dyadic rationals render identically from SQL text, the CLI
        // and Double.toString; integral ones exercise int-stored REALs
        val v =
          if (rnd.nextBoolean()) (rnd.nextInt(2000) - 1000).toDouble
          else (rnd.nextInt(1 << 20) - (1 << 19)) / 64.0
        // SQL literal must be unambiguous: x.0 keeps REAL typing
        val lit = if (v == v.floor) s"${v.toLong}.0" else v.toString
        (lit, java.lang.Double.toString(v))
      case "BLOB" =>
        val n = rnd.nextInt(maxLen max 1)
        val bytes = new Array[Byte](n)
        rnd.nextBytes(bytes)
        val hex = bytes.map(b => f"${b & 0xFF}%02x").mkString
        (s"X'$hex'", "\\x" + hex)
      case _ => // TEXT
        val pool = "abc XYZ0189éü丑\n\"?,;"
        val n = rnd.nextInt(maxLen max 1)
        val s = (0 until n).map(_ => pool(rnd.nextInt(pool.length)))
          .mkString
        (sqlText(s), s)
    }
  }

  private val pageSizes =
    Seq(512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)

  /** One randomized build-with-the-CLI → read-with-the-walker →
    * compare-to-ledger round. `withoutRowid` selects the walker under
    * test (index b-tree vs table b-tree + subtree partitioning). */
  private def fuzzOne(bin: String, seed: Int,
                      withoutRowid: Boolean): Unit = {
    val rnd = new scala.util.Random(
      0x50F7B07EL + seed * 7919L + (if (withoutRowid) 0 else 104729L))
    val ps = pageSizes(seed % pageSizes.length)
    val ncols = 3 + rnd.nextInt(5)
    val types = Seq.tabulate(ncols)(_ =>
      Seq("INTEGER", "TEXT", "REAL", "BLOB")(rnd.nextInt(4)))
    // PK: 1-3 parts at random positions; part 0 is replaced by an
    // injective INTEGER key column so rows are addressable. For rowid
    // tables a single-part INTEGER PK is the ROWID ALIAS shape (the
    // record stores NULL there; the walker reads it from the rowid) —
    // unless it carries DESC, which SQLite defines as NOT aliasing
    val pkArity = 1 + rnd.nextInt(3)
    val pkCols = rnd.shuffle((0 until ncols).toList).take(pkArity)
    val keyCol = pkCols.head
    val typesK = types.updated(keyCol, "INTEGER")
    val pkSpec = pkCols.map(i =>
        s"c$i${if (rnd.nextBoolean()) " DESC" else ""}")
      .mkString(", ")
    val nRows = 300 + rnd.nextInt(400)
    // payload budget: straddle the page's overflow threshold — from
    // tiny to ~2 pages — so some cells inline, some chain overflow
    val maxLen = rnd.nextInt(2 * ps) + 8

    // ledger: key -> expected fidelity row (declared column order)
    val ledger = scala.collection.mutable.LinkedHashMap[Long, Array[String]]()
    def genRow(k: Long): (String, Array[String]) = {
      val cells = (0 until ncols).map { c =>
        if (c == keyCol) (k.toString, k.toString)
        else genCell(rnd, typesK(c), nullable = !pkCols.contains(c),
          maxLen = maxLen)
      }
      (cells.map(_._1).mkString("(", ", ", ")"),
        cells.map(_._2).toArray)
    }
    val script = new StringBuilder
    script ++= s"PRAGMA page_size=$ps;\n"
    script ++= (0 until ncols).map(c => s"c$c ${typesK(c)}" +
        (if (pkCols.contains(c)) " NOT NULL" else ""))
      .mkString("CREATE TABLE fz (", ", ",
        s", PRIMARY KEY ($pkSpec))" +
          (if (withoutRowid) " WITHOUT ROWID;\n" else ";\n"))
    script ++= "BEGIN;\n"
    (1 to nRows).foreach { k =>
      val (lit, exp) = genRow(k.toLong)
      ledger(k.toLong) = exp
      script ++= s"INSERT INTO fz VALUES $lit;\n"
    }
    script ++= "COMMIT;\nBEGIN;\n"
    // churn: delete ~25%, re-insert a third of those, update ~15% —
    // leaves freelist pages, fragmented cells, non-contiguous keys
    val doomed = (1 to nRows).filter(_ => rnd.nextInt(100) < 25)
    doomed.foreach { k =>
      script ++= s"DELETE FROM fz WHERE c$keyCol = $k;\n"
      ledger.remove(k.toLong)
    }
    doomed.filter(_ => rnd.nextInt(3) == 0).foreach { k =>
      val (lit, exp) = genRow(k.toLong)
      ledger(k.toLong) = exp
      script ++= s"INSERT INTO fz VALUES $lit;\n"
    }
    val mutCols = (0 until ncols).filterNot(pkCols.contains)
    if (mutCols.nonEmpty) ledger.keys.toSeq
      .filter(_ => rnd.nextInt(100) < 15).foreach { k =>
        val c = mutCols(rnd.nextInt(mutCols.length))
        val (lit, exp) = genCell(rnd, typesK(c), nullable = true,
          maxLen = maxLen)
        ledger(k)(c) = exp
        script ++= s"UPDATE fz SET c$c = $lit WHERE c$keyCol = $k;\n"
      }
    script ++= "COMMIT;\n"
    if (seed % 2 == 0) script ++= "VACUUM;\n"

    val dir = Files.createTempDirectory(s"worfuzz$seed")
    val db = dir.resolve("f.db")
    runSqlite(bin, db, script.toString)
    // the CLI's own count proves the script fully applied
    assert(query1(bin, db, "SELECT count(*) FROM fz")
      == ledger.size.toString, s"seed $seed: script did not apply")

    val df = graft.sources.SqliteSource.scan(db.toString, "fz").frame(spark)
    assert(df.columns.toSeq == (0 until ncols).map(c => s"c$c"),
      s"seed $seed")
    val got = df.collect()
    assert(got.length == ledger.size,
      s"seed $seed (ps=$ps pk=$pkSpec rows=${ledger.size}): " +
        s"walker returned ${got.length}")
    got.foreach { r =>
      val k = r.getString(keyCol).toLong
      val exp = ledger.getOrElse(k,
        fail(s"seed $seed: phantom key $k"))
      (0 until ncols).foreach { c =>
        assert(r.getString(c) == exp(c),
          s"seed $seed key $k col c$c (${typesK(c)}, ps=$ps, " +
            s"pk=$pkSpec): got ${r.getString(c)} want ${exp(c)}")
      }
    }
    info(s"seed $seed: ps=$ps ncols=$ncols pk=($pkSpec) " +
      s"rows=${ledger.size} maxLen=$maxLen " +
      s"${if (seed % 2 == 0) "VACUUM" else "fragmented"} OK")
  }

  private def seedCount: Int =
    sys.env.get("GRAFT_WOR_FUZZ_SEEDS").map(_.toInt).getOrElse(12)

  test("WITHOUT ROWID walker vs sqlite3 CLI: randomized page sizes, " +
    "overflow straddles, DESC composite PKs, churn and VACUUM") {
    assume(sqlite3Bin.isDefined, "sqlite3 CLI not on PATH")
    for (seed <- 0 until seedCount)
      fuzzOne(sqlite3Bin.get, seed, withoutRowid = true)
  }

  test("rowid table walker vs sqlite3 CLI: same axes plus the " +
    "INTEGER-PRIMARY-KEY rowid alias and subtree-partitioned reads") {
    assume(sqlite3Bin.isDefined, "sqlite3 CLI not on PATH")
    for (seed <- 0 until seedCount)
      fuzzOne(sqlite3Bin.get, seed, withoutRowid = false)
  }

  // ---- CREATE TABLE introspection fuzz (parseCreateTable vs the ----
  // ---- CLI's own pragma_table_info over the same file)          ----

  private def unq(s: String): String =
    if (s == "NULL") null
    else s.stripPrefix("'").stripSuffix("'").replace("''", "'")

  private def queryRows(bin: String, db: Path, sql: String)
      : Seq[Array[String]] = {
    val p = new ProcessBuilder(bin, "-noheader", "-separator", "",
      db.toString, sql).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    assert(p.waitFor() == 0, s"sqlite3 query failed: $out")
    out.split("\n").toSeq.filter(_.nonEmpty).map(_.split("", -1))
  }

  private def fuzzIntrospection(bin: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(0x1AB7E1FL + seed * 6761L)
    val ncols = 2 + rnd.nextInt(7)
    def q(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""
    val names = (0 until ncols).map { i =>
      rnd.nextInt(6) match {
        case 0 => s"c$i"
        case 1 => s"order $i" // reserved + space
        case 2 => s"user id$i"
        case 3 => s"déjà$i" // unicode
        case 4 => s"we\"ird$i" // embedded quote
        case _ => s"Mixed_Case$i"
      }
    }
    val types = (0 until ncols).map(_ => rnd.nextInt(9) match {
      case 0 => ""
      case 1 => "INTEGER"
      case 2 => "int"
      case 3 => "TEXT"
      case 4 => "VARCHAR(30)"
      case 5 => "DOUBLE PRECISION"
      case 6 => "NUMERIC(10, 2)"
      case 7 => "blob"
      case _ => "real"
    })
    // PK shape: none / single column-level (maybe DESC/AUTOINCREMENT)
    // / composite table-level over random positions
    val pkShape = rnd.nextInt(3)
    val pkSingle = if (pkShape == 1) Some(rnd.nextInt(ncols)) else None
    val pkTable =
      if (pkShape == 2)
        rnd.shuffle((0 until ncols).toList).take(1 + rnd.nextInt(2))
      else Nil
    val defaults = Seq("-1", "0", "123456", "-1.5", "'it''s a'",
      "'x,y'", "(abs(-1) + 2)", "CURRENT_TIMESTAMP", "x'ab'",
      "'primary key'")
    val colDefs = (0 until ncols).map { i =>
      val parts = Seq.newBuilder[String]
      parts += q(names(i))
      if (types(i).nonEmpty) parts += types(i)
      if (pkSingle.contains(i)) {
        parts += "PRIMARY KEY"
        if (rnd.nextBoolean()) parts += "DESC"
        else if (types(i).equalsIgnoreCase("INTEGER") &&
          rnd.nextBoolean()) parts += "AUTOINCREMENT"
      }
      if (rnd.nextInt(100) < 35) parts += "NOT NULL"
      if (rnd.nextInt(100) < 45)
        parts += s"DEFAULT ${defaults(rnd.nextInt(defaults.length))}"
      rnd.nextInt(4) match {
        // decoy text inside CHECK bodies: must NOT read as NOT NULL /
        // PRIMARY KEY / DEFAULT constraints of the column
        case 0 => parts += s"CHECK (${q(names(i))} IS NOT NULL)"
        case 1 => parts += s"CHECK (${q(names(i))} <> 'primary key' " +
          s"AND ${q(names(i))} <> 'default x')"
        case 2 if rnd.nextBoolean() =>
          parts += "REFERENCES o(x) ON DELETE SET DEFAULT"
        case _ =>
      }
      if (rnd.nextInt(100) < 15) parts += "COLLATE NOCASE"
      if (rnd.nextInt(100) < 10) parts += "UNIQUE"
      parts.result().mkString(" ")
    }
    val tableLevel = Seq.newBuilder[String]
    if (pkTable.nonEmpty)
      tableLevel += pkTable.map(i => q(names(i)))
        .mkString("PRIMARY KEY (", ", ", ")")
    if (rnd.nextBoolean())
      tableLevel += s"CHECK (${q(names(0))} IS NOT NULL OR " +
        s"${q(names(1))} IS NOT NULL)"
    if (rnd.nextInt(100) < 30)
      tableLevel += s"FOREIGN KEY (${q(names(1))}) REFERENCES o(x) " +
        "ON UPDATE CASCADE"
    val create = s"CREATE TABLE fz (${(colDefs ++ tableLevel.result())
      .mkString(", ")})"

    val dir = Files.createTempDirectory(s"tifuzz$seed")
    val db = dir.resolve("f.db")
    runSqlite(bin, db,
      s"CREATE TABLE o (x int PRIMARY KEY);\n$create;\n")
    val pragma = queryRows(bin, db,
      "SELECT cid, quote(name), quote(type), \"notnull\", " +
        "quote(dflt_value), pk FROM pragma_table_info('fz')")
    val parsed = graft.sources.SqliteFile.parseCreateTable(create)
    assert(parsed.length == pragma.length,
      s"seed $seed: ${parsed.length} cols vs pragma ${pragma.length} " +
        s"for: $create")
    def normType(t: String): String =
      t.replaceAll("\\s+", " ").trim.toLowerCase
    def normDflt(d: String): String = {
      val t = d.trim
      if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1).trim
      else t
    }
    parsed.zip(pragma).foreach { case (p, r) =>
      val ctx = s"seed $seed col ${p.name} in: $create"
      assert(p.cid == r(0).toInt, ctx)
      assert(p.name == unq(r(1)), s"$ctx — name ${unq(r(1))}")
      assert(normType(p.ctype) == normType(unq(r(2))),
        s"$ctx — type '${p.ctype}' vs '${unq(r(2))}'")
      assert(p.notNull == (r(3) == "1"),
        s"$ctx — notnull ${r(3)} vs ${p.notNull}")
      val want = Option(unq(r(4)))
      assert(p.default.map(normDflt) == want.map(normDflt),
        s"$ctx — default ${p.default} vs $want")
      assert(p.pk == r(5).toInt,
        s"$ctx — pk ordinal ${r(5)} vs ${p.pk}")
    }
  }

  test("CREATE TABLE introspection fuzz vs pragma_table_info: names, " +
    "types, notnull, defaults, pk ordinals — CHECK decoys and " +
    "referential actions never misread as constraints") {
    assume(sqlite3Bin.isDefined, "sqlite3 CLI not on PATH")
    for (seed <- 0 until seedCount)
      fuzzIntrospection(sqlite3Bin.get, seed)
  }

  private def fuzzFks(bin: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(0xF0CE5EEDL + seed * 4001L)
    def q(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""
    val ncols = 3 + rnd.nextInt(4)
    val names = (0 until ncols).map { i =>
      rnd.nextInt(3) match {
        case 0 => s"c$i"
        case 1 => s"key col$i"
        case _ => s"Ref_$i"
      }
    }
    val colDefs = (0 until ncols).map { i =>
      val base = s"${q(names(i))} int"
      rnd.nextInt(6) match {
        case 0 => s"$base REFERENCES o" // → o's PK (x), pragma to=NULL
        case 1 => s"$base REFERENCES o(x) ON DELETE CASCADE"
        case 2 => s"$base REFERENCES o2 (${q("ref col")}) " +
          "ON UPDATE SET NULL"
        // decoys: the keyword inside CHECK bodies / literals is data
        case 3 => s"$base CHECK (${q(names(i))} <> 'references o(x)')"
        case 4 => s"$base DEFAULT 'references o'"
        case _ => base
      }
    }
    val tableLevel = Seq.newBuilder[String]
    if (rnd.nextBoolean())
      tableLevel += s"FOREIGN KEY (${q(names(0))}, ${q(names(1))}) " +
        "REFERENCES o3" // composite, no ref cols → o3's PK (p, q)
    if (rnd.nextBoolean())
      tableLevel += s"CONSTRAINT fk_extra FOREIGN KEY (${q(names(2))}) " +
        "REFERENCES o (x) ON DELETE SET DEFAULT"
    val create = s"CREATE TABLE fz (${(colDefs ++ tableLevel.result())
      .mkString(", ")})"
    val dir = Files.createTempDirectory(s"fkfuzz$seed")
    val db = dir.resolve("f.db")
    runSqlite(bin, db,
      """CREATE TABLE o (x int PRIMARY KEY);
        |CREATE TABLE o2 ("ref col" int PRIMARY KEY);
        |CREATE TABLE o3 (p int, q int, PRIMARY KEY (p, q));
        |""".stripMargin + create + ";\n")
    // pragma side: group by id → (ref table, seq-ordered (from, to))
    val pragma = queryRows(bin, db,
      "SELECT id, seq, quote(\"table\"), quote(\"from\"), " +
        "quote(\"to\") FROM pragma_foreign_key_list('fz')")
    def grp(rows: Seq[(Int, Int, String, String, Option[String])]) =
      rows.groupBy(_._1).values.map { g =>
        (g.head._3.toLowerCase,
          g.sortBy(_._2).map(r => (r._4, r._5)))
      }.toSet
    val wantSet = grp(pragma.map(r =>
      (r(0).toInt, r(1).toInt, unq(r(2)), unq(r(3)),
        Option(unq(r(4))))))
    val parsed = graft.sources.SqliteFile.parseForeignKeys(create)
    val gotSet = grp(parsed.map(f =>
      (f.id, f.seq, f.table, f.from,
        Option(f.to).filter(_.nonEmpty))))
    assert(gotSet == wantSet,
      s"seed $seed: fk mismatch\n got $gotSet\nwant $wantSet\n$create")
    // the file-level introspection resolves column-less REFERENCES to
    // the referenced table's actual PK (pragma only reports NULL)
    val t = graft.sources.SqliteSource.introspect(db.toString)
      .find(_.name == "fz").get
    val pkOf = Map("o" -> Seq("x"), "o2" -> Seq("ref col"),
      "o3" -> Seq("p", "q"))
    val nullRefs = wantSet.filter(_._2.exists(_._2.isEmpty))
    nullRefs.foreach { case (refTable, pairs) =>
      val resolved = t.fkeys.find(fk =>
        fk.foreignTable.toLowerCase == refTable &&
          fk.columns == pairs.map(_._1))
      assert(resolved.exists(_.foreignColumns == pkOf(refTable)),
        s"seed $seed: $refTable PK not resolved: " +
          s"${resolved.map(_.foreignColumns)} in ${t.fkeys}\n$create")
    }
  }

  test("FOREIGN KEY introspection fuzz vs pragma_foreign_key_list: " +
    "composite/constraint-named/column-less forms, decoys inert, " +
    "omitted ref columns resolve to the referenced PK") {
    assume(sqlite3Bin.isDefined, "sqlite3 CLI not on PATH")
    for (seed <- 0 until seedCount)
      fuzzFks(sqlite3Bin.get, seed)
  }
}
