package graft

import graft.sinks.{PgWire, PgWireCopyEndpoint, PgWireConnection}
import scala.collection.mutable
import scala.util.Random

/** Whole-schema migration fuzzer against live PostgreSQL: each seed
  * generates a random source database — hostile identifiers (MixedCase,
  * reserved words, spaces, unicode, embedded quotes, dots, leading
  * spaces), a wide type pool (ints, numeric, floats incl. NaN, text,
  * varchar/char, bool, date/time/timestamp/timestamptz, uuid, bytea,
  * interval, jsonb, arrays), random NOT NULL / defaults / serial,
  * single+composite PKs, UNIQUE constraints, named+unnamed CHECKs with
  * decoy keyword text, plain/expression/partial/mixed indexes,
  * cross-schema FKs with referential actions and deferrable timing,
  * table+column comments, and random rows — migrates it pg→pg through
  * the production Runner under `quote identifiers` (identity name
  * mapping), then compares SOURCE vs TARGET with the SAME pg_catalog
  * queries: columns (format_type + notnull + default expr), index
  * definitions (pg_get_indexdef, name-stripped), CHECK and FK
  * constraint definitions (pg_get_constraintdef), comments, and a
  * per-table md5 row digest.
  *
  * The oracle is PostgreSQL itself rendering both catalogs — the only
  * normalizations are the engine's documented transforms: serial /
  * identity columns land as fresh serials (nextval spelling varies →
  * folded to nextval(SEQ)), and UNIQUE *constraints* recreate as
  * unique *indexes* (pg_get_indexdef renders both identically, so the
  * index compare still pins them; contype='u' rows are not compared).
  *
  * The same CLI-oracle shape as SqliteWorFuzzSpec: deterministic per
  * seed, GRAFT_SCHEMA_FUZZ_SEEDS deepens the default sweep.
  */
class LiveSchemaFuzzSpec extends SparkSpec {

  private val decode =
    (s: String) => java.net.URLDecoder.decode(s, "UTF-8")

  private def swapDb(uri: String, db: String): String =
    uri.substring(0, uri.lastIndexOf('/') + 1) + db

  private def exec(uri: String, sql: String): Unit = {
    val c = new PgWireConnection(PgWire.connParams(uri, decode))
    try c.simpleCommand(sql) finally c.close()
  }

  private def q(uri: String, sql: String): Seq[Seq[String]] = {
    val c = new PgWireConnection(PgWire.connParams(uri, decode))
    try c.query(sql)._2.map(_.toSeq) finally c.close()
  }

  private def pgRunner(pgUri: String): Runner = {
    val dp = PgWire.connParams(pgUri, decode)
    new Runner(
      executeDdl = (sql, setup) => {
        val c = new PgWireConnection(dp)
        try { setup.foreach(c.simpleCommand); c.simpleCommand(sql) }
        finally c.close()
      },
      endpointFactory = (table, setup) => _ => new PgWireCopyEndpoint(
        dp, s"COPY ${PgWire.quoteQualified(table)} FROM STDIN", setup),
      queryTarget = sql => {
        val c = new PgWireConnection(dp)
        try c.query(sql)._2 finally c.close()
      })
  }

  private def qi(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
  private def sq(s: String) = "'" + s.replace("'", "''") + "'"

  // ------------------------------------------------------------------
  // random schema model
  // ------------------------------------------------------------------

  /** lit: row index -> SQL literal (unique columns are counter-based so
    * PK/UNIQUE/unique-index participation never violates). */
  private case class Col(name: String, typ: String, notNull: Boolean,
                         default: Option[String], uniqueCapable: Boolean,
                         lit: Int => String)

  private case class Tab(schema: String, name: String, cols: Vector[Col],
                         pk: Seq[String], nRows: Int,
                         extras: Seq[String], after: Seq[String],
                         unlogged: Boolean = false) {
    def qq: String = s"${qi(schema)}.${qi(name)}"
  }

  /** Index feature level: 0 = shapes the engine has always claimed
    * (plain/expression/partial/mixed/unique), 1 = adds ordering
    * (DESC/NULLS FIRST), opclasses, non-btree methods (hash/gin), and
    * INCLUDE columns. */
  private val advancedIndexes =
    sys.env.get("GRAFT_SCHEMA_FUZZ_BASIC").isEmpty

  private class Gen(seed: Long) {
    val rnd = new Random(seed)
    private val used = mutable.Set[String]()
    private var n = 0

    def name(prefix: String): String = {
      var out: String = null
      while (out == null) {
        n += 1
        val cand = rnd.nextInt(12) match {
          case 0 => s"${prefix}_plain$n"
          case 1 => s"${prefix.capitalize}Camel$n"
          case 2 => Seq("order", "user", "group", "select", "where",
            "table", "limit", "desc", "end", "check")(rnd.nextInt(10))
          case 3 => s"$prefix sp $n"
          case 4 => s"café ${prefix}é$n"
          case 5 => s"we\"ird$prefix$n"
          case 6 => (prefix + "_very".repeat(12)).take(52) + n
          case 7 => s"$prefix-$n"
          case 8 => s"$prefix.dot$n"
          case 9 => s" lead$prefix$n"
          case _ => s"$prefix$n"
        }
        // reserve the downcase AND snake_case spellings too, so the
        // fold-mode migration legs never hit legitimate collision
        // aborts ("c-12" and "c 12" both snake to "c_12")
        val keys = Seq(cand.toLowerCase,
          graft.catalog.Identifiers(cand,
            graft.catalog.Identifiers.Case.SnakeCase))
        if (keys.forall(k => !used.contains(k)) && cand.length <= 60)
          { used ++= keys; out = cand }
      }
      out
    }

    def textVal(max: Int = 14): String = {
      val pool = "abcXYZ élan日本\\'\"\t,{}[]()|-_~%"
      val len = rnd.nextInt(max + 1)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        rnd.nextInt(20) match {
          case 0 => sb += '\n'
          case 1 => sb += '\r'
          case _ => sb += pool(rnd.nextInt(pool.length))
        }
      }
      sb.toString
    }

    private def jsonVal(): String = {
      def s() = "\"" + textVal(6).replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\n", "\\n")
        .replace("\r", "\\r").replace("\t", "\\t") + "\""
      val inner = rnd.nextInt(4) match {
        case 0 => s"""{"k": ${rnd.nextInt(100)}, "s": ${s()}}"""
        case 1 => s"""[${rnd.nextInt(9)}, true, null, ${s()}]"""
        case 2 => s()
        case _ => "{}"
      }
      sq(inner) + "::jsonb"
    }

    private def arrVal(elemSql: () => String, cast: String): String =
      rnd.nextInt(5) match {
        case 0 => s"'{}'::$cast"
        case _ =>
          val els = (0 until rnd.nextInt(4) + 1).map(_ =>
            if (rnd.nextInt(5) == 0) "NULL" else elemSql())
          s"ARRAY[${els.mkString(", ")}]::$cast"
      }

    private def numericLit(p: Int, s: Int): String = {
      // numeric(p,s) allows p-s integer digits; p == s allows none
      val intDigits =
        if (p == s) "0"
        else (0 until rnd.nextInt(p - s) + 1)
          .map(_ => rnd.nextInt(10)).mkString
      val frac = if (s == 0) ""
        else "." + (0 until s).map(_ => rnd.nextInt(10)).mkString
      (if (rnd.nextBoolean()) "-" else "") + intDigits + frac
    }

    private def dateLit(): String = {
      val d = java.time.LocalDate.ofEpochDay(rnd.between(-62000L, 80000L))
      f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d"
    }
    private def timeLit(): String = {
      val m = rnd.between(0L, 86400000000L)
      f"${m / 3600000000L}%02d:${m / 60000000L % 60}%02d:" +
        f"${m / 1000000L % 60}%02d.${m % 1000000L}%06d"
    }
    private def uuidLit(): String = java.util.UUID.nameUUIDFromBytes(
      rnd.nextLong().toString.getBytes("UTF-8")).toString

    /** Build a random non-unique column. */
    def mkCol(prefix: String): Col = {
      val nm = name(prefix)
      rnd.nextInt(21) match {
        case 0 => Col(nm, "smallint", false, None, false,
          _ => (rnd.nextInt(65536) - 32768).toString)
        case 1 => Col(nm, "integer",
          rnd.nextBoolean(),
          if (rnd.nextInt(4) == 0) Some((rnd.nextInt(1000) - 500).toString)
          else None,
          false, _ => rnd.nextInt().toString)
        case 2 => Col(nm, "bigint", false, None, false,
          _ => rnd.nextLong().toString)
        case 3 =>
          val p = rnd.nextInt(18) + 2
          val s = rnd.nextInt(p + 1)
          Col(nm, s"numeric($p,$s)", rnd.nextBoolean(), None, false,
            _ => numericLit(p, s))
        case 4 => Col(nm, "numeric", false, None, false,
          _ => if (rnd.nextInt(10) == 0) "'NaN'::numeric"
               else numericLit(20, rnd.nextInt(8)))
        case 5 => Col(nm, "double precision", false, None, false,
          _ => rnd.nextInt(12) match {
            case 0 => "'NaN'::float8"
            case 1 => "'Infinity'::float8"
            case 2 => "'-Infinity'::float8"
            case _ => (math.pow(10, rnd.between(-200.0, 200.0)) *
              (rnd.nextDouble() - 0.5)).toString
          })
        case 6 => Col(nm, "real", false, None, false,
          _ => ((math.pow(10, rnd.between(-20.0, 20.0)) *
            (rnd.nextDouble() - 0.5)).toFloat).toString)
        case 7 | 8 => Col(nm, "text", rnd.nextBoolean(),
          // (kept at two slots: texts anchor lower()/opclass indexes)
          if (rnd.nextInt(4) == 0) Some(sq(textVal(8))) else None,
          false, _ => sq(textVal()))
        case 9 =>
          val len = rnd.nextInt(39) + 2
          Col(nm, s"varchar($len)", false, None, false,
            _ => sq(textVal(math.min(len, 12))))
        case 10 =>
          val len = rnd.nextInt(9) + 1
          Col(nm, s"char($len)", false, None, false,
            _ => sq(textVal(len).replace("\n", " ").replace("\r", " ")))
        case 11 => Col(nm, "boolean", rnd.nextBoolean(),
          if (rnd.nextInt(4) == 0) Some("true") else None,
          false, _ => if (rnd.nextBoolean()) "true" else "false")
        case 12 => Col(nm, "date", false,
          if (rnd.nextInt(5) == 0) Some("CURRENT_DATE") else None,
          false, _ => s"date '${dateLit()}'")
        case 13 => Col(nm, "time", false, None, false,
          _ => s"time '${timeLit()}'")
        case 14 => Col(nm, "timestamp", false, None, false,
          _ => s"timestamp '${dateLit()} ${timeLit()}'")
        case 15 => Col(nm, "timestamptz", false,
          if (rnd.nextInt(5) == 0) Some("now()") else None,
          false, _ => s"timestamptz '${dateLit()} ${timeLit()}" +
            f"+${rnd.nextInt(13)}%02d'")
        case 16 => Col(nm, "bytea", false, None, false,
          _ => "decode('" + (0 until rnd.nextInt(12) * 2)
            .map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString +
            "', 'hex')")
        case 17 => Col(nm, "interval", false, None, false,
          _ => s"interval '${rnd.between(-40, 40)} mons " +
            s"${rnd.between(-99, 99)} days ${rnd.between(-30, 30)} hours " +
            s"${rnd.nextInt(60)} min ${rnd.nextInt(1000000)} us'")
        case 18 => Col(nm, "jsonb", false,
          if (rnd.nextInt(6) == 0) Some("'{}'::jsonb") else None,
          false, _ => jsonVal())
        case 19 => Col(nm, "int4range", false, None, false,
          _ => if (rnd.nextInt(6) == 0) "'empty'::int4range"
          else {
            val a = rnd.nextInt(2000) - 1000
            s"int4range($a, ${a + rnd.nextInt(100)})"
          })
        case _ => if (rnd.nextBoolean())
          Col(nm, "integer[]", false, None, false,
            _ => arrVal(() => rnd.nextInt(1000).toString, "integer[]"))
        else
          Col(nm, "text[]", false, None, false,
            _ => arrVal(() => sq(textVal(8)), "text[]"))
      }
    }

    /** A unique-capable column: values are counter-deterministic. */
    def mkUniqueCol(prefix: String, base: Int): Col = {
      val nm = name(prefix)
      if (rnd.nextInt(8) == 0)
        // GENERATED AS IDENTITY: maps to a fresh serial on the target
        // (documented transform; BY DEFAULT so explicit inserts work)
        return Col(nm, "integer GENERATED BY DEFAULT AS IDENTITY",
          false, None, true, i => (1000000 + base * 10000 + i).toString)
      rnd.nextInt(5) match {
        case 0 => Col(nm, "bigint", true, None, true,
          i => (5000000000L + base * 100000 + i).toString)
        case 1 => Col(nm, "text", true, None, true,
          i => sq(s"u$base-$i"))
        case 2 => Col(nm, "uuid", true, None, true,
          i => f"'00000000-0000-4000-8000-$base%04d${i}%08d'::uuid")
        case 3 => Col(nm, "date", true, None, true,
          i => s"date '${java.time.LocalDate.ofEpochDay(base * 50 + i)}'")
        case _ =>
          val typ = rnd.nextInt(4) match {
            case 0 => "serial"
            case 1 => "bigserial"
            case _ => "integer"
          }
          Col(nm, typ, true, None, true,
            i => (1000000 + base * 10000 + i).toString)
      }
    }

    def comment(): String = textVal(20) + "'--\"☂"
  }

  // ------------------------------------------------------------------
  // generation of one database
  // ------------------------------------------------------------------

  /** Returns (setup statements, tables, views, plain schema name). */
  private def genDatabase(g: Gen)
      : (Seq[String], Seq[Tab], Seq[(String, String)], String) = {
    val rnd = g.rnd
    val ddl = Seq.newBuilder[String]
    val hostileSchema = g.name("Sch")
    ddl += s"CREATE SCHEMA ${qi(hostileSchema)};"
    // a plain lowercase schema too: quote_ident renders objects there
    // as MIXED forms (bare schema, quoted-only-if-needed object) —
    // the shape that exercises the quote-aware qualified-name split
    val plainSchema = s"s${rnd.nextInt(90) + 10}"
    ddl += s"CREATE SCHEMA ${qi(plainSchema)};"
    val schemas = Seq("public", hostileSchema, plainSchema)

    val nTables = rnd.nextInt(3) + 3

    // ---- custom types (enums + domains), created before tables; the
    // Migrator recreates only the subset USED by columns, so every
    // generated type is force-planted into a home table below
    case class CustomTy(homeTable: Int, mk: () => Col)
    val customTys = mutable.ArrayBuffer[CustomTy]()
    (0 until rnd.nextInt(3)).foreach { _ =>
      val ts = schemas(rnd.nextInt(schemas.length))
      val tn = g.name("Ty")
      val labels = (0 until rnd.nextInt(4) + 2)
        .map(i => s"${g.textVal(6)}#$i").distinct
      ddl += s"CREATE TYPE ${qi(ts)}.${qi(tn)} AS ENUM " +
        s"(${labels.map(sq).mkString(", ")});"
      val cast = s"${qi(ts)}.${qi(tn)}"
      val home = rnd.nextInt(nTables)
      customTys += CustomTy(home, () =>
        if (rnd.nextInt(3) == 0)
          Col(g.name("ea"), s"$cast[]", false, None, false,
            _ => if (rnd.nextInt(5) == 0) s"'{}'::$cast[]"
            else "ARRAY[" + (0 until rnd.nextInt(3) + 1).map(_ =>
              sq(labels(rnd.nextInt(labels.length))) + s"::$cast")
              .mkString(", ") + "]")
        else
          Col(g.name("e"), cast, rnd.nextBoolean(),
            if (rnd.nextInt(3) == 0) Some(sq(labels.head) + s"::$cast")
            else None,
            false,
            _ => sq(labels(rnd.nextInt(labels.length))) + s"::$cast"))
    }
    // standalone user sequences: one unused (still must migrate as an
    // object) and/or one backing nextval defaults in 1-2 tables (the
    // SHARED-sequence shape a serial split would break)
    if (rnd.nextInt(3) == 0) {
      val ss = schemas(rnd.nextInt(schemas.length))
      val sn = g.name("Seq")
      ddl += s"CREATE SEQUENCE ${qi(ss)}.${qi(sn)} INCREMENT BY " +
        s"${rnd.nextInt(5) + 1}" +
        (if (rnd.nextBoolean()) " CACHE 5" else "") + ";"
    }
    if (rnd.nextInt(2) == 0) {
      val ss = schemas(rnd.nextInt(schemas.length))
      val sn = g.name("Seq")
      ddl += s"CREATE SEQUENCE ${qi(ss)}.${qi(sn)};"
      val ref = (qi(ss) + "." + qi(sn)).replace("'", "''")
      val homes = (0 until rnd.nextInt(2) + 1)
        .map(_ => rnd.nextInt(nTables)).distinct
      homes.foreach { h =>
        customTys += CustomTy(h, () =>
          Col(g.name("sq"), "bigint", false,
            Some(s"nextval('$ref')"), false,
            i => (9000000L + i).toString))
      }
    }

    if (rnd.nextInt(3) == 0) {
      // composite type: 2-3 typed attributes with hostile names
      val cs = schemas(rnd.nextInt(schemas.length))
      val cn = g.name("Comp")
      val cast = s"${qi(cs)}.${qi(cn)}"
      val attrs = Seq(
        (g.name("a"), "integer",
          () => (rnd.nextInt(20000) - 10000).toString),
        (g.name("b"), "text", () => sq(g.textVal(8)))) ++
        (if (rnd.nextBoolean())
          Seq((g.name("c"), "numeric(6,2)",
            () => s"${rnd.nextInt(9999) - 4999}.${rnd.nextInt(100)}"))
        else Nil)
      ddl += s"CREATE TYPE $cast AS (" +
        attrs.map { case (n, t, _) => s"${qi(n)} $t" }.mkString(", ") + ");"
      customTys += CustomTy(rnd.nextInt(nTables), () =>
        Col(g.name("cc"), cast, false, None, false,
          _ => if (rnd.nextInt(6) == 0) s"ROW(NULL, NULL)::$cast"
              .replace("NULL, NULL",
                attrs.map(_ => "NULL").mkString(", "))
          else "ROW(" + attrs.map(_._3()).mkString(", ") + s")::$cast"))
    }
    if (rnd.nextInt(2) == 0) {
      val ds = schemas(rnd.nextInt(schemas.length))
      val dn = g.name("Dom")
      val cast = s"${qi(ds)}.${qi(dn)}"
      val (base, lit): (String, () => String) = rnd.nextInt(3) match {
        case 0 => ("numeric(8,2)",
          () => s"${rnd.nextInt(199999) - 99999}.${rnd.nextInt(100)}")
        case 1 => ("integer", () => (rnd.nextInt(2000000) - 1000000).toString)
        case _ => ("text", () => sq(g.textVal(10)))
      }
      val check =
        if (rnd.nextBoolean()) ""
        else if (base == "text") " CHECK (length(VALUE) < 5000)"
        else " CHECK (VALUE > -100000000)"
      val dft = if (rnd.nextInt(3) == 0) s" DEFAULT ${lit()}" else ""
      ddl += s"CREATE DOMAIN ${qi(ds)}.${qi(dn)} AS $base$dft$check;"
      customTys += CustomTy(rnd.nextInt(nTables), () =>
        Col(g.name("d"), cast, false, None, false,
          _ => s"(${lit()})::$cast"))
    }

    val tabs = mutable.ArrayBuffer[Tab]()

    (0 until nTables).foreach { ti =>
      val schema = schemas(rnd.nextInt(schemas.length))
      val tname = g.name("t")
      // column 0: a unique-capable "id"; then 1-6 random columns
      val unlogged = rnd.nextInt(6) == 0
      val idCol = g.mkUniqueCol("id", ti)
      var cols = Vector(idCol) ++
        (0 until rnd.nextInt(6) + 1).map(_ => g.mkCol("c")) ++
        customTys.filter(_.homeTable == ti).map(_.mk())
      // optionally a second unique column (UNIQUE constraint / index)
      val extraU =
        if (rnd.nextInt(3) == 0) Some(g.mkUniqueCol("u", ti + 50))
        else None
      extraU.foreach(c => cols :+= c)

      // a GENERATED ALWAYS AS (…) STORED column referencing an earlier
      // column; values insert as the DEFAULT keyword (uniqueCapable is
      // set only to keep the NULL-randomizer off — PG rejects explicit
      // NULLs into generated columns)
      if (rnd.nextInt(3) == 0) {
        val numFam = Set("smallint", "integer", "bigint", "real",
          "double precision")
        val numRef = cols.find(c => numFam.contains(c.typ) ||
          c.typ.startsWith("numeric"))
        val textRef = cols.find(_.typ == "text")
        (if (numRef.isDefined && (textRef.isEmpty || rnd.nextBoolean()))
          numRef.map { c =>
            // NOT NULL generated columns pin the exactly-once stage
            // shape: the stage is LIKE the target, which copies the
            // NOT NULL without the generation expression, so the stage
            // must drop it for columns outside the COPY list; safe
            // only when the input is NOT NULL
            val nn = c.notNull && rnd.nextBoolean()
            Col(g.name("g"),
              s"${c.typ} GENERATED ALWAYS AS ((${qi(c.name)} / 2)) " +
                s"STORED${if (nn) " NOT NULL" else ""}",
              false, None, true, _ => "DEFAULT")
          }
        else textRef.map(c => Col(g.name("g"),
          s"text GENERATED ALWAYS AS (lower(${qi(c.name)})) STORED",
          false, None, true, _ => "DEFAULT"))
        ).foreach(cols :+= _)
      }

      val extras = Seq.newBuilder[String]
      val after = Seq.newBuilder[String]

      // PK: 70% single id, 15% composite (id, extra unique), 15% none
      val pk: Seq[String] = rnd.nextInt(20) match {
        case x if x < 14 => Seq(idCol.name)
        case x if x < 17 && extraU.isDefined =>
          Seq(idCol.name, extraU.get.name)
        case _ => Nil
      }
      if (pk.nonEmpty)
        extras += s"PRIMARY KEY (${pk.map(qi).mkString(", ")})"

      // UNIQUE constraint on the extra unique column
      extraU.foreach { u =>
        if (!pk.contains(u.name)) rnd.nextInt(3) match {
          case 0 => extras += s"UNIQUE (${qi(u.name)})"
          case 1 => extras +=
            s"CONSTRAINT ${qi(g.name("uq"))} UNIQUE " +
              (if (rnd.nextInt(3) == 0) "NULLS NOT DISTINCT " else "") +
              s"(${qi(u.name)})"
          case _ => after += s"CREATE UNIQUE INDEX ${qi(g.name("ux"))} " +
            s"ON ${qi(schema)}.${qi(tname)} (${qi(u.name)});"
        }
      }

      // CHECK constraints with decoy keyword text
      cols.filter(c => c.typ == "integer" || c.typ == "bigint")
        .take(1).foreach { c =>
          if (rnd.nextBoolean()) {
            val body = s"${qi(c.name)} IS NULL OR ${qi(c.name)} > " +
              s"${Long.MinValue + 1}"
            extras += (if (rnd.nextBoolean())
              s"CONSTRAINT ${qi(g.name("ck"))} CHECK ($body)"
            else s"CHECK ($body)")
          }
        }
      cols.find(_.typ == "text").foreach { c =>
        if (rnd.nextInt(3) == 0)
          extras += s"CHECK (${qi(c.name)} IS DISTINCT FROM " +
            s"'not null primary key references x(y)')"
      }

      // EXCLUDE constraints: btree equality over the unique id, or
      // gist && over a dedicated disjoint-range column
      rnd.nextInt(5) match {
        case 0 => extras += s"CONSTRAINT ${qi(g.name("xe"))} " +
          s"EXCLUDE USING btree (${qi(idCol.name)} WITH =)"
        case 1 =>
          val xr = Col(g.name("xr"), "int4range", false, None, true,
            i => s"int4range(${i * 1000}, ${i * 1000 + 500})")
          cols :+= xr
          extras += s"EXCLUDE USING gist (${qi(xr.name)} WITH &&)"
        case _ =>
      }

      // FK to an earlier table with a single-column integer-family PK
      // a PERMANENT table's FK may reference only permanent tables;
      // an unlogged child may reference either
      val parents = tabs.filter(p => p.pk.length == 1 &&
        (unlogged || !p.unlogged) &&
        p.cols.exists(c => c.name == p.pk.head &&
          Set("integer", "serial", "bigserial", "bigint").contains(c.typ)))
      var fkLit: Option[(String, Int => String)] = None
      if (parents.nonEmpty && rnd.nextBoolean()) {
        val p = parents(rnd.nextInt(parents.length))
        val pCol = p.cols.find(_.name == p.pk.head).get
        val fkTyp = pCol.typ match {
          case "serial" => "integer"
          case "bigserial" => "bigint"
          case t => t
        }
        val fkc = Col(g.name("fk"), fkTyp, false, None, false,
          i => if (p.nRows == 0 || rnd.nextInt(4) == 0) "NULL"
               else pCol.lit(rnd.nextInt(p.nRows)))
        cols :+= fkc
        val act = () => Seq("NO ACTION", "RESTRICT", "CASCADE",
          "SET NULL", "SET DEFAULT")(rnd.nextInt(5))
        val defer = rnd.nextInt(3) match {
          case 0 => " DEFERRABLE"
          case 1 => " DEFERRABLE INITIALLY DEFERRED"
          case _ => ""
        }
        extras += s"CONSTRAINT ${qi(g.name("fk"))} FOREIGN KEY " +
          s"(${qi(fkc.name)}) REFERENCES ${p.qq} (${qi(p.pk.head)}) " +
          s"ON UPDATE ${act()} ON DELETE ${act()}$defer"
        fkLit = Some((fkc.name, fkc.lit))
      }

      val qq = s"${qi(schema)}.${qi(tname)}"

      // secondary indexes
      val nIdx = rnd.nextInt(3)
      (0 until nIdx).foreach { _ =>
        val named = if (rnd.nextBoolean()) qi(g.name("ix")) + " " else ""
        rnd.nextInt(if (advancedIndexes) 8 else 4) match {
          case 0 => // plain 1-2 columns
            val ics = rnd.shuffle(cols).take(rnd.nextInt(2) + 1)
            after += s"CREATE INDEX $named" +
              s"ON $qq (${ics.map(c => qi(c.name)).mkString(", ")});"
          case 1 => // expression (must be IMMUTABLE: lower(text) or
            // arithmetic on a numeric-family column — ::text casts of
            // date/timestamptz are only STABLE and PG rejects them)
            val numFam = Set("smallint", "integer", "bigint", "serial",
              "bigserial", "real", "double precision")
            cols.find(_.typ == "text") match {
              case Some(c) => after += s"CREATE INDEX ${named}ON $qq " +
                s"(lower(${qi(c.name)}));"
              case None => cols.find(c => numFam.contains(c.typ) ||
                  c.typ.startsWith("numeric")).foreach { c =>
                after += s"CREATE INDEX ${named}ON $qq " +
                  s"((${qi(c.name)} + 1));"
              }
            }
          case 2 => // partial
            val c = cols(rnd.nextInt(cols.length))
            after += s"CREATE INDEX ${named}ON $qq (${qi(c.name)}) " +
              s"WHERE ${qi(c.name)} IS NOT NULL;"
          case 3 => // mixed plain + expression
            val numFam = Set("smallint", "integer", "bigint", "serial",
              "bigserial", "real", "double precision")
            val c = cols(rnd.nextInt(cols.length))
            cols.find(x => (numFam.contains(x.typ) ||
                x.typ.startsWith("numeric")) && x.name != c.name)
              .foreach { e =>
                after += s"CREATE INDEX ${named}ON $qq (${qi(c.name)}, " +
                  s"(${qi(e.name)} + 1));"
              }
          case 4 => // ordering options
            val c = cols(rnd.nextInt(cols.length))
            val opt = Seq(" DESC", " DESC NULLS LAST", " NULLS FIRST",
              " ASC NULLS FIRST")(rnd.nextInt(4))
            after += s"CREATE INDEX ${named}ON $qq (${qi(c.name)}$opt);"
          case 5 => // opclass
            cols.find(c => c.typ == "text" || c.typ.startsWith("varchar"))
              .foreach { c =>
                after += s"CREATE INDEX ${named}ON $qq " +
                  s"(${qi(c.name)} text_pattern_ops);"
              }
          case 6 => // non-btree method
            cols.find(c => c.typ == "jsonb" || c.typ.endsWith("[]")) match {
              case Some(c) => after +=
                s"CREATE INDEX ${named}ON $qq USING gin (${qi(c.name)});"
              case None =>
                val c = cols(rnd.nextInt(cols.length))
                after += s"CREATE INDEX ${named}ON $qq USING hash " +
                  s"(${qi(c.name)});"
            }
          case _ => // INCLUDE (covering)
            val c = cols(rnd.nextInt(cols.length))
            val inc = cols((cols.indexOf(c) + 1) % cols.length)
            if (inc.name != c.name)
              after += s"CREATE INDEX ${named}ON $qq (${qi(c.name)}) " +
                s"INCLUDE (${qi(inc.name)});"
        }
      }

      // NOT VALID constraints over VIOLATING data: the target must
      // re-create them NOT VALID or the post-load ADD CONSTRAINT fails
      cols.find(c => c.typ == "integer" || c.typ == "bigint")
        .foreach { c =>
          if (rnd.nextInt(4) == 0)
            after += s"ALTER TABLE $qq ADD CONSTRAINT " +
              s"${qi(g.name("nv"))} CHECK (${qi(c.name)} IS NULL OR " +
              s"${qi(c.name)} > 2000000000) NOT VALID;"
        }
      if (parents.nonEmpty && rnd.nextInt(4) == 0) {
        val p = parents(rnd.nextInt(parents.length))
        val pCol = p.cols.find(_.name == p.pk.head).get
        val fkTyp2 = pCol.typ match {
          case "serial" => "integer"
          case "bigserial" => "bigint"
          case t => t
        }
        // values never present in the parent (parent ids are ≥ 1e6)
        val nv = Col(g.name("nf"), fkTyp2, false, None, false,
          i => s"-${1000 + i}")
        cols :+= nv
        after += s"ALTER TABLE $qq ADD CONSTRAINT ${qi(g.name("nf"))} " +
          s"FOREIGN KEY (${qi(nv.name)}) REFERENCES ${p.qq} " +
          s"(${qi(p.pk.head)}) NOT VALID;"
      }

      // comments
      if (rnd.nextInt(3) == 0)
        after += s"COMMENT ON TABLE $qq IS ${sq(g.comment())};"
      cols.take(2).foreach { c =>
        if (rnd.nextInt(4) == 0)
          after += s"COMMENT ON COLUMN $qq.${qi(c.name)} IS " +
            s"${sq(g.comment())};"
      }

      val nRows = rnd.nextInt(41)
      tabs += Tab(schema, tname, cols, pk, nRows,
        extras.result(), after.result(), unlogged)
    }

    // a VIEW over one of the tables, with hostile name and column
    // aliases — MATERIALIZE ALL VIEWS lands it as a TABLE on the target
    val views = Seq.newBuilder[(String, String)]
    // (created after the tables below — registered here, emitted last)

    // CREATE TABLE + inserts + after-statements, in creation order
    tabs.foreach { t =>
      val colDefs = t.cols.map { c =>
        s"  ${qi(c.name)} ${c.typ}" +
          (if (c.notNull && !c.typ.endsWith("serial")) " NOT NULL"
           else "") +
          c.default.map(d => s" DEFAULT $d").getOrElse("")
      }
      val unlogged = if (t.unlogged) "UNLOGGED " else ""
      ddl += s"CREATE ${unlogged}TABLE ${t.qq} (\n" +
        (colDefs ++ t.extras.map("  " + _)).mkString(",\n") + "\n);"
      if (t.nRows > 0) {
        val rows = (0 until t.nRows).map { i =>
          "(" + t.cols.map { c =>
            if (!c.uniqueCapable && !c.notNull && g.rnd.nextInt(7) == 0)
              "NULL"
            else c.lit(i)
          }.mkString(", ") + ")"
        }
        ddl += s"INSERT INTO ${t.qq} VALUES\n${rows.mkString(",\n")};"
      }
      t.after.foreach(ddl += _)
    }
    if (rnd.nextInt(2) == 0 && tabs.nonEmpty) {
      val vsch = schemas(rnd.nextInt(schemas.length))
      val vname = g.name("Vw")
      val srcT = tabs(rnd.nextInt(tabs.length))
      val vcols = srcT.cols.take(rnd.nextInt(srcT.cols.length) + 1)
      ddl += s"CREATE VIEW ${qi(vsch)}.${qi(vname)} AS SELECT " +
        vcols.map(c => s"${qi(c.name)} AS ${qi(g.name("va"))}")
          .mkString(", ") + s" FROM ${srcT.qq};"
      views += ((vsch, vname))
    }
    (ddl.result(), tabs.toSeq, views.result(), plainSchema)
  }

  // ------------------------------------------------------------------
  // catalog + data snapshots (identical SQL on source and target)
  // ------------------------------------------------------------------

  private val sysSchemas = "('pg_catalog', 'information_schema')"

  /** identity/serial nextval folding happens IN the column query
    * (owned-sequence-aware CASE): serial and identity columns land as
    * fresh serials whose sequence spelling may differ, while a
    * standalone user sequence's nextval default must carry VERBATIM —
    * a blanket scala-side fold would mask its loss. */
  private def normDefault(d: String): String = d

  /** The reference's pgsql cast rules drop the varchar typemod on
    * purpose (pgsql-cast-rules.lisp:14 `character varying` → text
    * drop-typemod) — parity, not a defect; fold the source spelling. */
  private def normType(t: String): String =
    if (t.startsWith("character varying")) "text" else t

  private def snapshot(uri: String,
                       excl: Set[(String, String)] = Set.empty)
      : Seq[String] = {
    def keep(line: String): Boolean = {
      val parts = line.split("\\|", -1)
      parts.length < 3 || !excl.contains((parts(1), parts(2)))
    }
    val out = Seq.newBuilder[String]

    q(uri,
      s"""SELECT n.nspname, c.relname, a.attname,
          format_type(a.atttypid, a.atttypmod),
          a.attnotnull::text,
          CASE WHEN a.attidentity <> '' THEN 'nextval(SEQ)'
               WHEN pg_get_expr(d.adbin, d.adrelid) LIKE 'nextval(%'
                AND EXISTS (SELECT 1 FROM pg_depend dep
                            JOIN pg_class sc ON sc.oid = dep.objid
                            WHERE dep.classid = 'pg_class'::regclass
                              AND dep.refobjid = c.oid
                              AND dep.refobjsubid = a.attnum
                              AND dep.deptype IN ('a', 'i')
                              AND sc.relkind = 'S')
               THEN 'nextval(SEQ)'
               ELSE coalesce(pg_get_expr(d.adbin, d.adrelid), '') END
            || '|' || a.attgenerated::text
            || '|' || c.relpersistence::text
          FROM pg_class c
          JOIN pg_namespace n ON n.oid = c.relnamespace
          JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum > 0
          LEFT JOIN pg_attrdef d
            ON d.adrelid = c.oid AND d.adnum = a.attnum
          WHERE c.relkind = 'r' AND NOT c.relispartition
            AND NOT a.attisdropped AND n.nspname NOT IN $sysSchemas
          ORDER BY n.nspname, c.relname, a.attnum""").foreach { r =>
      out += s"col|${r(0)}|${r(1)}|${r(2)}|${normType(r(3))}|${r(4)}|" +
        normDefault(r(5))
    }

    // pg_get_indexdef with the index NAME sliced out (the engine may
    // uniquify names); prefix = 'CREATE [UNIQUE ]INDEX <qname> ON '
    val idx = q(uri,
      s"""SELECT n.nspname, t.relname, x.indisprimary::text,
          substr(pg_get_indexdef(x.indexrelid),
                 18 + CASE WHEN x.indisunique THEN 7 ELSE 0 END
                    + length(quote_ident(i.relname)))
          FROM pg_index x
          JOIN pg_class i ON i.oid = x.indexrelid
          JOIN pg_class t ON t.oid = x.indrelid
          JOIN pg_namespace n ON n.oid = t.relnamespace
          WHERE t.relkind = 'r' AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2, 3, 4""")
      .map(r => s"idx|${r(0)}|${r(1)}|${r(2)}|${r(3)}")
    out ++= idx.sorted

    q(uri,
      s"""SELECT n.nspname, t.relname, c.conname,
          pg_get_constraintdef(c.oid)
          FROM pg_constraint c
          JOIN pg_class t ON t.oid = c.conrelid
          JOIN pg_namespace n ON n.oid = t.relnamespace
          WHERE c.contype IN ('c', 'x') AND c.conparentid = 0
            AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2, 3, 4""").foreach { r =>
      out += s"chk|${r(0)}|${r(1)}|${r(2)}|${r(3)}"
    }

    q(uri,
      s"""SELECT n.nspname, t.relname, c.conname,
          pg_get_constraintdef(c.oid)
          FROM pg_constraint c
          JOIN pg_class t ON t.oid = c.conrelid
          JOIN pg_namespace n ON n.oid = t.relnamespace
          WHERE c.contype = 'f' AND c.conparentid = 0
            AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2, 3, 4""").foreach { r =>
      out += s"fk|${r(0)}|${r(1)}|${r(2)}|${r(3)}"
    }

    // custom types actually used by columns: enum label sets in sort
    // order, domain base/default/constraint defs (names excluded —
    // server-rendered domain bodies may rename auto constraints)
    q(uri,
      s"""SELECT t.typtype::text, n.nspname, t.typname,
          CASE WHEN t.typtype = 'd'
               THEN format_type(t.typbasetype, t.typtypmod) ELSE '' END,
          coalesce(t.typdefault, ''),
          coalesce((SELECT string_agg(e.enumlabel, chr(31)
                                      ORDER BY e.enumsortorder)
                    FROM pg_enum e WHERE e.enumtypid = t.oid), ''),
          coalesce((SELECT string_agg(pg_get_constraintdef(c.oid), ' '
                                      ORDER BY pg_get_constraintdef(c.oid))
                    FROM pg_constraint c WHERE c.contypid = t.oid), '')
          FROM pg_type t
          JOIN pg_namespace n ON n.oid = t.typnamespace
          WHERE t.typtype IN ('e', 'd')
            AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2, 3""").foreach { r =>
      out += s"typ|${r.mkString("|")}"
    }

    // standalone user sequences: definition parity (increment, bounds,
    // cycle, cache). seqstart/last_value are intentionally excluded —
    // the engine re-STARTs at current+increment so the first target
    // nextval returns the next un-issued value. Serial/identity-owned
    // sequences are excluded (they recreate through serial).
    q(uri,
      s"""SELECT n.nspname, c.relname, s.seqincrement, s.seqmin,
          s.seqmax, s.seqcycle::text, s.seqcache
          FROM pg_class c
          JOIN pg_namespace n ON n.oid = c.relnamespace
          JOIN pg_sequence s ON s.seqrelid = c.oid
          WHERE c.relkind = 'S' AND n.nspname NOT IN $sysSchemas
            AND NOT EXISTS (SELECT 1 FROM pg_depend d
                            WHERE d.classid = 'pg_class'::regclass
                              AND d.objid = c.oid
                              AND d.deptype IN ('a', 'i'))
          ORDER BY 1, 2""").foreach { r =>
      out += s"seq|${r.mkString("|")}"
    }

    // composite types: attribute (name, type) lists in order. Filter
    // to STANDALONE composites (typrelid points at relkind 'c') —
    // every table also has a row type with typtype 'c'.
    q(uri,
      s"""SELECT n.nspname, t.typname,
          string_agg(a.attname || ' ' ||
                     format_type(a.atttypid, a.atttypmod),
                     ', ' ORDER BY a.attnum)
          FROM pg_type t
          JOIN pg_class c ON c.oid = t.typrelid AND c.relkind = 'c'
          JOIN pg_namespace n ON n.oid = t.typnamespace
          JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum > 0
          WHERE t.typtype = 'c' AND n.nspname NOT IN $sysSchemas
            AND NOT a.attisdropped
          GROUP BY 1, 2 ORDER BY 1, 2""").foreach { r =>
      out += s"ctyp|${r.mkString("|")}"
    }

    q(uri,
      s"""SELECT n.nspname, c.relname, coalesce(a.attname, ''),
          d.description
          FROM pg_description d
          JOIN pg_class c ON c.oid = d.objoid
            AND d.classoid = 'pg_class'::regclass
          JOIN pg_namespace n ON n.oid = c.relnamespace
          LEFT JOIN pg_attribute a
            ON a.attrelid = c.oid AND a.attnum = d.objsubid
          WHERE c.relkind = 'r' AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2, 3""").foreach { r =>
      out += s"cmt|${r(0)}|${r(1)}|${r(2)}|${r(3)}"
    }

    out.result().filter(keep)
  }

  private def tableList(uri: String): Seq[Seq[String]] =
    q(uri,
      s"""SELECT n.nspname, c.relname FROM pg_class c
          JOIN pg_namespace n ON n.oid = c.relnamespace
          WHERE c.relkind = 'r' AND NOT c.relispartition
            AND n.nspname NOT IN $sysSchemas
          ORDER BY 1, 2""")

  /** (rowCount, md5-of-sorted ROW()::text) — column-NAME independent,
    * so the fold-mode legs can compare raw source names to
    * engine-cased target names. */
  private def digestOf(uri: String, nsp: String, rel: String)
      : (String, String) = {
    val d = q(uri,
      s"SELECT coalesce(md5(string_agg(r, chr(10) ORDER BY r)), " +
        s"'empty'), count(*) FROM " +
        s"(SELECT ROW(x.*)::text AS r FROM ONLY " +
        s"${qi(nsp)}.${qi(rel)} x) s").head
    (d(1), d(0))
  }

  private def dataDigests(uri: String,
                          excl: Set[(String, String)] = Set.empty)
      : Seq[String] =
    tableList(uri).filterNot(r => excl.contains((r(0), r(1)))).map { r =>
      val (n, d) = digestOf(uri, r(0), r(1))
      s"data|${r(0)}|${r(1)}|$n|$d"
    }

  /** Row digest over a VIEW (no ONLY — views reject it). */
  private def viewDigestOf(uri: String, nsp: String, rel: String)
      : (String, String) = {
    val d = q(uri,
      s"SELECT coalesce(md5(string_agg(r, chr(10) ORDER BY r)), " +
        s"'empty'), count(*) FROM " +
        s"(SELECT ROW(x.*)::text AS r FROM " +
        s"${qi(nsp)}.${qi(rel)} x) s").head
    (d(1), d(0))
  }

  private def diffLines(src: Seq[String], dst: Seq[String]): Seq[String] = {
    val s = src.groupBy(identity).view.mapValues(_.size).toMap
    val d = dst.groupBy(identity).view.mapValues(_.size).toMap
    val missing = (s.keySet -- d.keySet).toSeq.sorted.map("- " + _)
    val extra = (d.keySet -- s.keySet).toSeq.sorted.map("+ " + _)
    val counts = (s.keySet & d.keySet).toSeq.sorted
      .filter(k => s(k) != d(k))
      .map(k => s"# ${s(k)}x vs ${d(k)}x: $k")
    missing ++ extra ++ counts
  }

  // ------------------------------------------------------------------

  test("legacy introspection variants run on live pg and keep the " +
    "modern column positions") {
    assume(LivePg.uri.isDefined, "set GRAFT_LIVE_PG_URI to run")
    val c = new PgWireConnection(
      PgWire.connParams(LivePg.uri.get, decode))
    try {
      import graft.sources.IntrospectionSql._
      assert(!pgsqlColumnsLegacy.contains("attgenerated"))
      assert(!pgsqlIndexesLegacy.contains("indnullsnotdistinct"))
      val (mc, mr) = c.query(pgsqlColumns)
      val (lc, lr) = c.query(pgsqlColumnsLegacy)
      assert(mc.length == lc.length && mr.length == lr.length)
      val (mi, mir) = c.query(pgsqlIndexes)
      val (li, lir) = c.query(pgsqlIndexesLegacy)
      assert(mi.length == li.length && mir.length == lir.length)
    } finally c.close()
  }

  test("ALTER SCHEMA RENAME rewrites verbatim nextval defaults along " +
    "with their sequence objects") {
    assume(LivePg.uri.isDefined, "set GRAFT_LIVE_PG_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "rnm_src")
    val dst = swapDb(admin, "rnm_dst")
    exec(admin, "DROP DATABASE IF EXISTS rnm_src WITH (FORCE)")
    exec(admin, "DROP DATABASE IF EXISTS rnm_dst WITH (FORCE)")
    exec(admin, "CREATE DATABASE rnm_src")
    exec(admin, "CREATE DATABASE rnm_dst")
    exec(src,
      """CREATE SCHEMA olds;
        |CREATE SEQUENCE olds.ctr;
        |CREATE TABLE olds.t (id int PRIMARY KEY,
        |  n bigint DEFAULT nextval('olds.ctr'));
        |-- a table in ANOTHER schema defaulting from the renamed one
        |CREATE TABLE public.u (id int PRIMARY KEY,
        |  n bigint DEFAULT nextval('olds.ctr'));
        |INSERT INTO olds.t (id) VALUES (1), (2);
        |INSERT INTO public.u (id) VALUES (7);
        |""".stripMargin)
    val stats = pgRunner(dst).runFile(spark,
      s"""LOAD DATABASE FROM $src
            INTO $dst
            WITH include drop, create tables
            ALTER SCHEMA 'olds' RENAME TO 'news';""")
    assert(stats.forall(_.error.isEmpty), stats.mkString("; "))
    // sequence moved AND both defaults follow it
    assert(q(dst, "SELECT count(*) FROM pg_class c JOIN pg_namespace " +
      "n ON n.oid = c.relnamespace WHERE c.relkind = 'S' AND " +
      "n.nspname = 'news' AND c.relname = 'ctr'").head.head == "1")
    val dftT = q(dst, "SELECT pg_get_expr(d.adbin, d.adrelid) FROM " +
      "pg_attrdef d JOIN pg_class c ON c.oid = d.adrelid JOIN " +
      "pg_namespace n ON n.oid = c.relnamespace WHERE " +
      "n.nspname = 'news' AND c.relname = 't'").head.head
    val dftU = q(dst, "SELECT pg_get_expr(d.adbin, d.adrelid) FROM " +
      "pg_attrdef d JOIN pg_class c ON c.oid = d.adrelid JOIN " +
      "pg_namespace n ON n.oid = c.relnamespace WHERE " +
      "n.nspname = 'public' AND c.relname = 'u'").head.head
    assert(dftT == "nextval('news.ctr'::regclass)", dftT)
    assert(dftU == "nextval('news.ctr'::regclass)", dftU)
    // the default actually works: an insert draws from the sequence
    exec(dst, "INSERT INTO news.t (id) VALUES (3)")
    assert(q(dst, "SELECT n IS NOT NULL FROM news.t WHERE id = 3")
      .head.head == "t")
  }

  test("schema fuzz: random pg databases migrate pg→pg with catalog " +
    "and data parity under quote identifiers") {
    assume(LivePg.uri.isDefined, "set GRAFT_LIVE_PG_URI to run")
    val admin = LivePg.uri.get
    val seeds = sys.env.get("GRAFT_SCHEMA_FUZZ_SEEDS")
      .map(_.toInt).getOrElse(5)
    val seed0 = sys.env.get("GRAFT_SCHEMA_FUZZ_SEED0")
      .map(_.toLong).getOrElse(7100L)

    (0 until seeds).foreach { k =>
      val seed = seed0 + k
      val src = swapDb(admin, "schfz_src")
      val dst = swapDb(admin, "schfz_dst")
      exec(admin, "DROP DATABASE IF EXISTS schfz_src WITH (FORCE)")
      exec(admin, "DROP DATABASE IF EXISTS schfz_dst WITH (FORCE)")
      exec(admin, "CREATE DATABASE schfz_src")
      exec(admin, "CREATE DATABASE schfz_dst")

      val g = new Gen(seed)
      val (ddl, _, views, plainSch) = genDatabase(g)
      println(s"[schema-fuzz] seed $seed: ${ddl.size} stmts, " +
        s"${ddl.count(_.startsWith("CREATE TYPE"))} enums, " +
        s"${ddl.count(_.startsWith("CREATE DOMAIN"))} domains, " +
        s"${ddl.count(s => s.startsWith("CREATE TABLE") ||
          s.startsWith("CREATE UNLOGGED"))} tables, " +
        s"${ddl.count(_.contains("USING gin"))}+" +
        s"${ddl.count(_.contains("USING hash"))} gin+hash, " +
        s"${ddl.count(_.contains("INCLUDE"))} include, " +
        s"${ddl.count(_.contains("DESC"))} desc, " +
        s"${ddl.count(_.contains("GENERATED BY DEFAULT"))} identity, " +
        s"${ddl.count(_.contains("GENERATED ALWAYS AS"))} generated, " +
        s"${ddl.count(_.startsWith("CREATE SEQUENCE"))} seqs, " +
        s"${ddl.count(_.contains("EXCLUDE USING"))} excl, " +
        s"${ddl.count(_.contains("NOT VALID"))} notvalid, " +
        s"${ddl.count(_.startsWith("CREATE UNLOGGED"))} unlogged")
      ddl.foreach(stmt => exec(src, stmt))

      // route coverage: the staged exactly-once publish faces the same
      // hostile schemas as the default path. `copy binary` loads through
      // COPY TEXT like the default; its draw stays so every seed keeps
      // generating the same cases
      val optRnd = new Random(seed * 31 + 7)
      val opts = Seq(
        if (optRnd.nextInt(3) == 0) ", exactly once" else "",
        if (optRnd.nextInt(4) == 0) ", copy binary" else "",
        s", workers = ${optRnd.nextInt(4) + 1}").mkString
      val mat = if (views.isEmpty) ""
        else "\n              MATERIALIZE ALL VIEWS"
      val stats = pgRunner(dst).runFile(spark,
        s"""LOAD DATABASE FROM $src
              INTO $dst
              WITH include drop, create tables,
                   quote identifiers$opts$mat;""")
      val errs = stats.filter(_.error.nonEmpty)
      assert(errs.isEmpty,
        s"seed $seed: table errors: " + errs.map(s =>
          s"${s.table}: ${s.error.getOrElse("")}").mkString("; "))

      val vset = views.toSet
      val catDiff = diffLines(snapshot(src), snapshot(dst, vset))
      val dataDiff =
        diffLines(dataDigests(src), dataDigests(dst, excl = vset))
      val all = catDiff ++ dataDiff
      assert(all.isEmpty,
        s"seed $seed: ${all.size} divergences\n" +
          all.take(40).mkString("\n"))

      // materialized views: the source VIEW's rows land as a TABLE of
      // the same (quoted-mode) name with the view's column names/types
      views.foreach { case (vs, vn) =>
        val sv = viewDigestOf(src, vs, vn)
        val dv = digestOf(dst, vs, vn)
        assert(sv == dv,
          s"seed $seed: materialized view $vs.$vn src=$sv dst=$dv")
        val scols = q(src,
          s"""SELECT a.attname, format_type(a.atttypid, a.atttypmod)
              FROM pg_attribute a
              JOIN pg_class c ON c.oid = a.attrelid
              JOIN pg_namespace n ON n.oid = c.relnamespace
              WHERE n.nspname = ${sq(vs)} AND c.relname = ${sq(vn)}
                AND a.attnum > 0 AND NOT a.attisdropped
              ORDER BY a.attnum""").map(r =>
          (r(0), normType(r(1))))
        val dcols = q(dst,
          s"""SELECT a.attname, format_type(a.atttypid, a.atttypmod)
              FROM pg_attribute a
              JOIN pg_class c ON c.oid = a.attrelid
              JOIN pg_namespace n ON n.oid = c.relnamespace
              WHERE n.nspname = ${sq(vs)} AND c.relname = ${sq(vn)}
                AND a.attnum > 0 AND NOT a.attisdropped
              ORDER BY a.attnum""").map(r =>
          (r(0), normType(r(1))))
        assert(scols == dcols,
          s"seed $seed: view $vs.$vn columns src=$scols dst=$dcols")
      }

      // ---- filtered leg: INCLUDING ONLY one table must not touch
      // out-of-scope objects — in particular, sequences other tables'
      // defaults reference must NOT be created (nor CASCADE-dropped)
      // on the target, while a sequence the KEPT table references
      // must still migrate (the r20 sequence-scoping rule, both ways)
      val (_, tabsAll, _, _) = genDatabase(new Gen(seed))
      // a literal-pattern-safe name: plain lowercase so the INCLUDING
      // literal matches regardless of the matcher's case handling
      val safeTab = tabsAll.find(t =>
        t.name.nonEmpty &&
          t.name.forall(c => (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9') || c == '_'))
      if (optRnd.nextInt(2) == 0 && safeTab.isDefined) {
        val keep = safeTab.get
        println(s"[schema-fuzz] seed $seed: filtered leg keeps " +
          s"${keep.name}")
        exec(admin, "DROP DATABASE IF EXISTS schfz_dst WITH (FORCE)")
        exec(admin, "CREATE DATABASE schfz_dst")
        val stF = pgRunner(dst).runFile(spark,
          s"""LOAD DATABASE FROM $src
                INTO $dst
                WITH include drop, create tables, quote identifiers
                INCLUDING ONLY TABLE NAMES MATCHING '${keep.name}';""")
        val errsF = stF.filter(_.error.nonEmpty)
        assert(errsF.isEmpty, s"seed $seed filtered: " +
          errsF.map(s => s"${s.table}: ${s.error.getOrElse("")}")
            .mkString("; "))
        val dstTabs = tableList(dst).map(r => (r(0), r(1)))
        assert(dstTabs == Seq((keep.schema, keep.name)),
          s"seed $seed filtered: expected only " +
            s"${keep.schema}.${keep.name}, got $dstTabs")
        // target sequences ⊆ sequences the kept table's defaults name
        val wantSeqs = keep.cols.flatMap(_.default)
          .filter(_.contains("nextval")).size
        val dstSeqs = q(dst,
          s"""SELECT count(*) FROM pg_class c
              JOIN pg_namespace n ON n.oid = c.relnamespace
              WHERE c.relkind = 'S' AND n.nspname NOT IN $sysSchemas
                AND NOT EXISTS (SELECT 1 FROM pg_depend d
                                WHERE d.classid = 'pg_class'::regclass
                                  AND d.objid = c.oid
                                  AND d.deptype IN ('a', 'i'))""")
          .head.head.toInt
        assert(dstSeqs == wantSeqs,
          s"seed $seed filtered: $dstSeqs standalone sequences on " +
            s"target, kept table references $wantSeqs")
      }

      // ---- rename leg: ALTER SCHEMA on the plain-named schema; the
      // renamed schema's tables (incl. any enums/domains/sequences it
      // hosts, referenced by tables anywhere) must land under the new
      // name with identical rows
      if (optRnd.nextInt(3) == 0) {
        val renTo = s"ren${seed % 1000}"
        exec(admin, "DROP DATABASE IF EXISTS schfz_dst WITH (FORCE)")
        exec(admin, "CREATE DATABASE schfz_dst")
        val stR = pgRunner(dst).runFile(spark,
          s"""LOAD DATABASE FROM $src
                INTO $dst
                WITH include drop, create tables, quote identifiers
                ALTER SCHEMA '$plainSch' RENAME TO '$renTo';""")
        val errsR = stR.filter(_.error.nonEmpty)
        assert(errsR.isEmpty, s"seed $seed rename: " +
          errsR.map(s => s"${s.table}: ${s.error.getOrElse("")}")
            .mkString("; "))
        tableList(src).filterNot(r => views.contains((r(0), r(1))))
          .foreach { r =>
            val toSch = if (r(0) == plainSch) renTo else r(0)
            val sd = digestOf(src, r(0), r(1))
            val dd = digestOf(dst, toSch, r(1))
            assert(sd == dd, s"seed $seed rename: ${r(0)}.${r(1)} " +
              s"src=$sd dst($toSch.${r(1)})=$dd")
          }
      }

      // ---- fold-mode legs: default downcase every seed, snake_case
      // on even seeds. Target names are engine-mapped (Identifiers) —
      // the assertion is clean completion and DATA survival against
      // live PostgreSQL under random hostile names; the casing matrix
      // specs pin exact name derivation.
      val foldModes: Seq[(String, graft.catalog.Identifiers.Case)] =
        ("", graft.catalog.Identifiers.Case.Downcase) +:
          (if (k % 2 == 0)
            Seq((", snake_case identifiers",
              graft.catalog.Identifiers.Case.SnakeCase))
          else Nil)
      for ((mopt, mcase) <- foldModes) {
        exec(admin, "DROP DATABASE IF EXISTS schfz_dst WITH (FORCE)")
        exec(admin, "CREATE DATABASE schfz_dst")
        val st2 = pgRunner(dst).runFile(spark,
          s"""LOAD DATABASE FROM $src
                INTO $dst
                WITH include drop, create tables, workers = 2$mopt;""")
        val errs2 = st2.filter(_.error.nonEmpty)
        assert(errs2.isEmpty,
          s"seed $seed mode '$mopt': " + errs2.map(s =>
            s"${s.table}: ${s.error.getOrElse("")}").mkString("; "))
        def icm(n: String) = graft.catalog.Identifiers(n, mcase)
        // constraint/index SURVIVAL, not just data: a fold-mode DDL
        // failure lands in tolerated ddlErrors and loses the object
        // silently (the CHECK-recase bug hid exactly here). UNIQUE
        // constraints recreate as unique indexes by design → compare
        // contype c/f/x/p plus the index count.
        def shape(uri: String, nsp: String, rel: String): String = {
          val cons = q(uri,
            s"""SELECT c.contype::text, count(*) FROM pg_constraint c
                JOIN pg_class t ON t.oid = c.conrelid
                JOIN pg_namespace n ON n.oid = t.relnamespace
                WHERE n.nspname = ${sq(nsp)} AND t.relname = ${sq(rel)}
                  AND c.conparentid = 0 AND c.contype IN ('c','f','x','p')
                GROUP BY 1 ORDER BY 1""")
            .map(_.mkString(":")).mkString(",")
          val idx = q(uri,
            s"""SELECT count(*) FROM pg_index x
                JOIN pg_class t ON t.oid = x.indrelid
                JOIN pg_namespace n ON n.oid = t.relnamespace
                WHERE n.nspname = ${sq(nsp)}
                  AND t.relname = ${sq(rel)}""").head.head
          s"$cons|idx=$idx"
        }
        tableList(src).foreach { r =>
          val sd = digestOf(src, r(0), r(1))
          val dd = digestOf(dst, icm(r(0)), icm(r(1)))
          assert(sd == dd,
            s"seed $seed mode '$mopt': ${r(0)}.${r(1)} " +
              s"src=$sd dst(${icm(r(0))}.${icm(r(1))})=$dd")
          val ss = shape(src, r(0), r(1))
          val ds = shape(dst, icm(r(0)), icm(r(1)))
          assert(ss == ds,
            s"seed $seed mode '$mopt': ${r(0)}.${r(1)} constraint/" +
              s"index shape src=[$ss] dst=[$ds]")
        }
      }
    }
  }
}
