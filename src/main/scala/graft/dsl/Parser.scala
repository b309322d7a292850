package graft.dsl

import graft.casting.{CastRule, RuleSource, RuleTarget}
import graft.dsl.Ast._
import org.apache.spark.sql.types.StringType

final class ParseException(msg: String, val offset: Int)
  extends Exception(s"$msg (at offset $offset)")

/** Recursive-descent parser for the `.load` DSL. Grammar surface per the
  * reference (clojure/src/pgloader/load_file/grammar.clj:3-326; esrap
  * rules src/parsers/command-csv.lisp:388, command-parser.lisp:14).
  * Keywords are case-insensitive; `--` and nested-free `/* */` comments
  * are whitespace.
  */
object Parser {

  def parse(text: String, baseDir: String = "."): LoadCommand =
    new Parser(text, baseDir).parseCommand()

  /** Parse one command and return any trailing text — the `FROM inline`
    * payload embedded after the command (test/reformat.load pattern). */
  def parseWithInline(text: String,
                      baseDir: String = "."): (LoadCommand, Option[String]) = {
    val p = new Parser(text, baseDir)
    val cmd = p.parseCommand()
    val rest = text.substring(p.position)
      .dropWhile(c => c == '\n' || c == '\r')
    (cmd, if (rest.trim.isEmpty) None else Some(rest))
  }

  /** All commands in a file (archive files may hold several). */
  def parseAll(text: String, baseDir: String = "."): Seq[LoadCommand] = {
    val p = new Parser(text, baseDir)
    val out = Seq.newBuilder[LoadCommand]
    p.ws()
    while (!p.eof) { out += p.parseCommand(); p.ws() }
    out.result()
  }
}

private final class Parser(in: String, baseDir: String = ".") {
  private var pos = 0

  def position: Int = pos

  // ------------------------------------------------------------- scanner

  def eof: Boolean = { ws(); pos >= in.length }

  def ws(): Unit = {
    var moved = true
    while (moved) {
      moved = false
      while (pos < in.length && in.charAt(pos).isWhitespace) {
        pos += 1; moved = true
      }
      if (in.startsWith("--", pos)) {
        while (pos < in.length && in.charAt(pos) != '\n') pos += 1
        moved = true
      }
      if (in.startsWith("/*", pos)) {
        val e = in.indexOf("*/", pos)
        pos = if (e < 0) in.length else e + 2
        moved = true
      }
    }
  }

  private def fail(msg: String): Nothing = throw new ParseException(msg, pos)

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '-'

  /** Case-insensitive keyword; only matches a whole word. */
  def tryKw(kw: String): Boolean = {
    ws()
    if (pos + kw.length <= in.length &&
        in.regionMatches(true, pos, kw, 0, kw.length) &&
        (pos + kw.length == in.length ||
          !isWordChar(in.charAt(pos + kw.length)))) {
      pos += kw.length; true
    } else false
  }

  /** Multi-word keyword sequence, all-or-nothing. */
  def tryKws(kws: String*): Boolean = {
    val m = pos
    if (kws.forall(tryKw)) true else { pos = m; false }
  }

  def expectKw(kw: String): Unit =
    if (!tryKw(kw)) fail(s"expected keyword '$kw'")

  def trySym(c: Char): Boolean = {
    ws()
    if (pos < in.length && in.charAt(pos) == c) { pos += 1; true }
    else false
  }

  def expectSym(c: Char): Unit = if (!trySym(c)) fail(s"expected '$c'")

  def peekSym(c: Char): Boolean = { ws(); pos < in.length && in.charAt(pos) == c }

  /** identifier or "double quoted" name */
  def ident(): String = {
    ws()
    if (pos < in.length && in.charAt(pos) == '"') {
      val e = in.indexOf('"', pos + 1)
      if (e < 0) fail("unterminated quoted identifier")
      val s = in.substring(pos + 1, e); pos = e + 1; s
    } else {
      val start = pos
      if (pos < in.length && (in.charAt(pos).isLetter || in.charAt(pos) == '_'))
        pos += 1
      else fail("expected identifier")
      while (pos < in.length && isWordChar(in.charAt(pos))) pos += 1
      in.substring(start, pos)
    }
  }

  /** identifier with the reference's default apply-identifier-case
    * (:downcase, src/utils/quoting.lisp): an UNQUOTED name folds to
    * lowercase — PostgreSQL folds unquoted DDL identifiers, so the COPY
    * column list built from these names must fold the same way or a
    * `HAVING FIELDS (ID, Name)` load fails with "column does not
    * exist" against its own unquoted CREATE TABLE — while a
    * double-quoted spelling is preserved exactly as written. */
  def identCased(): String = {
    ws()
    val wasQuoted = pos < in.length && in.charAt(pos) == '"'
    val s = ident()
    if (wasQuoted) s else s.toLowerCase
  }

  def tryQuoted(): Option[String] = {
    ws()
    if (pos < in.length && in.charAt(pos) == '\'') {
      val e = in.indexOf('\'', pos + 1)
      if (e < 0) fail("unterminated string")
      val s = in.substring(pos + 1, e); pos = e + 1; Some(s)
    } else None
  }

  def quoted(): String = tryQuoted().getOrElse(fail("expected 'string'"))

  def tryDq(): Option[String] = {
    ws()
    if (pos < in.length && in.charAt(pos) == '"') {
      val e = in.indexOf('"', pos + 1)
      if (e < 0) fail("unterminated double-quoted string")
      val s = in.substring(pos + 1, e); pos = e + 1; Some(s)
    } else None
  }

  def integer(): Int = {
    ws()
    val start = pos
    while (pos < in.length && in.charAt(pos).isDigit) pos += 1
    if (pos == start) fail("expected integer")
    in.substring(start, pos).toInt
  }

  /** `$$ … $$` quoted command. */
  def dollarQuoted(): String = {
    ws()
    if (!in.startsWith("$$", pos)) fail("expected $$")
    val e = in.indexOf("$$", pos + 2)
    if (e < 0) fail("unterminated $$ block")
    val s = in.substring(pos + 2, e); pos = e + 2; s.trim
  }

  /** Raw balanced-paren region INCLUDING the outer parens. */
  def balancedParens(): String = {
    ws()
    if (!peekSym('(')) fail("expected '('")
    val start = pos
    var depth = 0
    var i = pos
    var inStr = false
    var strCh = ' '
    while (i < in.length) {
      val c = in.charAt(i)
      if (inStr) { if (c == strCh) inStr = false }
      else c match {
        case '"' | '\'' => inStr = true; strCh = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) { pos = i + 1; return in.substring(start, i + 1) }
        case _ =>
      }
      i += 1
    }
    fail("unterminated parenthesized expression")
  }

  /** bare filepath / URI token: up to whitespace, ',' or ';' */
  def rawToken(): String = {
    ws()
    val start = pos
    while (pos < in.length && !in.charAt(pos).isWhitespace &&
           in.charAt(pos) != ';' && in.charAt(pos) != ',') pos += 1
    if (pos == start) fail("expected token")
    in.substring(start, pos)
  }

  /** target-URI token: like [[rawToken]] but also stops at '(' so the
    * `uri?table(col, …)` form leaves the column list for the column-list
    * parser (commas never appear in the uri itself). */
  def uriToken(): String = {
    ws()
    val start = pos
    while (pos < in.length && !in.charAt(pos).isWhitespace &&
           in.charAt(pos) != ';' && in.charAt(pos) != '(') pos += 1
    if (pos == start) fail("expected token")
    in.substring(start, pos)
  }

  /** `'\t'`-style quoted char with backslash escapes; `'0x02'` hex
    * bytes (csv-json.load separator syntax). */
  private def unescapeChar(s: String): Char = s match {
    case "\\t" => '\t'
    case "\\n" => '\n'
    case "\\r" => '\r'
    case "\\\\" => '\\'
    case "tab" => '\t'
    case x if x.matches("0[xX][0-9a-fA-F]{1,2}") =>
      Integer.parseInt(x.drop(2), 16).toChar
    case x if x.length == 1 => x.charAt(0)
    case x => x.charAt(0)
  }

  // ------------------------------------------------------------- command

  def parseCommand(): LoadCommand = {
    expectKw("LOAD")
    ws()
    if (tryKw("CSV")) parseFileLoad("csv")
    else if (tryKw("FIXED")) parseFileLoad("fixed")
    else if (tryKw("COPY")) parseFileLoad("copy")
    else if (tryKw("DBF")) parseFileLoad("dbf")
    // IXF parses (grammar parity); execution is out of scope, like the
    // reference's own v4 which dropped the format
    else if (tryKw("IXF")) parseFileLoad("ixf")
    else if (tryKw("DATABASE")) parseDatabaseLoad()
    else if (tryKw("ARCHIVE")) parseArchiveLoad()
    else fail("expected CSV, FIXED, COPY, DBF, IXF, DATABASE or ARCHIVE")
  }

  private def parseSource(loadType: String): Source = {
    ws()
    if (tryKw("stdin")) Stdin
    else if (tryKw("inline")) InlineData
    else if (tryKws("all", "filenames", "matching")) {
      val pat = filePattern()
      // IN DIRECTORY is optional: default is the load file's directory
      val dir =
        if (tryKws("in", "directory")) tryQuoted().getOrElse(rawToken())
        else "."
      Glob(pat, dir)
    } else if (tryKws("FILENAME", "MATCHING")) {
      Glob(filePattern(), ".")
    } else {
      val tok = tryQuoted().getOrElse(rawToken())
      val lower = tok.toLowerCase
      if (lower.startsWith("http://") || lower.startsWith("https://") ||
          lower.startsWith("file://"))
        Http(tok)
      else if (lower.startsWith(loadType + "://"))
        FilePath(tok.substring(loadType.length + 3))
      else FilePath(tok)
    }
  }

  private def filePattern(): String = {
    ws()
    if (trySym('~')) {
      if (trySym('/')) {
        val e = in.indexOf('/', pos)
        if (e < 0) fail("unterminated ~/pattern/")
        val s = in.substring(pos, e); pos = e + 1; s
      } else if (trySym('<')) {
        val e = in.indexOf('>', pos)
        if (e < 0) fail("unterminated ~<pattern>")
        val s = in.substring(pos, e); pos = e + 1; s
      } else fail("expected / or < after ~")
    } else quoted()
  }

  // field lists -----------------------------------------------------------

  private def parseFieldList(fixed: Boolean): Seq[FieldDef] = {
    expectSym('(')
    val out = Seq.newBuilder[FieldDef]
    var more = true
    while (more) {
      out += parseField(fixed)
      more = trySym(',')
    }
    expectSym(')')
    out.result()
  }

  private def parseField(fixed: Boolean): FieldDef = {
    val name = identCased()
    var f = FieldDef(name)
    if (fixed && tryKw("from")) {
      val start = integer()
      expectKw("for")
      val len = integer()
      f = f.copy(start = Some(start), length = Some(len))
    }
    // option groups: [date format '…'], [null if …], [trim right whitespace]
    while (peekSym('[')) {
      expectSym('[')
      var moreOpts = true
      while (moreOpts) {
        if (tryKws("date", "format")) f = f.copy(dateFormat = Some(quoted()))
        else if (tryKws("null", "if")) {
          if (tryKw("blanks")) f = f.copy(nullIfs = f.nullIfs :+ NullIfBlanks)
          else {
            val v = tryQuoted().orElse(tryDq())
              .getOrElse(fail("expected null-if value"))
            f = f.copy(nullIfs = f.nullIfs :+ NullIfLiteral(v))
          }
        } else if (tryKws("trim", "right", "whitespace")) {
          f = f.copy(trimRight = true)
        } else if (tryKws("trim", "both", "whitespace")) {
          f = f.copy(trimRight = true)
        } else fail("unknown field option")
        moreOpts = trySym(',')
      }
      expectSym(']')
    }
    f
  }

  private def parseTargetColumns(): Seq[TargetColDef] = {
    expectSym('(')
    val out = Seq.newBuilder[TargetColDef]
    var more = true
    while (more) {
      val name = identCased()
      var td = TargetColDef(name)
      // optional type words until ',', ')' or 'using'
      val typeWords = Seq.newBuilder[String]
      var done = false
      while (!done) {
        ws()
        if (peekSym(',') || peekSym(')')) done = true
        else if (tryKw("using")) {
          td = td.copy(using = Some(parseUsingExpr()))
          done = true
        } else typeWords += ident()
      }
      val tw = typeWords.result()
      if (tw.nonEmpty) td = td.copy(typeName = Some(tw.mkString(" ")))
      out += td
      more = trySym(',')
    }
    expectSym(')')
    out.result()
  }

  private def parseUsingExpr(): UsingExpr = {
    ws()
    tryDq() match {
      // double-quoted = constant column value (reference dq-string form)
      case Some(v) => ConstantStr(v)
      case None =>
        tryQuoted() match {
          // single-quoted = Spark SQL expression (native extension)
          case Some(sql) => SqlExpr(sql)
          case None =>
            if (in.startsWith("#", pos)) { pos += 1; Sexp(balancedParens()) }
            else if (peekSym('(')) Sexp(balancedParens())
            else Sexp(ident()) // bare transform-function/field name
        }
    }
  }

  // WITH options ----------------------------------------------------------

  /** (canonical name, has value). Longest sequences first. */
  private val optionTable: Seq[(Seq[String], String)] = Seq(
    Seq("skip", "header") -> "int",
    Seq("fields", "optionally", "enclosed", "by") -> "char",
    Seq("fields", "enclosed", "by") -> "char",
    Seq("fields", "terminated", "by") -> "char",
    Seq("fields", "escaped", "by") -> "escape",
    Seq("fields", "not", "enclosed") -> "flag",
    Seq("lines", "terminated", "by") -> "char",
    Seq("csv", "escape", "mode", "following") -> "flag",
    Seq("csv", "escape", "mode", "quote") -> "flag",
    Seq("csv", "header") -> "flag",
    Seq("fixed", "header") -> "flag",
    Seq("keep", "unquoted", "blanks") -> "flag",
    Seq("trim", "unquoted", "blanks") -> "flag",
    Seq("truncate") -> "flag",
    Seq("disable", "no", "triggers") -> "flag",
    Seq("disable", "triggers") -> "flag",
    Seq("no", "truncate") -> "flag",
    Seq("drop", "no", "indexes") -> "flag",
    Seq("drop", "indexes") -> "flag",
    Seq("create", "no", "tables") -> "flag",
    Seq("create", "tables") -> "flag",
    Seq("create", "table") -> "flag",
    Seq("create", "no", "indexes") -> "flag",
    Seq("create", "indexes") -> "flag",
    Seq("no", "foreign", "keys") -> "flag",
    Seq("include", "no", "drop") -> "flag",
    Seq("include", "drop") -> "flag",
    Seq("batch", "rows") -> "int",
    Seq("batch", "size") -> "size",
    Seq("batch", "concurrency") -> "int",
    Seq("prefetch", "rows") -> "int",
    Seq("rows", "per", "range") -> "int",
    Seq("chunk", "size") -> "size",
    Seq("workers") -> "int",
    Seq("concurrency") -> "int",
    Seq("max", "parallel", "create", "index") -> "int",
    Seq("on", "error", "stop") -> "flag",
    Seq("on", "error", "resume", "next") -> "flag",
    // extension beyond the reference's grammar (grammar.clj:239-248
    // slot): opt-in exactly-once delivery via per-attempt stage tables
    // + one atomic publish ([[graft.sinks.ExactlyOnce]])
    Seq("exactly", "once") -> "flag",
    // accepted for command files written for graft's retired COPY
    // BINARY sink (`copy binary` or `copy binary auto`); the Runner
    // notes it per table and loads through COPY TEXT
    Seq("copy", "binary") -> "binmode",
    Seq("multiple", "readers", "per", "thread") -> "flag",
    Seq("single", "reader") -> "flag",
    Seq("quote", "identifiers") -> "flag",
    Seq("downcase", "identifiers") -> "flag",
    Seq("snake_case", "identifiers") -> "flag",
    Seq("data", "only") -> "flag",
    Seq("schema", "only") -> "flag",
    Seq("foreign", "keys") -> "flag",
    Seq("reset", "no", "sequences") -> "flag",
    Seq("reset", "sequences") -> "flag",
    Seq("drop", "schema") -> "flag",
    Seq("reindex") -> "flag",
    Seq("preserve", "index", "names") -> "flag",
    Seq("uniquify", "index", "names") -> "flag",
    Seq("date", "format") -> "string",
    Seq("timezone") -> "string",
    Seq("null", "if") -> "string",
    Seq("delimiter") -> "char",
    Seq("null") -> "string",
    Seq("encoding") -> "string")

  private def parseWithOptions(): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var more = true
    while (more) {
      ws()
      val matched = optionTable.find { case (kws, _) => tryKws(kws: _*) }
      matched match {
        case Some((kws, kind)) =>
          val key = kws.mkString(" ")
          kind match {
            case "flag" => out += key -> "true"
            case "binmode" =>
              out += key -> (if (tryKw("auto")) "auto" else "true")
            case "int" => trySym('='); out += key -> integer().toString
            case "size" =>
              trySym('=')
              val n = integer()
              val unit =
                if (tryKw("GB")) 1024L * 1024 * 1024
                else if (tryKw("MB")) 1024L * 1024
                else if (tryKw("kB") || tryKw("KB")) 1024L
                else if (tryKw("B")) 1L
                else 1L
              out += key -> (n * unit).toString
            case "char" =>
              trySym('=')
              val v = tryQuoted().getOrElse(fail("expected quoted char"))
              out += key -> unescapeChar(v).toString
            case "escape" =>
              trySym('=')
              if (tryKw("backslash-quote")) out += key -> "\\"
              else if (tryKw("double-quote")) out += key -> "\""
              else out += key -> unescapeChar(quoted()).toString
            case "string" =>
              trySym('=')
              out += key -> tryQuoted().getOrElse(ident())
          }
        case None => fail("unknown WITH option")
      }
      more = trySym(',')
    }
    out.result()
  }

  // SET / DO / CAST -------------------------------------------------------

  /** `SET [PostgreSQL|MySQL PARAMETERS] name to 'value' | name =
    * 'value'` — the boolean is TRUE for the MySQL variant, whose
    * variables are SOURCE-session state (they must never reach a PG
    * connection as GUCs: `SET net_read_timeout` would abort every PG
    * session setup). */
  private def parseSetParams(): (Seq[(String, String)], String) = {
    val _ = tryKws("PostgreSQL", "PARAMETERS")
    val variant =
      if (tryKws("MySQL", "PARAMETERS")) "mysql"
      else if (tryKws("MSSQL", "PARAMETERS")) "mssql"
      else "pg"
    val out = Seq.newBuilder[(String, String)]
    var more = true
    while (more) {
      val name = ident()
      if (!tryKw("to")) trySym('=')
      out += name -> quoted()
      more = trySym(',')
    }
    (out.result(), variant)
  }

  private def addSetParams(cmd0: Ast.LoadCommand): Ast.LoadCommand = {
    val (params, variant) = parseSetParams()
    variant match {
      case "mysql" => cmd0.copy(mysqlParams = cmd0.mysqlParams ++ params)
      case "mssql" => cmd0.copy(mssqlParams = cmd0.mssqlParams ++ params)
      case _ => cmd0.copy(setParams = cmd0.setParams ++ params)
    }
  }

  private def parseDoBlocks(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var more = true
    while (more) { out += dollarQuoted(); more = trySym(',') }
    out.result()
  }

  /** `(DO $$…$$[, $$…$$]* | EXECUTE 'file.sql')+` — the reference's
    * sql-code-block alternatives (command-sql-block.lisp:19-64):
    * EXECUTE reads the file's ';'-separated statements at parse time,
    * resolved against the command file's directory, exactly like
    * read-queries merges against *cwd*. */
  private def parseSqlBlocks(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var any = false
    var more = true
    while (more) {
      if (tryKw("DO")) { out ++= parseDoBlocks(); any = true }
      else if (tryKw("EXECUTE")) {
        out ++= readSqlFile(quoted()); any = true
      } else more = false
    }
    if (!any) fail("expected DO or EXECUTE")
    out.result()
  }

  /** Split a .sql file into statements: ';' terminates, except inside
    * single-quoted strings, $$ blocks, `--` line comments and
    * (non-nested) slash-star comments (pgloader.sql read-queries). */
  private def readSqlFile(path: String): Seq[String] = {
    val f = new java.io.File(path)
    val resolved = if (f.isAbsolute) f else new java.io.File(baseDir, path)
    val text = new String(
      java.nio.file.Files.readAllBytes(resolved.toPath), "UTF-8")
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inStr = false
    var inDollar = false
    var inLineCmt = false
    var inBlockCmt = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inLineCmt) { cur += c; if (c == '\n') inLineCmt = false }
      else if (inBlockCmt) {
        cur += c
        if (c == '*' && i + 1 < text.length && text.charAt(i + 1) == '/') {
          cur += '/'; i += 1; inBlockCmt = false
        }
      } else if (inStr) { cur += c; if (c == '\'') inStr = false }
      else if (inDollar) {
        cur += c
        if (c == '$' && i + 1 < text.length && text.charAt(i + 1) == '$') {
          cur += '$'; i += 1; inDollar = false
        }
      } else c match {
        case '\'' => cur += c; inStr = true
        case '$' if i + 1 < text.length && text.charAt(i + 1) == '$' =>
          cur ++= "$$"; i += 1; inDollar = true
        case '-' if i + 1 < text.length && text.charAt(i + 1) == '-' =>
          cur ++= "--"; i += 1; inLineCmt = true
        case '/' if i + 1 < text.length && text.charAt(i + 1) == '*' =>
          cur ++= "/*"; i += 1; inBlockCmt = true
        case ';' =>
          val stmt = cur.toString.trim
          if (stmt.nonEmpty) out += (stmt + ";")
          cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    val tail = cur.toString.trim
    if (tail.nonEmpty) out += (tail + ";")
    out.result()
  }

  private def parseCastRules(): Seq[CastRule] = {
    val out = Seq.newBuilder[CastRule]
    var more = true
    while (more) { out += parseCastRule(); more = trySym(',') }
    out.result()
  }

  /** `type X when (< precision 10) to Y drop typemod using fn` or
    * `column t.c to Y …` (grammar.clj:250-283). */
  private def parseCastRule(): CastRule = {
    var src = RuleSource()
    if (tryKw("type")) {
      val tn = castTypeName()
      src = src.copy(typeName = Some(tn))
      if (tryKw("when")) {
        var moreGuards = true
        while (moreGuards) {
          if (tryKw("unsigned")) src = src.copy(signed = Some(false))
          else if (tryKw("signed")) src = src.copy(signed = Some(true))
          else if (tryKw("default")) {
            val v = tryQuoted().orElse(tryDq()).getOrElse(castTypeName())
            src = src.copy(default = Some(v))
          } else if (peekSym('(')) {
            src = src.copy(typemodPred = Some(parseWhenExpr(balancedParens())))
          } else fail("unknown when-guard")
          moreGuards = tryKw("and") && {
            if (tryKws("not", "null")) {
              src = src.copy(notNull = Some(true)); tryKw("and")
            } else true
          }
        }
      }
      if (tryKws("with", "extra", "on", "update", "current", "timestamp"))
        src = src.copy(onUpdateCurrentTimestamp = Some(true))
    } else if (tryKw("column")) {
      val parts = Seq.newBuilder[String]
      parts += ident()
      while (trySym('.')) parts += ident()
      val ps = parts.result()
      val (tbl, cname) = ps match {
        case Seq(c) => ("", c)
        case Seq(t1, c) => (t1, c)
        case Seq(_, t1, c) => (t1, c) // schema ignored in matching
        case _ => fail("bad column reference")
      }
      src = src.copy(column = Some((tbl, cname)))
    } else fail("expected 'type' or 'column'")

    var target: Option[RuleTarget] = None
    var using: Option[String] = None
    if (tryKw("to")) {
      val tn = tryDq().getOrElse(castTypeName())
      target = Some(RuleTarget(tn, StringType))
    }
    var moreOpts = true
    while (moreOpts) {
      if (tryKws("drop", "not", "null"))
        target = target.map(_.copy(dropNotNull = true))
      else if (tryKws("drop", "default"))
        target = target.map(_.copy(dropDefault = true))
      else if (tryKws("drop", "typemod"))
        target = target.map(_.copy(keepTypemod = false))
      else if (tryKws("keep", "typemod"))
        target = target.map(_.copy(keepTypemod = true))
      else if (tryKws("set", "not", "null"))
        target = target.map(_.copy(setNotNull = true))
      else if (tryKws("keep", "not", "null")) ()
      else if (tryKws("drop", "extra")) ()
      else if (tryKw("using")) {
        ws()
        using =
          if (peekSym('(')) Some(lambdaToComposition(balancedParens()))
          else Some(ident())
      }
      else moreOpts = false
    }
    CastRule(src, target, using)
  }

  /** `(lambda (v) (f (g v)))` with f/g from the transform registry →
    * composition spec `"f|g"` (outermost first), resolved by the cast
    * engine. The reference evals arbitrary Lisp here; the supported
    * surface is nested applications of the named transforms. */
  private def lambdaToComposition(raw: String): String = {
    val toks = raw.replace("(", " ( ").replace(")", " ) ")
      .split("\\s+").filter(_.nonEmpty).toList
    toks match {
      case "(" :: "lambda" :: "(" :: v :: ")" :: rest =>
        val names = Seq.newBuilder[String]
        var cur = rest.dropRight(1) // outer ')'
        var ok = true
        while (ok && cur.nonEmpty) cur match {
          case "(" :: fn :: tail =>
            names += fn
            cur = tail
          case t :: Nil if t == v => cur = Nil
          case t :: tail if t == ")" || t == v => cur = tail
          case _ => ok = false
        }
        if (!ok) throw new ParseException(
          s"unsupported USING lambda: $raw", pos)
        names.result().mkString("|")
      case _ => throw new ParseException(
        s"unsupported USING form: $raw", pos)
    }
  }

  private def castTypeName(): String = {
    val words = Seq.newBuilder[String]
    words += ident()
    var more = true
    while (more) {
      val m = pos
      ws()
      val next =
        if (pos < in.length && (in.charAt(pos).isLetter)) Some(ident())
        else None
      next match {
        case Some(w) if !reservedAfterType(w.toLowerCase) => words += w
        case Some(_) => pos = m; more = false
        case None => more = false
      }
    }
    words.result().mkString(" ")
  }

  private def reservedAfterType(w: String): Boolean =
    Set("when", "to", "drop", "keep", "set", "using", "with", "column",
      "type", "before", "after", "cast", "alter", "including", "excluding",
      "materialize", "distribute", "decoding", "load", "having", "target",
      "into", "from").contains(w)

  /** `(< precision 10)` / `(> scale 0)` / `(= precision 1)` →  predicate
    * over (precision, scale). */
  private def parseWhenExpr(
      raw: String): ((Int, Option[Int])) => Boolean = {
    val toks = raw.stripPrefix("(").stripSuffix(")").trim
      .split("\\s+").toSeq
    def operand(s: String): ((Int, Option[Int])) => Long = s.toLowerCase match {
      case "precision" => tm => tm._1.toLong
      case "scale" => tm => tm._2.getOrElse(0).toLong
      case n => _ => n.toLong
    }
    toks match {
      case Seq(op, a, b) =>
        val (fa, fb) = (operand(a), operand(b))
        op match {
          case "<" => tm => fa(tm) < fb(tm)
          case "<=" => tm => fa(tm) <= fb(tm)
          case ">" => tm => fa(tm) > fb(tm)
          case ">=" => tm => fa(tm) >= fb(tm)
          case "=" => tm => fa(tm) == fb(tm)
          case _ => throw new ParseException(s"unknown operator $op", pos)
        }
      case _ => throw new ParseException(s"bad when-expr: $raw", pos)
    }
  }

  // name patterns / filters ----------------------------------------------

  private def namePatternList(): Seq[NamePattern] = {
    val out = Seq.newBuilder[NamePattern]
    var more = true
    while (more) {
      ws()
      if (trySym('~')) {
        val (open, close) =
          if (trySym('/')) ('/', '/')
          else if (trySym('<')) ('<', '>')
          else fail("expected / or < after ~")
        val e = in.indexOf(close, pos)
        if (e < 0) fail(s"unterminated ~$open pattern")
        out += NamePattern(in.substring(pos, e), isRegex = true)
        pos = e + 1
      } else {
        val v = tryQuoted().getOrElse(ident())
        out += NamePattern(v, isRegex = false)
      }
      more = trySym(',')
    }
    out.result()
  }

  private def parseTableFilter(): TableFilter = {
    val pats = namePatternList()
    val schema =
      if (tryKws("in", "schema")) Some(tryQuoted().getOrElse(ident()))
      else None
    TableFilter(pats, schema)
  }

  // load-type bodies ------------------------------------------------------

  private def parseFileLoad(loadType: String): LoadCommand = {
    expectKw("FROM")
    var cmd = LoadCommand(loadType, source = Some(parseSource(loadType)))
    if (tryKws("with", "encoding"))
      cmd = cmd.copy(encoding = Some(tryQuoted().getOrElse(ident())))
    ws()
    if (peekSym('('))
      cmd = cmd.copy(fields = parseFieldList(loadType == "fixed"))
    if (tryKws("having", "fields"))
      cmd = cmd.copy(fields = parseFieldList(loadType == "fixed"))
    expectKw("INTO")
    cmd = cmd.copy(targetUri = Some(tryQuoted().getOrElse(uriToken())))
    // `uri?table` / `uri?schema.table` names the target inline
    // (command-db-uri.lisp pgsql-uri table-name slot). The suffix is
    // STRIPPED from the uri — left in place it would be parsed as a
    // bogus connection parameter (postgresql://…?tbl).
    cmd.targetUri.foreach { u =>
      val q = u.indexOf('?')
      if (q >= 0) {
        val t = u.substring(q + 1)
        if (t.nonEmpty && !t.contains('=')) {
          val (sch, tbl) = t.indexOf('.') match {
            case -1 => (None, t)
            case d => (Some(t.substring(0, d)), t.substring(d + 1))
          }
          cmd = cmd.copy(targetUri = Some(u.substring(0, q)),
            targetSchema = sch,
            targetTable = Some(tbl.stripPrefix("\"").stripSuffix("\"")))
        }
      }
    }
    // second INTO [TABLE] name / TARGET TABLE name
    if (tryKw("INTO")) {
      tryKw("TABLE")
      val (sch, tbl) = qualifiedName()
      cmd = cmd.copy(targetSchema = sch, targetTable = Some(tbl))
    }
    if (tryKws("target", "table")) {
      val (sch, tbl) = qualifiedName()
      cmd = cmd.copy(targetSchema = sch, targetTable = Some(tbl))
    }
    if (tryKws("target", "columns"))
      cmd = cmd.copy(targetColumns = parseTargetColumns())
    else {
      ws()
      if (peekSym('(')) cmd = cmd.copy(targetColumns = parseTargetColumns())
    }
    if (tryKw("WITH")) cmd = cmd.copy(options = parseWithOptions())
    // trailing clauses in any order (WITH may follow DO blocks too)
    var more = true
    while (more) {
      if (tryKw("SET")) cmd = addSetParams(cmd)
      else if (tryKws("BEFORE", "LOAD"))
        cmd = cmd.copy(beforeLoad = cmd.beforeLoad ++ parseSqlBlocks())
      else if (tryKws("AFTER", "LOAD"))
        cmd = cmd.copy(afterLoad = cmd.afterLoad ++ parseSqlBlocks())
      else if (tryKws("AFTER", "CREATE", "SCHEMA") ||
               tryKws("AFTER", "SCHEMA"))
        cmd = cmd.copy(afterSchema = cmd.afterSchema ++ parseSqlBlocks())
      else if (tryKw("FINALLY"))
        cmd = cmd.copy(finallyDo = cmd.finallyDo ++ parseSqlBlocks())
      else if (tryKws("having", "fields"))
        cmd = cmd.copy(fields = parseFieldList(loadType == "fixed"))
      else if (tryKw("CAST"))
        cmd = cmd.copy(castRules = cmd.castRules ++ parseCastRules())
      else if (tryKw("WITH"))
        cmd = cmd.copy(options = cmd.options ++ parseWithOptions())
      else if (tryKws("DECODING", "TABLE", "NAMES", "MATCHING")) {
        // per-name charset override — matched against the source file's
        // base name / target table at plan-build time
        val pats = namePatternList()
        expectKw("AS")
        val enc = tryQuoted().getOrElse(ident())
        cmd = cmd.copy(decodingAs = cmd.decodingAs ++ pats.map(_ -> enc))
      } else more = false
    }
    trySym(';')
    cmd
  }

  private def qualifiedName(): (Option[String], String) = {
    val first = ident()
    if (trySym('.')) (Some(first), ident()) else (None, first)
  }

  private def parseDatabaseLoad(): LoadCommand = {
    expectKw("FROM")
    val src = tryQuoted().getOrElse(rawToken())
    expectKw("INTO")
    val tgt = tryQuoted().getOrElse(rawToken())
    var cmd = LoadCommand("database", source = Some(Uri(src)),
      targetUri = Some(tgt))
    var more = true
    while (more) {
      if (tryKw("WITH")) cmd = cmd.copy(options = cmd.options ++ parseWithOptions())
      else if (tryKw("SET")) cmd = addSetParams(cmd)
      else if (tryKw("CAST")) cmd = cmd.copy(castRules = cmd.castRules ++ parseCastRules())
      else if (tryKws("BEFORE", "LOAD"))
        cmd = cmd.copy(beforeLoad = cmd.beforeLoad ++ parseSqlBlocks())
      else if (tryKws("AFTER", "LOAD"))
        cmd = cmd.copy(afterLoad = cmd.afterLoad ++ parseSqlBlocks())
      else if (tryKws("AFTER", "CREATE", "SCHEMA") ||
               tryKws("AFTER", "SCHEMA"))
        cmd = cmd.copy(afterSchema = cmd.afterSchema ++ parseSqlBlocks())
      else if (tryKw("FINALLY"))
        cmd = cmd.copy(finallyDo = cmd.finallyDo ++ parseSqlBlocks())
      else if (tryKws("INCLUDING", "ONLY", "TABLE", "NAMES")) {
        tryKw("MATCHING"); tryKw("LIKE")
        cmd = cmd.copy(includingOnly = cmd.includingOnly :+ parseTableFilter())
      } else if (tryKws("EXCLUDING", "TABLE", "NAMES")) {
        tryKw("MATCHING"); tryKw("LIKE")
        cmd = cmd.copy(excludingOnly = cmd.excludingOnly :+ parseTableFilter())
      } else if (tryKws("ALTER", "SCHEMA")) {
        val from = tryQuoted().getOrElse(ident())
        expectKw("RENAME"); expectKw("TO")
        val to = tryQuoted().getOrElse(ident())
        cmd = cmd.copy(alterSchema = cmd.alterSchema :+ (from -> to))
      } else if (tryKws("ALTER", "TABLE", "NAMES", "MATCHING")) {
        val pats = namePatternList()
        val action =
          if (tryKws("SET", "SCHEMA")) SetSchema(tryQuoted().getOrElse(ident()))
          else if (tryKws("RENAME", "TO")) RenameTo(tryQuoted().getOrElse(ident()))
          else if (tryKws("SET", "TABLESPACE"))
            SetTablespace(tryQuoted().getOrElse(ident()))
          else if (tryKw("SET")) SetParams(balancedParens())
          else fail("unknown ALTER TABLE action")
        cmd = cmd.copy(alterTable = cmd.alterTable :+ AlterTableRule(pats, action))
      } else if (tryKws("MATERIALIZE", "ALL", "VIEWS")) {
        cmd = cmd.copy(materializeAllViews = true)
      } else if (tryKws("MATERIALIZE", "VIEWS")) {
        val vs = Seq.newBuilder[MatView]
        var m2 = true
        while (m2) {
          val n = ident()
          val d = if (tryKw("as")) Some(dollarQuoted()) else None
          vs += MatView(n, d)
          m2 = trySym(',')
        }
        cmd = cmd.copy(materializeViews = cmd.materializeViews ++ vs.result())
      } else if (tryKw("DISTRIBUTE")) {
        val tbl = ident()
        val rule =
          if (tryKws("AS", "REFERENCE", "TABLE")) DistributeReference(tbl)
          else {
            expectKw("USING")
            val c = ident()
            val from =
              if (tryKw("FROM")) {
                val fs = Seq.newBuilder[String]
                fs += ident()
                while (trySym(',')) fs += ident()
                fs.result()
              } else Nil
            DistributeUsing(tbl, c, from)
          }
        cmd = cmd.copy(distribute = cmd.distribute :+ rule)
      } else if (tryKws("DECODING", "TABLE", "NAMES", "MATCHING")) {
        val pats = namePatternList()
        expectKw("AS")
        val enc = tryQuoted().getOrElse(ident())
        cmd = cmd.copy(decodingAs = cmd.decodingAs ++ pats.map(_ -> enc))
      } else more = false
    }
    trySym(';')
    cmd
  }

  private def parseArchiveLoad(): LoadCommand = {
    expectKw("FROM")
    val src = parseSource("archive")
    var cmd = LoadCommand("archive", source = Some(src))
    if (tryKw("INTO"))
      cmd = cmd.copy(targetUri = Some(tryQuoted().getOrElse(rawToken())))
    var more = true
    while (more) {
      if (tryKws("BEFORE", "LOAD"))
        cmd = cmd.copy(beforeLoad = cmd.beforeLoad ++ parseSqlBlocks())
      else if (tryKws("AFTER", "LOAD"))
        cmd = cmd.copy(afterLoad = cmd.afterLoad ++ parseSqlBlocks())
      else {
        val m = pos
        if (tryKw("LOAD")) {
          pos = m
          cmd = cmd.copy(subCommands = cmd.subCommands :+ parseCommand())
        } else more = false
      }
    }
    trySym(';')
    cmd
  }
}
