package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.dsl.Ast._
import graft.operators.ProjectFields
import graft.operators.ProjectFields.{FieldSpec, NullIf, TargetColumn, TrimMode}
import graft.sources.{CopyText, CsvDialect, CsvSource, FixedWidth, SkipLines,
  TaggedLines}
import graft.functions.Transforms

/** LoadCommand → lazy DataFrame plan. The v3 reference compiles each
  * command to Lisp code (api.lisp:175-197); here the "compilation" is
  * building the declarative DataFrame chain — scan → project/transform —
  * and letting Catalyst plan it. Sinks/DDL are the orchestration layer's
  * job ([[graft.catalog]]); this builder covers the dataflow.
  */
object PlanBuilder {

  /** Resolve the source into the path(s) a file source reads
    * (comma-joined for multi-file globs, which
    * [[graft.sources.SkipLines.enumerateFiles]] splits in order). */
  def resolvePath(spark: SparkSession, src: Source,
                  baseDir: String): String = src match {
    case FilePath(p) =>
      if (new java.io.File(p).isAbsolute) p else s"$baseDir/$p"
    case Glob(pattern, dir) =>
      val d = if (new java.io.File(dir).isAbsolute) dir else s"$baseDir/$dir"
      val re = pattern.r
      val files = Option(new java.io.File(d).listFiles()).getOrElse(
        throw new IllegalArgumentException(s"no such directory: $d"))
        .filter(f => f.isFile && re.findFirstIn(f.getName).nonEmpty)
        .map(_.getAbsolutePath).sorted
      if (files.isEmpty)
        throw new IllegalArgumentException(s"no files match ~/$pattern/ in $d")
      files.mkString(",")
    case Http(u) if u.toLowerCase.startsWith("file://") =>
      u.substring("file://".length) // parser matched case-insensitively
    case Http(u) =>
      // download once to a temp file, then read like any local file —
      // the reference fetches http sources the same way before loading
      // (archive.lisp http-fetch-file; core.clj:328-399)
      val client = java.net.http.HttpClient.newBuilder()
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
        .build()
      val name = u.substring(u.lastIndexOf('/') + 1)
      val suffix = if (name.contains('.'))
        name.substring(name.lastIndexOf('.')) else ".dat"
      val tmp = java.nio.file.Files.createTempFile("graft-http", suffix)
      tmp.toFile.deleteOnExit()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(u)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofFile(tmp,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING))
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(
          s"GET $u failed with HTTP ${resp.statusCode()}")
      tmp.toAbsolutePath.toString
    case other =>
      throw new UnsupportedOperationException(s"source not wired: $other")
  }

  /** Build the dataflow for a file-based load command: the good rows
    * of [[dataflow]]'s frame. `inlineData` is the payload following the
    * command text for `FROM inline` (Parser.parseWithInline). */
  def build(spark: SparkSession, cmd: LoadCommand,
            baseDir: String = ".",
            inlineData: Option[String] = None): DataFrame =
    TaggedLines.clean(dataflow(spark, cmd, baseDir, inlineData).frame)

  /** A DBF or IXF column as one command loads it, worked out once: the
    * descriptor's spelling as stored (what `WITH create table` and the
    * COPY column list case) and the PG type the command's CAST rules
    * give it. */
  final case class FileColumn(raw: String, pgType: String)

  /** A file command's dataflow: its frame before [[build]]'s clean
    * filter, and the file's own columns for DBF and IXF (empty for the
    * line formats, whose names the command writes). Line formats (CSV,
    * COPY, fixed-width) yield a [[TaggedLines]] frame whose raw-line
    * column carries each line that failed to decode or parse, so the
    * loader counts and files parse rejects during the load's own scan.
    * DBF and IXF decode per field with charset fallback and carry no
    * tag. `extracted` is the directory a zipped DBF source expanded
    * into: the frame reads it lazily, so the caller deletes it once
    * the load has run. */
  final case class Dataflow(frame: DataFrame, fileColumns: Seq[FileColumn],
                            extracted: Option[java.io.File] = None)

  /** The [[Dataflow]] of a file-based load command. */
  def dataflow(spark: SparkSession, cmd: LoadCommand,
               baseDir: String = ".",
               inlineData: Option[String] = None): Dataflow = {
    val src = cmd.source.getOrElse(
      throw new IllegalArgumentException("command has no source"))
    val path = src match {
      case InlineData =>
        val data = inlineData.getOrElse(throw new IllegalArgumentException(
          "FROM inline but no trailing data — use Parser.parseWithInline"))
        val f = java.nio.file.Files.createTempFile("graft-inline", ".dat")
        f.toFile.deleteOnExit()
        java.nio.file.Files.writeString(f, data)
        f.toAbsolutePath.toString
      case Stdin =>
        // drain stdin once to a temp file, then read like any file
        // (core.clj:109-113 stdin handling)
        val f = java.nio.file.Files.createTempFile("graft-stdin", ".dat")
        f.toFile.deleteOnExit()
        java.nio.file.Files.copy(System.in, f,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        f.toAbsolutePath.toString
      case other => resolvePath(spark, other, baseDir)
    }
    // a zipped DBF source loads the archive's .dbf members (v4 fetches
    // http://…-dbf.zip sources this way — tests/dbf/dbf-zip; the sibling
    // .dbt/.fpt memo lands next to them, so memo resolution still works)
    val extracted =
      if (cmd.loadType == "dbf" && path.toLowerCase.endsWith(".zip"))
        Some(graft.sources.Archive.expand(path))
      else None
    // the caller deletes the extracted directory once it holds the
    // Dataflow; a scan that throws first deletes it here
    try {
      val (raw, fileColumns) = cmd.loadType match {
        case "csv" => (readCsv(spark, cmd, path), Nil)
        case "fixed" => (readFixed(spark, cmd, path), Nil)
        case "copy" => (readCopy(spark, cmd, path), Nil)
        case "dbf" | "ixf" => readSelfDescribing(spark, cmd,
          extracted.fold(path)(
            graft.sources.Archive.dbfMembers(_).mkString(",")))
        case t => throw new UnsupportedOperationException(
          s"load type '$t' is not a file dataflow")
      }
      Dataflow(project(raw, cmd), fileColumns, extracted)
    } catch {
      case e: Throwable =>
        extracted.foreach(d => graft.sources.Archive.deleteTree(d.getPath))
        throw e
    }
  }

  /** DBF and IXF: one [[graft.sources.ScanPlan]] over the files, and one
    * cast per column. The cast's PG type feeds the DDL; its transform
    * layers over the format's default (the db3 family for DBF: trim
    * char padding, numeric cleanup, YYYYMMDD→ISO dates, T/F→t/f, like
    * the reference's db3-cast-rules) in the frame. Rules match the
    * PG-mapped type, as v4's field->col feeds matches-rule?
    * (dbf.clj:41-46), so `to integer` over a NUMERIC dbf field gets the
    * implicit decimal-truncating using (cast.clj implicit-using;
    * dbf-memo's doctype). */
  private def readSelfDescribing(spark: SparkSession, cmd: LoadCommand,
                                 path: String)
      : (DataFrame, Seq[FileColumn]) = {
    import graft.sources.{DbfSource, IxfSource}
    // (raw spelling, folded name, PG type, default transform) per column
    val (described, files) = cmd.loadType match {
      case "dbf" =>
        val (fields, plan) = DbfSource.scan(spark, path,
          effectiveEncoding(cmd, _, "ISO-8859-1"))
        (fields.map(f => (f.rawOrName, f.name, DbfSource.pgType(f),
          DbfSource.defaultTransform(f))), plan.frame(spark))
      case _ =>
        val (cols, plan) = IxfSource.scan(spark, path)
        (cols.map(c => (c.rawOrName, c.name, IxfSource.pgType(c),
          identity[Column] _)), plan.frame(spark))
    }
    val tbl = cmd.targetTable.getOrElse("data")
    val cast = described.map { case (raw, name, pgType, default) =>
      val r = graft.casting.CastEngine.cast(
        graft.casting.SourceColumn(tbl, name, pgType), cmd.castRules, Nil)
      val v = default(org.apache.spark.sql.functions.col(s"`$name`"))
      (FileColumn(raw, r.pgType), r.transform.fold(v)(_(v)).as(name))
    }
    (files.select(cast.map(_._2): _*), cast.map(_._1))
  }

  /** `DECODING TABLE NAMES MATCHING ~/re/ AS charset` (Parser:792;
    * reference src/sources/mysql/mysql.lisp:219-237 applies per-name
    * charsets where names/files arrive in a non-default encoding): the
    * first rule whose pattern matches THIS file's base name — or the
    * command's target table — overrides the command-level ENCODING. */
  private[dsl] def effectiveEncoding(cmd: LoadCommand, path: String,
                                     default: String): String = {
    val n = new java.io.File(path).getName
    val dot = n.lastIndexOf('.')
    val base = if (dot > 0) n.substring(0, dot) else n
    cmd.decodingAs.collectFirst {
      case (pat, cs) if pat.matches(base) ||
        cmd.targetTable.exists(pat.matches) => cs
    }.getOrElse(cmd.encoding.getOrElse(default))
  }

  private def fieldNames(cmd: LoadCommand): Seq[String] =
    if (cmd.fields.nonEmpty) cmd.fields.map(_.name)
    else cmd.targetColumns.map(_.name)

  /** The CsvDialect a command's WITH options resolve to — public so
    * callers outside the DSL (tests, ad-hoc tools) derive the SAME
    * dialect the `.load` execution path uses instead of re-deriving
    * option logic by hand. */
  def csvDialect(cmd: LoadCommand, enc: String): CsvDialect = CsvDialect(
      separator = cmd.option("fields terminated by")
        .map(_.charAt(0)).getOrElse(','),
      // `fields not enclosed` (csv-json.load): NUL quote disables
      // quote processing entirely in the parser
      quote =
        if (cmd.boolOption("fields not enclosed")) '\u0000'
        else cmd.option("fields enclosed by")
          .orElse(cmd.option("fields optionally enclosed by"))
          .map(_.charAt(0)).getOrElse('"'),
      // `csv escape mode following` (escape-mode,
      // command-csv.lisp:82-84) changes cl-csv's escape INTERPRETATION
      // (escape char + ANY following char), but the escape char itself
      // still defaults to the QUOTE char — so without `fields escaped
      // by '\'` the observable behavior on well-formed data equals
      // doubled-quote mode (the v4 csv-escape-mode golden loads
      // `""hello""` as escaped quotes UNDER mode following). Only the
      // backslash escape char actually selects the parser's backslash
      // mode.
      doubledQuote = !cmd.option("fields escaped by").contains("\\"),
      skipLines = cmd.intOption("skip header").getOrElse(0),
      header = cmd.boolOption("csv header"),
      encoding = enc,
      // `lines terminated by` (option-lines-terminated-by,
      // command-csv.lisp:100): a custom RECORD terminator; the
      // newline spellings are the reader's default
      lineTerminator = cmd.option("lines terminated by")
        .filterNot(t => t == "\n" || t == "\r\n"),
      trimUnquoted =
        // trimming unquoted blanks IS the reference default; `keep
        // unquoted blanks` opts out ("trim unquoted blanks" merely
        // restates the default) — pgloader.1.md, csv-parser.lisp
        !cmd.boolOption("keep unquoted blanks"),
      // `workers` — the reference's concurrent COPY writers (default 4,
      // params.lisp *workers*) — maps to input splits here: each split
      // is one COPY connection. SkipLines only honors it on inputs big
      // enough for ≥4 MB per split, so fixtures stay single-task.
      splitHint = cmd.intOption("workers").getOrElse(4))

  /** A line-format command's files, listed once and read on the driver
    * ([[SkipLines.heads]]): each file's cut after its `skip header`
    * lines and `header` more, its charset (the first DECODING rule
    * matching it, else the command's ENCODING, else UTF-8), and the
    * first `sample` records after the skip. */
  private def lineFiles(spark: SparkSession, cmd: LoadCommand, path: String,
                        header: Int = 0, sample: Int = 0,
                        delimiter: Option[String] = None): SkipLines.Heads =
    SkipLines.heads(spark, path, cmd.intOption("skip header").getOrElse(0),
      header, f => CsvSource.canonicalEncoding(
        effectiveEncoding(cmd, f, "UTF-8")), delimiter, sample)

  private def readCsv(spark: SparkSession, cmd: LoadCommand,
                      path: String): DataFrame = {
    val d = csvDialect(cmd, cmd.encoding.getOrElse("UTF-8"))
    val names = fieldNames(cmd)
    val files = lineFiles(spark, cmd, path, if (d.header) 1 else 0,
      if (names.nonEmpty) 0 else 1000, d.lineTerminator)
    if (names.nonEmpty) CsvSource.tagged(spark, files, d, names)
    else {
      // no HAVING FIELDS and no target columns: the column count comes
      // from the head records after `skip header` — with explicit
      // dialect options they are parsed with them; otherwise the
      // dialect itself is guessed too (csv-guess.load;
      // csv-guess.lisp:40-77). Names are positional — the target
      // table's DDL provides the real ones server-side.
      val sample = files.records.filter(_.nonEmpty)
      // the guess only picks the separator, and the doubling when the
      // command names no escape — it guesses under the command's quote
      // (`fields not enclosed` included), and every other option (head
      // lines, trim, workers, record terminator) still comes from the
      // command (a guessed dialect must not silently load the header
      // as a data row)
      val d0 =
        if (cmd.option("fields terminated by").nonEmpty) d
        else CsvSource.guessDialect(sample, quote = d.quote).map(g =>
          d.copy(separator = g.separator,
            doubledQuote =
              if (cmd.option("fields escaped by").nonEmpty) d.doubledQuote
              else g.doubledQuote)).getOrElse(
          throw new IllegalArgumentException(
            s"cannot guess a CSV dialect for $path — add HAVING FIELDS " +
              "or WITH fields terminated by"))
      // the first record: the header line under `csv header`, else the
      // first data line
      val first = sample.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"$path has no line to count columns in — add HAVING FIELDS"))
      val fields = Option(CsvSource.parseFields(first, d0)).getOrElse(
        throw new IllegalArgumentException(s"the first record of $path " +
          "does not parse as CSV — add HAVING FIELDS")).toSeq
      // `csv header` without HAVING FIELDS: the header line NAMES the
      // columns (the reference matches them against the target catalog
      // by name) — so downstream COPY can send a column list instead of
      // relying on positional order. Without it they are col1..colN.
      val cols =
        if (d0.header) fields.map(Option(_).getOrElse(""))
        else fields.indices.map(i => s"col${i + 1}")
      CsvSource.tagged(spark, files, d0, cols)
    }
  }

  private def readFixed(spark: SparkSession, cmd: LoadCommand,
                        path: String): DataFrame = {
    val workers = cmd.intOption("workers").getOrElse(4)
    if (cmd.fields.isEmpty && cmd.boolOption("fixed header")) {
      // `WITH fixed header`, no field list: the first line after `skip
      // header` names the columns and its token start positions set the
      // widths — each column runs to the next token's start (fixed.clj
      // infer-fields-from-header; fixed-guess.lisp:29-74). Names fold
      // to lowercase and every guessed field right-trims, exactly the
      // reference's guessed-field defaults (trim-right, no
      // null-if-blanks) — tests/fixed/fixed-guess pins the behavior.
      import org.apache.spark.sql.functions.{col, rtrim}
      val files = lineFiles(spark, cmd, path, header = 1, sample = 1)
      val header = files.records.headOption
        .getOrElse(throw new IllegalArgumentException(
          s"fixed header: $path has no header line"))
      val specs = FixedWidth.guessSpecs(header)
        .map(s => s.copy(name = s.name.toLowerCase))
      val df = FixedWidth.tagged(spark, files, specs, workers)
      return specs.foldLeft(df)((d, s) =>
        d.withColumn(s.name, rtrim(col(s.name))))
    }
    val specs = cmd.fields.map { f =>
      FixedWidth.FieldPos(f.name,
        f.start.getOrElse(throw new IllegalArgumentException(
          s"fixed field ${f.name} lacks 'from'")),
        f.length.getOrElse(throw new IllegalArgumentException(
          s"fixed field ${f.name} lacks 'for'")))
    }
    FixedWidth.tagged(spark, lineFiles(spark, cmd, path), specs, workers)
  }

  private def readCopy(spark: SparkSession, cmd: LoadCommand,
                       path: String): DataFrame = {
    val delim = cmd.option("delimiter").map(_.charAt(0)).getOrElse('\t')
    val declared = fieldNames(cmd)
    val files = lineFiles(spark, cmd, path,
      sample = if (declared.nonEmpty) 0 else 1)
    // no field list and no target column list: the reference takes the
    // TARGET TABLE's columns from the PG catalog (copy.lisp); a file
    // dataflow has no catalog, so synthesize positional names (c1..cN)
    // from the first record's arity — an empty source still loads (zero
    // rows, one synthetic column)
    val names =
      if (declared.nonEmpty) declared
      else (1 to files.records.headOption
        .map(l => CopyText.parseLine(l, delim).length).getOrElse(1))
        .map(i => s"c$i")
    CopyText.tagged(spark, files, names, delimiter = delim,
      nullAs = cmd.option("null").getOrElse("\\N"),
      splitHint = cmd.intOption("workers").getOrElse(4))
  }

  /** HAVING FIELDS preprocessing + TARGET COLUMNS projection.
    * (`trim unquoted blanks` happens inside the CSV reader, where the
    * quoted/unquoted distinction still exists — not here.) */
  /** Target column → type, parsed from the command's own BEFORE LOAD DO
    * `CREATE TABLE` statement. The reference applies its WITH-level
    * `date format` to fields whose TARGET column is a date/time type,
    * known from the live PG catalog (project-fields.lisp:44-46
    * target-date/time-column-names); a file load here has no catalog
    * connection, but the reference's own convention ships the target
    * DDL inline in BEFORE LOAD DO — parse the column list from it.
    * Empty map when no CREATE TABLE for the target is present (the
    * global format then applies to nothing, as before). */
  private[graft] def ddlColumnTypes(cmd: LoadCommand): Map[String, String] = {
    val table = cmd.targetTable.getOrElse("data").toLowerCase
    val qualified = cmd.targetSchema.map(s =>
      s"$s.$table".toLowerCase)
    val re = ("(?is)create\\s+table\\s+(?:if\\s+not\\s+exists\\s+)?" +
      "(\"?[\\w $]+\"?)\\s*\\(").r
    cmd.beforeLoad.iterator.flatMap { sql =>
      re.findFirstMatchIn(sql) match {
        case Some(m)
          if {
            val n = m.group(1).replace("\"", "").trim.toLowerCase
            n == table || qualified.contains(n) ||
              n.endsWith("." + table)
          } =>
          // find the MATCHING close paren by depth-counting from the
          // opening '(' — the same statement string may carry trailing
          // SQL after the CREATE TABLE, or CHECK constraints with
          // nested parens, and a greedy regex capture to the LAST ')'
          // would swallow it into a garbage column-type map. Parens
          // inside single-quoted literals (DEFAULT ')', CHECK
          // expressions) must not count — skip quoted runs, with ''
          // as the in-literal escape
          val open = m.end - 1
          var depth0 = 0; var i0 = open; var close = -1
          var inQ0 = false
          while (i0 < sql.length && close < 0) {
            val ch = sql.charAt(i0)
            if (inQ0) { if (ch == '\'') inQ0 = false }
            else ch match {
              case '\'' => inQ0 = true
              case '(' => depth0 += 1
              case ')' => depth0 -= 1; if (depth0 == 0) close = i0
              case _ =>
            }
            i0 += 1
          }
          if (close < 0) Iterator.empty
          else {
          // split the column list on commas at paren depth 0 (types
          // like numeric(8,2) carry inner commas)
          val body = sql.substring(open + 1, close)
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          val sb = new StringBuilder
          var depth = 0
          var inQ = false
          body.foreach {
            case '\'' => inQ = !inQ; sb.append('\'')
            case '(' if !inQ => depth += 1; sb.append('(')
            case ')' if !inQ => depth -= 1; sb.append(')')
            case ',' if depth == 0 && !inQ => cols += sb.toString; sb.clear()
            case c => sb.append(c)
          }
          if (sb.nonEmpty) cols += sb.toString
          cols.iterator.map(_.trim).filter(_.nonEmpty).flatMap { c =>
            val (name, rest) =
              if (c.startsWith("\"")) {
                val e = c.indexOf('"', 1)
                (c.substring(1, e), c.substring(e + 1))
              } else {
                val e = c.indexWhere(_.isWhitespace)
                if (e < 0) (c, "") else (c.substring(0, e), c.substring(e))
              }
            val tpe = rest.trim.toLowerCase
            if (name.isEmpty || tpe.isEmpty) None
            else Some(name.toLowerCase -> tpe)
          }
          }
        case _ => Iterator.empty
      }
    }.toMap
  }

  private def isDateTimestampType(t: String): Boolean =
    t.startsWith("date") || t.startsWith("timestamp")
  private def isTimeType(t: String): Boolean =
    t.startsWith("time") && !t.startsWith("timestamp")

  private def project(df: DataFrame, cmd: LoadCommand): DataFrame = {
    val globalFmt = cmd.option("date format")
    val targetTypes =
      if (globalFmt.isDefined) ddlColumnTypes(cmd) else Map.empty[String, String]
    val specs = cmd.fields.map { f =>
      val tpe = targetTypes.get(f.name.toLowerCase)
      FieldSpec(f.name,
        nullIfs = f.nullIfs.map {
          case NullIfBlanks => NullIf.Blanks
          case NullIfLiteral(v) => NullIf.Value(v)
        } ++ cmd.option("null if").map(NullIf.Value).toSeq,
        trim =
          if (f.trimRight) TrimMode.Right
          else TrimMode.None,
        dateFormat = f.dateFormat.orElse(
          globalFmt.filter(_ => tpe.exists(t =>
            isDateTimestampType(t) || isTimeType(t)))),
        timeOnly = tpe.exists(isTimeType))
    }
    val fieldSet = cmd.fields.map(_.name).toSet
    val targets =
      if (cmd.targetColumns.nonEmpty)
        cmd.targetColumns.map(toTarget(_, fieldSet))
      else specs.map(s => TargetColumn(s.name))
    // a line reader's raw-line tag rides through the projection
    val tag =
      if (df.columns.contains(TaggedLines.Col))
        Seq(TargetColumn(TaggedLines.Col))
      else Nil
    if (specs.isEmpty && cmd.targetColumns.isEmpty) df
    else ProjectFields(df, specs, targets ++ tag)
  }

  private def toTarget(td: TargetColDef,
                       fieldNames: Set[String]): TargetColumn =
    td.using match {
    case None => TargetColumn(td.name)
    case Some(ConstantStr(v)) =>
      // a dq-string naming an existing FIELD is a quoted field reference
      // (csv-non-printable.load `c1 text using "Some-Field"`); any other
      // string is a constant column value (udc.load)
      // case-insensitive: the field list folds unquoted names to
      // lowercase at parse time (identCased), but the dq-string keeps
      // the user's spelling — match it against the folded set too
      if (fieldNames.contains(v)) TargetColumn(td.name, fromField = Some(v))
      else if (fieldNames.contains(v.toLowerCase))
        TargetColumn(td.name, fromField = Some(v.toLowerCase))
      else TargetColumn(td.name, constant = Some(v))
    case Some(SqlExpr(sql)) => TargetColumn(td.name, usingExpr = Some(sql))
    case Some(Sexp(raw)) =>
      // named transform function? (`using zero-dates-to-null` style)
      Transforms.registry.get(raw) match {
        case Some(fn) => TargetColumn(td.name, transform = Some(fn))
        case None =>
          // v4's clojure lambda spelling of a registry chain —
          // `using (fn [v] (pgloader.transforms/f v))` (the clojure
          // corpus' fixed.load) — applies to the target-named column,
          // like the positional source read the reference compiles
          SexpTranslator.lambdaChain(raw) match {
            case Some(names)
                if names.nonEmpty &&
                  names.forall(Transforms.registry.contains) =>
              val fns = names.map(Transforms.registry)
              return TargetColumn(td.name,
                transform =
                  Some(c => fns.foldRight(c)((fn, acc) => fn(acc))))
            case _ =>
          }
          // `(f (g field))` chains of registry transforms (fixed.load's
          // `c time using (time-with-no-separator c)` shape)
          SexpTranslator.applicationChain(raw) match {
            case Some((names, field))
                if names.forall(Transforms.registry.contains) =>
              val fns = names.map(Transforms.registry)
              TargetColumn(td.name,
                transform =
                  Some(c => fns.foldRight(c)((fn, acc) => fn(acc))),
                fromField = Some(field))
            case _ =>
              TargetColumn(td.name,
                usingExpr = Some(SexpTranslator.toSql(raw)))
          }
      }
  }
}

/** Translates the reference's USING s-expressions into Spark SQL
  * expression strings. The supported surface is the one exercised by the
  * reference's own test corpus (project-fields.lisp:144-183 compiles these
  * to row lambdas):
  *   - `(format nil "fmt" arg …)` with `~a` directives → concat
  *   - field names → column references
  *   - string literals → SQL literals
  * Anything else must be provided as a double-quoted Spark SQL expression.
  */
object SexpTranslator {

  def toSql(raw: String): String = {
    val toks = tokenize(raw.trim)
    render(parse(toks))
  }

  private sealed trait S
  private final case class Atom(v: String) extends S
  private final case class Str(v: String) extends S
  private final case class L(items: List[S]) extends S

  private def tokenize(s: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => out += "("; i += 1
        case ')' => out += ")"; i += 1
        case '"' =>
          val e = s.indexOf('"', i + 1)
          require(e >= 0, "unterminated string in s-expr")
          out += s.substring(i, e + 1); i = e + 1
        case _ =>
          val start = i
          while (i < s.length && !s.charAt(i).isWhitespace &&
                 s.charAt(i) != '(' && s.charAt(i) != ')') i += 1
          out += s.substring(start, i)
      }
    }
    out.result()
  }

  private def parse(toks: List[String]): S = {
    def go(ts: List[String]): (S, List[String]) = ts match {
      case "(" :: rest =>
        var items = List.newBuilder[S]
        var cur = rest
        while (cur.nonEmpty && cur.head != ")") {
          val (s, nxt) = go(cur)
          items += s
          cur = nxt
        }
        require(cur.nonEmpty, "unbalanced s-expr")
        (L(items.result()), cur.tail)
      case t :: rest if t.startsWith("\"") =>
        (Str(t.substring(1, t.length - 1)), rest)
      case t :: rest => (Atom(t), rest)
      case Nil => throw new IllegalArgumentException("empty s-expr")
    }
    go(toks)._1
  }

  /** v4's clojure lambda spelling of a registry-transform chain:
    * `(fn [v] (pgloader.transforms/f (g v)))` — the clojure corpus'
    * fixed.load shape. Returns the chain names outermost-first with
    * the pgloader.transforms/ namespace stripped, provided the
    * innermost reference is the lambda's own parameter. */
  def lambdaChain(raw: String): Option[Seq[String]] = {
    def walk(s: S, param: String, acc: Seq[String]): Option[Seq[String]] =
      s match {
        case Atom(x) if x == param && acc.nonEmpty => Some(acc)
        case L(Atom(f) :: arg :: Nil) =>
          walk(arg, param, acc :+ f.stripPrefix("pgloader.transforms/"))
        case _ => None
      }
    try parse(tokenize(raw.trim)) match {
      case L(Atom("fn") :: Atom(p) :: body :: Nil)
          if p.startsWith("[") && p.endsWith("]") =>
        walk(body, p.substring(1, p.length - 1), Nil)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `(f (g x))` single-argument application chains: Some((Seq(f, g), x))
    * when every head is a plain symbol and the innermost form is a bare
    * field reference. */
  def applicationChain(raw: String): Option[(Seq[String], String)] = {
    def walk(s: S, acc: Seq[String]): Option[(Seq[String], String)] =
      s match {
        case Atom(x) if acc.nonEmpty => Some((acc, x))
        case L(Atom(f) :: arg :: Nil) => walk(arg, acc :+ f)
        case _ => None
      }
    try walk(parse(tokenize(raw.trim)), Nil)
    catch { case _: Exception => None }
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def render(s: S): String = s match {
    case Atom(a) => a // field reference
    case Str(v) => sqlLit(v)
    // `(format nil "~{~a~^ ~}" (split-sequence #\Space f …))` — the
    // collapse-whitespace idiom from the reference's csv-using-sexp.load
    // (issue #965): split on spaces, drop empties, re-join with one
    // space ≡ trim + collapse runs of spaces.
    case L(Atom(f) :: Atom(nil0) :: Str("~{~a~^ ~}") ::
           L(Atom(ss) :: Atom("#\\Space") :: arg :: _) :: Nil)
        if f.equalsIgnoreCase("format") && nil0.equalsIgnoreCase("nil") &&
           ss.equalsIgnoreCase("split-sequence") =>
      s"trim(BOTH ' ' FROM regexp_replace(${render(arg)}, ' +', ' '))"
    case L(Atom(f) :: rest) if f.equalsIgnoreCase("format") =>
      rest match {
        case Atom(nil0) :: Str(fmt) :: args if nil0.equalsIgnoreCase("nil") =>
          val parts = fmt.split("~a", -1).toSeq
          require(parts.length == args.length + 1,
            s"format directive count mismatch in $fmt")
          val pieces = Seq.newBuilder[String]
          parts.zipWithIndex.foreach { case (p, i) =>
            if (p.nonEmpty) pieces += sqlLit(p)
            if (i < args.length) pieces += render(args(i))
          }
          s"concat(${pieces.result().mkString(", ")})"
        case _ => throw new IllegalArgumentException(
          s"unsupported format form: $s")
      }
    case L(Atom(f) :: rest) if f.equalsIgnoreCase("concat") =>
      s"concat(${rest.map(render).mkString(", ")})"
    // `(subseq s start [end])` — CL subsequence on a field
    // (allcols.load uses `(subseq c 0)` as an identity projection)
    case L(Atom(f) :: arg :: Atom(start) :: rest) if
        f.equalsIgnoreCase("subseq") && start.forall(_.isDigit) &&
        rest.forall { case Atom(e) => e.forall(_.isDigit); case _ => false } =>
      val from = start.toInt + 1 // CL 0-based -> SQL 1-based
      rest match {
        case Atom(end) :: Nil =>
          s"substring(${render(arg)}, $from, ${end.toInt - start.toInt})"
        case _ => s"substring(${render(arg)}, $from)"
      }
    // `(ip-range startIpNum endIpNum)` — the geolite idiom
    // (csv-before-after.load; transforms.lisp:239-246): the SQL twin of
    // Transforms.ipRange
    case L(Atom(f) :: a :: b :: Nil) if f.equalsIgnoreCase("ip-range") =>
      def ipSql(e: String): String = {
        val v = s"CAST($e AS BIGINT)"
        def oct(sh: Int) =
          if (sh == 0) s"($v & 255)" else s"(shiftright($v, $sh) & 255)"
        s"concat(${oct(24)}, '.', ${oct(16)}, '.', ${oct(8)}, '.', ${oct(0)})"
      }
      s"CASE WHEN ${render(a)} IS NULL OR ${render(b)} IS NULL THEN NULL " +
        s"ELSE concat(${ipSql(render(a))}, '-', ${ipSql(render(b))}) END"
    case L(Atom(f) :: rest)
        if f.equalsIgnoreCase("string-upcase") && rest.length == 1 =>
      s"upper(${render(rest.head)})"
    case L(Atom(f) :: rest)
        if f.equalsIgnoreCase("string-downcase") && rest.length == 1 =>
      s"lower(${render(rest.head)})"
    case other => throw new IllegalArgumentException(
      s"unsupported USING s-expression: $other — " +
        "use a double-quoted Spark SQL expression instead")
  }
}
