package graft.catalog

import org.apache.spark.sql.types.DataType
import graft.casting.{CastEngine, CastRule, SourceColumn}
import org.apache.spark.sql.Column

/** Driver-side catalog ADT — the reference's central IR
  * (src/utils/catalog.lisp:45-114). A plain Scala tree, NOT forced into
  * Spark's SessionCatalog: it emits transform `Column`s and target DDL
  * strings.
  *
  * A table carries BOTH the source shape (`fields`) and the target shape
  * (`columns`) — `cast` converts one to the other (catalog.lisp:371-388).
  */
final case class Catalog(name: String, schemas: Seq[Schema] = Nil,
                         /** PG extensions the target needs (CREATE
                           * EXTENSION IF NOT EXISTS, core.clj:227-265) —
                           * user-declared; [[Ddl.requiredExtensions]]
                           * infers more from the cast column types. */
                         extensions: Seq[String] = Nil,
                         /** user-defined SEQUENCE objects to recreate
                           * on the target (MSSQL sys.sequences,
                           * mssql-schema.lisp:172-194). */
                         sequences: Seq[SequenceDef] = Nil,
                         /** pg-source user-defined types (domains,
                           * composites, ranges, enums) referenced —
                           * directly or nested — by migrated columns;
                           * the Migrator recreates the post-cast
                           * NEEDED subset on the target before CREATE
                           * TABLE ([[CustomTypes.needed]]). */
                         customTypes: Seq[CustomType] = Nil,
                         /** the SOURCE session's effective schema
                           * search path (`current_schemas(false)` at
                           * introspection time, $user resolved
                           * server-side) — the resolution order for
                           * UNQUALIFIED type names in format_type
                           * output ([[CustomTypes.resolver]]); empty
                           * = fall back to the URI-user heuristic. */
                         searchPath: Seq[String] = Nil,
                         /** true when column defaults came from
                           * pg_get_expr (a PG source): they are already
                           * valid PG SQL and must NOT go through
                           * [[Ddl.formatDefault]]'s mysql/sqlite-shape
                           * normalization ('x'::text would re-quote). */
                         pgNativeDefaults: Boolean = false) {
  def allTables: Seq[Table] = schemas.flatMap(_.tables)

  def cast(userRules: Seq[CastRule], defaults: Seq[CastRule]): Catalog =
    copy(schemas = schemas.map(s =>
      s.copy(tables = s.tables.map(_.cast(userRules, defaults)))))
}

final case class Schema(
    name: String,
    sourceName: String = "",
    tables: Seq[Table] = Nil,
    views: Seq[Table] = Nil)

final case class Table(
    name: String,
    schema: String = "public",
    /** the schema the SOURCE reads by — captured before any target
      * rewrite touches `schema` (ALTER SCHEMA RENAME, SET SCHEMA,
      * identifier casing); empty = `schema` is still the source one. */
    sourceSchema: String = "",
    sourceName: String = "",
    comment: Option[String] = None,
    /** The table's size in its source's own unit, read once by the
      * source's catalog query: rows for MySQL, MSSQL and SQLite, heap
      * pages for PostgreSQL (a partitioned parent's is the sum over
      * its leaves). The Migrator copies one source's tables biggest
      * first by it, and the source's `scan` plans its splits by it. */
    size: Long = 0L,
    fields: Seq[SourceColumn] = Nil,     // SOURCE shape
    columns: Seq[ColumnDef] = Nil,       // TARGET shape (after cast)
    indexes: Seq[Index] = Nil,
    fkeys: Seq[FKey] = Nil,
    checks: Seq[CheckDef] = Nil,
    /** EXCLUDE constraints (pg_constraint contype 'x') — the full
      * pg_get_constraintdef rendering carried verbatim (name in
      * CheckDef.name, clause in CheckDef.expr incl. any NOT VALID);
      * emitted post-load like checks. */
    exclusions: Seq[CheckDef] = Nil,
    /** pg_class.relpersistence 'u' — recreate UNLOGGED. */
    unlogged: Boolean = false,
    /** PG source relkind 'p' — a partitioned PARENT. Parents own no
      * storage and have no ctid system column, so a read goes through
      * the leaf partitions (or one predicate-free stream), never a
      * `WHERE ctid >= …` scan (pgsql.clj:206-208 has the blind spot:
      * relpages-driven splits read a parent as one range). */
    partitioned: Boolean = false) {

  /** The schema qualifying SOURCE reads: [[sourceSchema]] when a
    * target rewrite has split it from [[schema]], else `schema`. */
  def sourceSchemaName: String =
    if (sourceSchema.nonEmpty) sourceSchema else schema

  /** field-list → column-list via the cast engine (catalog.lisp:371-388). */
  def cast(userRules: Seq[CastRule], defaults: Seq[CastRule]): Table =
    copy(columns = fields.map { f =>
      val r = CastEngine.cast(f, userRules, defaults)
      ColumnDef(f.name, r.pgType, r.sparkType, r.nullable, r.default,
        r.transform, comment = f.comment, generated = f.generated)
    })
}

final case class ColumnDef(
    name: String,
    pgType: String,
    sparkType: DataType,
    nullable: Boolean = true,
    default: Option[String] = None,
    transform: Option[Column => Column] = None,
    comment: Option[String] = None,
    /** generation expression of a GENERATED ALWAYS AS (…) STORED
      * column — emitted as generation DDL, excluded from COPY. */
    generated: Option[String] = None)

/** A CHECK constraint: sources that expose constraint names
  * (pg_constraint.conname, information_schema.check_constraints)
  * carry them so the target constraint restores under its original
  * name — auto-generated source names like `t_col_check` are still
  * names a user's tooling may reference. Nameless sources (SQLite
  * column-level checks) leave None and the Migrator synthesizes
  * `<table>_check_<i>` as before. */
final case class CheckDef(name: Option[String], expr: String,
                          /** pg_constraint.convalidated — a NOT VALID
                            * source constraint re-creates NOT VALID:
                            * re-validating on the target would FAIL the
                            * load whenever existing rows legitimately
                            * violate it (the reason it was NOT VALID). */
                          valid: Boolean = true)

final case class Index(
    name: String,
    table: String,
    primary: Boolean = false,
    unique: Boolean = false,
    columns: Seq[String] = Nil,
    filter: Option[String] = None,
    /** pg_get_indexdef rendering for EXPRESSION indexes (no plain
      * column list to rebuild from — the reference keeps the full
      * indexdef, pgsql-schema.lisp list-all-indexes). The emitter
      * rewrites the name and ON target to the cased spellings; the
      * expression text keeps the source's column spellings. */
    indexDef: Option[String] = None)

/** A user-defined sequence (sys.sequences shape; identity columns are
  * never in it — they map through serial/bigserial instead). */
final case class SequenceDef(
    schema: String,
    name: String,
    start: Long,
    increment: Long,
    minValue: Long,
    maxValue: Long,
    current: Option[Long] = None,
    cycling: Boolean = false,
    cache: Long = 0L)

final case class FKey(
    name: String,
    table: String,
    columns: Seq[String],
    foreignTable: String,
    foreignColumns: Seq[String],
    onUpdate: Option[String] = None,
    onDelete: Option[String] = None,
    /** schema of the REFERENCED table — the reference's
      * fkey-foreign-table is a full table object rendered
      * schema-qualified (catalog.lisp:91-93; pgsql-ddl.lisp:330);
      * empty = same schema as the owning table. */
    foreignSchema: String = "",
    /** constraint timing (catalog.lisp:92 deferrable /
      * initially-deferred; pg_constraint condeferrable/condeferred) —
      * lost timing silently changes transaction semantics on the
      * migrated schema. */
    deferrable: Boolean = false,
    initiallyDeferred: Boolean = false,
    /** pg_constraint.convalidated — see [[CheckDef.valid]]. */
    valid: Boolean = true) {
  /** The schema the REFERENCES clause resolves in. */
  def foreignSchemaOr(owning: String): String =
    if (foreignSchema.nonEmpty) foreignSchema else owning
}

/** One pg-source user-defined type, introspected with its
  * target-ready DDL body. `kind` is pg_type.typtype ('d' domain,
  * 'c' composite, 'r' range, 'e' enum); `body` is the pre-rendered
  * definition TAIL built server-side by format_type /
  * pg_get_constraintdef (e.g. `(a integer, b text)` for a composite,
  * `integer DEFAULT 1 NOT NULL CHECK ((VALUE > 0))` for a domain);
  * `refs` lists the `schema.name` keys of OTHER user-defined types
  * this one references (domain base, composite fields, range subtype)
  * — the topological-order input. */
final case class CustomType(
    schema: String,
    name: String,
    kind: String,
    body: String,
    refs: Seq[String] = Nil)

/** Recreate pg-source user-defined column types on the target — the
  * same completeness story enums got (SourceColumn.enumLabels), for
  * the families that can't ride in one column field: domains,
  * composites, ranges (+ their auto multiranges) and enums nested
  * inside them. The NEEDED subset is computed from the post-cast
  * catalog (a user `CAST type posint_src to int4` removes the
  * column's reference and the type is not created), closed over
  * `refs`, and emitted in dependency order. */
object CustomTypes {

  /** Strip a column's pgType down to its (schema?, name) reference:
    * optional `"quoted"` or bare segments, optional schema qualifier,
    * optional trailing `[]`s. Returns None for types that cannot
    * reference a user type (typemods like `numeric(10,2)` pass
    * through — a user type name never carries a typmod suffix in
    * format_type output). */
  private[graft] def typeRef(pgType: String)
      : Option[(Option[String], String)] = {
    var s = pgType.trim
    while (s.endsWith("[]")) s = s.stripSuffix("[]").trim
    def seg(in: String): Option[(String, String)] =
      if (in.startsWith("\"")) {
        // "quoted name" with "" doubling
        val sb = new java.lang.StringBuilder
        var i = 1
        while (i < in.length) {
          val c = in.charAt(i)
          if (c == '"') {
            if (i + 1 < in.length && in.charAt(i + 1) == '"') {
              sb.append('"'); i += 2
            } else return Some((sb.toString, in.substring(i + 1)))
          } else { sb.append(c); i += 1 }
        }
        None // unterminated quote
      } else {
        val end0 = in.indexOf('.')
        val end = if (end0 == -1) in.length else end0
        val n = in.substring(0, end)
        if (n.isEmpty || !n.forall(c =>
            c.isLetterOrDigit || c == '_' || c == '$')) None
        else Some((n, in.substring(end)))
      }
    seg(s) match {
      case Some((first, rest)) if rest.isEmpty => Some((None, first))
      case Some((first, rest)) if rest.startsWith(".") =>
        seg(rest.substring(1)) match {
          case Some((second, "")) => Some((Some(first), second))
          case _ => None
        }
      case _ => None
    }
  }

  /** pgType string → the source custom type it references, if any —
    * the shared resolution the NEEDED closure and the Migrator's
    * enum-column handling both use. format_type renders a type name
    * UNQUALIFIED when it is visible on the source search_path, so an
    * ambiguous unqualified name resolves in search-path order:
    * `cat.searchPath` when introspection captured it
    * (`current_schemas(false)` — $user already resolved server-side),
    * else the percent-DECODED URI user then public (the raw-URI
    * regex alone mis-resolved `user%20name`-style logins). */
  def resolver(cat: Catalog): String => Option[CustomType] = {
    if (cat.customTypes.isEmpty) return _ => None
    val byKey = cat.customTypes.map(ct =>
      s"${ct.schema}.${ct.name}" -> ct).toMap
    val byName = cat.customTypes.groupBy(_.name)
    val pathSchemas: Seq[String] =
      if (cat.searchPath.nonEmpty) cat.searchPath
      else {
        val userSchema: Option[String] =
          "^[a-zA-Z0-9+]+://([^:/@]+)(:[^@]*)?@".r
            .findFirstMatchIn(cat.name).map(m =>
              java.net.URLDecoder.decode(m.group(1), "UTF-8"))
        userSchema.toSeq :+ "public"
      }
    pgType => typeRef(pgType).flatMap {
      case (Some(sch), n) => byKey.get(s"$sch.$n")
      case (None, n) => byName.get(n) match {
        case Some(Seq(one)) => Some(one)
        case Some(many) =>
          pathSchemas.flatMap(s => many.find(_.schema == s)).headOption
        case None => None
      }
    }
  }

  /** The post-cast NEEDED subset of `cat.customTypes` in dependency
    * order (referenced types first): seeds from every remaining
    * column's pgType, closed over `refs`. */
  def needed(cat: Catalog): Seq[CustomType] = {
    if (cat.customTypes.isEmpty) return Nil
    val byKey = cat.customTypes.map(ct =>
      s"${ct.schema}.${ct.name}" -> ct).toMap
    val resolve = resolver(cat)
    val seeds = cat.allTables.flatMap(_.columns)
      .flatMap(c => resolve(c.pgType))
    // close over refs, then DFS post-order = dependencies first.
    // Multirange ALIAS rows (kind 'm') can seed and carry refs — a
    // column typed as the multirange must pull in its range — but
    // are dropped from the emission: CREATE TYPE … AS RANGE creates
    // the multirange too.
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val ordered = Seq.newBuilder[CustomType]
    def visit(ct: CustomType): Unit = {
      val key = s"${ct.schema}.${ct.name}"
      if (!seen.contains(key)) {
        seen += key
        ct.refs.flatMap(byKey.get).foreach(visit)
        ordered += ct
      }
    }
    seeds.foreach(visit)
    ordered.result().filterNot(_.kind == "m")
  }

  /** Exact-case quoted identifier — custom-type names and their
    * schemas come verbatim from pg_namespace/pg_type and the column
    * references render the same spelling, so no case folding. */
  def quoteIdent(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  private def q(ident: String): String = quoteIdent(ident)

  /** Schema-qualified quoted name; public stays unqualified (matching
    * format_type's search_path-relative column references). */
  def qname(ct: CustomType): String =
    if (ct.schema == "public" || ct.schema.isEmpty) q(ct.name)
    else s"${q(ct.schema)}.${q(ct.name)}"

  def dropSql(ct: CustomType): String =
    (if (ct.kind == "d") "DROP DOMAIN IF EXISTS "
     else "DROP TYPE IF EXISTS ") + qname(ct) + " CASCADE;"

  def createSql(ct: CustomType): String = ct.kind match {
    case "d" => s"CREATE DOMAIN ${qname(ct)} AS ${ct.body};"
    case "c" => s"CREATE TYPE ${qname(ct)} AS ${ct.body};"
    case "r" => s"CREATE TYPE ${qname(ct)} AS RANGE ${ct.body};"
    case "e" => s"CREATE TYPE ${qname(ct)} AS ENUM ${ct.body};"
    case k => throw new IllegalArgumentException(
      s"unknown custom type kind $k for ${ct.name}")
  }
}

/** Identifier-case handling + PG 63-byte truncation collision detection
  * (src/params.lisp:124 *identifier-case*; catalog.lisp:402-430).
  */
object Identifiers {
  sealed trait Case
  object Case {
    /** lowercase unless quoting is needed (default). */
    case object Downcase extends Case
    /** keep source case, always quote. */
    case object Quote extends Case
    /** CamelCase → snake_case. */
    case object SnakeCase extends Case
  }

  private val plainIdent = "^[a-z_][a-z0-9_$]*$".r

  /** The TARGET name for a source identifier under a casing mode.
    * Quote mode PRESERVES the name — the DDL/COPY emitters quote
    * anything [[needsQuoting]] flags (uppercase, specials, reserved),
    * so a preserved MixedCase name comes out quoted everywhere without
    * embedding quote characters in the catalog. */
  def apply(ident: String, mode: Case): String = mode match {
    case Case.Downcase  => ident.toLowerCase
    case Case.Quote     => ident
    case Case.SnakeCase =>
      // the reference's full pipeline (ddl/common.clj:340-365
      // snake-case-transform): camel splits (lower→Upper AND the end
      // of an acronym run, HTMLParser → html_parser), whitespace/
      // hyphen/$ runs → _, lowercase, collapse consecutive
      // underscores, strip leading/trailing ones, truncate (the
      // reference cuts at 63 chars; PG's real limit is 63 BYTES —
      // truncate63 applies the byte rule)
      val r = ident.replaceAll("([a-z0-9])([A-Z])", "$1_$2")
        .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
        .replaceAll("[\\s\\-$]+", "_").toLowerCase
        .replaceAll("_+", "_")
        .replaceAll("^_+|_+$", "")
      val t = truncate63(r)
      if (t.length != r.length)
        System.err.println(
          s"[graft] identifier truncated to 63 bytes: $r -> $t")
      t
  }

  /** PostgreSQL's RESERVED keywords (pg_get_keywords() category 'R' +
    * the can't-be-column 'T' entries) — a lowercase name like `order`
    * passes the character-class check yet still needs quotes. */
  private val pgReserved: Set[String] = Set(
    "all", "analyse", "analyze", "and", "any", "array", "as", "asc",
    "asymmetric", "authorization", "between", "binary", "both", "case",
    "cast", "check", "collate", "collation", "column", "concurrently",
    "constraint", "create", "cross", "current_catalog", "current_date",
    "current_role", "current_schema", "current_time",
    "current_timestamp", "current_user", "default", "deferrable",
    "desc", "distinct", "do", "else", "end", "except", "false", "fetch",
    "for", "foreign", "freeze", "from", "full", "grant", "group",
    "having", "ilike", "in", "initially", "inner", "intersect", "into",
    "is", "isnull", "join", "lateral", "leading", "left", "like",
    "limit", "localtime", "localtimestamp", "natural", "not", "notnull",
    "null", "offset", "on", "only", "or", "order", "outer", "overlaps",
    "placing", "primary", "references", "returning", "right", "select",
    "session_user", "similar", "some", "symmetric", "table", "tablesample",
    "then", "to", "trailing", "true", "union", "unique", "user",
    "using", "variadic", "verbose", "when", "where", "window", "with")

  def needsQuoting(ident: String): Boolean =
    plainIdent.findFirstIn(ident).isEmpty || pgReserved(ident)

  /** PG truncates identifiers to 63 BYTES; report names that collide after
    * truncation (catalog.lisp:402-430). Returns truncated→originals with >1
    * original. */
  def truncate63(ident: String): String = {
    val bytes = ident.getBytes("UTF-8")
    if (bytes.length <= 63) ident
    else {
      // cut at a UTF-8 boundary
      var n = 63
      while (n > 0 && (bytes(n) & 0xC0) == 0x80) n -= 1
      new String(bytes, 0, n, "UTF-8")
    }
  }

  def collisions(idents: Seq[String]): Map[String, Seq[String]] =
    idents.groupBy(truncate63).filter(_._2.distinct.size > 1)

  /** Per-table COLUMN collisions after 63-byte truncation, checked on
    * the post-cast, post-cased catalog — the reference accumulates
    * every instance and aborts with one report (catalog.lisp:404-430
    * check-catalog-identifier-collisions; migrate-database.lisp:266-284;
    * core.clj:595-614). Two colliding columns would fail CREATE TABLE
    * or silently cross-load data. Returns (schema, table, truncated,
    * colliding columns) tuples. */
  def columnCollisions(cat: Catalog)
      : Seq[(String, String, String, Seq[String])] =
    for {
      s <- cat.schemas
      t <- s.tables
      (eff, cols) <- t.columns.map(_.name).groupBy(truncate63).toSeq
        .sortBy(_._1)
      if cols.distinct.size > 1
    } yield (s.name, t.name, eff, cols)
}

/** Target-DDL emission (driver-side) — the reference's create-schema layer
  * (src/pgsql/pgsql-ddl.lisp; clojure/src/pgloader/ddl/common.clj:227-248).
  */
object Ddl {
  /** Identifier for emitted DDL: fold to lowercase (the catalog casing
    * step normally folds upstream — this is belt for raw paths), then
    * quote only when PG requires it (reserved word, specials) — the
    * same fold-then-quote rule as the sequence DDL, so ordinary names
    * stay bare and every surface lands on the same folded name. A
    * reserved-word column (`order`) or a name with specials otherwise
    * emits invalid DDL that aborts the intolerant pre phase. */
  private def q(ident: String): String =
    // NO folding here: the catalog casing step (Runner's target
    // identifier casing + the Migrator's post-cast column casing)
    // delivers FINAL names — downcased/snake_cased ones pass the
    // plain-ident check and emit bare, while `quote identifiers`-
    // preserved MixedCase names (and reserved words, specials) get
    // quoted. Folding here would destroy the preserved case.
    if (Identifiers.needsQuoting(ident))
      "\"" + ident.replace("\"", "\"\"") + "\""
    else ident
  private def qq(schema: String, name: String): String =
    if (schema.isEmpty) q(name) else s"${q(schema)}.${q(name)}"

  /** The shared quote-if-needed rendering, for callers composing DDL
    * outside this object (the Migrator's dynamic enum-type names). */
  def ident(name: String): String = q(name)
  def qualified(schema: String, name: String): String = qq(schema, name)

  def createTable(t: Table, ifNotExists: Boolean = false,
                  pgNativeDefaults: Boolean = false): String = {
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    val cols = t.columns.map { c =>
      val nn = if (c.nullable) "" else " NOT NULL"
      c.generated match {
        case Some(expr) =>
          // a generated column's expression is server-rendered PG SQL
          // (pg_get_expr); re-declaring it GENERATED — instead of as a
          // DEFAULT, which PG rejects for referencing sibling columns —
          // keeps the recompute-on-write semantics. COPY paths exclude
          // the column (PG refuses direct inserts into it).
          s"  ${q(c.name)} ${c.pgType} GENERATED ALWAYS AS ($expr) STORED$nn"
        case None =>
          // pg_get_expr defaults are already PG SQL — emit verbatim
          val dft = (if (pgNativeDefaults) c.default
                     else formatDefault(c.default, c.pgType))
            .map(d => s" DEFAULT $d").getOrElse("")
          s"  ${q(c.name)} ${c.pgType}$nn$dft"
      }
    }
    val unlogged = if (t.unlogged) "UNLOGGED " else ""
    s"CREATE $unlogged" +
      s"TABLE $ine${qq(t.schema, t.name)}\n(\n${cols.mkString(",\n")}\n);"
  }

  private val NumericLit = "^-?\\d+(\\.\\d+)?$".r
  private val BitLit = "(?i)^b'[01]+'$".r
  private val HexLit = "(?i)^x'.*'$".r
  private val FnCall = "(?s)^\\w+\\(.*\\)$".r
  private val BareWord = "^\\w+$".r
  private val DefaultKeywords = Set(
    "CURRENT_TIMESTAMP", "CURRENT_DATE", "CURRENT_TIME",
    "LOCALTIMESTAMP", "LOCALTIME", "TRUE", "FALSE", "NOW")

  /** Source column defaults arrive as raw catalog text (SQLite keeps
    * the literal spelling incl. its quotes; MySQL strips them) — the
    * reference normalizes them before DDL (ddl/common.clj:102-219
    * strip-quotes → coerce-default-for-type → format-default; the CL
    * original's format-default-value). Rules, each pinned by a
    * reference fixture or issue: repeated '…'/"…" quote-stripping
    * (sqlite `default '"0"'`), the literal string NULL and an
    * empty-after-strip default emit NOTHING (sqlite `default ""`), a
    * pure-integer default on a temporal column drops (sqlite DATETIME
    * DEFAULT 0 — PG would reject it), 0000-00-00 zero-dates drop,
    * booleans map 0/false→'f' 1/true→'t', numerics / b'…' bit and
    * x'…' hex literals / CURRENT_* keywords (precision suffix
    * stripped, reference #1403) / function-call expressions (#1497)
    * pass through unquoted, and anything else re-quotes as a PG
    * string literal with '' escaping (#1546). */
  def formatDefault(default: Option[String], pgType: String)
      : Option[String] = default.flatMap { raw0 =>
    val raw = raw0.trim
    if (raw.equalsIgnoreCase("null")) return None
    // strip surrounding quote pairs repeatedly, like strip-quotes; a
    // SINGLE-quoted wrap also carries SQL's '' escaping, so undouble
    // once after the strip (`'O''Brien'` → O'Brien → re-quotes below
    // as 'O''Brien', not the mangled 'O''''Brien' — a defect v4's own
    // strip-quotes/format-default pair has)
    var v = raw
    var changed = true
    var sqWrapped = false
    while (changed && v.length >= 2) {
      changed = false
      // a single-quote wrap strips ONCE (stripping again would eat a
      // default that IS a quote, '''' → empty); double-quote wraps
      // strip repeatedly (sqlite spellings like '"0"')
      if (!sqWrapped && v.startsWith("'") && v.endsWith("'")) {
        v = v.substring(1, v.length - 1)
        sqWrapped = true
        changed = true
      } else if (v.startsWith("\"") && v.endsWith("\"")) {
        v = v.substring(1, v.length - 1)
        changed = true
      }
    }
    if (sqWrapped) v = v.replace("''", "'")
    val tpe = Option(pgType).getOrElse("").toLowerCase
    if (v.isEmpty) return None
    if ("^(?i)0000[-/]00[-/]00.*".r.findFirstIn(v).isDefined) return None
    if ((tpe.startsWith("timestamp") || tpe.startsWith("date") ||
        tpe.startsWith("time")) && "^-?\\d+$".r.matches(v)) return None
    if (tpe.startsWith("bool")) {
      v.toLowerCase match {
        case "0" | "false" => return Some("'f'")
        case "1" | "true" => return Some("'t'")
        case _ =>
      }
    }
    val stripped = v.toUpperCase.replaceAll("\\(\\d*\\)$", "")
    Some {
      if (NumericLit.matches(v) || BitLit.matches(v) ||
          HexLit.matches(v)) v
      else if (DefaultKeywords.contains(stripped)) stripped.toLowerCase
      else if (FnCall.matches(v)) v
      else if (BareWord.matches(v)) "'" + v.replace("'", "''") + "'"
      else "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    }
  }

  /** MySQL ENUM/SET columns become dynamic PG ENUM types named
    * `<table>_<column>` (mysql-cast-rules.lisp:260-301 enum-or-set-name;
    * ddl/common.clj:557-574). Returns the labels parsed from the source
    * ctype, e.g. `enum('a','b')` → a, b. */
  def enumLabels(ctype: String): Seq[String] =
    // a label may CONTAIN an escaped quote ('' in the source ctype —
    // enum('it''s','no')); the naive [^']* class would split it into
    // two bogus labels and the real value then fails the enum check
    // at load time
    "'((?:[^']|'')*)'".r.findAllMatchIn(ctype)
      .map(_.group(1).replace("''", "'")).toSeq

  def createEnum(typeName: String, labels: Seq[String]): String =
    s"CREATE TYPE $typeName AS ENUM (" +
      labels.map(l => s"'${l.replace("'", "''")}'").mkString(", ") + ");"

  /** Sequence identifiers arrive CASED like every other target name
    * (CatalogRewrite.caseTargets runs on the sequence list too), so
    * the emission rule is the same quote-if-needed one as table DDL —
    * no folding here, which would destroy `quote identifiers`-
    * preserved case. */
  private def seqName(s: SequenceDef): String =
    s"${q(s.schema)}.${q(s.name)}"

  /** CREATE/DROP SCHEMA with the shared quote-if-needed rule — an
    * unquoted `CREATE SCHEMA MySchema` would fold to lowercase while
    * the table DDL references the preserved spelling quoted, and the
    * mismatch fails mid-migration. */
  def createSchema(schema: String): String =
    s"CREATE SCHEMA IF NOT EXISTS ${q(schema)};"

  def dropSchema(schema: String): String =
    s"DROP SCHEMA IF EXISTS ${q(schema)} CASCADE;"

  def createSequenceSchema(schema: String): String = createSchema(schema)

  def dropSequence(s: SequenceDef): String =
    s"DROP SEQUENCE IF EXISTS ${seqName(s)} CASCADE;"

  /** START is current + increment so the first nextval() on the target
    * returns the next un-issued value
    * (pgsql-create-schema.lisp:114-152). */
  def createSequence(s: SequenceDef): String = {
    // clamp into [min, max]: an EXHAUSTED non-cycling source sequence
    // has current == maxValue, and current + increment would overflow
    // the declared bound — PG rejects such a START and the intolerant
    // pre phase would abort the whole migration
    // overflow-safe bump: a sequence sitting near the bigint
    // MAXVALUE would wrap negative under naive addition and clamp to
    // MINVALUE — restarting an exhausted sequence from 1
    val start = s.current.map { c =>
      val bumped =
        try Math.addExact(c, s.increment)
        catch { case _: ArithmeticException =>
          if (s.increment > 0) s.maxValue else s.minValue }
      math.min(math.max(bumped, s.minValue), s.maxValue)
    }.getOrElse(s.start)
    s"CREATE SEQUENCE IF NOT EXISTS ${seqName(s)} AS bigint " +
      s"START WITH $start INCREMENT BY ${s.increment} " +
      s"MINVALUE ${s.minValue} MAXVALUE ${s.maxValue} " +
      (if (s.cycling) "CYCLE" else "NO CYCLE") +
      (if (s.cache > 0) s" CACHE ${s.cache}" else "") + ";"
  }

  def addCheck(t: Table, name: String, expr: String,
               valid: Boolean = true): String =
    s"ALTER TABLE ${qq(t.schema, t.name)} ADD CONSTRAINT ${q(name)} " +
      s"CHECK ($expr)" + (if (valid) "" else " NOT VALID") + ";"

  /** EXCLUDE constraint: `clause` is the verbatim
    * pg_get_constraintdef rendering (`EXCLUDE USING am (…) …`). */
  def addExclusion(t: Table, name: String, clause: String): String =
    s"ALTER TABLE ${qq(t.schema, t.name)} ADD CONSTRAINT ${q(name)} " +
      s"${clause.stripSuffix(";")};"

  def commentOnTable(t: Table, comment: String): String =
    s"COMMENT ON TABLE ${qq(t.schema, t.name)} IS " +
      s"'${comment.replace("'", "''")}';"

  def commentOnColumn(t: Table, c: ColumnDef, comment: String): String =
    s"COMMENT ON COLUMN ${qq(t.schema, t.name)}.${q(c.name)} IS " +
      s"'${comment.replace("'", "''")}';"

  def createIndex(i: Index, schema: String = "public"): String = {
    i.indexDef match {
      case Some(d) =>
        // expression index: pg_get_indexdef is machine-generated —
        // `CREATE [UNIQUE] INDEX name ON [ONLY] sch.tbl USING …` —
        // rebuild the head with the CASED name/table, keep the USING
        // tail (method, expression, WHERE) verbatim
        val m = ("(?is)^CREATE\\s+(UNIQUE\\s+)?INDEX\\s+.*?\\s+ON\\s+" +
          ".*?\\s+USING\\s+(.*)$").r.findFirstMatchIn(d.trim)
        m match {
          case Some(g) =>
            val uq = if (g.group(1) != null) "UNIQUE " else ""
            s"CREATE ${uq}INDEX ${q(i.name)} ON " +
              s"${qq(schema, i.table)} USING ${g.group(2).stripSuffix(";")};"
          case None => d.trim.stripSuffix(";") + ";" // unexpected shape
        }
      case None =>
        val uq = if (i.unique || i.primary) "UNIQUE " else ""
        val where = i.filter.map(f => s" WHERE $f").getOrElse("")
        s"CREATE ${uq}INDEX ${q(i.name)} ON ${qq(schema, i.table)} " +
          s"(${i.columns.map(q).mkString(", ")})$where;"
    }
  }

  /** PK built as UNIQUE index first, then attached — lets index builds run
    * in parallel after the load (migrate-database.lisp:177-181). */
  def attachPrimaryKey(i: Index, schema: String = "public"): String =
    s"ALTER TABLE ${qq(schema, i.table)} ADD PRIMARY KEY USING INDEX ${q(i.name)};"

  def addFKey(f: FKey, schema: String = "public"): String =
    s"ALTER TABLE ${qq(schema, f.table)} ADD CONSTRAINT ${q(f.name)} " +
      s"FOREIGN KEY (${f.columns.map(q).mkString(", ")}) " +
      s"REFERENCES ${qq(f.foreignSchemaOr(schema), f.foreignTable)} " +
      s"(${f.foreignColumns.map(q).mkString(", ")})" +
      f.onUpdate.map(u => s" ON UPDATE $u").getOrElse("") +
      f.onDelete.map(d => s" ON DELETE $d").getOrElse("") +
      (if (f.deferrable) " DEFERRABLE" else "") +
      (if (f.initiallyDeferred) " INITIALLY DEFERRED" else "") +
      (if (f.valid) "" else " NOT VALID") + ";"

  def truncate(t: Table): String = s"TRUNCATE ${qq(t.schema, t.name)};"

  /** WITH include drop (CASCADE takes dependent FKs with it, as the
    * reference's drop phase does). */
  def dropTable(t: Table): String =
    s"DROP TABLE IF EXISTS ${qq(t.schema, t.name)} CASCADE;"

  def createExtension(name: String): String =
    s"""CREATE EXTENSION IF NOT EXISTS "$name";"""

  /** Extensions implied by the cast catalog's target types/defaults
    * (clojure core.clj:227-265: pgcrypto/uuid-ossp/ip4r/hstore): columns
    * typed hstore/ip4r land broken without their extension, and
    * uuid_generate_v4()/gen_random_uuid() defaults need uuid-ossp /
    * pgcrypto. */
  def requiredExtensions(cat: Catalog): Seq[String] = {
    val types = cat.allTables.flatMap(_.columns.map(_.pgType.toLowerCase))
    val defaults = cat.allTables
      .flatMap(_.columns.flatMap(_.default.map(_.toLowerCase)))
    Seq(
      types.exists(_.startsWith("hstore")) -> "hstore",
      types.exists(t => t.startsWith("ip4r") || t.startsWith("ip4") ||
        t.startsWith("iprange")) -> "ip4r",
      defaults.exists(_.contains("uuid_generate")) -> "uuid-ossp",
      defaults.exists(_.contains("gen_random_uuid")) -> "pgcrypto"
    ).collect { case (true, e) => e }
  }

  /** MySQL `ON UPDATE CURRENT_TIMESTAMP` emulation — PG has no column
    * attribute for it, so the reference emits a plpgsql trigger per table
    * (src/pgsql/pgsql-trigger.lisp; clojure ddl/common.clj:576-601). */
  /** `cols` are TARGET column names (already cased); every identifier
    * is quoted-if-needed like the rest of the DDL surface — the
    * reference quotes NEW."col" and the schema-qualified function name
    * unconditionally (ddl/common.clj:576-601). */
  def onUpdateTriggerFunction(t: Table, cols: Seq[String]): String = {
    val sets = cols.map(c => s"  NEW.${q(c)} = now();").mkString("\n")
    s"""CREATE OR REPLACE FUNCTION ${onUpdateFnName(t)}()
RETURNS trigger AS $$$$
BEGIN
$sets
  RETURN NEW;
END;
$$$$ LANGUAGE plpgsql;"""
  }

  private def onUpdateFnName(t: Table): String =
    qq(t.schema, s"on_update_current_timestamp_${t.name}")

  def onUpdateTrigger(t: Table): String =
    s"CREATE TRIGGER on_update_current_timestamp BEFORE UPDATE " +
      s"ON ${qq(t.schema, t.name)} FOR EACH ROW EXECUTE PROCEDURE " +
      s"${onUpdateFnName(t)}();"

  def resetSequence(t: Table, column: String): String = {
    // `column` arrives CASED (the catalog casing step delivers final
    // target names): pg_get_serial_sequence takes its table arg as
    // parseable SQL text (the qq() rendering works verbatim) and
    // compares the column arg against attname AS GIVEN
    val tbl = qq(t.schema, t.name)
    s"SELECT setval(pg_get_serial_sequence('${tbl.replace("'", "''")}', " +
      s"'${column.replace("'", "''")}'), " +
      s"(SELECT max(${q(column)}) FROM $tbl));"
  }
}
