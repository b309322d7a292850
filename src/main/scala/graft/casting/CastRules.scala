package graft.casting

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import graft.functions.Transforms

/** Source-side column description as introspection produces it — the input
  * to the cast-rule engine (the reference's field struct,
  * src/utils/catalog.lisp:85-86 + ctype parsing
  * src/sources/common/casting-rules.lisp:82-169).
  *
  * @param ctype full source type string, e.g. `int(10) unsigned`,
  *              `decimal(12,2)`, `enum('a','b')`
  */
final case class SourceColumn(
    table: String,
    name: String,
    ctype: String,
    default: Option[String] = None,
    nullable: Boolean = true,
    autoIncrement: Boolean = false,
    onUpdateCurrentTimestamp: Boolean = false,
    comment: Option[String] = None,
    /** GENERATED ALWAYS AS (expr) STORED generation expression
      * (pg_attribute.attgenerated = 's'; pg_get_expr of the adbin).
      * The target re-declares the column GENERATED and recomputes —
      * reads and COPY column lists exclude it (PG rejects inserting
      * into generated columns; emitting the expression as a DEFAULT
      * would fail CREATE TABLE outright on its column references,
      * which is what the reference does with these). */
    generated: Option[String] = None,
    /** ENUM label list for a PG-source enum column (or enum-array
      * element). Kept OUT of the ctype so `typeName` stays the real
      * source type name — user CAST rules keyed on it (`CAST type mood
      * to text`) keep matching, and labels containing parens can't
      * corrupt the typemod stripping. The Migrator's dynamic-type DDL
      * consumes it when no user rule retargeted the column. */
    enumLabels: Option[Seq[String]] = None) {

  /** Bare type name, lowercased, typemod and attribute keywords stripped.
    * Multi-word names survive (`character varying`, `double precision`,
    * `timestamp without time zone`). */
  val typeName: String = ctype.toLowerCase
    .replaceAll("\\([^)]*\\)", " ")
    .replaceAll("\\b(unsigned|signed|zerofill|auto_increment)\\b", " ")
    .trim.replaceAll("\\s+", " ")

  /** `(precision, scale)` parsed from `(p[,s])`
    * (src/utils/transforms.lisp:47-61 parse-column-typemod). */
  val typemod: Option[(Int, Option[Int])] = {
    val m = "\\((\\d+)(?:\\s*,\\s*(\\d+))?\\)".r.findFirstMatchIn(ctype)
    m.map(g => (g.group(1).toInt, Option(g.group(2)).map(_.toInt)))
  }

  val unsigned: Boolean = ctype.toLowerCase.contains("unsigned")
}

/** Guards of one cast rule (casting-rules.lisp:18-80). All present guards
  * must match; first matching rule wins. */
final case class RuleSource(
    typeName: Option[String] = None,
    /** match a specific `table.column` (the DSL's `column t.c to …`). */
    column: Option[(String, String)] = None,
    typemodPred: Option[((Int, Option[Int])) => Boolean] = None,
    default: Option[String] = None,
    notNull: Option[Boolean] = None,
    signed: Option[Boolean] = None,
    autoIncrement: Option[Boolean] = None,
    onUpdateCurrentTimestamp: Option[Boolean] = None,
    /** PREFIX match on the base type name — the sqlite affinity
      * fallback (sqlite.clj:118-128 sqlite-type->pg longest-prefix
      * lookup: SQLite accepts ANY declared type name, so `intege` or
      * `smallint unsigned` must still resolve). Ordered rules stand in
      * for v4's sort-by-length. */
    typePrefix: Option[String] = None) {

  def matches(c: SourceColumn): Boolean =
    typeName.forall(_ == c.typeName) &&
      typePrefix.forall(c.typeName.startsWith) &&
      column.forall { case (t, n) =>
        t.equalsIgnoreCase(c.table) && n.equalsIgnoreCase(c.name) } &&
      typemodPred.forall(p => c.typemod.exists(p)) &&
      default.forall(d => c.default.contains(d)) &&
      notNull.forall(_ == !c.nullable) &&
      signed.forall(_ == !c.unsigned) &&
      autoIncrement.forall(_ == c.autoIncrement) &&
      onUpdateCurrentTimestamp.forall(_ == c.onUpdateCurrentTimestamp)
}

/** Target spec of a rule: PG type string + Spark type + column options
  * (casting-rules.lisp:82-169 drop-default/drop-not-null/drop-typemod). */
final case class RuleTarget(
    pgType: String,
    sparkType: DataType = StringType,
    /** keep the source typemod, e.g. `numeric(12,2)`. */
    keepTypemod: Boolean = false,
    dropDefault: Boolean = false,
    dropNotNull: Boolean = false,
    setNotNull: Boolean = false)

/** One cast rule. A rule with `target=None` is a `:using`-only rule — it
  * contributes its transform to whichever later rule matches
  * (casting-rules.lisp:60-68). */
final case class CastRule(
    source: RuleSource,
    target: Option[RuleTarget],
    using: Option[String] = None) // name in Transforms.registry

/** Result of casting one source column. */
final case class CastResult(
    pgType: String,
    sparkType: DataType,
    transform: Option[Column => Column],
    nullable: Boolean,
    default: Option[String])

/** First-match-wins rule engine with user-rule precedence over per-source
  * defaults (clojure/src/pgloader/cast.clj:364-383 resolve-specs).
  */
object CastEngine {

  def cast(c: SourceColumn, userRules: Seq[CastRule],
           defaults: Seq[CastRule]): CastResult = {
    val all = userRules ++ defaults
    // :using-only rules that match contribute a transform but not a type.
    val usingOnly = all.find(r => r.target.isEmpty && r.source.matches(c))
      .flatMap(_.using)
    all.find(r => r.target.nonEmpty && r.source.matches(c)) match {
      case Some(rule) =>
        val t = rule.target.get
        val pg =
          if (t.keepTypemod && c.typemod.nonEmpty)
            s"${t.pgType}${c.typemod.map {
              case (p, Some(s)) => s"($p,$s)"
              case (p, None)    => s"($p)"
            }.get}"
          else t.pgType
        // implicit USING when a USER rule names none (cast.clj:342-363
        // implicit-using — v4 applies it in resolve-specs' user-rule
        // scan only; DEFAULT rules carry their own usings, and e.g.
        // the sqlite boolean→boolean defaults must NOT gain a
        // tinyint conversion that would flip textual 'false' to 't'):
        // `to boolean` from an integer/bit source needs the 0→f
        // conversion and `to integer` from a NUMERIC source needs
        // decimal truncation — raw values would reject server-side
        // (the v4 dbf-memo fixture casts a numeric DBF column `to
        // integer` with no using and expects 108 rows)
        val implicitUsing: Option[String] =
          if (rule.using.nonEmpty || !userRules.exists(_ eq rule)) None
          else {
            val target = t.pgType.toLowerCase
            val src = c.ctype.toLowerCase
            if (target == "boolean")
              Some(if (src.startsWith("bit")) "bits-to-boolean"
                   else "tinyint-to-boolean")
            else if (Set("integer", "bigint", "smallint", "int")
                       .contains(target) && src.startsWith("numeric"))
              Some("db3-numeric-to-pgsql-integer")
            else None
          }
        val fn = rule.using.orElse(usingOnly).orElse(implicitUsing)
          .map(resolveTransform)
        CastResult(
          pgType = pg,
          sparkType = sparkTypeFor(t, c),
          transform = fn,
          nullable = if (t.setNotNull) false
                     else if (t.dropNotNull) true else c.nullable,
          default = if (t.dropDefault) None else c.default)
      case None => // passthrough: trust the source type name
        CastResult(c.ctype, StringType,
          usingOnly.map(resolveTransform), c.nullable, c.default)
    }
  }

  /** Registry lookup; `"f|g"` composes outermost-first (the DSL's
    * `using (lambda (v) (f (g v)))` form → f(g(v))). */
  private def resolveTransform(spec: String): Column => Column = {
    val fns = spec.split("\\|").toSeq.map(Transforms.registry)
    c => fns.foldRight(c)((fn, acc) => fn(acc))
  }

  private def sparkTypeFor(t: RuleTarget, c: SourceColumn): DataType =
    t.pgType match {
      case "numeric" | "decimal" if t.keepTypemod =>
        c.typemod match {
          case Some((p, s)) if p <= 38 => DecimalType(p, s.getOrElse(0))
          case _ => DecimalType(38, 9)
        }
      case _ => t.sparkType
    }
}

/** Default cast-rule sets per source kind. The MySQL set mirrors
  * src/sources/mysql/mysql-cast-rules.lisp:15-198; SQLite
  * src/sources/sqlite/sqlite-cast-rules.lisp:10-144; MSSQL
  * src/sources/mssql/mssql-cast-rules.lisp:7-89; PG
  * src/sources/pgsql/pgsql-cast-rules.lisp:7-80.
  */
object DefaultCastRules {

  private def r(src: RuleSource, tgt: RuleTarget,
                using: Option[String] = None) =
    CastRule(src, Some(tgt), using)

  private val smallPrecision: ((Int, Option[Int])) => Boolean = _._1 < 10
  private val bigPrecision: ((Int, Option[Int])) => Boolean = _._1 >= 10

  val mysql: Seq[CastRule] = Seq(
    // integer family; auto_increment → serial
    r(RuleSource(Some("int"), autoIncrement = Some(true),
        typemodPred = Some(smallPrecision)),
      RuleTarget("serial", IntegerType)),
    r(RuleSource(Some("int"), autoIncrement = Some(true),
        typemodPred = Some(bigPrecision)),
      RuleTarget("bigserial", LongType)),
    r(RuleSource(Some("bigint"), autoIncrement = Some(true)),
      RuleTarget("bigserial", LongType)),
    // MySQL 8.0.19+ omits integer display width: a plain `int
    // auto_increment` carries no typemod, so the guarded rules above
    // don't fire — typemod-less fallbacks keep serial/bigserial
    // (mysql-cast-rules.lisp:70-73).
    r(RuleSource(Some("int"), autoIncrement = Some(true),
        signed = Some(true)),
      RuleTarget("serial", IntegerType)),
    r(RuleSource(Some("int"), autoIncrement = Some(true),
        signed = Some(false)),
      RuleTarget("bigserial", LongType)),
    // tinyint(1) → boolean
    r(RuleSource(Some("tinyint"), typemodPred = Some(_._1 == 1)),
      RuleTarget("boolean", BooleanType), Some("tinyint-to-boolean")),
    r(RuleSource(Some("bit"), typemodPred = Some(_._1 == 1)),
      RuleTarget("boolean", BooleanType), Some("bits-to-boolean")),
    r(RuleSource(Some("bit")),
      RuleTarget("bit", StringType), Some("bits-to-hex-bitstring")),
    // unsigned promotions (mysql-cast-rules.lisp:40-56)
    r(RuleSource(Some("tinyint"), signed = Some(false)),
      RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("smallint"), signed = Some(false)),
      RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("mediumint"), signed = Some(false)),
      RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("int"), signed = Some(false)),
      RuleTarget("bigint", LongType)),
    r(RuleSource(Some("bigint"), signed = Some(false)),
      RuleTarget("numeric", DecimalType(20, 0))),
    r(RuleSource(Some("tinyint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("smallint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("mediumint")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("int")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("integer")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("bigint")), RuleTarget("bigint", LongType)),
    r(RuleSource(Some("year")), RuleTarget("integer", IntegerType)),
    // floats
    r(RuleSource(Some("float")), RuleTarget("real", FloatType),
      Some("float-to-string")),
    r(RuleSource(Some("double")), RuleTarget("double precision", DoubleType),
      Some("float-to-string")),
    r(RuleSource(Some("numeric")),
      RuleTarget("numeric", keepTypemod = true)),
    r(RuleSource(Some("decimal")),
      RuleTarget("numeric", keepTypemod = true)),
    // text family — strip 0x00, PG text can't store them
    r(RuleSource(Some("char")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    r(RuleSource(Some("varchar")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    r(RuleSource(Some("tinytext")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    r(RuleSource(Some("text")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    r(RuleSource(Some("mediumtext")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    r(RuleSource(Some("longtext")), RuleTarget("text", StringType),
      Some("remove-null-characters")),
    // binary family
    r(RuleSource(Some("binary")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("varbinary")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("tinyblob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("blob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("mediumblob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("longblob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    // dates & times; zero-dates must be nulled pre-parse
    // (mysql-cast-rules.lisp:127-173: 8 guard variants collapse to the
    //  same transform once defaults are dropped)
    r(RuleSource(Some("datetime"), default = Some("0000-00-00 00:00:00")),
      RuleTarget("timestamptz", TimestampType, dropDefault = true),
      Some("zero-dates-to-null")),
    r(RuleSource(Some("datetime")),
      RuleTarget("timestamptz", TimestampType), Some("zero-dates-to-null")),
    r(RuleSource(Some("timestamp"), default = Some("0000-00-00 00:00:00")),
      RuleTarget("timestamptz", TimestampType, dropDefault = true),
      Some("zero-dates-to-null")),
    r(RuleSource(Some("timestamp")),
      RuleTarget("timestamptz", TimestampType), Some("zero-dates-to-null")),
    r(RuleSource(Some("date"), default = Some("0000-00-00")),
      RuleTarget("date", DateType, dropDefault = true),
      Some("zero-dates-to-null")),
    r(RuleSource(Some("date")), RuleTarget("date", DateType),
      Some("zero-dates-to-null")),
    r(RuleSource(Some("time")), RuleTarget("time", StringType)),
    // enum/set → PG enum types (DDL layer registers the type; here text)
    r(RuleSource(Some("enum")), RuleTarget("enum", StringType)),
    r(RuleSource(Some("set")), RuleTarget("enum[]", StringType),
      Some("set-to-enum-array")),
    // geometry
    r(RuleSource(Some("point")), RuleTarget("point", StringType),
      Some("convert-mysql-point")),
    r(RuleSource(Some("linestring")), RuleTarget("path", StringType),
      Some("convert-mysql-linestring")),
    r(RuleSource(Some("json")), RuleTarget("jsonb", StringType))
  )

  val sqlite: Seq[CastRule] = Seq(
    r(RuleSource(Some("character")), RuleTarget("text", StringType)),
    r(RuleSource(Some("varchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("nvarchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("char")), RuleTarget("text", StringType)),
    r(RuleSource(Some("clob")), RuleTarget("text", StringType)),
    r(RuleSource(Some("text")), RuleTarget("text", StringType)),
    // INTEGER PRIMARY KEY aliases the rowid → bigserial
    // (sqlite.lisp default cast rules, auto-increment guard)
    r(RuleSource(Some("integer"), autoIncrement = Some(true)),
      RuleTarget("bigserial", LongType)),
    r(RuleSource(Some("int"), autoIncrement = Some(true)),
      RuleTarget("bigserial", LongType)),
    r(RuleSource(Some("integer")), RuleTarget("bigint", LongType),
      Some("integer-to-string")),
    r(RuleSource(Some("int")), RuleTarget("bigint", LongType),
      Some("integer-to-string")),
    r(RuleSource(Some("int2")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("int4")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("int8")), RuleTarget("bigint", LongType)),
    r(RuleSource(Some("float")), RuleTarget("double precision", DoubleType),
      Some("float-to-string")),
    // real → real, NOT double precision (sqlite-cast-rules.lisp:32-33;
    // v4 sqlite-type-map "real"→"real" — tests/sqlite/matviews-def
    // pins `amount real` landing as PG real)
    r(RuleSource(Some("real")), RuleTarget("real", FloatType),
      Some("float-to-string")),
    r(RuleSource(Some("double")), RuleTarget("double precision", DoubleType),
      Some("float-to-string")),
    r(RuleSource(Some("numeric")), RuleTarget("numeric", keepTypemod = true),
      Some("float-to-string")),
    r(RuleSource(Some("decimal")), RuleTarget("numeric", keepTypemod = true)),
    r(RuleSource(Some("blob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("datetime")), RuleTarget("timestamptz", TimestampType),
      Some("sqlite-timestamp-to-timestamp")),
    r(RuleSource(Some("timestamp")), RuleTarget("timestamptz", TimestampType),
      Some("sqlite-timestamp-to-timestamp")),
    r(RuleSource(Some("timestamptz")),
      RuleTarget("timestamptz", TimestampType),
      Some("sqlite-timestamp-to-timestamp")),
    r(RuleSource(Some("date")), RuleTarget("date", DateType)),
    r(RuleSource(Some("boolean")), RuleTarget("boolean", BooleanType)),
    // v4's sqlite-type-map remainder (sqlite.clj:75-116) — names SQLite
    // files use freely that are not (or not exactly) PG types
    r(RuleSource(Some("nchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("tinyint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("smallint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("mediumint")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("bigint")), RuleTarget("bigint", LongType),
      Some("integer-to-string")),
    r(RuleSource(Some("long")), RuleTarget("bigint", LongType),
      Some("integer-to-string")),
    r(RuleSource(Some("byte")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("byte[]")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("float4")), RuleTarget("real", FloatType),
      Some("float-to-string")),
    r(RuleSource(Some("float8")),
      RuleTarget("double precision", DoubleType), Some("float-to-string")),
    r(RuleSource(Some("number")), RuleTarget("numeric", keepTypemod = true),
      Some("float-to-string")),
    // LONGEST-PREFIX affinity fallback, the tail of v4's
    // sqlite-type->pg (sqlite.clj:118-128): SQLite accepts ANY declared
    // type name, so a misspelled/exotic one ('intege', 'string') must
    // still land on a valid PG type. Rules are first-match-wins, so
    // ordering longer prefixes first reproduces the sort-by-length
    // lookup; exact entries above always win.
    r(RuleSource(typePrefix = Some("double")),
      RuleTarget("double precision", DoubleType), Some("float-to-string")),
    r(RuleSource(typePrefix = Some("timestamp")),
      RuleTarget("timestamptz", TimestampType),
      Some("sqlite-timestamp-to-timestamp")),
    r(RuleSource(typePrefix = Some("datetime")),
      RuleTarget("timestamptz", TimestampType),
      Some("sqlite-timestamp-to-timestamp")),
    r(RuleSource(typePrefix = Some("character")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("varchar")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("nvarchar")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("mediumint")),
      RuleTarget("integer", IntegerType)),
    r(RuleSource(typePrefix = Some("smallint")),
      RuleTarget("smallint", ShortType)),
    r(RuleSource(typePrefix = Some("tinyint")),
      RuleTarget("smallint", ShortType)),
    r(RuleSource(typePrefix = Some("integer")),
      RuleTarget("bigint", LongType), Some("integer-to-string")),
    r(RuleSource(typePrefix = Some("bigint")),
      RuleTarget("bigint", LongType), Some("integer-to-string")),
    r(RuleSource(typePrefix = Some("boolean")),
      RuleTarget("boolean", BooleanType)),
    r(RuleSource(typePrefix = Some("numeric")),
      RuleTarget("numeric", keepTypemod = true), Some("float-to-string")),
    r(RuleSource(typePrefix = Some("decimal")),
      RuleTarget("numeric", keepTypemod = true)),
    r(RuleSource(typePrefix = Some("number")),
      RuleTarget("numeric", keepTypemod = true), Some("float-to-string")),
    r(RuleSource(typePrefix = Some("float")),
      RuleTarget("double precision", DoubleType), Some("float-to-string")),
    r(RuleSource(typePrefix = Some("nchar")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("char")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("clob")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("text")),
      RuleTarget("text", StringType)),
    r(RuleSource(typePrefix = Some("blob")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(typePrefix = Some("real")), RuleTarget("real", FloatType),
      Some("float-to-string")),
    r(RuleSource(typePrefix = Some("long")),
      RuleTarget("bigint", LongType), Some("integer-to-string")),
    r(RuleSource(typePrefix = Some("byte")),
      RuleTarget("bytea", BinaryType), Some("byte-vector-to-bytea")),
    r(RuleSource(typePrefix = Some("int")),
      RuleTarget("integer", IntegerType), Some("integer-to-string")),
    r(RuleSource(typePrefix = Some("date")), RuleTarget("date", DateType)),
    // catch-all: v4 maps every remaining name to text ('short
    // integer', 'string', …) — SQLite never constrained them anyway
    r(RuleSource(typePrefix = Some("")), RuleTarget("text", StringType))
  )

  val mssql: Seq[CastRule] = Seq(
    r(RuleSource(Some("char")), RuleTarget("text", StringType)),
    r(RuleSource(Some("nchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("varchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("nvarchar")), RuleTarget("text", StringType)),
    r(RuleSource(Some("ntext")), RuleTarget("text", StringType)),
    r(RuleSource(Some("xml")), RuleTarget("xml", StringType)),
    r(RuleSource(Some("int"), autoIncrement = Some(true)),
      RuleTarget("serial", IntegerType)),
    r(RuleSource(Some("bigint"), autoIncrement = Some(true)),
      RuleTarget("bigserial", LongType)),
    r(RuleSource(Some("smallint"), autoIncrement = Some(true)),
      RuleTarget("smallserial", ShortType)),
    r(RuleSource(Some("tinyint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("smallint")), RuleTarget("smallint", ShortType)),
    r(RuleSource(Some("int")), RuleTarget("integer", IntegerType)),
    r(RuleSource(Some("bigint")), RuleTarget("bigint", LongType)),
    r(RuleSource(Some("bit")), RuleTarget("boolean", BooleanType),
      Some("sql-server-bit-to-boolean")),
    r(RuleSource(Some("uniqueidentifier")), RuleTarget("uuid", StringType),
      Some("sql-server-uniqueidentifier-to-uuid")),
    r(RuleSource(Some("hierarchyid")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("geography")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    // geometry ships over the wire as convert(varbinary(max), ...)
    // exactly like geography (ColumnSqlExpressions.mssqlPair) — without
    // this rule the type passed through as PG "geometry", which only
    // exists under PostGIS and then expects WKB, not SQL Server's CLR
    // serialization
    r(RuleSource(Some("geometry")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("binary")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("varbinary")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("image")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("timestamp")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("rowversion")), RuleTarget("bytea", BinaryType),
      Some("byte-vector-to-bytea")),
    r(RuleSource(Some("money")), RuleTarget("numeric", DecimalType(19, 4))),
    r(RuleSource(Some("smallmoney")),
      RuleTarget("numeric", DecimalType(10, 4))),
    r(RuleSource(Some("float")), RuleTarget("double precision", DoubleType),
      Some("float-to-string")),
    r(RuleSource(Some("real")), RuleTarget("real", FloatType),
      Some("float-to-string")),
    r(RuleSource(Some("decimal")), RuleTarget("numeric", keepTypemod = true)),
    r(RuleSource(Some("numeric")), RuleTarget("numeric", keepTypemod = true)),
    r(RuleSource(Some("datetime")), RuleTarget("timestamptz", TimestampType)),
    r(RuleSource(Some("datetime2")), RuleTarget("timestamptz", TimestampType)),
    // rendered ISO-8601 WITH offset (convert style 127 / the native
    // 7.3 token decoder) — without this rule the type passed through
    // as PG "datetimeoffset", which does not exist, failing CREATE TABLE
    r(RuleSource(Some("datetimeoffset")),
      RuleTarget("timestamptz", TimestampType)),
    r(RuleSource(Some("smalldatetime")),
      RuleTarget("timestamptz", TimestampType)),
    r(RuleSource(Some("date")), RuleTarget("date", DateType)),
    r(RuleSource(Some("time")), RuleTarget("time", StringType)),
    r(RuleSource(Some("sql_variant")), RuleTarget("text", StringType)),
    r(RuleSource(Some("sysname")), RuleTarget("text", StringType))
  )

  val pgsql: Seq[CastRule] = Seq(
    r(RuleSource(Some("integer"), autoIncrement = Some(true)),
      RuleTarget("serial", IntegerType)),
    r(RuleSource(Some("bigint"), autoIncrement = Some(true)),
      RuleTarget("bigserial", LongType)),
    r(RuleSource(Some("character varying")), RuleTarget("text", StringType)),
    r(RuleSource(Some("varchar")), RuleTarget("text", StringType))
  )
}
