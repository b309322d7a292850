package graft.sources

import graft.casting.SourceColumn
import graft.catalog.{CheckDef, Ddl, FKey, Index, Table}

// The catalog SQL of every database source and the row mappings that
// turn its answers into catalog tables. The wire sources
// ([[PgWireSource]], [[MySqlWireSource]], [[MssqlWireSource]]) send
// these statements over their own connections; [[SqliteSource]] reads
// the file format and feeds [[IntrospectionRows]] the same row shapes.

/** Per-type SELECT expressions for the MySQL and MSSQL source queries —
  * some types must be rendered server-side (mysql-schema.lisp:268-286
  * st_astext for geometry; mssql-schema.lisp:200-224 convert() for
  * date/time), as (expression, output name) pairs the wire sources'
  * `selectCols` take — and the SELECT list every wire source builds
  * from such pairs. */
object ColumnSqlExpressions {

  /** (server-side expression, output column name) — the STRUCTURED form
    * the wire sources take. Carrying the alias separately means an
    * expression containing the text " as " inside a string literal or
    * function argument can never mis-parse the output name. Column
    * names are quoted with each engine's own escaping. */
  def mysqlPair(name: String, typeName: String): (String, String) = {
    val c = MySqlWire.quoteIdent(name)
    typeName.toLowerCase match {
      case "geometry" | "point" | "linestring" => (s"st_astext($c)", name)
      case _ => (c, name)
    }
  }

  def mssqlPair(name: String, typeName: String): (String, String) = {
    val c = TdsWire.quoteIdent(name)
    typeName.toLowerCase match {
      // style 114 renders hh:mi:ss:mmm — a COLON before the millis,
      // which PG's time parser rejects; STUFF position 9 (1-based)
      // swaps it for the dot
      case "time" =>
        (s"stuff(convert(varchar(30), $c, 114), 9, 1, '.')", name)
      case "datetime" | "datetime2" | "smalldatetime" | "date" =>
        (s"convert(varchar(30), $c, 126)", name)
      case "datetimeoffset" => (s"convert(varchar(35), $c, 127)", name)
      case "bigint" => (s"cast($c as numeric(20))", name)
      // xml has no direct TDS 7.1 rendering — nvarchar(max) arrives as
      // the ntext token, which the client decodes (the reference lets
      // FreeTDS do the same downgrade; mssql-cast-rules.lisp:66)
      case "xml" => (s"convert(nvarchar(max), $c)", name)
      // CLR UDTs (hierarchyid/geography/geometry) → their binary form →
      // the image token → bytea hex, matching the *-to-bytea cast rules
      case "hierarchyid" | "geography" | "geometry" =>
        (s"convert(varbinary(max), $c)", name)
      case _ => (c, name)
    }
  }

  /** The SELECT list of (expression, output name) pairs: a bare quoted
    * column stays bare, any other expression is aliased to its name. */
  def selectList(cols: Seq[(String, String)],
                 quote: String => String): String =
    cols.map { case (e, a) =>
      if (e == quote(a)) e else s"$e AS ${quote(a)}"
    }.mkString(", ")
}

/** The per-engine catalog SQL the reference issues, re-expressed for the
  * wire clients: columns, keys, indexes, CHECK constraints, comments,
  * sequences and custom types. The text protocols have no placeholders,
  * so a schema filter is inlined as an already-quoted literal.
  */
object IntrospectionSql {

  /** MySQL information_schema indexes and foreign keys
    * (mysql-schema.lisp:54-212; src/sources/mysql/sql/), the schema
    * inlined as a quoted literal. */
  def mysqlIndexesInline(schemaLiteral: String): String =
    s"""SELECT table_name, index_name, non_unique,
       GROUP_CONCAT(column_name ORDER BY seq_in_index) AS columns
       FROM information_schema.statistics
       WHERE table_schema = $schemaLiteral
       GROUP BY table_name, index_name, non_unique
       ORDER BY table_name, index_name"""

  def mysqlFKeysInline(schemaLiteral: String): String =
    s"""SELECT k.constraint_name, k.table_name, k.column_name,
       k.referenced_table_name, k.referenced_column_name,
       k.ordinal_position, r.update_rule, r.delete_rule
       FROM information_schema.key_column_usage k
       JOIN information_schema.referential_constraints r
         ON r.constraint_schema = k.table_schema
        AND r.constraint_name = k.constraint_name
        AND r.table_name = k.table_name
       WHERE k.table_schema = $schemaLiteral
         AND k.referenced_table_name IS NOT NULL
       ORDER BY k.constraint_name, k.ordinal_position"""

  /** Table + column comments (list-table-comments.sql /
    * list-columns-comments.sql). */
  def mysqlTableCommentsInline(schemaLiteral: String): String =
    s"""SELECT table_name, table_comment
       FROM information_schema.tables
       WHERE table_schema = $schemaLiteral
         AND table_comment <> '' AND table_comment IS NOT NULL"""

  def mysqlColumnCommentsInline(schemaLiteral: String): String =
    s"""SELECT table_name, column_name, column_comment
       FROM information_schema.columns
       WHERE table_schema = $schemaLiteral
         AND column_comment <> '' AND column_comment IS NOT NULL"""

  /** CHECK constraints — information_schema.CHECK_CONSTRAINTS exists
    * only on MySQL ≥ 8.0.16; on older servers the query itself fails
    * with ER_UNKNOWN_TABLE (1109), so callers must treat that error as
    * an empty result ([[graft.sources.MySqlWireSource.introspect]]
    * does) rather than abort the migration (list-all-checks.sql). */
  def mysqlChecksInline(schemaLiteral: String): String =
    s"""SELECT tc.table_name, cc.constraint_name, cc.check_clause
       FROM information_schema.table_constraints tc
       JOIN information_schema.check_constraints cc
         ON cc.constraint_schema = tc.table_schema
        AND cc.constraint_name = tc.constraint_name
       WHERE tc.table_schema = $schemaLiteral
         AND tc.constraint_type = 'CHECK'
       ORDER BY tc.table_name, cc.constraint_name"""

  /** MSSQL sys views (mssql-schema.lisp). `table_rows` is the table's
    * sys.partitions row count (heap or clustered index partitions),
    * the same on every column row of the table. */
  val mssqlColumns: String =
    """SELECT s.name AS schema_name, t.name AS table_name, c.name,
       ty.name AS type_name, c.max_length, c.precision, c.scale,
       c.is_nullable, c.is_identity, d.definition AS default_def,
       (SELECT cast(coalesce(sum(p.rows), 0) as bigint)
        FROM sys.partitions p
        WHERE p.object_id = t.object_id
          AND p.index_id IN (0, 1)) AS table_rows
       FROM sys.columns c
       JOIN sys.tables t ON t.object_id = c.object_id
       JOIN sys.schemas s ON s.schema_id = t.schema_id
       JOIN sys.types ty ON ty.user_type_id = c.user_type_id
       LEFT JOIN sys.default_constraints d
         ON d.object_id = c.default_object_id
       ORDER BY s.name, t.name, c.column_id"""

  /** [[mssqlColumns]] over sys.views — the MATERIALIZE VIEWS
    * introspection path; `nameFilter` is an extra `AND ...` clause. */
  def mssqlViewColumns(nameFilter: String): String =
    s"""SELECT s.name AS schema_name, t.name AS table_name, c.name,
       ty.name AS type_name, c.max_length, c.precision, c.scale,
       c.is_nullable, c.is_identity, d.definition AS default_def
       FROM sys.columns c
       JOIN sys.views t ON t.object_id = c.object_id
       JOIN sys.schemas s ON s.schema_id = t.schema_id
       JOIN sys.types ty ON ty.user_type_id = c.user_type_id
       LEFT JOIN sys.default_constraints d
         ON d.object_id = c.default_object_id
       WHERE 1 = 1 $nameFilter
       ORDER BY s.name, t.name, c.column_id"""

  /** PostgreSQL pg_catalog (pgsql-schema.lisp:7-481). `enum_labels`
    * carries the quoted, sort-ordered label list when the column's
    * type (or its array element type) is an ENUM — the reference's
    * pgsql source recreates enums on the target the same way its
    * MySQL source does, and without the labels a pg→pg migration of
    * an enum table fails the target CREATE TABLE on the missing
    * type.
    *
    * `pages` is the relation's actual size in blocks — a partitioned
    * parent's is the sum over its partition tree — worked out once per
    * relation in the `OFFSET 0` subquery, not once per column row. An
    * actual size cannot lag the way `relpages` does on a table that
    * was never VACUUMed or ANALYZEd. */
  val pgsqlColumns: String =
    """SELECT c.nspname, c.relname, a.attname,
       format_type(a.atttypid, a.atttypmod) AS data_type,
       pg_get_expr(d.adbin, d.adrelid) AS default_expr,
       NOT a.attnotnull AS nullable,
       (SELECT string_agg('''' || replace(e.enumlabel, '''', '''''')
                            || '''', ','
               ORDER BY e.enumsortorder)
        FROM pg_enum e
        WHERE e.enumtypid = CASE WHEN ty.typtype = 'e' THEN a.atttypid
                                 WHEN et.typtype = 'e' THEN ty.typelem
                            END) AS enum_labels,
       a.attidentity::text AS identity,
       c.relkind::text AS relkind,
       a.attgenerated::text AS generated,
       c.relpersistence::text AS persistence,
       EXISTS (SELECT 1 FROM pg_depend dep
               JOIN pg_class sc ON sc.oid = dep.objid
               WHERE dep.classid = 'pg_class'::regclass
                 AND dep.refobjid = c.oid AND dep.refobjsubid = a.attnum
                 AND dep.deptype IN ('a', 'i')
                 AND sc.relkind = 'S')::text AS owned_seq,
       c.pages
       FROM (SELECT c.oid, n.nspname, c.relname, c.relkind,
               c.relpersistence,
               (WITH RECURSIVE tree(oid, relkind) AS (
                  SELECT c.oid, c.relkind
                  UNION ALL
                  SELECT i.inhrelid, k.relkind FROM tree t
                  JOIN pg_inherits i ON i.inhparent = t.oid
                  JOIN pg_class k ON k.oid = i.inhrelid
                  WHERE t.relkind = 'p')
                SELECT sum(pg_relation_size(tree.oid)) FROM tree)::bigint
                 / current_setting('block_size')::int AS pages
             FROM pg_class c
             JOIN pg_namespace n ON n.oid = c.relnamespace
             WHERE c.relkind IN ('r', 'p') AND NOT c.relispartition
               AND n.nspname NOT IN ('pg_catalog', 'information_schema')
             OFFSET 0) c
       JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum > 0
       JOIN pg_type ty ON ty.oid = a.atttypid
       LEFT JOIN pg_type et ON et.oid = ty.typelem
       LEFT JOIN pg_attrdef d
         ON d.adrelid = c.oid AND d.adnum = a.attnum
       WHERE NOT a.attisdropped
       ORDER BY c.nspname, c.relname, a.attnum"""

  /** [[pgsqlColumns]] over VIEWS (plain + materialized) — the
    * MATERIALIZE VIEWS introspection path; `nameFilter` is an extra
    * `AND ...` clause ('' for MATERIALIZE ALL VIEWS). */
  def pgsqlViewColumns(nameFilter: String): String =
    s"""SELECT n.nspname, c.relname, a.attname,
       format_type(a.atttypid, a.atttypmod) AS data_type,
       pg_get_expr(d.adbin, d.adrelid) AS default_expr,
       NOT a.attnotnull AS nullable,
       (SELECT string_agg('''' || replace(e.enumlabel, '''', '''''')
                            || '''', ','
               ORDER BY e.enumsortorder)
        FROM pg_enum e
        WHERE e.enumtypid = CASE WHEN ty.typtype = 'e' THEN a.atttypid
                                 WHEN et.typtype = 'e' THEN ty.typelem
                            END) AS enum_labels
       FROM pg_class c
       JOIN pg_namespace n ON n.oid = c.relnamespace
       JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum > 0
       JOIN pg_type ty ON ty.oid = a.atttypid
       LEFT JOIN pg_type et ON et.oid = ty.typelem
       LEFT JOIN pg_attrdef d
         ON d.adrelid = c.oid AND d.adnum = a.attnum
       WHERE c.relkind IN ('v', 'm') AND NOT a.attisdropped
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
         $nameFilter
       ORDER BY n.nspname, c.relname, a.attnum"""

  /** pg_index with a column-name list aggregated in key order;
    * expression members (attnum 0) aggregate to NULL columns. Any
    * index the plain (columns, unique, filter) triple cannot reproduce
    * re-creates from pg_get_indexdef like the reference
    * (pgsql-schema.lisp list-all-indexes keeps the full indexdef);
    * plain ones build from the column list so names/columns case.
    * `hasexprs` (widened round 20) detects EVERY unreproducible shape,
    * each of which the plain rebuild would silently alter on the
    * target: expression members — fully-expression (columns NULL) or
    * MIXED like `(a, lower(b))` whose attnum>0 aggregate keeps only
    * `a`; a non-btree access method (gin/gist/hash/brin would rebuild
    * as btree); per-column DESC / NULLS FIRST ordering (indoption);
    * non-default operator classes (text_pattern_ops);
    * INCLUDE covering columns (indnatts > indnkeyatts — indkey holds
    * them, so the plain rebuild would promote them to KEY columns);
    * and a per-key collation differing from the column's own. */
  val pgsqlIndexes: String =
    """SELECT n.nspname, t.relname, i.relname,
       x.indisprimary, x.indisunique,
       (SELECT string_agg(a.attname, ',' ORDER BY k.ord)
        FROM unnest(x.indkey) WITH ORDINALITY AS k(attnum, ord)
        JOIN pg_attribute a
          ON a.attrelid = x.indrelid AND a.attnum = k.attnum
        WHERE k.attnum > 0) AS columns,
       pg_get_expr(x.indpred, x.indrelid) AS filter,
       pg_get_indexdef(x.indexrelid) AS indexdef,
       (x.indexprs IS NOT NULL
        OR x.indnullsnotdistinct
        OR am.amname <> 'btree'
        OR x.indnatts <> x.indnkeyatts
        OR EXISTS (SELECT 1 FROM unnest(x.indoption) o WHERE o <> 0)
        OR EXISTS (SELECT 1 FROM unnest(x.indclass) c
                   JOIN pg_opclass oc ON oc.oid = c
                   WHERE NOT oc.opcdefault)
        OR EXISTS (SELECT 1
                   FROM unnest(x.indcollation) WITH ORDINALITY ic(coll, o1)
                   JOIN unnest(x.indkey) WITH ORDINALITY ik(attnum, o2)
                     ON ik.o2 = ic.o1
                   LEFT JOIN pg_attribute ac
                     ON ac.attrelid = x.indrelid AND ac.attnum = ik.attnum
                   WHERE ic.coll <> 0 AND ik.attnum > 0
                     AND ic.coll IS DISTINCT FROM ac.attcollation)
       )::text AS hasexprs
       FROM pg_index x
       JOIN pg_class i ON i.oid = x.indexrelid
       JOIN pg_am am ON am.oid = i.relam
       JOIN pg_class t ON t.oid = x.indrelid
       JOIN pg_namespace n ON n.oid = t.relnamespace
       WHERE n.nspname NOT IN ('pg_catalog', 'information_schema')
         -- an EXCLUDE constraint OWNS its index: ADD CONSTRAINT
         -- recreates it, so listing it here would collide on the name
         -- (PK/unique constraint indexes stay — the PK-via-UNIQUE flow
         -- builds them first and attaches)
         AND NOT EXISTS (SELECT 1 FROM pg_constraint cx
                         WHERE cx.conindid = x.indexrelid
                           AND cx.contype = 'x')
       ORDER BY n.nspname, t.relname, i.relname"""

  /** pg_constraint contype='f' with both column lists in key order.
    * conparentid = 0 keeps only TOP-LEVEL constraints: an FK touching
    * a partitioned table (either side) spawns per-leaf clone rows with
    * conparentid set — same conname, conrelid/confrelid pointing at
    * leaf partitions that never exist on the target. */
  val pgsqlFKeys: String =
    """SELECT c.conname, n.nspname, t.relname,
       (SELECT string_agg(a.attname, ',' ORDER BY k.ord)
        FROM unnest(c.conkey) WITH ORDINALITY AS k(attnum, ord)
        JOIN pg_attribute a
          ON a.attrelid = c.conrelid AND a.attnum = k.attnum),
       ft.relname,
       (SELECT string_agg(a.attname, ',' ORDER BY k.ord)
        FROM unnest(c.confkey) WITH ORDINALITY AS k(attnum, ord)
        JOIN pg_attribute a
          ON a.attrelid = c.confrelid AND a.attnum = k.attnum),
       fn.nspname, c.confupdtype::text, c.confdeltype::text,
       c.condeferrable::text, c.condeferred::text,
       c.convalidated::text
       FROM pg_constraint c
       JOIN pg_class t ON t.oid = c.conrelid
       JOIN pg_namespace n ON n.oid = t.relnamespace
       JOIN pg_class ft ON ft.oid = c.confrelid
       JOIN pg_namespace fn ON fn.oid = ft.relnamespace
       WHERE c.contype = 'f'
         AND c.conparentid = 0
       ORDER BY c.conname"""

  /** sys.indexes one row PER KEY COLUMN (key_ordinal orders them;
    * grouped client-side — TDS 7.1-era servers predate string_agg). */
  val mssqlIndexes: String =
    """SELECT s.name AS schema_name, t.name AS table_name,
       i.name AS index_name, i.is_primary_key, i.is_unique,
       c.name AS column_name, ic.key_ordinal, i.filter_definition
       FROM sys.indexes i
       JOIN sys.tables t ON t.object_id = i.object_id
       JOIN sys.schemas s ON s.schema_id = t.schema_id
       JOIN sys.index_columns ic
         ON ic.object_id = i.object_id AND ic.index_id = i.index_id
       JOIN sys.columns c
         ON c.object_id = ic.object_id AND c.column_id = ic.column_id
       WHERE i.name IS NOT NULL AND ic.is_included_column = 0
       ORDER BY s.name, t.name, i.name, ic.key_ordinal"""

  /** User-defined SEQUENCE objects (list-all-sequences.sql — identity
    * columns are never in sys.sequences, no filtering needed). */
  val mssqlSequences: String =
    """SELECT sc.name AS schema_name, s.name AS sequence_name,
       CAST(s.start_value AS BIGINT), CAST(s.increment AS BIGINT),
       CAST(s.minimum_value AS BIGINT), CAST(s.maximum_value AS BIGINT),
       CAST(s.current_value AS BIGINT), s.is_cycling, s.cache_size
       FROM sys.sequences s
       JOIN sys.schemas sc ON sc.schema_id = s.schema_id
       ORDER BY sc.name, s.name"""

  /** sys.foreign_keys one row per column pair (constraint_column_id
    * orders them; grouped client-side). */
  val mssqlFKeys: String =
    """SELECT fk.name, s.name AS schema_name, tp.name AS table_name,
       cp.name AS column_name, tr.name AS ref_table,
       cr.name AS ref_column, fkc.constraint_column_id,
       sr.name AS ref_schema,
       fk.update_referential_action_desc,
       fk.delete_referential_action_desc
       FROM sys.foreign_keys fk
       JOIN sys.foreign_key_columns fkc
         ON fkc.constraint_object_id = fk.object_id
       JOIN sys.tables tp ON tp.object_id = fk.parent_object_id
       JOIN sys.schemas s ON s.schema_id = tp.schema_id
       JOIN sys.columns cp ON cp.object_id = fkc.parent_object_id
         AND cp.column_id = fkc.parent_column_id
       JOIN sys.tables tr ON tr.object_id = fk.referenced_object_id
       JOIN sys.schemas sr ON sr.schema_id = tr.schema_id
       JOIN sys.columns cr ON cr.object_id = fkc.referenced_object_id
         AND cr.column_id = fkc.referenced_column_id
       ORDER BY fk.name, fkc.constraint_column_id"""

  /** Table / column comments (pgsql-schema.lisp comment handling). */
  val pgsqlTableComments: String =
    """SELECT n.nspname, c.relname, obj_description(c.oid, 'pg_class')
       FROM pg_class c
       JOIN pg_namespace n ON n.oid = c.relnamespace
       WHERE c.relkind IN ('r', 'p') AND NOT c.relispartition
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
         AND obj_description(c.oid, 'pg_class') IS NOT NULL"""

  val pgsqlColumnComments: String =
    """SELECT n.nspname, c.relname, a.attname,
       col_description(c.oid, a.attnum)
       FROM pg_class c
       JOIN pg_namespace n ON n.oid = c.relnamespace
       JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum > 0
       WHERE c.relkind IN ('r', 'p') AND NOT c.relispartition
         AND NOT a.attisdropped
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
         AND col_description(c.oid, a.attnum) IS NOT NULL"""

  /** Version-degraded variants: [[pgsqlColumns]] references
    * attgenerated (PG 12+) and [[pgsqlIndexes]] indnullsnotdistinct
    * (PG 15+); on an older source the whole query errors. Callers try
    * the modern query first and fall back — the legacy shapes emit
    * constants in the SAME column positions, so the row mappers never
    * notice (a PG 11- source cannot hold the newer features anyway).
    * Floor stays PG 11 (conparentid in [[pgsqlFKeys]], r19). */
  val pgsqlColumnsLegacy: String =
    pgsqlColumns.replace("a.attgenerated::text AS generated",
      "''::text AS generated")

  val pgsqlIndexesLegacy: String =
    pgsqlIndexes.replace("OR x.indnullsnotdistinct\n", "")

  /** Standalone user SEQUENCE objects — the reference migrates
    * sequences only for MSSQL (mssql-schema.lisp fetch-sequences);
    * pg→pg loses them (and SPLITS a sequence shared by several
    * columns' nextval defaults into unrelated serials). Excludes
    * serial/identity-owned sequences via pg_depend deptype 'a'/'i' —
    * those recreate through the serial pseudo-types.
    * pg_sequence_last_value is NULL until the first nextval. */
  val pgsqlSequences: String =
    """SELECT n.nspname, c.relname, s.seqstart, s.seqincrement,
       s.seqmin, s.seqmax, pg_sequence_last_value(c.oid),
       s.seqcycle::text, s.seqcache
       FROM pg_class c
       JOIN pg_namespace n ON n.oid = c.relnamespace
       JOIN pg_sequence s ON s.seqrelid = c.oid
       WHERE c.relkind = 'S'
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
         AND NOT EXISTS (SELECT 1 FROM pg_depend d
                         WHERE d.classid = 'pg_class'::regclass
                           AND d.objid = c.oid
                           AND d.deptype IN ('a', 'i'))
       ORDER BY n.nspname, c.relname"""

  /** CHECK constraints: pg_get_constraintdef renders `CHECK (expr)` —
    * the mapper strips the wrapper, the target DDL re-adds it. */
  val pgsqlChecks: String =
    """SELECT n.nspname, t.relname, c.conname,
       pg_get_constraintdef(c.oid), c.convalidated::text
       FROM pg_constraint c
       JOIN pg_class t ON t.oid = c.conrelid
       JOIN pg_namespace n ON n.oid = t.relnamespace
       WHERE c.contype = 'c'
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
       ORDER BY n.nspname, t.relname, c.conname"""

  /** EXCLUDE constraints (contype 'x') — pg_get_constraintdef renders
    * the whole `EXCLUDE USING am (elems…) [WHERE …] [DEFERRABLE …]`
    * clause, re-emitted verbatim on the target (column references
    * recased under fold modes like kept index definitions). The
    * reference drops these silently. */
  val pgsqlExclusions: String =
    """SELECT n.nspname, t.relname, c.conname,
       pg_get_constraintdef(c.oid)
       FROM pg_constraint c
       JOIN pg_class t ON t.oid = c.conrelid
       JOIN pg_namespace n ON n.oid = t.relnamespace
       WHERE c.contype = 'x' AND c.conparentid = 0
         AND n.nspname NOT IN ('pg_catalog', 'information_schema')
       ORDER BY n.nspname, t.relname, c.conname"""

  /** User-defined types referenced by user-table columns, directly or
    * NESTED (array element, domain base, range subtype, multirange's
    * range, composite field — a recursive closure), with a
    * target-ready DDL BODY rendered server-side (format_type +
    * pg_get_constraintdef, so typemods/collations/defaults come out in
    * PG's own canonical spelling) and the `schema.name` keys of other
    * user types each one references (the topological-sort input).
    * typtype filter: domains, composites, ranges, enums, plus
    * MULTIRANGE alias rows (kind 'm', empty body, refs = their range)
    * so a column typed as a multirange can seed its range's creation
    * — the CREATE itself always rides with the range. Array types
    * auto-create with their element, and custom BASE types cannot be
    * recreated from the catalog at all (their in/out/recv functions
    * live in C). */
  val pgsqlCustomTypes: String =
    """WITH RECURSIVE seed(oid) AS (
         SELECT DISTINCT a.atttypid
         FROM pg_attribute a
         JOIN pg_class c ON c.oid = a.attrelid
         JOIN pg_namespace n ON n.oid = c.relnamespace
         WHERE c.relkind IN ('r', 'p', 'm', 'v') AND a.attnum > 0
           AND NOT a.attisdropped
           AND n.nspname NOT IN ('pg_catalog', 'information_schema')
       ),
       closure(oid) AS (
         SELECT oid FROM seed
         UNION
         SELECT x.oid FROM closure cl, LATERAL (
           SELECT t.typelem AS oid FROM pg_type t
             WHERE t.oid = cl.oid AND t.typelem <> 0
           UNION ALL
           SELECT t.typbasetype FROM pg_type t
             WHERE t.oid = cl.oid AND t.typbasetype <> 0
           UNION ALL
           SELECT r.rngsubtype FROM pg_range r
             WHERE r.rngtypid = cl.oid
           UNION ALL
           SELECT r.rngtypid FROM pg_range r
             WHERE r.rngmultitypid = cl.oid
           UNION ALL
           SELECT a2.atttypid FROM pg_type t
             JOIN pg_attribute a2 ON a2.attrelid = t.typrelid
             WHERE t.oid = cl.oid AND t.typtype = 'c'
               AND t.typrelid <> 0 AND a2.attnum > 0
               AND NOT a2.attisdropped
         ) x
       ),
       refs(oid, ref) AS (
         -- raw dependency edges, then NORMALIZE each through one
         -- array-element dereference ('CREATE DOMAIN il AS posint[]'
         -- must depend on posint, not the filtered-out '_posint')
         -- and one multirange→range mapping (a composite field or
         -- domain base typed as a multirange depends on the RANGE,
         -- which is what actually gets a CREATE statement)
         SELECT cl.oid, norm.ref FROM closure cl
         CROSS JOIN LATERAL (
           SELECT t.typbasetype AS raw FROM pg_type t
             WHERE t.oid = cl.oid AND t.typbasetype <> 0
           UNION ALL
           SELECT r.rngsubtype FROM pg_range r
             WHERE r.rngtypid = cl.oid
           UNION ALL
           SELECT r.rngtypid FROM pg_range r
             WHERE r.rngmultitypid = cl.oid
           UNION ALL
           SELECT a2.atttypid
             FROM pg_type t
             JOIN pg_attribute a2 ON a2.attrelid = t.typrelid
             WHERE t.oid = cl.oid AND t.typtype = 'c'
               AND t.typrelid <> 0 AND a2.attnum > 0
               AND NOT a2.attisdropped
         ) x
         CROSS JOIN LATERAL (
           SELECT COALESCE(
               (SELECT mr.rngtypid FROM pg_range mr
                 WHERE mr.rngmultitypid = elem.eoid),
               elem.eoid) AS ref
           FROM (SELECT CASE WHEN et.typtype = 'b'
                               AND et.typelem <> 0
                             THEN et.typelem ELSE x.raw END AS eoid
                 FROM pg_type et WHERE et.oid = x.raw) elem
         ) norm
       )
       SELECT tn.nspname, t.typname, t.typtype::text,
         CASE t.typtype
           WHEN 'd' THEN format_type(t.typbasetype, t.typtypmod)
             || CASE WHEN t.typcollation NOT IN (0, 100)
                  THEN ' COLLATE ' || (SELECT quote_ident(cn.nspname)
                      || '.' || quote_ident(collname)
                    FROM pg_collation col
                    JOIN pg_namespace cn ON cn.oid = col.collnamespace
                    WHERE col.oid = t.typcollation)
                  ELSE '' END
             || COALESCE(' DEFAULT ' || t.typdefault, '')
             || CASE WHEN t.typnotnull THEN ' NOT NULL' ELSE '' END
             || COALESCE((SELECT ' ' ||
                  string_agg(pg_get_constraintdef(c2.oid), ' '
                    ORDER BY c2.conname)
                  FROM pg_constraint c2 WHERE c2.contypid = t.oid), '')
           WHEN 'c' THEN '(' || (SELECT string_agg(
               quote_ident(a3.attname) || ' '
                 || format_type(a3.atttypid, a3.atttypmod)
                 || CASE WHEN a3.attcollation NOT IN (0, 100)
                      THEN ' COLLATE ' || (SELECT quote_ident(cn.nspname)
                          || '.' || quote_ident(collname)
                        FROM pg_collation col
                        JOIN pg_namespace cn ON cn.oid = col.collnamespace
                        WHERE col.oid = a3.attcollation)
                      ELSE '' END,
               ', ' ORDER BY a3.attnum)
             FROM pg_attribute a3
             WHERE a3.attrelid = t.typrelid AND a3.attnum > 0
               AND NOT a3.attisdropped) || ')'
           WHEN 'r' THEN '(subtype = '
             || format_type(r.rngsubtype, NULL)
             -- opclass/collation/diff names render SCHEMA-QUALIFIED:
             -- the target session's search path need not match the
             -- source's, and an unqualified non-path opclass fails
             -- CREATE TYPE outright
             || ', subtype_opclass = ' || (SELECT quote_ident(opn.nspname)
                  || '.' || quote_ident(opcname)
                  FROM pg_opclass oc
                  JOIN pg_namespace opn ON opn.oid = oc.opcnamespace
                  WHERE oc.oid = r.rngsubopc)
             || CASE WHEN r.rngcollation NOT IN (0, 100)
                  THEN ', collation = ' || (SELECT quote_ident(cn.nspname)
                    || '.' || quote_ident(collname)
                    FROM pg_collation col
                    JOIN pg_namespace cn ON cn.oid = col.collnamespace
                    WHERE col.oid = r.rngcollation)
                  ELSE '' END
             -- rngsubdiff is user-settable (e.g. subtype_diff =
             -- float8mi) and changes GiST behavior — dropping it
             -- silently would recreate a DIFFERENT range type
             || CASE WHEN r.rngsubdiff::oid <> 0
                  THEN ', subtype_diff = ' || (SELECT
                    quote_ident(pn.nspname) || '.' || quote_ident(p.proname)
                    FROM pg_proc p
                    JOIN pg_namespace pn ON pn.oid = p.pronamespace
                    WHERE p.oid = r.rngsubdiff::oid)
                  ELSE '' END
             || ', multirange_type_name = '
             || (SELECT quote_ident(mn.nspname) || '.'
                  || quote_ident(mt.typname)
                  FROM pg_type mt
                  JOIN pg_namespace mn ON mn.oid = mt.typnamespace
                  WHERE mt.oid = r.rngmultitypid)
             || ')'
           WHEN 'e' THEN '(' || COALESCE((SELECT
               string_agg(quote_literal(enumlabel), ', '
                 ORDER BY enumsortorder)
               FROM pg_enum e WHERE e.enumtypid = t.oid), '') || ')'
         END,
         COALESCE((SELECT string_agg(DISTINCT
             rn2.nspname || '.' || rt.typname, E'\n')
           FROM refs rf
           JOIN pg_type rt ON rt.oid = rf.ref
           JOIN pg_namespace rn2 ON rn2.oid = rt.typnamespace
           WHERE rf.oid = t.oid
             AND rn2.nspname NOT IN ('pg_catalog',
                                     'information_schema')
             AND rt.typtype IN ('d', 'c', 'r', 'e')), '')
       FROM closure cl
       JOIN pg_type t ON t.oid = cl.oid
       JOIN pg_namespace tn ON tn.oid = t.typnamespace
       LEFT JOIN pg_range r ON r.rngtypid = t.oid
       WHERE tn.nspname NOT IN ('pg_catalog', 'information_schema')
         AND t.typtype IN ('d', 'c', 'r', 'e', 'm')
       ORDER BY tn.nspname, t.typname"""

  /** PG heap split by ctid block ranges
    * (clojure/src/pgloader/source/pgsql.clj:206-208, 313-345). */
  def pgsqlCtidPredicates(relpages: Long, pagesPerChunk: Long)
      : Seq[String] = {
    val n = math.max(1, (relpages + pagesPerChunk - 1) / pagesPerChunk)
    (0L until n).map { i =>
      val lo = i * pagesPerChunk
      val hi = (i + 1) * pagesPerChunk
      if (i == n - 1) s"ctid >= '($lo,0)'"
      else s"ctid >= '($lo,0)' AND ctid < '($hi,0)'"
    }
  }
}

/** Catalog construction from the per-engine introspection ROW SHAPES —
  * decoupled from any live driver. Callers run the [[IntrospectionSql]]
  * queries over whatever connection they have and feed the result rows
  * here; the mapping logic (type reconstruction, PK/FK assembly,
  * auto-increment detection) is what the reference implements per source
  * (sqlite-schema.lisp, mssql-schema.lisp) and is fully unit-testable
  * without the engines being present. */
object IntrospectionRows {

  /** One `PRAGMA table_info(t)` row: (cid, name, type, notnull,
    * dflt_value, pk). */
  final case class SqliteColumn(cid: Int, name: String, ctype: String,
                                notNull: Boolean, default: Option[String],
                                pk: Int)
  /** `PRAGMA index_list` + `index_info` merged: origin `c` = user index,
    * `u` = UNIQUE constraint, `pk` = the implicit PK index. */
  final case class SqliteIndex(name: String, unique: Boolean,
                               columns: Seq[String], origin: String = "c")
  /** One `PRAGMA foreign_key_list(t)` row (id groups composite keys). */
  final case class SqliteFk(id: Int, seq: Int, table: String,
                            from: String, to: String)

  /** sqlite-schema.lisp list-columns semantics: a missing/empty type
    * under SQLite's dynamic typing is text; `INTEGER PRIMARY KEY` (single
    * pk column) aliases the rowid → auto-increment; pk columns are
    * implicitly NOT NULL. */
  private val SqliteFnDefault =
    "(?i)\\b(strftime|datetime|julianday|unixepoch)\\s*\\(".r


  def sqliteTable(name: String, cols: Seq[SqliteColumn],
                  indexes: Seq[SqliteIndex] = Nil,
                  fks: Seq[SqliteFk] = Nil,
                  rowCount: Long = 0L): Table = {
    val pkCount = cols.count(_.pk > 0)
    val fields = cols.sortBy(_.cid).map { c =>
      // ctype stays RAW (cast-rule guards match the declared spelling,
      // `smallint unsigned` keeps its unsigned marker); SQLite's
      // accept-any-type-name freedom is handled by the CAST layer's
      // prefix-affinity fallback rules (DefaultCastRules.sqlite)
      val ct = Option(c.ctype).map(_.trim.toLowerCase).filter(_.nonEmpty)
        .getOrElse("text")
      // SQLite-only function defaults (strftime/datetime/julianday/
      // unixepoch) have no PG spelling — they rewrite to
      // CURRENT_TIMESTAMP, like the reference (sqlite.clj:31-37
      // sqlite-function-default?; the sqlite fixture's appointments
      // table would otherwise fail CREATE TABLE outright)
      val dflt = c.default.map { d =>
        if (SqliteFnDefault.findFirstIn(d).isDefined) "CURRENT_TIMESTAMP"
        else d
      }
      SourceColumn(
        table = name, name = c.name, ctype = ct,
        default = dflt,
        nullable = !c.notNull && c.pk == 0,
        // ONLY a column typed exactly INTEGER aliases the rowid in
        // SQLite — INT/INT2/INT8 PRIMARY KEY columns do not auto-assign
        autoIncrement = c.pk == 1 && pkCount == 1 && ct == "integer")
    }
    val pkCols = cols.filter(_.pk > 0).sortBy(_.pk).map(_.name)
    val pkIndex =
      if (pkCols.nonEmpty)
        Seq(Index(s"${name}_pkey", name, primary = true, unique = true,
          columns = pkCols))
      else Nil
    val others = indexes.filterNot(_.origin == "pk")
      .map(i => Index(i.name, name, unique = i.unique, columns = i.columns))
    val fkeys = fks.groupBy(_.id).toSeq.sortBy(_._1).map { case (id, rows) =>
      val sorted = rows.sortBy(_.seq)
      FKey(s"${name}_fk_$id", name, sorted.map(_.from),
        sorted.head.table, sorted.map(_.to))
    }
    // SQLite has no schemas: tables land in "public" on the target
    // (sqlite.clj:172 matches the CL v3 behavior) — an ALTER SCHEMA
    // 'public' RENAME TO ... then applies, tests/sqlite/test-pk
    Table(name = name, schema = "public", sourceName = name,
      size = rowCount, fields = fields,
      indexes = pkIndex ++ others, fkeys = fkeys)
  }

  /** One row of [[IntrospectionSql.mssqlColumns]] (sys.columns joined to
    * sys.types/default_constraints). `maxLength` is BYTES (-1 = MAX). */
  final case class MssqlColumn(schema: String, table: String, name: String,
                               typeName: String, maxLength: Int,
                               precision: Int, scale: Int,
                               nullable: Boolean, identity: Boolean,
                               default: Option[String],
                               /** the table's row count (sys.partitions) */
                               tableRows: Long = 0L)

  /** Reconstruct the typemod'd ctype the cast guards expect
    * (mssql-schema.lisp:54-132): n(var)char lengths are in UTF-16 code
    * units = bytes/2; -1 means MAX → no typemod. */
  def mssqlCtype(c: MssqlColumn): String = c.typeName.toLowerCase match {
    case t @ ("varchar" | "char" | "varbinary" | "binary") =>
      if (c.maxLength < 0) t else s"$t(${c.maxLength})"
    case t @ ("nvarchar" | "nchar") =>
      if (c.maxLength < 0) t else s"$t(${c.maxLength / 2})"
    case t @ ("decimal" | "numeric") => s"$t(${c.precision},${c.scale})"
    case t => t
  }

  /** sys.default_constraints wraps values in parens: `((0))` → `0`,
    * `('x')` → `'x'`, `(getdate())` → `getdate()`
    * (mssql-schema.lisp default handling). */
  def stripMssqlDefault(d: String): String = {
    var s = d.trim
    while (s.startsWith("(") && s.endsWith(")") && {
      var depth = 0; var ok = true
      val inner = s.substring(1, s.length - 1)
      inner.foreach {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth < 0) ok = false
        case _ =>
      }
      ok && depth == 0
    }) s = s.substring(1, s.length - 1).trim
    s
  }

  /** One row of the information_schema column query
    * ([[MySqlWireSource.introspect]]):
    * `columnType` is the typemod'd form the MySQL cast guards expect
    * (`int(11)`, `varchar(25)`, `tinyint(1)`, `decimal(12,2)`);
    * `extra` carries `auto_increment` (mysql-schema.lisp:54-212). */
  final case class MySqlColumn(table: String, name: String,
                               columnType: String, default: Option[String],
                               nullable: Boolean, extra: String,
                               /** information_schema.tables.table_rows,
                                 * the table's row-count estimate */
                               tableRows: Long = 0L)


  /** FK referential action → the Option the DDL emitter renders:
    * defaults (NO ACTION; RESTRICT is PG's parse-equivalent noise on
    * re-creation only when explicitly set, so it IS kept) collapse to
    * None. */
  private[sources] def fkRule(raw: String): Option[String] =
    Option(raw).map(_.trim.toUpperCase).filter(r =>
      r.nonEmpty && r != "NO ACTION")

  /** Group the flat information_schema rows into catalog tables, ordered
    * like the query (table_name, ordinal_position). */
  def mysqlTables(schema: String, rows: Seq[MySqlColumn]): Seq[Table] =
    rows.groupBy(_.table).toSeq.sortBy(_._1).map { case (tbl, cols) =>
      Table(name = tbl, schema = schema, sourceName = tbl,
        size = cols.head.tableRows,
        fields = cols.map(c => SourceColumn(tbl, c.name, c.columnType,
          default = c.default, nullable = c.nullable,
          autoIncrement = c.extra.toLowerCase.contains("auto_increment"),
          // EXTRA carries `on update CURRENT_TIMESTAMP` — the Migrator
          // emulates it with a plpgsql trigger after the data phase
          onUpdateCurrentTimestamp =
            c.extra.toLowerCase.contains("on update current_timestamp"))))
    }

  /** Attach [[IntrospectionSql.mysqlIndexesInline]] /
    * [[IntrospectionSql.mysqlFKeysInline]] result rows to catalog
    * tables. idxRows: (table, index_name, non_unique, columns-csv);
    * fkRows: (constraint, table, column, ref_table, ref_column,
    * ordinal). MySQL's implicit `PRIMARY` index becomes
    * `<table>_pkey` (PG reserves the bare word). */
  def mysqlAttachConstraints(tables: Seq[Table],
                             idxRows: Seq[Array[String]],
                             fkRows: Seq[Array[String]]): Seq[Table] = {
    val idxByTable = idxRows.groupBy(_(0))
    val fkByTable = fkRows.groupBy(_(1))
    tables.map { t =>
      val idxs = idxByTable.getOrElse(t.sourceName, Nil)
        .filter(r => Option(r(3)).exists(_.nonEmpty)).map { r =>
          val primary = r(1) == "PRIMARY"
          Index(
            name = if (primary) s"${t.sourceName}_pkey" else r(1),
            table = t.sourceName, primary = primary,
            unique = primary || r(2) == "0",
            columns = r(3).split(",").toSeq)
        }
      val fks = fkByTable.getOrElse(t.sourceName, Nil)
        .groupBy(_(0)).toSeq.sortBy(_._1).map { case (name, rows) =>
          val sorted = rows.sortBy(_(5).toInt)
          FKey(name, t.sourceName, sorted.map(_(2)),
            sorted.head(3), sorted.map(_(4)),
            onUpdate =
              if (sorted.head.length > 6) fkRule(sorted.head(6)) else None,
            onDelete =
              if (sorted.head.length > 7) fkRule(sorted.head(7)) else None)
        }
      t.copy(indexes = idxs, fkeys = fks)
    }
  }

  /** Attach [[IntrospectionSql.pgsqlIndexes]] /
    * [[IntrospectionSql.pgsqlFKeys]] result rows. idxRows: (schema,
    * table, index, is_primary t/f, is_unique t/f, columns-csv — NULL
    * for expression indexes, skipped; partial-index predicate or NULL);
    * fkRows: (name, schema, table, columns-csv, ref_table,
    * ref_columns-csv). */
  def pgsqlAttachConstraints(tables: Seq[Table],
                             idxRows: Seq[Array[String]],
                             fkRows: Seq[Array[String]]): Seq[Table] = {
    val idxByTable = idxRows.groupBy(r => (r(0), r(1)))
    val fkByTable = fkRows.groupBy(r => (r(1), r(2)))
    tables.map { t =>
      val key = (t.schema, t.sourceName)
      val idxs = idxByTable.getOrElse(key, Nil).flatMap { r =>
          val plainCols = Option(r(5)).filter(_.nonEmpty)
          // expression members present: no plain column list at all,
          // OR a MIXED index like (a, lower(b)) whose attnum>0
          // aggregate keeps only `a` — both re-create from the
          // rendered definition (name/table rewritten at emit);
          // with NEITHER signal (a pre-indexdef test double) the
          // index is unreconstructable and drops, the old behavior
          val hasExprs =
            r.length > 8 && (r(8) == "t" || r(8) == "true")
          val idxDef =
            if ((plainCols.isEmpty || hasExprs) && r.length > 7)
              Option(r(7)).filter(_.nonEmpty)
            else None
          if (plainCols.isEmpty && idxDef.isEmpty) None
          else Some(Index(name = r(2), table = t.sourceName,
            primary = r(3) == "t" || r(3) == "true",
            unique = r(4) == "t" || r(4) == "true",
            columns = plainCols.map(_.split(",").toSeq).getOrElse(Nil),
            // pg_get_expr(indpred) — partial indexes keep their WHERE
            filter = Option(r(6)).filter(_.nonEmpty),
            indexDef = idxDef))
        }
      val fks = fkByTable.getOrElse(key, Nil).map { r =>
        // pg_constraint action codes: a=NO ACTION r=RESTRICT c=CASCADE
        // n=SET NULL d=SET DEFAULT (the reference re-creates through
        // pg_get_constraintdef, which carries the same clauses)
        def act(code: String): Option[String] = code match {
          case "r" => Some("RESTRICT")
          case "c" => Some("CASCADE")
          case "n" => Some("SET NULL")
          case "d" => Some("SET DEFAULT")
          case _ => None
        }
        FKey(r(0), t.sourceName, r(3).split(",").toSeq,
          r(4), r(5).split(",").toSeq,
          // cross-schema REFERENCES resolve in the FOREIGN table's
          // schema (pgsql-ddl.lisp:330 renders it qualified)
          foreignSchema = if (r.length > 6) r(6) else "",
          onUpdate = if (r.length > 7) act(r(7)) else None,
          onDelete = if (r.length > 8) act(r(8)) else None,
          // boolean::text spells 'true'/'false' (bare bool 't'/'f')
          deferrable = r.length > 9 && (r(9) == "true" || r(9) == "t"),
          initiallyDeferred =
            r.length > 10 && (r(10) == "true" || r(10) == "t"),
          valid = r.length <= 11 || r(11) == "true" || r(11) == "t")
      }
      t.copy(indexes = idxs, fkeys = fks)
    }
  }


  /** Attach [[IntrospectionSql.mssqlIndexes]] /
    * [[IntrospectionSql.mssqlFKeys]] result rows (one row PER KEY
    * COLUMN; grouped here). idxRows: (schema, table, index,
    * is_primary_key t/f/1/0, is_unique, column, key_ordinal,
    * filter_definition or NULL); fkRows: (name, schema, table, column,
    * ref_table, ref_column, ordinal). */
  def mssqlAttachConstraints(tables: Seq[Table],
                             idxRows: Seq[Array[String]],
                             fkRows: Seq[Array[String]]): Seq[Table] = {
    def truthy(s: String) = s == "t" || s == "1" || s == "true"
    val idxByTable = idxRows.groupBy(r => (r(0), r(1)))
    val fkByTable = fkRows.groupBy(r => (r(1), r(2)))
    tables.map { t =>
      val key = (t.schema, t.sourceName)
      val idxs = idxByTable.getOrElse(key, Nil)
        .groupBy(_(2)).toSeq.sortBy(_._1).map { case (name, rows) =>
          val sorted = rows.sortBy(_(6).toInt)
          Index(name = name, table = t.sourceName,
            primary = truthy(sorted.head(3)),
            unique = truthy(sorted.head(4)),
            columns = sorted.map(_(5)),
            // filtered indexes: sys.indexes.filter_definition through
            // the same MSSQL→PG predicate rewrite the DSL path uses
            filter = Option(sorted.head(7)).filter(_.nonEmpty)
              .map(graft.catalog.IndexFilters.mssqlToPg))
        }
      val fks = fkByTable.getOrElse(key, Nil)
        .groupBy(_(0)).toSeq.sortBy(_._1).map { case (name, rows) =>
          val sorted = rows.sortBy(_(6).toInt)
          FKey(name, t.sourceName, sorted.map(_(3)),
            sorted.head(4), sorted.map(_(5)),
            foreignSchema =
              if (sorted.head.length > 7) sorted.head(7) else "",
            // sys.foreign_keys descs: NO_ACTION/CASCADE/SET_NULL/
            // SET_DEFAULT — underscores to spaces, defaults drop
            onUpdate = if (sorted.head.length > 8)
              fkRule(sorted.head(8).replace('_', ' ')) else None,
            onDelete = if (sorted.head.length > 9)
              fkRule(sorted.head(9).replace('_', ' ')) else None)
        }
      t.copy(indexes = idxs, fkeys = fks)
    }
  }

  /** information_schema.check_constraints.CHECK_CLAUSE is MySQL slang:
    * identifiers backtick-quoted, string escapes `\'`-style, literals
    * prefixed with charset introducers (`_utf8mb4'x'`). PG wants double
    * quotes, doubled single quotes, and no introducer — emitted verbatim
    * the clause is invalid PG and ALTER TABLE … CHECK fails (the
    * reference rewrites backticks at mysql-schema.lisp:204-207). */
  def mysqlCheckToPg(clause: String): String = {
    // a character walk, NOT regexes over the whole clause: a regex
    // rewrite applied inside string-literal CONTENT corrupted literals
    // containing backticks ('see `col` docs') and truncated literals
    // ending in an introducer-shaped word ('_utf8') — only identifier
    // and literal DELIMITERS may be transformed
    val out = new StringBuilder(clause.length + 8)
    val n = clause.length
    // length of a quote token at position p: 1 for ', 2 for \', 0 if
    // neither
    def quoteTok(s: String, p: Int): Int =
      if (s.charAt(p) == '\'') 1
      else if (s.charAt(p) == '\\' && p + 1 < s.length &&
        s.charAt(p + 1) == '\'') 2
      else 0
    var i = 0
    while (i < n) {
      clause(i) match {
        case '`' => // backtick identifier (`` = embedded backtick)
          val id = new StringBuilder
          i += 1
          var open = true
          while (i < n && open) {
            if (clause(i) == '`') {
              if (i + 1 < n && clause(i + 1) == '`') { id += '`'; i += 2 }
              else { open = false; i += 1 }
            } else { id += clause(i); i += 1 }
          }
          out += '"'
          out ++= id.toString.replace("\"", "\"\"")
          out += '"'
        case c if quoteTok(clause, i) > 0 =>
          // string literal. MySQL renders the DELIMITERS themselves as
          // \' (an empty literal is \'\'), so a quote token is either
          // bare ' or backslash-escaped \'; an immediately-following
          // second quote token is an embedded quote (doubled form)
          i += quoteTok(clause, i)
          out += '\''
          var open = true
          while (i < n && open) {
            if (clause(i) == '\\' && i + 1 < n && clause(i + 1) == '\\') {
              out += '\\'; i += 2
            } else {
              val q = quoteTok(clause, i)
              if (q > 0) {
                i += q
                val q2 = if (i < n) quoteTok(clause, i) else 0
                if (q2 > 0) { out ++= "''"; i += q2 }
                else { open = false; out += '\'' }
              } else { out += clause(i); i += 1 }
            }
          }
        case '_' if (i == 0 || (!clause(i - 1).isLetterOrDigit &&
            clause(i - 1) != '_' && clause(i - 1) != '`')) =>
          // charset introducer (_utf8mb4'x') — only when the word is
          // IMMEDIATELY followed by a quote token, outside any literal
          var j = i + 1
          while (j < n && (clause(j).isLetterOrDigit)) j += 1
          if (j > i + 1 && j < n && quoteTok(clause, j) > 0) i = j
          else { out += clause(i); i += 1 }
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** Attach MySQL table/column comments + CHECK clauses (clauses
    * rewritten to PG dialect via [[mysqlCheckToPg]]). tcRows:
    * (table, comment); ccRows: (table, column, comment); checkRows:
    * (table, constraint, clause). */
  def mysqlAttachComments(tables: Seq[Table],
                          tcRows: Seq[Array[String]],
                          ccRows: Seq[Array[String]],
                          checkRows: Seq[Array[String]]): Seq[Table] = {
    val tc = tcRows.map(r => r(0) -> r(1)).toMap
    val cc = ccRows.map(r => (r(0), r(1)) -> r(2)).toMap
    val checks = checkRows.groupBy(_(0))
    tables.map { t =>
      t.copy(
        comment = tc.get(t.sourceName).filter(_.nonEmpty),
        fields = t.fields.map(f =>
          f.copy(comment = cc.get((t.sourceName, f.name))
            .filter(_.nonEmpty))),
        checks = checks.getOrElse(t.sourceName, Nil)
          .map(r => CheckDef(Option(r(1)).filter(_.nonEmpty),
            mysqlCheckToPg(r(2)))))
    }
  }

  /** Strip pg_get_constraintdef's `CHECK (expr)` wrapper — the target
    * DDL re-adds it. */
  def stripPgCheckDef(d: String): String = {
    val s = d.trim
    if (s.toUpperCase.startsWith("CHECK") ) {
      val inner = s.drop(5).trim
      if (inner.startsWith("(") && inner.endsWith(")"))
        inner.substring(1, inner.length - 1)
      else inner
    } else s
  }

  /** Strip a trailing `NOT VALID` from a pg_get_constraintdef
    * rendering — the validity travels as [[CheckDef.valid]] and the
    * emitter re-appends it AFTER its own CHECK wrapper. */
  private def stripNotValid(d: String): String = {
    val t = d.trim
    if (t.toUpperCase.endsWith("NOT VALID"))
      t.substring(0, t.length - 9).trim
    else t
  }

  /** Attach PG table/column comments + CHECK clauses + EXCLUDE
    * constraints. tcRows: (schema, table, comment); ccRows: (schema,
    * table, column, comment); checkRows: (schema, table, conname,
    * constraintdef, convalidated); exclRows: (schema, table, conname,
    * constraintdef — carried VERBATIM incl. any NOT VALID). */
  def pgsqlAttachComments(tables: Seq[Table],
                          tcRows: Seq[Array[String]],
                          ccRows: Seq[Array[String]],
                          checkRows: Seq[Array[String]],
                          exclRows: Seq[Array[String]] = Nil)
      : Seq[Table] = {
    val tc = tcRows.map(r => (r(0), r(1)) -> r(2)).toMap
    val cc = ccRows.map(r => (r(0), r(1), r(2)) -> r(3)).toMap
    val checks = checkRows.groupBy(r => (r(0), r(1)))
    val excls = exclRows.groupBy(r => (r(0), r(1)))
    tables.map { t =>
      t.copy(
        comment = tc.get((t.schema, t.sourceName)).filter(_.nonEmpty),
        fields = t.fields.map(f =>
          f.copy(comment = cc.get((t.schema, t.sourceName, f.name))
            .filter(_.nonEmpty))),
        checks = checks.getOrElse((t.schema, t.sourceName), Nil)
          .map(r => CheckDef(Option(r(2)).filter(_.nonEmpty),
            stripPgCheckDef(stripNotValid(r(3))),
            valid = r.length <= 4 || r(4) == "t" || r(4) == "true")),
        exclusions = excls.getOrElse((t.schema, t.sourceName), Nil)
          .map(r => CheckDef(Option(r(2)).filter(_.nonEmpty), r(3))))
    }
  }

  /** Map [[IntrospectionSql.pgsqlCustomTypes]] rows (schema, name,
    * typtype, body, newline-separated refs) to [[CustomType]]s. */
  def pgsqlCustomTypes(rows: Seq[Array[String]])
      : Seq[graft.catalog.CustomType] =
    rows.map(r => graft.catalog.CustomType(
      schema = r(0), name = r(1), kind = r(2),
      body = Option(r(3)).getOrElse(""),
      refs = Option(r(4)).filter(_.nonEmpty)
        .map(_.split('\n').toSeq).getOrElse(Nil)))

  /** One row of [[IntrospectionSql.pgsqlColumns]] (pg_catalog join):
    * `dataType` is `format_type` output — already the typemod'd ctype
    * the PG cast guards expect (`character varying(30)`, `numeric(10,2)`,
    * `timestamp with time zone`). */
  final case class PgColumn(schema: String, table: String, name: String,
                            dataType: String, default: Option[String],
                            nullable: Boolean,
                            /** quoted label list when the column's
                              * type (or array element) is an ENUM. */
                            enumLabels: Option[String] = None,
                            /** pg_attribute.attidentity 'a'/'d' —
                              * GENERATED AS IDENTITY (PG 10+). The
                              * reference's catalog query predates the
                              * feature (list-all-columns.sql detects
                              * only nextval defaults); identity IS
                              * auto_increment semantics, so it maps
                              * the same way: serial target + reset
                              * sequences. */
                            identity: Boolean = false,
                            /** pg_class.relkind — 'p' marks a
                              * partitioned parent, which has no ctid
                              * and relpages = 0 regardless of volume:
                              * reads must route through its leaves. */
                            relkind: String = "r",
                            /** pg_attribute.attgenerated = 's' — a
                              * GENERATED ALWAYS AS (…) STORED column;
                              * `default` then holds the generation
                              * expression (it lives in pg_attrdef). */
                            generated: Boolean = false,
                            /** the nextval default's sequence is
                              * AUTO-owned by this column (a serial).
                              * false = a standalone user sequence:
                              * it migrates as an OBJECT and the
                              * default carries verbatim, preserving
                              * sequences SHARED between columns. */
                            ownedSeq: Boolean = true,
                            /** pg_class.relpersistence = 'u' — an
                              * UNLOGGED table; recreated UNLOGGED
                              * (crash-truncation is a property the
                              * owner chose; silently upgrading it to
                              * logged changes write costs). */
                            unlogged: Boolean = false,
                            /** the relation's size in heap pages */
                            pages: Long = 0L)

  /** Group the flat pg_attribute rows into catalog tables, ordered like
    * the query (nspname, relname, attnum). Serial/identity detection =
    * a `nextval('…')` default, the pgsql-schema.lisp rule. */
  def pgsqlTables(rows: Seq[PgColumn]): Seq[Table] =
    rows.groupBy(r => (r.schema, r.table)).toSeq.sortBy(_._1).map {
      case ((sch, tbl), cols) =>
        Table(name = tbl, schema = sch, sourceName = tbl,
          size = cols.head.pages,
          partitioned = cols.head.relkind == "p",
          unlogged = cols.head.unlogged,
          fields = cols.map { c =>
            val serial = c.identity ||
              (c.ownedSeq &&
                c.default.exists(_.toLowerCase.startsWith("nextval(")))
            // a serial's nextval(...) default IS its serial-ness — the
            // target renders `serial`/`bigserial`, which carries its own
            // default; keeping the source expression too makes
            // CREATE TABLE fail with "multiple default values" (caught
            // live against PostgreSQL 15, t:LiveServerSpec pg→pg)
            // ENUM columns keep their REAL source type name in ctype
            // (user CAST rules keyed on it must still match); the
            // labels travel separately for the Migrator's dynamic-type
            // DDL. The default expression drops its `::mood` cast —
            // the source type never exists on the target, and an
            // untyped literal coerces to the recreated type at DDL
            // time. Strips ALL trailing cast segments ('a'::text::mood
            // must not leave a ::text that has no assignment cast to
            // the recreated enum), and an identifier is either a
            // "quoted name" (any chars, "" = literal quote — spaces
            // and specials included) or a bare \w$ word, optionally
            // schema-qualified, optionally with [] suffixes.
            val labels = c.enumLabels.map(Ddl.enumLabels)
            val castIdent = "(\"([^\"]|\"\")*\"|[\\w$]+)"
            val castSeg =
              s"::$castIdent(\\.$castIdent)?(\\s*\\[\\s*\\])*"
            val default =
              if (serial || c.generated) None
              else if (labels.nonEmpty)
                c.default.map(_.replaceAll(s"($castSeg)+$$", ""))
              else c.default
            SourceColumn(tbl, c.name, c.dataType,
              default = default,
              nullable = c.nullable,
              autoIncrement = serial && !c.generated,
              generated = if (c.generated) c.default else None,
              enumLabels = labels)
          })
    }

  /** Group the flat sys.columns rows into catalog tables, ordered like
    * the query (schema, table, column_id). */
  def mssqlTables(rows: Seq[MssqlColumn]): Seq[Table] =
    rows.groupBy(r => (r.schema, r.table)).toSeq.sortBy(_._1).map {
      case ((sch, tbl), cols) =>
        Table(name = tbl, schema = sch, sourceName = tbl,
          size = cols.head.tableRows,
          fields = cols.map(c => SourceColumn(tbl, c.name, mssqlCtype(c),
            default = c.default.map(stripMssqlDefault),
            nullable = c.nullable, autoIncrement = c.identity)))
    }
}
