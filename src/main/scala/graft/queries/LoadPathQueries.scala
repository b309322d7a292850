package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Transforms
import graft.operators.ProjectFields
import graft.operators.ProjectFields.{FieldSpec, NullIf, TargetColumn, TrimMode}
import graft.sinks.{BatchRetry, CopyEndpoint, CopyError}
import graft.sources.{CopyText, CsvDialect, CsvSource, FixedWidth, SkipLines}

import QuerySupport.{t, scratch}

/** Load-path queries: field projection, transforms, casts, COPY
  * and file round-trips, migration, validation and profiling. */
object LoadPathQueries {
  val all: Seq[Query] = Seq(
    // §2.3 field→column projection: subset/reorder/duplicate/constant/using
    Query("project_fields", (s, dir) => {
      val fields = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .map(FieldSpec(_))
      val targets = Seq(
        TargetColumn("p_partkey"),
        TargetColumn("brand", fromField = Some("p_brand")),
        TargetColumn("brand_again", fromField = Some("p_brand")),
        TargetColumn("label",
          usingExpr = Some("concat(p_brand, ':', p_type)")),
        TargetColumn("origin", constant = Some("graft")))
      ProjectFields(
        t(s, dir, "part").select(
          col("p_partkey").cast("string"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size").cast("string")),
        fields, targets)
        .withColumn("p_partkey", col("p_partkey").cast("long"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey, p_brand AS brand, p_brand AS brand_again,
         p_brand || ':' || p_type AS label, 'graft' AS origin
         FROM part ORDER BY p_partkey"""),

    // §2.3 null-if (blanks + literal value)
    Query("null_if", (s, dir) => {
      val o = t(s, dir, "orders")
      val fields = Seq(
        FieldSpec("o_orderkey"),
        FieldSpec("o_orderpriority", nullIfs = Seq(NullIf.Value("1-URGENT"))),
        FieldSpec("o_status_b", nullIfs = Seq(NullIf.Blanks)))
      val targets = Seq(
        TargetColumn("o_orderkey"),
        TargetColumn("o_orderpriority"),
        TargetColumn("o_status_b"))
      ProjectFields(
        o.select(col("o_orderkey").cast("string"), col("o_orderpriority"),
          // blank-pad some statuses to exercise [null if blanks]
          when(col("o_orderkey") % 5 === 0, lit("   "))
            .otherwise(col("o_orderstatus")).as("o_status_b")),
        fields, targets)
        .withColumn("o_orderkey", col("o_orderkey").cast("long"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         NULLIF(o_orderpriority, '1-URGENT') AS o_orderpriority,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS o_status_b
         FROM orders ORDER BY o_orderkey"""),

    // §2.3 trim modes — all three modes through the ProjectFields stage
    Query("trim_fields", (s, dir) => {
      val pad = (c: Column) => concat(lit("  "), c, lit("  "))
      val padded = t(s, dir, "part").select(
        col("p_partkey"),
        pad(col("p_brand")).as("b_ltrim"),
        pad(col("p_brand")).as("b_rtrim"),
        pad(col("p_brand")).as("b_trim"))
      val fields = Seq(
        FieldSpec("b_ltrim", trim = TrimMode.Left),
        FieldSpec("b_rtrim", trim = TrimMode.Right),
        FieldSpec("b_trim", trim = TrimMode.Both))
      val targets = Seq(
        TargetColumn("p_partkey"), TargetColumn("b_ltrim"),
        TargetColumn("b_rtrim"), TargetColumn("b_trim"))
      ProjectFields(padded, fields, targets).orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
         ltrim('  ' || p_brand || '  ') AS b_ltrim,
         rtrim('  ' || p_brand || '  ') AS b_rtrim,
         trim('  ' || p_brand || '  ') AS b_trim
         FROM part ORDER BY p_partkey"""),

    // §2.3 per-field date format (PG to_char tokens → parser). The input
    // literal is assembled from extracted date components — NOT via
    // date_format with the same pattern — so the parse is tested against
    // an independent rendering.
    Query("date_format_parse", (s, dir) => {
      val sd = col("l_shipdate")
      val p2 = (c: Column) => lpad(c.cast("string"), 2, "0")
      val rendered = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          concat(p2(dayofmonth(sd)), lit("/"), p2(month(sd)), lit("/"),
            year(sd).cast("string"), lit(" "), p2(hour(sd)), lit(":"),
            p2(minute(sd)), lit(":"), p2(second(sd))).as("d"))
      val fields = Seq(FieldSpec("d",
        dateFormat = Some("DD/MM/YYYY HH24:MI:SS")))
      rendered.select(col("l_orderkey"), col("l_linenumber"),
          ProjectFields.prepareField(col("d"), fields.head)
            .cast("timestamp").as("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_shipdate
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    // §2.7 zero-dates-to-null + timestamp cast (MySQL datetime semantics)
    Query("transform_zero_dates", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, lit("0000-00-00 00:00:00"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
          .as("d_raw"))
      o.select(col("o_orderkey"),
          Transforms.zeroDatesToNull(col("d_raw")).cast("timestamp")
            .as("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate
         FROM orders ORDER BY o_orderkey"""),

    // §2.7 date-with-no-separator (compact 14-digit timestamps)
    Query("transform_date_no_sep", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        date_format(col("ts"), "yyyyMMddHHmmss").as("compact"))
      e.select(col("event_id"),
          Transforms.dateWithNoSeparator(col("compact")).cast("timestamp")
            .as("ts"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, date_trunc('second', ts) AS ts
         FROM events ORDER BY event_id"""),

    // §2.7 time-with-no-separator
    Query("transform_time_no_sep", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        concat(date_format(col("ts"), "HHmmss"),
          lpad((col("event_id") % 100).cast("string"), 2, "0")).as("compact"))
      e.select(col("event_id"),
          Transforms.timeWithNoSeparator(col("compact")).as("t"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id,
         strftime(ts, '%H:%M:%S') || '.' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') AS t
         FROM events ORDER BY event_id"""),

    // §2.7 tinyint-to-boolean
    Query("transform_tinyint_bool", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_orderkey") % 2).cast("string").as("flag"))
      o.select(col("o_orderkey"),
          Transforms.tinyintToBoolean(col("flag")).as("b"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 2 = 0 THEN 'f' ELSE 't' END AS b
         FROM orders ORDER BY o_orderkey"""),

    // §2.7 int-to-ip
    Query("transform_int_to_ip", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") * 9973) % 4294967296L).as("addr"))
      c.select(col("c_custkey"),
          Transforms.intToIp(col("addr")).as("ip"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey,
         CAST((a >> 24) & 255 AS VARCHAR) || '.' ||
         CAST((a >> 16) & 255 AS VARCHAR) || '.' ||
         CAST((a >> 8) & 255 AS VARCHAR) || '.' ||
         CAST(a & 255 AS VARCHAR) AS ip
         FROM (SELECT c_custkey, (c_custkey * 9973) % 4294967296 AS a FROM customer)
         ORDER BY c_custkey"""),

    // §2.7 set-to-enum-array + empty-string-to-null
    Query("transform_set_enum", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit(""))
          .otherwise(lower(col("c_mktsegment"))).as("tags"))
      c.select(col("c_custkey"),
          Transforms.setToEnumArray(
            Transforms.emptyStringToNull(col("tags"))).as("enum_arr"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey,
         CASE WHEN c_custkey % 11 = 0 THEN NULL
              ELSE '{' || lower(c_mktsegment) || '}' END AS enum_arr
         FROM customer ORDER BY c_custkey"""),

    // §2.7 hex-to-dec + byte-vector-to-hexstring + bytea literal
    Query("transform_hex", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        lower(hex(col("p_partkey"))).as("hexa"),
        col("p_brand"))
      p.select(col("p_partkey"),
          Transforms.hexToDec(col("hexa")).as("dec_str"),
          Transforms.byteVectorToHexstring(col("p_brand").cast("binary"))
            .as("brand_hex"),
          Transforms.byteVectorToBytea(col("p_brand").cast("binary"))
            .as("brand_bytea"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
         CAST(p_partkey AS VARCHAR) AS dec_str,
         lower(hex(encode(p_brand))) AS brand_hex,
         '\x' || lower(hex(encode(p_brand))) AS brand_bytea
         FROM part ORDER BY p_partkey"""),

    // §2.7 unix-timestamp-to-timestamptz
    Query("transform_unix_ts", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).cast("string").as("epoch"))
      o.select(col("o_orderkey"),
          Transforms.unixTimestampToTimestamptz(col("epoch")).as("ts_text"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_text
         FROM orders ORDER BY o_orderkey"""),

    // §2.6 cast-rule engine: MySQL-shaped source columns through the
    // default rule set (typed output, zero-dates nulled before cast)
    Query("cast_engine_mysql", (s, dir) => {
      import graft.casting._
      val raw = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        (col("o_orderkey") % 2).cast("string").as("is_priority"),
        when(col("o_orderkey") % 97 === 0, lit("0000-00-00 00:00:00"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
          .as("created_at"),
        col("o_orderpriority").as("note"),
        format_number(col("o_totalprice"), 2).as("price_str"))
        .withColumn("price_str", regexp_replace(col("price_str"), ",", ""))
      val cols = Seq(
        SourceColumn("orders", "o_orderkey", "bigint(20)"),
        SourceColumn("orders", "o_custkey", "int(10)"),
        SourceColumn("orders", "is_priority", "tinyint(1)"),
        SourceColumn("orders", "created_at", "datetime",
          default = Some("0000-00-00 00:00:00")),
        SourceColumn("orders", "note", "varchar(15)"),
        SourceColumn("orders", "price_str", "decimal(12,2)"))
      val outCols = cols.map { sc =>
        val r = CastEngine.cast(sc, Nil, DefaultCastRules.mysql)
        val base = col(sc.name)
        val transformed = r.transform.map(f => f(base)).getOrElse(base)
        // PG boolean text → Spark boolean needs explicit mapping
        val typed = r.sparkType match {
          case BooleanType => (transformed === "t").as(sc.name)
          case dt => transformed.cast(dt).as(sc.name)
        }
        typed
      }
      raw.select(outCols: _*)
        // decimal → double at the boundary so the oracle compare is
        // type-stable (DuckDB decimals surface as float64)
        .withColumn("price_str", col("price_str").cast("double"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 2 = 0 THEN FALSE ELSE TRUE END AS is_priority,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderdate END AS created_at,
         o_orderpriority AS note,
         CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2)) AS price_str
         FROM orders ORDER BY o_orderkey"""),

    // §2.4 Citus backfill join — distribution key backfilled through the
    // FK chain lineitem→orders→customer; dims broadcast (small side)
    // the DISTRIBUTE rule is parsed from DSL text and applied by walking
    // the catalog's fkey chain (citus.lisp:305-371) — not a hand-built
    // join; pivot tables broadcast.
    Query("citus_backfill_join", (s, dir) => {
      import graft.catalog.{Catalog => GC, Schema => GS, Table => GT, FKey}
      import graft.casting.SourceColumn
      val cmd = graft.dsl.Parser.parse(
        """LOAD DATABASE FROM postgresql:///src INTO postgresql:///dst
           DISTRIBUTE lineitem USING c_custkey FROM orders, customer;""")
      val rule = cmd.distribute.head
        .asInstanceOf[graft.dsl.Ast.DistributeUsing]
      val cat = GC("sf", Seq(GS("public", tables = Seq(
        GT(name = "lineitem",
          fields = Seq(
            SourceColumn("lineitem", "l_orderkey", "bigint"),
            SourceColumn("lineitem", "l_linenumber", "int"),
            SourceColumn("lineitem", "l_quantity", "double")),
          fkeys = Seq(FKey("li_ord_fk", "lineitem", Seq("l_orderkey"),
            "orders", Seq("o_orderkey")))),
        GT(name = "orders",
          fields = Seq(SourceColumn("orders", "o_orderkey", "bigint"),
            SourceColumn("orders", "o_custkey", "bigint")),
          fkeys = Seq(FKey("ord_cust_fk", "orders", Seq("o_custkey"),
            "customer", Seq("c_custkey")))),
        GT(name = "customer",
          fields = Seq(SourceColumn("customer", "c_custkey", "bigint")))))))
      val frames = Map(
        "lineitem" -> t(s, dir, "lineitem"),
        "orders" -> t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        "customer" -> t(s, dir, "customer").select(col("c_custkey")))
      graft.operators.Citus.backfillJoin(cat, rule, frames)
        .select(col(rule.column).as("dist_key"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT c.c_custkey AS dist_key, l.l_orderkey, l.l_linenumber, l.l_quantity
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY l.l_orderkey, l.l_linenumber"""),

    // §2.4/§2.5 regression EXCEPT — expected.exceptAll(actual)
    Query("except_regress", (s, dir) => {
      val all = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val actual = all.filter(col("o_orderkey") % 10 =!= 0)
      all.exceptAll(actual).orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey, o_orderstatus FROM orders
         EXCEPT ALL
         SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 0
         ORDER BY o_orderkey"""),

    // §2.5 min/max partition-bound aggregation
    Query("agg_minmax", (s, dir) => {
      t(s, dir, "orders").agg(
        min(col("o_orderkey")).as("lo"),
        (max(col("o_orderkey")) + 1).as("hi"))
    }, oracle =
      """SELECT min(o_orderkey) AS lo, max(o_orderkey) + 1 AS hi FROM orders"""),

    // §2.5 per-table row counts → copy-order scheduling (size desc)
    Query("agg_rowcounts", (s, dir) => {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")
      names.map(n => t(s, dir, n).select(lit(n).as("table_name"))
          .groupBy(col("table_name")).agg(count(lit(1)).as("n_rows")))
        .reduce(_ unionAll _)
        .orderBy(col("n_rows").desc, col("table_name"))
    }, oracle =
      """SELECT table_name, n_rows FROM (
           SELECT 'region' AS table_name, count(*) AS n_rows FROM region
           UNION ALL SELECT 'nation', count(*) FROM nation
           UNION ALL SELECT 'customer', count(*) FROM customer
           UNION ALL SELECT 'supplier', count(*) FROM supplier
           UNION ALL SELECT 'part', count(*) FROM part
           UNION ALL SELECT 'orders', count(*) FROM orders
           UNION ALL SELECT 'lineitem', count(*) FROM lineitem)
         ORDER BY n_rows DESC, table_name"""),

    // §2.5 extension: ANALYZE-style column profile — one
    // partial-aggregated scan, exact decimal means, exact distincts
    // (approx_count_distinct is the 100 TB swap-in; see Profile)
    Query("profile_stats", (s, dir) => {
      graft.operators.Profile.numeric(t(s, dir, "lineitem"),
        cols = Seq("l_quantity", "l_extendedprice", "l_discount"),
        distinctCols = Seq("l_partkey", "l_returnflag"))
    }, oracle =
      """SELECT count(*) AS n_rows,
           min(l_quantity) AS l_quantity_min,
           max(l_quantity) AS l_quantity_max,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS l_quantity_mean,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
           min(l_extendedprice) AS l_extendedprice_min,
           max(l_extendedprice) AS l_extendedprice_max,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(l_extendedprice) AS DOUBLE) AS l_extendedprice_mean,
           CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_nulls,
           min(l_discount) AS l_discount_min,
           max(l_discount) AS l_discount_max,
           CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(l_discount) AS DOUBLE) AS l_discount_mean,
           CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_discount_nulls,
           count(DISTINCT l_partkey) AS l_partkey_distinct,
           count(DISTINCT l_returnflag) AS l_returnflag_distinct
         FROM lineitem"""),

    // §2.5 extension: exact discrete quantiles (SQL-standard
    // percentile_disc — always an actual element, so engine-exact with
    // no float interpolation; oracle spells out the same definition
    // via cume_dist). approx_percentile is the 100 TB swap-in.
    Query("profile_quantiles", (s, dir) => {
      graft.operators.Profile.quantiles(t(s, dir, "lineitem"),
        cols = Seq("l_quantity", "l_extendedprice", "l_discount"),
        probs = Seq(0.25, 0.5, 0.75, 0.95))
    }, oracle = {
      // SQL-standard percentile_disc spelled out: smallest value whose
      // cume_dist reaches p (identical definition on both engines)
      val cell = (c: String, p: Double) =>
        s"""(SELECT min(v) FROM
           (SELECT $c AS v, cume_dist() OVER (ORDER BY $c) AS cd
            FROM lineitem) WHERE cd >= $p)
           AS ${c}_p${math.round(p * 100)}"""
      "SELECT " + (for {
        c <- Seq("l_quantity", "l_extendedprice", "l_discount")
        p <- Seq(0.25, 0.5, 0.75, 0.95)
      } yield cell(c, p)).mkString(",\n         ")
    }),

    // §4 partitioned parallel read — split-range bookkeeping
    // (rows-per-range semantics of mysql.lisp:44-62)
    Query("partition_ranges", (s, dir) => {
      val o = t(s, dir, "orders")
      val bounds = o.agg(min(col("o_orderkey")).as("lo")).collect()(0)
      val lo = bounds.getLong(0)
      o.select(floor((col("o_orderkey") - lit(lo)) / 10000L).as("range_id"))
        .groupBy(col("range_id")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("range_id"))
    }, oracle =
      """SELECT CAST(floor((o_orderkey - (SELECT min(o_orderkey) FROM orders)) / 10000) AS BIGINT) AS range_id,
         count(*) AS n_rows FROM orders GROUP BY 1 ORDER BY range_id"""),

    // §2.2 COPY TEXT round-trip: escapes, \N nulls, tab separation
    Query("copy_roundtrip", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null: String))
          .otherwise(concat(lit("tab\there\nnl\\bs|"),
            col("o_orderpriority"))).as("note"))
      val path = scratch("copy_roundtrip")
      CopyText.write(o, path)
      CopyText.read(s, path, Seq("o_orderkey", "note"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("note"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE 'tab' || chr(9) || 'here' || chr(10) || 'nl\bs|' || o_orderpriority
         END AS note
         FROM orders ORDER BY o_orderkey"""),

    // §2.2 batch error recovery: line-numbered errors → prefix resend;
    // position-less errors → bisect. Bad rows rejected, good rows kept.
    Query("sink_bisect", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val schema = o.schema
      val recovered = o.repartition(8, col("o_orderkey"))
        .mapPartitions { it =>
          val rows = it.toIndexedSeq
          val lines = rows.map(r =>
            (r.getLong(0).toString + "\t" + r.getString(1)).getBytes("UTF-8"))
          val accepted = scala.collection.mutable.ArrayBuffer.empty[Int]
          // Mock PG: parse-style errors carry a line number, constraint
          // (FK-like) errors don't — exercising both recovery paths.
          val ep = new CopyEndpoint {
            def send(batch: Seq[Array[Byte]]): Unit = {
              val keys = batch.map(b =>
                new String(b, "UTF-8").split("\t")(0).toLong)
              keys.zipWithIndex.foreach { case (k, i) =>
                if (k % 1000 == 7)
                  throw CopyError(Some(i + 1), s"parse error line ${i + 1}")
                if (k % 1000 == 13)
                  throw CopyError(None, "fk violation")
              }
              batch.foreach { b =>
                accepted += new String(b, "UTF-8").split("\t")(0).toInt
              }
            }
          }
          // batches of 100 rows, like the sink's batch cap
          lines.grouped(100).foreach { g =>
            BatchRetry.sendWithRecovery(ep, g.toIndexedSeq, (_, _) => ())
          }
          accepted.iterator.map(k => org.apache.spark.sql.Row(k.toLong))
        }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
          StructType(Seq(StructField("o_orderkey", LongType)))))
      recovered.orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey % 1000 <> 7 AND o_orderkey % 1000 <> 13
         ORDER BY o_orderkey"""),

    // §2.2 typed sink rendering: binary → \x hex, boolean → t/f,
    // timestamp/date → PG literals, decimal → plain string — through the
    // REAL CopySink path (schema-resolved formatters), then read back.
    Query("sink_typed_roundtrip", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey") % 2 === 0).as("flag"),
        col("o_orderpriority").cast("binary").as("bin"),
        expr("timestampadd(MILLISECOND, CAST(o_orderkey % 1000 AS INT), o_orderdate)")
          .as("ts"),
        col("o_orderdate").cast("date").as("d"),
        expr("CAST(CAST(o_orderkey % 10000 AS DECIMAL(10,0)) / 100 AS DECIMAL(12,2))")
          .as("price"))
      val abs = new java.io.File(scratch("sink_typed_roundtrip"))
        .getAbsolutePath
      new java.io.File(abs).mkdirs()
      val sink = new graft.sinks.CopySink(
        endpointFactory = pid => CopyEndpoint.file(abs, pid))
      sink.write(o.repartition(4))
      CopyText.read(s, abs,
          Seq("o_orderkey", "flag", "bin", "ts", "d", "price"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("flag"), col("bin"), col("ts"), col("d"), col("price"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 2 = 0 THEN 't' ELSE 'f' END AS flag,
         '\x' || lower(hex(encode(o_orderpriority))) AS bin,
         CASE WHEN o_orderkey % 1000 = 0
              THEN strftime(o_orderdate + to_milliseconds(o_orderkey % 1000), '%Y-%m-%d %H:%M:%S')
              ELSE strftime(o_orderdate + to_milliseconds(o_orderkey % 1000), '%Y-%m-%d %H:%M:%S.%f')
         END AS ts,
         strftime(o_orderdate, '%Y-%m-%d') AS d,
         CAST(CAST(CAST(o_orderkey % 10000 AS DECIMAL(10,0)) / 100 AS DECIMAL(12,2)) AS VARCHAR) AS price
         FROM orders ORDER BY o_orderkey"""),

    // §2.1 CSV scan round-trip with explicit dialect (quotes in data)
    Query("csv_roundtrip", (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey"),
        concat(col("c_name"), lit(",\"quoted\"|x")).as("c_name"),
        col("c_mktsegment"))
      val path = scratch("csv_roundtrip")
      c.coalesce(2).write.option("sep", "|").option("quote", "\"")
        .option("escape", "\"").mode("overwrite").csv(path)
      CsvSource.read(s, path,
          CsvDialect(separator = '|', doubledQuote = true),
          Seq("c_custkey", "c_name", "c_mktsegment"))
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name || ',"quoted"|x' AS c_name, c_mktsegment
         FROM customer ORDER BY c_custkey"""),

    // §2.1 CSV dialect guesser: separator/escape inferred from a sample
    Query("csv_guess", (s, dir) => {
      val n = t(s, dir, "nation").select(
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val path = scratch("csv_guess")
      n.coalesce(1).write.option("sep", ";").mode("overwrite").csv(path)
      val dialect = CsvSource.guessDialect(
          SkipLines.heads(s, path, sample = 1000).records)
        .getOrElse(CsvDialect(separator = ';'))
      CsvSource.read(s, path, dialect,
          Seq("n_nationkey", "n_name", "n_regionkey"))
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }, oracle =
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"""),

    // §2.1 per-file preamble skip: skip lines = 2 plus a header line, over
    // a multi-file glob — every file must drop ITS OWN head lines.
    Query("csv_skip_header", (s, dir) => {
      val r = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val path = scratch("csv_skip_header")
      r.repartition(3).write.option("sep", "|").mode("overwrite").csv(path)
      // prepend 2 junk preamble lines + 1 header line to every part file
      new java.io.File(path).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .foreach { f =>
          val body = java.nio.file.Files.readAllBytes(f.toPath)
          val pre = ("# preamble junk line 1|with|separators\n" +
            "# preamble junk line 2\nr_regionkey|r_name\n").getBytes("UTF-8")
          java.nio.file.Files.write(f.toPath, pre ++ body)
        }
      // the in-place edit invalidates the local-FS checksum sidecars
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      CsvSource.read(s, path,
          CsvDialect(separator = '|', skipLines = 2, header = true),
          Seq("r_regionkey", "r_name"))
        .select(col("r_regionkey").cast("int").as("r_regionkey"),
          col("r_name"))
        .orderBy(col("r_regionkey"))
    }, oracle =
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),

    // §2.1 DBF scan: dBase III records, deleted-row skip, db3 transform
    // family; file written by the fixture writer, read distributed.
    Query("dbf_roundtrip", (s, dir) => {
      import graft.sources.DbfSource
      import graft.sources.DbfSource.DbfField
      val base = java.time.LocalDate.of(1992, 1, 1)
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")).collect().toSeq
        .sortBy(_.getAs[Number](0).longValue)
        .map { r =>
          val k = r.getAs[Number](0).longValue
          Seq(k.toString, r.getString(1), s"$k.25",
            base.plusDays(k).format(
              java.time.format.DateTimeFormatter.BASIC_ISO_DATE),
            if (k % 2 == 0) "T" else "F")
        }
      val deleted = rows.map(_.head.toLong % 7 == 3)
      val fields = Seq(DbfField("n_key", 'N', 6, 0),
        DbfField("n_name", 'C', 25, 0), DbfField("n_budget", 'N', 12, 2),
        DbfField("n_date", 'D', 8, 0), DbfField("n_flag", 'L', 1, 0))
      val dirF = new java.io.File(scratch("dbf_roundtrip"))
      dirF.mkdirs()
      DbfSource.write(new java.io.File(dirF, "nation.dbf"), fields, rows,
        deleted)
      val df = DbfSource.read(s, dirF.getAbsolutePath + "/nation.dbf")
      df.select(
          DbfSource.defaultTransform(fields(0))(col("n_key"))
            .cast("long").as("n_nationkey"),
          DbfSource.defaultTransform(fields(1))(col("n_name")).as("n_name"),
          DbfSource.defaultTransform(fields(2))(col("n_budget"))
            .as("n_budget"),
          DbfSource.defaultTransform(fields(3))(col("n_date")).as("n_date"),
          DbfSource.defaultTransform(fields(4))(col("n_flag")).as("n_flag"))
        .orderBy(col("n_nationkey"))
    }, oracle =
      """SELECT n_nationkey, n_name,
         CAST(n_nationkey AS VARCHAR) || '.25' AS n_budget,
         strftime(DATE '1992-01-01' + INTERVAL (n_nationkey) DAY, '%Y-%m-%d') AS n_date,
         CASE WHEN n_nationkey % 2 = 0 THEN 't' ELSE 'f' END AS n_flag
         FROM nation WHERE n_nationkey % 7 <> 3
         ORDER BY n_nationkey"""),

    // §2.8 orchestration + §2.5 stats rollup: the Migrator runs 3 real
    // tables through CopySink (supplier rows with s_suppkey%7=3 rejected
    // by the endpoint), then the summary's per-table and total stats are
    // the query result.
    Query("migrate_stats", (s, dir) => {
      import graft.catalog.{Catalog => GCatalog, Schema => GSchema, Table => GTable}
      val names = Seq("region", "nation", "supplier")
      val cat = GCatalog("sf", Seq(GSchema("public",
        tables = names.map(n => GTable(name = n, schema = "public",
          size = t(s, dir, n).count())))))
      val migrator = new graft.orchestration.Migrator(
        executeDdl = (_, _) => (),
        loadTable = (tbl, _) => {
          val df = t(s, dir, tbl.name)
          val keyed = df.select(df.columns.map(c => col(c).cast("string")): _*)
          val reject = tbl.name == "supplier"
          val sink = new graft.sinks.CopySink(endpointFactory = _ =>
            new CopyEndpoint {
              def send(rows: Seq[Array[Byte]]): Unit =
                if (reject) rows.zipWithIndex.foreach { case (b, i) =>
                  val k = new String(b, "UTF-8").split("\t")(0).toLong
                  if (k % 7 == 3)
                    throw CopyError(Some(i + 1), s"rejected $k")
                }
            })
          sink.write(keyed.repartition(4))
        },
        workers = 3)
      val summary = migrator.migrate(cat, createTables = false,
        withIndexes = false, withFKeys = false, resetSequences = false)
      val rows = summary.tables.map(st =>
        (st.table, st.rows, st.rejected)) :+
        ("total", summary.totalRows, summary.totalRejected)
      import s.implicits._
      rows.toDF("table_name", "rows_sent", "rows_rejected")
        .orderBy(col("table_name"))
    }, oracle =
      """SELECT table_name, rows_sent, rows_rejected FROM (
           SELECT 'region' AS table_name,
                  (SELECT count(*) FROM region) AS rows_sent,
                  CAST(0 AS BIGINT) AS rows_rejected
           UNION ALL SELECT 'nation', (SELECT count(*) FROM nation), 0
           UNION ALL SELECT 'supplier',
                  (SELECT count(*) FROM supplier WHERE s_suppkey % 7 <> 3),
                  (SELECT count(*) FROM supplier WHERE s_suppkey % 7 = 3)
           UNION ALL SELECT 'total',
                  (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
                    + (SELECT count(*) FROM supplier WHERE s_suppkey % 7 <> 3),
                  (SELECT count(*) FROM supplier WHERE s_suppkey % 7 = 3))
         ORDER BY table_name"""),

    // §2.1 IXF scan: the reference's own nsitra.test1.ixf fixture read
    // by the PC/IXF binary reader; the oracle is the reference's
    // regress/expected/ixf.out golden as a VALUES literal.
    Query("ixf_roundtrip", (s, dir) => {
      graft.sources.IxfSource
        .read(s, "/root/reference/test/data/nsitra.test1.ixf")
        .select(col("test1_id").cast("int").as("test1_id"),
          col("intcol").cast("int").as("intcol"),
          col("intcal_notnull").cast("int").as("intcal_notnull"),
          col("charcol15"), col("charcol15_notnull"),
          col("varcharcol16"), col("varcharcol16_notnull"))
        .orderBy(col("test1_id"))
    }, oracle =
      // constants = the reference's regress/expected/ixf.out golden
      """SELECT * FROM (VALUES
           (1, 77, 77, 'foobar         ', 'foobar         ', 'baz', 'baz'),
           (2, NULL, 88, NULL, 'abcdef         ', NULL, 'ghijkl'),
           (3, 179, 179, 'FOOBAR         ', 'FOOBAR         ', 'BAZ', 'BAZ'),
           (4, NULL, 179, NULL, 'FOOBAR         ', NULL, 'BAZ'))
         AS t(test1_id, intcol, intcal_notnull, charcol15,
              charcol15_notnull, varcharcol16, varcharcol16_notnull)
         ORDER BY test1_id"""),

    // §3.1 the DSL entry point: .load text → Parser → LoadCommand →
    // PlanBuilder → DataFrame, over a generated tab-separated file —
    // glob source, skip header, null-if, point USING sexp, upcase sexp.
    Query("dsl_csv_districts", (s, dir) => {
      val n = t(s, dir, "nation").select(
        col("n_nationkey"), col("n_name"), col("n_regionkey"),
        when(col("n_nationkey") % 5 === 0, lit("N/A"))
          .otherwise(col("n_name")).as("maybe_null"))
      val path = scratch("dsl_csv_districts")
      n.coalesce(1).write.option("sep", "\t").option("header", "true")
        .mode("overwrite").csv(path)
      val abs = new java.io.File(path).getAbsolutePath
      val loadText =
        """LOAD CSV
           FROM all filenames matching ~/part.*csv$/ in directory '""" +
          abs + """'
           HAVING FIELDS (
              n_nationkey,
              n_name,
              n_regionkey,
              maybe_null [null if 'N/A']
           )
           INTO postgresql:///graft
           TARGET TABLE nations
           TARGET COLUMNS (
              n_nationkey,
              n_name,
              maybe_null,
              location point using (format nil "(~a,~a)" n_regionkey n_nationkey),
              upper_name using (string-upcase n_name)
           )
           WITH skip header = 1,
                fields terminated by '\t',
                batch rows = 200
           BEFORE LOAD DO """ + "$$ drop table if exists nations; $$;"
      val cmd = graft.dsl.Parser.parse(loadText)
      graft.dsl.PlanBuilder.build(s, cmd, baseDir = abs)
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("maybe_null"), col("location"),
          col("upper_name"))
        .orderBy(col("n_nationkey"))
    }, oracle =
      """SELECT n_nationkey, n_name,
         CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS maybe_null,
         '(' || CAST(n_regionkey AS VARCHAR) || ',' || CAST(n_nationkey AS VARCHAR) || ')' AS location,
         upper(n_name) AS upper_name
         FROM nation ORDER BY n_nationkey"""),

    // §2.1 fixed-width scan: substring extraction + ragged right lines
    Query("fixed_width", (s, dir) => {
      val n = t(s, dir, "nation")
      val lines = n.select(concat(
        rpad(col("n_nationkey").cast("string"), 4, " "),
        rpad(col("n_name"), 20, " "),
        // ragged: every 3rd line omits the last field
        when(col("n_nationkey") % 3 === 0, lit(""))
          .otherwise(col("n_regionkey").cast("string"))).as("line"))
      FixedWidth.project(lines, "line", Seq(
          FixedWidth.FieldPos("n_nationkey", 0, 4),
          FixedWidth.FieldPos("n_name", 4, 20),
          FixedWidth.FieldPos("n_regionkey", 24, 4)))
        .select(
          trim(col("n_nationkey")).cast("int").as("n_nationkey"),
          rtrim(col("n_name")).as("n_name"),
          trim(col("n_regionkey")).cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }, oracle =
      """SELECT n_nationkey, n_name,
         CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_regionkey END AS n_regionkey
         FROM nation ORDER BY n_nationkey"""),

    // §2.1 multi-file glob: several part files read as one source
    Query("multi_file_glob", (s, dir) => {
      val r = t(s, dir, "region")
      val path = scratch("multi_file_glob")
      r.repartition(3).write.mode("overwrite").option("sep", "\t").csv(path)
      CsvSource.read(s, path, CsvDialect(separator = '\t'),
          Seq("r_regionkey", "r_name"))
        .select(col("r_regionkey").cast("int").as("r_regionkey"),
          col("r_name"))
        .orderBy(col("r_regionkey"))
    }, oracle =
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),

    // CDC latest-wins merge: the change-log → current-state collapse.
    // Version key = micros-truncated ts (both engines see the same
    // deterministic ns→us truncation of the parquet TIMESTAMP(NANOS);
    // DuckDB's reader truncates to its us-native TIMESTAMP on read),
    // sub-microsecond ties broken by event_id.
    Query("upsert_latest", (s, dir) => {
      val e = t(s, dir, "events")
      graft.operators.Upsert
        .latestByKey(e, Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("last_type"),
          col("value").as("last_value"))
        .orderBy(col("user_id"))
    }, oracle =
      """SELECT user_id, event_id AS last_event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           event_type AS last_type, value AS last_value
         FROM (SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id"""),

    // preflight constraint validation: target-table type + NOT NULL
    // checks as one projection, rejects classified with reasons before
    // any server sees the rows (the scale inversion of PG-error-driven
    // batch bisect)
    Query("preflight_validate", (s, dir) => {
      val o = t(s, dir, "orders")
      // staged all-string rows with planted defects: every 7th id is
      // unparseable, every 11th clerk is NULL
      val staged = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0,
          concat(lit("x"), col("o_orderkey")))
          .otherwise(col("o_orderkey").cast("string")).as("id_str"),
        when(col("o_orderkey") % 11 === 0, lit(null: String))
          .otherwise(col("o_orderstatus")).as("clerk"))
      graft.operators.Validate.preflight(staged, Seq(
          graft.operators.Validate.Rule("id_str", "int"),
          graft.operators.Validate.Rule("clerk", "string", notNull = true)))
        .select(col("o_orderkey"), col("valid"),
          array_join(col("reasons"), ";").as("why"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """WITH staged AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
               THEN 'x' || CAST(o_orderkey AS VARCHAR)
               ELSE CAST(o_orderkey AS VARCHAR) END AS id_str,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
               ELSE o_orderstatus END AS clerk
           FROM orders),
         checked AS (SELECT o_orderkey,
             CASE WHEN id_str IS NOT NULL
                   AND TRY_CAST(id_str AS INTEGER) IS NULL
               THEN 'id_str: invalid input for type int' END AS r1,
             CASE WHEN clerk IS NULL
               THEN 'clerk: null value in NOT NULL column' END AS r2
           FROM staged)
         SELECT o_orderkey,
           (r1 IS NULL AND r2 IS NULL) AS valid,
           concat_ws(';', r1, r2) AS why
         FROM checked ORDER BY o_orderkey""")
  )
}
