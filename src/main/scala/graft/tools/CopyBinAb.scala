package graft.tools

/** A/B harness for the `WITH copy binary` sink: loads a generated
  * corpus of the PG types whose text input routines are expensive
  * server-side (numeric, timestamptz, float8, uuid) through BOTH sink
  * paths into a live PostgreSQL and prints per-mode walls. The
  * employees-shaped benches are int/date/varchar-dominated, where
  * `int4in`/`date_in` are cheap and binary shows no local win — this
  * tool measures the regime the binary path exists for.
  *
  * Usage: CopyBinAb <pgUri> [rows=3000000] [mode=both|text|binary]
  *                  [corpus=num|bytea|range|comp]
  * `corpus=bytea` loads (int4, 64-byte bytea) rows — the regime where
  * the server pays `byteain`'s hex re-parse per value under COPY TEXT
  * and the binary path ships raw bytes. `corpus=range` loads
  * (int4range, tsrange, int4multirange) rows — range_in parses both
  * bounds through the subtype input routine plus a canonicalization
  * call, the basis for `copy binary auto` counting ranges expensive.
  * Pair with an external PG-CPU probe (postmaster cutime delta) for
  * the server-side split.
  */
object CopyBinAb {
  def main(args: Array[String]): Unit = {
    val uri = args(0)
    val rows = if (args.length > 1) args(1).toLong else 3000000L
    val mode = if (args.length > 2) args(2) else "both"
    val corpus = if (args.length > 3) args(3) else "num"
    val b = graft.Sessions.builder("copy-bin-ab", graft.Sessions.cpus)
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    import org.apache.spark.sql.functions._

    val decode = (s: String) => graft.Runner.pctDecode(s)
    val wire = graft.sinks.PgWire.connParams(uri, decode)
    def ddl(sql: String): Unit = {
      val c = new graft.sinks.PgWireConnection(wire)
      try c.simpleCommand(sql) finally c.close()
    }

    // deterministic text values, rendered ONCE and cached so both
    // modes read identical bytes (the A/B measures the sink only)
    val df = (corpus match {
      case "bytea" =>
        // 64 raw bytes per value = 128 hex chars after `\x`, the shape
        // every §2.7 binary transform's output pays under COPY TEXT
        spark.range(rows).select(
          (col("id") % 2000000000L).cast("string").as("k"),
          concat(lit("\\x"), md5(col("id").cast("string")),
            md5((col("id") + 1L).cast("string")),
            md5((col("id") + 2L).cast("string")),
            md5((col("id") + 3L).cast("string"))).as("b"))
      case "range" =>
        // discrete + timestamp ranges and a 2-member multirange —
        // range_in pays subtype_in per bound + canonicalization
        spark.range(rows).select(
          format_string("[%d,%d)", col("id") % 1000000L,
            col("id") % 1000000L + 3L).as("r"),
          concat(lit("[2024-03-"),
            lpad(((col("id") % 28L) + 1L).cast("string"), 2, "0"),
            lit(" 00:00:00,2024-03-"),
            lpad(((col("id") % 28L) + 1L).cast("string"), 2, "0"),
            lit(" 12:34:56."),
            lpad((col("id") % 1000000L).cast("string"), 6, "0"),
            lit(")")).as("tr"),
          format_string("{[%d,%d),[%d,%d)}", col("id") % 500000L,
            col("id") % 500000L + 2L, col("id") % 500000L + 10L,
            col("id") % 500000L + 14L).as("m"))
      case "comp" =>
        // a (numeric, text, timestamptz) composite — record_in runs
        // every field through its attribute's input routine plus the
        // quote/escape scan
        spark.range(rows).select(
          format_string("(%d.%04d,\"v %d\",2024-03-%02d 12:34:56+00)",
            col("id") % 1000000L, col("id") % 10000L,
            col("id") % 100000L, (col("id") % 28L) + 1L).as("c"))
      case _ => spark.range(rows).select(
        format_string("%d.%04d", col("id") % 1000000L,
          col("id") % 10000L).as("n"),
        concat(lit("2024-03-"),
          lpad(((col("id") % 28L) + 1L).cast("string"), 2, "0"),
          lit(" 12:34:56."), lpad((col("id") % 1000000L).cast("string"),
            6, "0"), lit("+00")).as("ts"),
        format_string("%d.%09d", col("id") % 97L,
          col("id") % 1000000000L).as("f"),
        format_string("%08x-0000-4000-8000-%012x", col("id") % 100000L,
          col("id")).as("u"))
    }).cache()
    df.count() // materialize outside the timed section
    val (cols, kinds) = corpus match {
      case "bytea" => ("k int4, b bytea",
        Seq(graft.sinks.PgBinKind.I4, graft.sinks.PgBinKind.Bytea))
      case "range" =>
        ("r int4range, tr tsrange, m int4multirange",
          Seq(graft.sinks.PgBinKind.Rng(graft.sinks.PgBinKind.I4,
              "int4range"),
            graft.sinks.PgBinKind.Rng(graft.sinks.PgBinKind.Ts,
              "tsrange"),
            graft.sinks.PgBinKind.Mrng(
              graft.sinks.PgBinKind.Rng(graft.sinks.PgBinKind.I4,
                "int4range"), "int4multirange")))
      case "comp" =>
        ddl("do 'begin create type ab_ct as (n numeric(14,4), " +
          "t text, ts timestamptz); exception when duplicate_object " +
          "then null; end'")
        val oids = {
          val c = new graft.sinks.PgWireConnection(wire)
          try c.query("SELECT a.attname, a.atttypid::text " +
            "FROM pg_attribute a JOIN pg_type t ON t.typrelid = " +
            "a.attrelid WHERE t.typname = 'ab_ct' AND a.attnum > 0 " +
            "ORDER BY a.attnum")._2.map(_(1).toInt)
          finally c.close()
        }
        ("c ab_ct", Seq(graft.sinks.PgBinKind.Comp(Seq(
          (graft.sinks.PgBinKind.Num, oids(0)),
          (graft.sinks.PgBinKind.Text, oids(1)),
          (graft.sinks.PgBinKind.TsTz, oids(2))), "ab_ct")))
      case _ => ("n numeric(14,4), ts timestamptz, f float8, u uuid",
        Seq(graft.sinks.PgBinKind.Num, graft.sinks.PgBinKind.TsTz,
          graft.sinks.PgBinKind.F8, graft.sinks.PgBinKind.Uuid))
    }

    def run(binary: Boolean): Double = {
      val table = if (binary) "ab_bin" else "ab_txt"
      ddl(s"DROP TABLE IF EXISTS $table")
      ddl(s"CREATE TABLE $table ($cols)")
      val t0 = System.nanoTime()
      val sink =
        if (binary) new graft.sinks.CopySink(
          endpointFactory = _ => new graft.sinks.PgWireCopyEndpoint(
            wire, s"COPY $table FROM STDIN WITH (FORMAT binary)",
            binary = true),
          format = graft.sinks.CopyFormat.Binary(kinds))
        else new graft.sinks.CopySink(
          endpointFactory = _ => new graft.sinks.PgWireCopyEndpoint(
            wire, s"COPY $table FROM STDIN"))
      val (sent, rejected, _) = sink.write(df)
      val secs = (System.nanoTime() - t0) / 1e9
      require(sent == rows && rejected == 0,
        s"$table: sent=$sent rejected=$rejected")
      secs
    }

    // warm both paths once (codegen compile, connections), then time
    if (mode == "both") { run(false); run(true) }
    val out = mode match {
      case "text" => Seq("text" -> run(false))
      case "binary" => Seq("binary" -> run(true))
      case _ => Seq("text" -> run(false), "binary" -> run(true),
        "text2" -> run(false), "binary2" -> run(true))
    }
    out.foreach { case (m, s) => println(f"$m%s: $s%.2f s") }
    spark.stop()
  }
}
