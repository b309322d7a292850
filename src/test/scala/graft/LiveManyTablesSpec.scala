package graft

import graft.sinks.{PgWire, PgWireCopyEndpoint, PgWireConnection}

/** Orchestration at TABLE COUNT (round-18 task: the per-table job
  * floor): a 60-table fixture database — tiny tables, each with a PK
  * and a secondary index, every 10th holding an FK to its predecessor
  * — migrated whole through the production Runner. Regression guard
  * for index-pool scheduling, FK ordering and summary rollup at width,
  * and the live proof that the [[graft.sinks.LocalCopy]] small-table
  * fast path (all 60 tables sit far below the single-ctid-chunk
  * threshold) loads content-identical data. Time-boxed by design: the
  * fast path keeps the whole migration in single-digit seconds. */
class LiveManyTablesSpec extends SparkSpec {

  private val decode =
    (s: String) => java.net.URLDecoder.decode(s, "UTF-8")

  private def swapDb(uri: String, db: String): String =
    uri.substring(0, uri.lastIndexOf('/') + 1) + db

  private def exec(uri: String, sql: String): Unit = {
    val c = new PgWireConnection(PgWire.connParams(uri, decode))
    try c.simpleCommand(sql) finally c.close()
  }

  private def q1(uri: String, sql: String): String = {
    val c = new PgWireConnection(PgWire.connParams(uri, decode))
    try c.query(sql)._2.head(0) finally c.close()
  }

  /** The CLI's wiring shape: DDL through the POOLED executor (this
    * spec is its live proof — the amortization assert below and the
    * server-error-keeps-the-connection path both run against real
    * PG). */
  private def pgRunner(pgUri: String)
      : (Runner, graft.sinks.PgWireDdlExecutor) = {
    val dp = PgWire.connParams(pgUri, decode)
    val ddlExec = new graft.sinks.PgWireDdlExecutor(dp)
    (new Runner(
      executeDdl = ddlExec,
      endpointFactory = (table, setup) => _ => new PgWireCopyEndpoint(
        dp, s"COPY ${PgWire.quoteQualified(table)} FROM STDIN", setup),
      queryTarget = ddlExec.query), ddlExec)
  }

  test("live pg→pg: 60-table fixture migrates whole — per-table stats, " +
    "indexes, PKs, FKs at width; LocalCopy fast path carries the data") {
    assume(LivePg.uri.isDefined && LivePg.destUri.isDefined,
      "set GRAFT_LIVE_PG_URI and GRAFT_LIVE_PG_DEST_URI to run")
    val n = 60
    val admin = LivePg.uri.get // connect here to manage the fixture dbs
    val src = swapDb(admin, "manyt_src")
    val dst = swapDb(admin, "manyt_dst")
    for (db <- Seq("manyt_src", "manyt_dst")) {
      exec(admin, s"DROP DATABASE IF EXISTS $db WITH (FORCE)")
      exec(admin, s"CREATE DATABASE $db")
    }
    // one multi-statement simple-query round per 10 tables keeps the
    // seeding itself off the test's critical path
    val seed = new StringBuilder
    (1 to n).foreach { i =>
      seed.append(
        s"""CREATE TABLE t$i (id int PRIMARY KEY, name text NOT NULL,
           |  val numeric(10,2), ts timestamptz);
           |INSERT INTO t$i SELECT g, 'row_'||g, g*1.5,
           |  '2026-01-01T00:00:00Z'::timestamptz + g*interval '1 hour'
           |  FROM generate_series(1,15) g;
           |CREATE INDEX t${i}_name_idx ON t$i(name);
           |""".stripMargin)
      if (i % 10 == 0 && i > 1) seed.append(
        s"""ALTER TABLE t$i ADD COLUMN ref int REFERENCES t${i - 1}(id);
           |UPDATE t$i SET ref = id;
           |""".stripMargin)
      if (i % 10 == 0) { exec(src, seed.toString); seed.clear() }
    }
    if (seed.nonEmpty) exec(src, seed.toString)
    exec(src, "VACUUM ANALYZE")

    val loadsBefore = graft.sinks.LocalCopy.loads.get()
    val (runner, ddlExec) = pgRunner(dst)
    // the pooled executor keeps a connection through a server ERROR:
    // a bad statement throws PgServerError but stays reusable (the
    // migration below then runs entirely on pooled connections)
    intercept[PgWire.PgServerError](
      ddlExec("CREATE TABLE ??? nope;", Nil))
    // a lone BEGIN (a user hook could issue one) must not wedge the
    // pooled connection: the reuse guard ROLLBACKs before DISCARD ALL
    ddlExec("BEGIN;", Nil)
    ddlExec("SELECT 1;", Nil)
    // a pooled connection KILLED while idle (server timeout / pooler)
    // must redial transparently — no statement lost to a stale socket
    val pooledPid = ddlExec.query("SELECT pg_backend_pid()").head(0)
    exec(dst, s"SELECT pg_terminate_backend($pooledPid)")
    ddlExec("SELECT 1;", Nil)
    val stats = runner.runFile(spark,
      s"""LOAD DATABASE FROM $src
            INTO $dst
            WITH include drop, create tables, workers = 4;""")
    ddlExec.close()
    // ~430 DDL statements (60 drops + 60 creates + 120 indexes + 60
    // PKs + FKs + the error above) over a handful of dialed
    // connections — the amortization is the point
    val dialed = ddlExec.dialed.get()
    assert(dialed <= 16, s"pooled executor dialed $dialed connections")
    assert(stats.size == n, s"expected $n table stats, got ${stats.size}")
    assert(stats.forall(_.error.isEmpty),
      stats.filter(_.error.nonEmpty).mkString("; "))
    assert(stats.forall(_.rows == 15),
      stats.filterNot(_.rows == 15).mkString("; "))
    // every fixture table is far below the single-chunk threshold —
    // the fast path must have carried ALL of them
    assert(graft.sinks.LocalCopy.loads.get() - loadsBefore >= n,
      "small-table fast path not taken")

    // content: server-side digests, table for table
    (1 to n).foreach { i =>
      val sql = s"SELECT coalesce(md5(string_agg(t::text, E'\\n' " +
        s"ORDER BY t::text)), 'empty') FROM t$i t"
      assert(q1(src, sql) == q1(dst, sql), s"t$i content diverged")
    }
    // orchestration at width: PK + secondary index per table, FKs on
    // every 10th (t10 has no predecessor FK: i>1 guard skips none at
    // 10 — the fixture adds 6 FKs for n=60)
    val idxCount = q1(dst, "SELECT count(*) FROM pg_indexes " +
      "WHERE schemaname='public'").toLong
    assert(idxCount == 2L * n, s"expected ${2 * n} indexes, got $idxCount")
    val fkCount = q1(dst, "SELECT count(*) FROM pg_constraint c " +
      "JOIN pg_namespace ns ON ns.oid = c.connamespace " +
      "WHERE c.contype='f' AND ns.nspname='public'").toLong
    assert(fkCount == n / 10, s"expected ${n / 10} FKs, got $fkCount")
    val pkCount = q1(dst, "SELECT count(*) FROM pg_constraint c " +
      "JOIN pg_namespace ns ON ns.oid = c.connamespace " +
      "WHERE c.contype='p' AND ns.nspname='public'").toLong
    assert(pkCount == n, s"expected $n PKs, got $pkCount")

    for (db <- Seq("manyt_src", "manyt_dst"))
      exec(admin, s"DROP DATABASE IF EXISTS $db WITH (FORCE)")
    info(s"60-table fixture migrated: ${stats.map(_.rows).sum} rows, " +
      s"$idxCount indexes, $pkCount PKs, $fkCount FKs, fast-path loads " +
      s"+${graft.sinks.LocalCopy.loads.get() - loadsBefore}")
  }
}
