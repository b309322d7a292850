package graft

import graft.sinks.{PgWire, PgWireCopyEndpoint, PgWireConnection}

/** Live proof of the round-20 partitioned-parent read shape: a
  * partitioned parent has `pg_class.relpages = 0` by construction and
  * NO ctid system column, so (r19 and earlier) it always took the
  * single driver-local LocalCopy stream — and `exactly once` (which
  * forces the distributed route) ERRORED outright on
  * `WHERE ctid >= '(0,0)'`. The scale path enumerates pg_inherits
  * leaves and ctid-splits EACH leaf by its own relpages
  * ([[graft.sources.PgWireSource.scan]]); the reference
  * reads parents through the same relpages machinery as plain heaps
  * (pgsql.clj:206-208) and single-streams them — this beats it.
  *
  * Also pins the partitioned edge matrix (multi-level partitioning,
  * DEFAULT partitions, an FK referencing a partitioned parent, an
  * expression index ON the parent) and the stale-relpages case: a
  * never-ANALYZEd heap reports relpages=0 too, but the catalog sizes
  * every table by its actual pages. */
class LivePartitionSpec extends SparkSpec {

  private val decode =
    (s: String) => java.net.URLDecoder.decode(s, "UTF-8")

  private def swapDb(uri: String, db: String): String =
    uri.substring(0, uri.lastIndexOf('/') + 1) + db

  private def exec(uri: String, sql: String): Unit = {
    val c = new PgWireConnection(PgWire.connParams(uri, decode))
    try c.simpleCommand(sql) finally c.close()
  }

  /** Plain quoted select pairs, as the PG source's scan passes them. */
  private def sel(names: String*): Seq[(String, String)] =
    names.map(n => (PgWire.quoteIdent(n), n))

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
        dp, s"COPY ${PgWire.quoteQualified(table)} FROM STDIN", setup))
  }

  test("partitioned parent: LocalCopy skipped, pg_inherits leaves " +
    "enumerated, N>1 ctid splits PER LEAF, every row exactly once") {
    assume(LivePg.uri.isDefined, "set GRAFT_LIVE_PG_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "part_src")
    exec(admin, "DROP DATABASE IF EXISTS part_src WITH (FORCE)")
    exec(admin, "CREATE DATABASE part_src")
    exec(src,
      """CREATE TABLE m (id int, bucket int, payload text)
        |  PARTITION BY RANGE (bucket);
        |CREATE TABLE m_p0 PARTITION OF m FOR VALUES FROM (0) TO (1);
        |CREATE TABLE m_p1 PARTITION OF m FOR VALUES FROM (1) TO (2);
        |INSERT INTO m SELECT g, g % 2, repeat('x', 64) || g
        |  FROM generate_series(1, 4000) g;
        |ANALYZE m_p0; ANALYZE m_p1;
        |""".stripMargin)
    val sp = PgWire.connParams(src, decode)

    // relpages on the PARENT is 0 no matter the volume — the lie the
    // old LocalCopy gate trusted
    assert(graft.sources.PgWireSource.relpagesOf(sp, "public.m") == 0L)
    // the catalog sizes a parent by its partition tree's pages
    val leaves = graft.sources.PgWireSource.leafPartitionsOf(sp, "public.m")
    val pages = graft.sources.PgWireSource.introspect(sp)
      .find(_.name == "m").get.size
    assert(pages == leaves.map(_._2).sum && pages > 1L, (pages, leaves))
    // at pagesPerChunk=1 the 4000-row tree is not one stream...
    val mCols = sel("id", "bucket", "payload")
    assert(graft.sources.PgWireSource.scan(sp, "public.m", mCols, pages,
      partitioned = true, pagesPerChunk = 1L).splits.length > 1,
      "a big partitioned parent must not be one stream")
    // ...while at the default chunk it is small, and streams the WHOLE
    // tree (plain FROM, all partitions)
    val whole = graft.sources.PgWireSource.scan(sp, "public.m", mCols,
      pages, partitioned = true)
    assert(whole.splits == Seq(
      "SELECT \"id\", \"bucket\", \"payload\" FROM \"public\".\"m\""),
      "small partitioned parent streams the whole tree")
    assert(whole.columns == Seq("id", "bucket", "payload"))
    val stream = whole.stream(0)
    try {
      assert(stream.rows.size == 4000)
    } finally stream.close()

    // leaf enumeration carries each leaf's OWN pages
    assert(leaves.map(_._1) == Seq("public.m_p0", "public.m_p1"), leaves)
    assert(leaves.forall(_._2 > 1L),
      s"ANALYZEd leaves must report pages: $leaves")
    assert(leaves.forall(_._3 == "r"), leaves)

    // the distributed read: one Spark partition per (leaf, ctid range),
    // more than one range per leaf at pagesPerChunk=1
    val df = graft.sources.PgWireSource.scan(sp, "public.m", mCols, pages,
      partitioned = true, pagesPerChunk = 1L).frame(spark)
    val expectParts = leaves.map(_._2).sum
    assert(df.rdd.getNumPartitions == expectParts &&
      expectParts > leaves.length,
      s"want ${expectParts} per-leaf ctid splits, " +
        s"got ${df.rdd.getNumPartitions}")
    // exactly once, exactly complete
    val ids = df.select("id").collect().map(_.getString(0).toLong).sorted
    assert(ids.length == 4000 && ids.head == 1L && ids.last == 4000L &&
      ids.distinct.length == 4000, s"got ${ids.length} rows")
  }

  test("a foreign-table partition does NOT demote the heap leaves: " +
    "mixed per-leaf targets — ctid splits for heaps, one stream for " +
    "the FDW leaf") {
    assume(LivePg.uri.isDefined, "set GRAFT_LIVE_PG_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "pfdw_src")
    exec(admin, "DROP DATABASE IF EXISTS pfdw_src WITH (FORCE)")
    exec(admin, "CREATE DATABASE pfdw_src")
    val hostPort = "://([^@/]*@)?([^:/]+):(\\d+)/".r
      .findFirstMatchIn(admin).get
    exec(src,
      s"""CREATE EXTENSION postgres_fdw;
        |CREATE SERVER loopsrv FOREIGN DATA WRAPPER postgres_fdw
        |  OPTIONS (host '${hostPort.group(2)}',
        |           port '${hostPort.group(3)}', dbname 'pfdw_src');
        |CREATE USER MAPPING FOR CURRENT_USER SERVER loopsrv
        |  OPTIONS (user 'graft');
        |CREATE TABLE arch_store (id int, bucket int, payload text);
        |CREATE TABLE mx (id int, bucket int, payload text)
        |  PARTITION BY RANGE (bucket);
        |CREATE TABLE mx_hot0 PARTITION OF mx FOR VALUES FROM (0) TO (1);
        |CREATE TABLE mx_hot1 PARTITION OF mx FOR VALUES FROM (1) TO (2);
        |CREATE FOREIGN TABLE mx_arch PARTITION OF mx
        |  FOR VALUES FROM (2) TO (3) SERVER loopsrv
        |  OPTIONS (table_name 'arch_store');
        |""".stripMargin)
    // separate transaction: the FDW's own connection must SEE the
    // committed arch_store before rows route through mx_arch
    exec(src,
      """INSERT INTO mx SELECT g, g % 3, repeat('x', 64) || g
        |  FROM generate_series(1, 3000) g;
        |ANALYZE mx_hot0; ANALYZE mx_hot1;
        |""".stripMargin)
    val sp = PgWire.connParams(src, decode)
    val leaves = graft.sources.PgWireSource
      .leafPartitionsOf(sp, "public.mx")
    assert(leaves.map(l => (l._1, l._3)) == Seq(
      ("public.mx_arch", "f"), ("public.mx_hot0", "r"),
      ("public.mx_hot1", "r")), leaves)
    val heapChunks = leaves
      .filter(l => l._3 == "r" && l._1.startsWith("public.mx_hot"))
      .map(_._2).sum
    assert(heapChunks > 2, s"ANALYZEd heap leaves must split: $leaves")
    val pages = graft.sources.PgWireSource.introspect(sp)
      .find(_.name == "mx").get.size
    val df = graft.sources.PgWireSource.scan(sp, "public.mx",
      sel("id", "bucket", "payload"), pages, partitioned = true,
      pagesPerChunk = 1L).frame(spark)
    // heap leaves ctid-split per their relpages; the FDW leaf adds ONE
    // predicate-free target — the whole read is NOT demoted
    assert(df.rdd.getNumPartitions > 3,
      s"mixed leaves must keep per-leaf splits: " +
        s"${df.rdd.getNumPartitions} partitions for $leaves")
    val ids = df.select("id").collect().map(_.getString(0).toLong).sorted
    assert(ids.length == 3000 && ids.distinct.length == 3000 &&
      ids.head == 1L && ids.last == 3000L,
      s"got ${ids.length} rows (exactly-once across mixed leaf kinds)")
  }

  test("partitioned edge matrix: multi-level + DEFAULT partitions, FK " +
    "referencing the parent, expression index ON the parent — " +
    "migrated whole-database WITH exactly once (the route that " +
    "errored on parents before r20)") {
    assume(LivePg.uri.isDefined && LivePg.destUri.isDefined,
      "set GRAFT_LIVE_PG_URI and GRAFT_LIVE_PG_DEST_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "partm_src")
    val dst = swapDb(admin, "partm_dst")
    exec(admin, "DROP DATABASE IF EXISTS partm_src WITH (FORCE)")
    exec(admin, "CREATE DATABASE partm_src")
    exec(admin, "DROP DATABASE IF EXISTS partm_dst WITH (FORCE)")
    exec(admin, "CREATE DATABASE partm_dst")
    exec(src,
      """CREATE TABLE ev (id int NOT NULL, region text NOT NULL,
        |                 day int, note text,
        |                 PRIMARY KEY (id, region, day))
        |  PARTITION BY LIST (region);
        |-- multi-level: the 'eu' branch is itself partitioned by range
        |CREATE TABLE ev_eu PARTITION OF ev FOR VALUES IN ('eu')
        |  PARTITION BY RANGE (day);
        |CREATE TABLE ev_eu_old PARTITION OF ev_eu
        |  FOR VALUES FROM (0) TO (50);
        |CREATE TABLE ev_eu_new PARTITION OF ev_eu
        |  FOR VALUES FROM (50) TO (100);
        |CREATE TABLE ev_us PARTITION OF ev FOR VALUES IN ('us');
        |-- DEFAULT partition catches the rest
        |CREATE TABLE ev_rest PARTITION OF ev DEFAULT;
        |-- expression index ON the parent (cascades to every leaf)
        |CREATE INDEX ev_note_lower ON ev (lower(note));
        |INSERT INTO ev SELECT g,
        |  CASE g % 3 WHEN 0 THEN 'eu' WHEN 1 THEN 'us' ELSE 'ap' END,
        |  g % 100, 'Note-' || g FROM generate_series(1, 900) g;
        |-- an FK REFERENCING the partitioned parent (needs the full PK)
        |CREATE TABLE audit (id int PRIMARY KEY, ev_id int,
        |  ev_region text, ev_day int,
        |  FOREIGN KEY (ev_id, ev_region, ev_day)
        |    REFERENCES ev (id, region, day) ON DELETE CASCADE);
        |INSERT INTO audit SELECT g, g,
        |  CASE g % 3 WHEN 0 THEN 'eu' WHEN 1 THEN 'us' ELSE 'ap' END,
        |  g % 100 FROM generate_series(1, 300) g;
        |ANALYZE;
        |""".stripMargin)
    val sp = PgWire.connParams(src, decode)

    // multi-level walk: intermediate 'p' node ev_eu excluded, all four
    // heap leaves (incl. the DEFAULT partition) included
    val leaves = graft.sources.PgWireSource
      .leafPartitionsOf(sp, "public.ev").map(_._1)
    assert(leaves == Seq("public.ev_eu_new", "public.ev_eu_old",
      "public.ev_rest", "public.ev_us"), leaves)

    // introspection: the parent is one table, marked partitioned; its
    // children never surface as separate tables
    val tables = graft.sources.PgWireSource.introspect(sp)
    val ev = tables.find(_.name == "ev").get
    assert(ev.partitioned, "parent must carry partitioned=true")
    assert(tables.map(_.name).sorted == Seq("audit", "ev"),
      tables.map(_.name))
    assert(!tables.find(_.name == "audit").get.partitioned)
    // the parent's expression index came through as an indexDef
    assert(ev.indexes.exists(i => i.indexDef.exists(
      _.contains("lower(note)"))), ev.indexes)

    // whole-database migration over the route that previously DIED on
    // parents (exactly once forces the distributed read everywhere)
    val stats = pgRunner(dst).runFile(spark,
      s"""LOAD DATABASE FROM $src
            INTO $dst
            WITH include drop, create tables, exactly once;""")
    assert(stats.forall(_.error.isEmpty),
      stats.filter(_.error.nonEmpty).mkString("; "))

    // parent landed as ONE plain table with every row from every leaf
    val tabs = q(dst, "SELECT tablename FROM pg_tables WHERE " +
      "schemaname = 'public'").map(_(0)).toSet
    assert(tabs == Set("ev", "audit"), tabs)
    assert(q(dst, "SELECT count(*) FROM ev").head.head == "900")
    assert(q(dst, "SELECT count(*) FROM audit").head.head == "300")
    // spot content from the multi-level branch and the DEFAULT branch
    assert(q(dst, "SELECT note FROM ev WHERE id = 3").head.head
      == "Note-3") // region 'eu'
    assert(q(dst, "SELECT note FROM ev WHERE id = 2").head.head
      == "Note-2") // region 'ap' → DEFAULT partition
    // FK referencing the (now plain) parent survived with its action
    val fk = q(dst, "SELECT c.confdeltype::text FROM pg_constraint c " +
      "JOIN pg_class t ON t.oid = c.conrelid " +
      "WHERE c.contype = 'f' AND t.relname = 'audit'")
    assert(fk == Seq(Seq("c")), fk)
    // the parent's expression index re-created verbatim
    val idx = q(dst, "SELECT indexdef FROM pg_indexes WHERE " +
      "indexname = 'ev_note_lower'")
    assert(idx.nonEmpty && idx.head.head.contains("lower(note)"), idx)
  }

  test("stale-relpages guard: a never-ANALYZEd heap (relpages=0, many " +
    "rows) is refused the driver-local path; a truly small one keeps it") {
    assume(LivePg.destUri.isDefined, "set GRAFT_LIVE_PG_DEST_URI to run")
    val uri = LivePg.destUri.get
    exec(uri, "DROP TABLE IF EXISTS liar CASCADE")
    exec(uri, "DROP TABLE IF EXISTS honest_small CASCADE")
    // freshly created + loaded, never ANALYZEd/VACUUMed: relpages = 0
    exec(uri, "CREATE TABLE liar (id int, pad text)")
    exec(uri, "INSERT INTO liar SELECT g, repeat('x', 100) " +
      "FROM generate_series(1, 400) g")
    exec(uri, "CREATE TABLE honest_small (id int)")
    exec(uri, "INSERT INTO honest_small SELECT g FROM generate_series(1, 9) g")
    val p = PgWire.connParams(uri, decode)
    assert(graft.sources.PgWireSource.relpagesOf(p, "public.liar") == 0L,
      "fixture must lie: relpages expected 0 pre-ANALYZE")
    // the catalog reads each table's actual pages, which do not lag:
    // at pagesPerChunk=1 the 400-row liar splits by ctid
    val size = graft.sources.PgWireSource.introspect(p)
      .map(t => t.name -> t.size).toMap
    assert(size("liar") > 1L, size("liar"))
    val liar = graft.sources.PgWireSource.scan(p, "public.liar",
      sel("id", "pad"), size("liar"), pagesPerChunk = 1L)
    assert(liar.splits.length > 1 && liar.splits.forall(_.contains("ctid")),
      "stale relpages must not buy the whole-table stream")
    // the honest small table still gets the fast path, and it works
    assert(size("honest_small") == 1L)
    val whole = graft.sources.PgWireSource.scan(p,
      "public.honest_small", sel("id"), size("honest_small"),
      pagesPerChunk = 1L)
    assert(whole.splits ==
      Seq("SELECT \"id\" FROM ONLY \"public\".\"honest_small\""))
    assert(whole.columns == Seq("id"))
    val stream = whole.stream(0)
    try {
      assert(stream.rows.map(_(0).toString.toInt).toSeq.sorted == (1 to 9))
    } finally stream.close()
  }

  test("old-style INHERITS hierarchy: reads take each table's OWN " +
    "rows (FROM ONLY) — children are not double-loaded through the " +
    "parent scan") {
    assume(LivePg.uri.isDefined && LivePg.destUri.isDefined,
      "set GRAFT_LIVE_PG_URI and GRAFT_LIVE_PG_DEST_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "inh_src")
    val dst = swapDb(admin, "inh_dst")
    exec(admin, "DROP DATABASE IF EXISTS inh_src WITH (FORCE)")
    exec(admin, "CREATE DATABASE inh_src")
    exec(admin, "DROP DATABASE IF EXISTS inh_dst WITH (FORCE)")
    exec(admin, "CREATE DATABASE inh_dst")
    exec(src,
      """CREATE TABLE base (id int, kind text);
        |CREATE TABLE derived (extra text) INHERITS (base);
        |INSERT INTO base SELECT g, 'b' FROM generate_series(1, 10) g;
        |INSERT INTO derived SELECT g, 'd', 'x' || g
        |  FROM generate_series(100, 119) g;
        |ANALYZE;
        |""".stripMargin)
    // the source's own plain parent scan sees 30 (inheritance) — the
    // trap a FROM-only-less read copies into the target
    assert(q(src, "SELECT count(*) FROM base").head.head == "30")
    // both routes: LocalCopy (small heaps) and the forced-distributed
    // exactly-once ctid read
    for (opt <- Seq("", ", exactly once")) {
      exec(dst, "DROP TABLE IF EXISTS base CASCADE")
      exec(dst, "DROP TABLE IF EXISTS derived CASCADE")
      val stats = pgRunner(dst).runFile(spark,
        s"""LOAD DATABASE FROM $src
              INTO $dst
              WITH create tables$opt;""")
      assert(stats.forall(_.error.isEmpty),
        s"opt '$opt': " + stats.filter(_.error.nonEmpty).mkString("; "))
      // each table landed with ITS OWN rows only
      assert(q(dst, "SELECT count(*) FROM ONLY base").head.head == "10",
        s"opt '$opt'")
      assert(q(dst, "SELECT count(*) FROM derived").head.head == "20",
        s"opt '$opt'")
    }
  }

  test("mixed expression index (a, lower(b)) re-creates from " +
    "pg_get_indexdef — not silently as (a) — with its plain MEMBER " +
    "recased per identifier mode") {
    assume(LivePg.uri.isDefined && LivePg.destUri.isDefined,
      "set GRAFT_LIVE_PG_URI and GRAFT_LIVE_PG_DEST_URI to run")
    val admin = LivePg.uri.get
    val src = swapDb(admin, "mix_src")
    val dst = swapDb(admin, "mix_dst")
    exec(admin, "DROP DATABASE IF EXISTS mix_src WITH (FORCE)")
    exec(admin, "CREATE DATABASE mix_src")
    // a MIXED-CASE plain member: the kept indexdef references it as
    // "userOrg" while the cased target column is userorg / user_org —
    // un-recased, the CREATE INDEX errors and the index is lost
    exec(src,
      """CREATE TABLE people (id int PRIMARY KEY, email text,
        |                     "userOrg" text);
        |CREATE UNIQUE INDEX people_org_email
        |  ON people ("userOrg", lower(email));
        |INSERT INTO people SELECT g, 'U' || g || '@x.com', 'o' || (g % 7)
        |  FROM generate_series(1, 50) g;
        |""".stripMargin)
    val sp = PgWire.connParams(src, decode)
    val t = graft.sources.PgWireSource.introspect(sp)
      .find(_.name == "people").get
    val mixed = t.indexes.find(_.name == "people_org_email").get
    assert(mixed.indexDef.exists(_.contains("lower(email)")),
      s"mixed index must carry its indexdef: $mixed")
    for ((opt, orgCol) <- Seq(
        ("", "userorg"),
        (", quote identifiers", "userOrg"),
        (", snake_case identifiers", "user_org"))) {
      exec(admin, "DROP DATABASE IF EXISTS mix_dst WITH (FORCE)")
      exec(admin, "CREATE DATABASE mix_dst")
      val stats = pgRunner(dst).runFile(spark,
        s"""LOAD DATABASE FROM $src
              INTO $dst
              WITH include drop, create tables$opt;""")
      assert(stats.forall(_.error.isEmpty),
        s"mode '$opt': " + stats.filter(_.error.nonEmpty).mkString("; "))
      val idx = q(dst, "SELECT indexdef FROM pg_indexes WHERE " +
        "indexname = 'people_org_email'")
      assert(idx.nonEmpty, s"mode '$opt': mixed index missing on target")
      val d = idx.head.head
      assert(d.contains("lower(email)") && d.contains(orgCol) &&
        d.contains("UNIQUE"), s"mode '$opt': $d")
    }
  }
}
