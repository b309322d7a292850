package graft

/** Benchmark main: runs every registered query ([[SparkEntry.all]],
  * read through `SparkEntry.queries`) against SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line with per-query seconds.
  *
  * - A warmup query (q1_agg) runs untimed first so the first measured
  *   query doesn't absorb session/codegen warmup.
  * - Failures are NOT silently recorded as fast runs: the error goes to
  *   stderr and the query's time is reported negative (-elapsed) so a
  *   broken query is visible in the JSON.
  * - SPARK_GRAFT_ONLY=name1,name2 restricts the run (local iteration);
  *   a name no query carries exits 2 before any query runs.
  * - The same JSON line is also written to BENCH_SELF.json (rewritten
  *   after every query), so per-query timings survive stdout-tail
  *   truncation or a killed run.
  */
object Bench {
  // One timestamped archive file per run (never clobbered by later or
  // concurrent runs), plus the rolling BENCH_SELF.json for the driver.
  private val runStamp = System.currentTimeMillis()
  private val archivePath = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json"))
    .toAbsolutePath.resolveSibling(s"BENCH_SELF_$runStamp.json")

  private def atomicWrite(p: java.nio.file.Path, json: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeSelfReport(json: String): Unit =
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json"))
      atomicWrite(p, json)
      atomicWrite(archivePath, json)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] self-report write failed: ${e.getMessage}") }

  // 3 dp: run-to-run noise is >>1 ms, and halving the line length keeps
  // the printed JSON inside the driver's log-tail window (BENCH_r17/r18
  // were truncated mid-line at full double precision). Locale.ROOT
  // pins the decimal separator to '.' — the f interpolator uses the
  // JVM default locale, and a comma-decimal locale would emit 1,234,
  // i.e. invalid JSON.
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  // the untimed warmup set (see main); named here so the stdout JSON
  // can report which suite queries got a free warm run
  private val warmups = Seq("q1_agg", "trim_fields", "rolling_features",
    "dedup_exact", "text_token_count", "events_stream_dedup")

  private def renderJson(results: Seq[(String, Double)], sfDir: String,
                         done: Boolean): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = results.map { case (_, v) => math.abs(v) }.sum
    s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","complete":$done,"self":"$archivePath","queries":$qs}"""
  }

  /** The stdout line: the FULL per-query dict (round 22, VERDICT r21
    * item 1 — the driver diffs `queries` from this line and the
    * compact 10-query form left PERF's per_query empty for two
    * rounds). The full 121-entry dict is ~3 KB; build.sbt now sets
    * `outputStrategy := StdoutOutput` so the forked JVM's stdout
    * passes through WITHOUT sbt's `[info] ` line prefix — the
    * probable reason no round's line ever parsed driver-side, even
    * when it was complete and inside the captured tail (r21's 1 KB
    * compact line: valid JSON, fully present, `parsed: null`).
    * `spark.stop()` precedes the println, so nothing follows the line
    * but sbt's own epilogue. */
  private def renderStdoutJson(results: Seq[(String, Double)],
                               sfDir: String, done: Boolean): String = {
    val total = results.map { case (_, v) => math.abs(v) }.sum
    val failed = results.count(_._2 < 0)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // `warmed`: the suite queries the untimed warmup also runs, so a
    // per-query comparison against a run with a different warmup can
    // account for their free warm start (ADVICE r21)
    val warmed = warmups.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","complete":$done,"query_count":${results.length},"queries_truncated":false,"failed":$failed,"warmed":$warmed,"self":"$archivePath","queries":$qs}"""
  }

  /** Scratch directory for shuffle blocks and streaming temp
    * checkpoints: SPARK_GRAFT_LOCAL_DIR if set (production: point at
    * the fastest ephemeral storage the node has — local NVMe, not a
    * network mount), else RAM-backed /dev/shm when
    * [[Sessions.shmDir]] admits it (local disk bandwidth for shuffle
    * files can be the tighter limit — on an ext4 /tmp the streaming
    * queries measured ~17% faster on tmpfs), else Spark's default.
    * Scratch only — nothing read across runs lives here. */
  private def scratchLocalDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(Sessions.shmDir("graft-spark-local"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected =
      try SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[bench] SPARK_GRAFT_ONLY: ${e.getMessage}")
        sys.exit(2)
      }
    // driver heap: -Xmx from SPARK_DRIVER_MEM in build.sbt (a
    // spark.driver.memory setting cannot reach the running JVM)
    val builder0 = Sessions.builder("graft-bench", Sessions.cpus)
    val builder = scratchLocalDir.fold(builder0) { d =>
      new java.io.File(d).mkdirs()
      // java.io.tmpdir additionally routes the ResolveWriteToStream
      // temporary checkpoint dirs (they are declared non-recoverable,
      // so volatile storage is semantically fine anywhere)
      System.setProperty("java.io.tmpdir", d)
      builder0.config("spark.local.dir", d)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: session init + codegen paths, untimed — q1_agg (scan +
    // hash aggregate) since round 1; round 21 widens it to the other
    // SHARED engine paths the suite exercises (window exec, explode/
    // split, shuffle join, and the structured-streaming machinery:
    // state stores, micro-batch planner, foreachBatch sink), picked
    // from the CHEAPEST queries touching each. Cold-run profiling
    // (BenchDiag, this round) showed the first query through each such
    // path absorbing 2-8 s of one-time JIT/infra cost that the per-
    // query metric is not supposed to measure; per-query times after
    // warmup measure the query. Nothing computed here is reused — the
    // cache is cleared and every timed query still computes from the
    // parquet inputs.
    warmups.foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $w failed: ${e.getMessage}") }
    }
    spark.catalog.clearCache()
    System.gc()
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false }
      val secs = (System.nanoTime() - t0) / 1e9
      // Untimed between-query isolation: broadcast/shuffle blocks are
      // freed by the ContextCleaner only after their weak refs are
      // GC'd, so a long suite otherwise squeezes execution memory with
      // dead blocks from earlier queries and every later query pays in
      // spills. Each query still pays its OWN GC inside the timer.
      spark.catalog.clearCache()
      System.gc()
      acc += name -> (if (ok) secs else -secs)
      writeSelfReport(renderJson(acc.toSeq, sfDir, done = false))
    }
    writeSelfReport(renderJson(acc.toSeq, sfDir, done = true))
    // stop BEFORE the final println so shutdown logging cannot push
    // the JSON line out of the driver's output-tail window
    spark.stop()
    println(renderStdoutJson(acc.toSeq, sfDir, done = true))
  }
}
