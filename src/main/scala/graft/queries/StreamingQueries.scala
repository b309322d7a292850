package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Terms}

import QuerySupport.{t, normalizeEventTs, scratch, updateStreamViaCopySink}

/** Structured Streaming queries; each must equal its batch
  * spelling (the oracle) once the stream has drained. */
object StreamingQueries {
  val all: Seq[Query] = Seq(
    // §2.9 extension: Structured Streaming windowed agg over events
    // (watermark + 5-min tumbling window → foreachBatch COPY sink)
    Query("events_stream_agg", (s0, dir) => {
      // dedicated session: streaming state-store partition count follows
      // shuffle.partitions; 8 is plenty for the window/type key space and
      // cuts per-microbatch state overhead
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // update mode emits on CHANGE during data batches; the extra
      // no-data micro-batch Spark schedules after a watermark advance
      // only matters for append finalization / state eviction, and on
      // this finite source it costs a full state-store round for zero
      // emitted rows
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      // streaming file source wants a directory: glob-filter the table
      val stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(normalizeEventTs)
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("total_value"))
      // foreachBatch → CopySink (SURVEY §7.10): every micro-batch writes
      // through the distributed COPY sink — nothing accumulates on the
      // driver (the memory sink is test scaffolding only). UPDATE mode:
      // each batch emits only the windows that CHANGED in that batch, so
      // per-batch sink I/O is proportional to the batch, not to the
      // ever-growing window keyspace (complete mode rewrites the whole
      // snapshot every micro-batch — unbounded at 100× with a growing
      // window range). The sink is merge-on-read: batch dirs are keyed
      // by batchId, and the read takes the LATEST emission per
      // (window, event_type) — the standard upsert-sink contract for
      // update-mode streams.
      val merged = updateStreamViaCopySink(s, agg, "events_stream_sink",
        b => b.select(col("window.start").as("w_start"),
          col("event_type"), col("n"), col("total_value")),
        Seq("w_start", "event_type", "n", "total_value"),
        Seq("w_start", "event_type"))
      merged
        .select(col("w_start").cast("timestamp").as("w_start"),
          col("event_type"), col("n").cast("long").as("n"),
          col("total_value").cast("double").as("total_value"))
        .orderBy(col("w_start"), col("event_type"))
    }, oracle =
      """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS w_start, event_type,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"""),

    // §2.9 extension: streaming exact dedup — dropDuplicates state
    // across micro-batches, append mode emits each key once. On an
    // unbounded stream you'd bound the state with
    // dropDuplicatesWithinWatermark (see SessionizeSpec's streaming
    // variant); this finite source wants the exact global contract.
    Query("events_stream_dedup", (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      val keys = stream.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      val outRoot = new java.io.File(scratch("events_stream_dedup_sink"))
        .getAbsolutePath
      val q = keys.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outRoot)
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      s.read.parquet(outRoot).orderBy(col("user_id"), col("event_type"))
    }, oracle =
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),

    // streaming ordered-step funnel: per-user stateful chain over a
    // watermarked stream, emitted when the user goes quiet; sentinel
    // rows advance the watermark in two phases so every user's timeout
    // fires deterministically. Must equal the BATCH funnel exactly.
    Query("events_stream_funnel", (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // round 22: same setting every other streaming query here uses —
      // the funnel was paying a no-data micro-batch (a full state-store
      // round for zero rows) after EACH of its two phases. The
      // two-phase sentinel design never relied on them: phase 2's DATA
      // batch runs with the watermark phase 1 advanced (sent1 − 1s,
      // margin 3h past every user's quiet window), so every user
      // timeout fires there deterministically either way.
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val maxUs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val sent1 = maxUs + 3L * 3600L * 1000000L // quiet 60 min + margin
      val srcRoot = new java.io.File(scratch("events_stream_funnel_src"))
        .getAbsolutePath
      // one explicit slice: bare range(1) defaults to defaultParallelism
      // slices — 32 tasks and 32 part files (31 empty) per sentinel
      // append, all of which the phase-2 micro-batch then lists + reads
      def sentinel(uid: Long, us: Long) =
        s.range(0, 1, 1, 1).select(lit(uid).as("user_id"),
          timestamp_micros(lit(us)).as("ts"),
          lit("noop").as("event_type"))
      e.unionAll(sentinel(-1L, sent1)).coalesce(1)
        .write.mode("overwrite").parquet(srcRoot)
      import s.implicits._
      val stream = s.readStream
        .schema(s.read.parquet(srcRoot).schema).parquet(srcRoot)
        .withWatermark("ts", "1 second")
        .select(col("user_id").cast("long"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)]
      val out = graft.streaming.FunnelStream.streaming(stream,
        Seq("signup", "click", "purchase"), quietMinutes = 60)
      val outRoot = new java.io.File(scratch("events_stream_funnel_sink"))
        .getAbsolutePath
      val q = out.toDF("user_id", "chain").writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outRoot)
          ()
        }
        .start()
      // phase 1: all real events + sentinel1 process; watermark advances
      q.processAllAvailable()
      // phase 2: sentinel2 triggers a DATA batch in which every user's
      // timeout (< the now-advanced watermark) fires
      sentinel(-2L, sent1 + 3600L * 1000000L)
        .write.mode("append").parquet(srcRoot)
      q.processAllAvailable()
      q.stop()
      def step(i: Int) = {
        val c = col("chain").getItem(i)
        when(c === -1L, lit(null).cast("long")).otherwise(c)
      }
      s.read.parquet(outRoot)
        .filter(col("user_id") >= 0 && col("chain").getItem(0) =!= -1L)
        .select(col("user_id"), step(0).as("t1_us"), step(1).as("t2_us"),
          step(2).as("t3_us"))
        .orderBy(col("user_id"))
    }, oracle =
      // identical semantics to the batch funnel — the streaming path must
      // converge to the same table once every user's quiet window closes
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1_us
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT s1.user_id, s1.t1_us,
             min(CASE WHEN epoch_us(e.ts) > s1.t1_us
                 THEN epoch_us(e.ts) END) AS t2_us
           FROM s1 LEFT JOIN events e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY s1.user_id, s1.t1_us),
         s3 AS (SELECT s2.user_id, s2.t1_us, s2.t2_us,
             min(CASE WHEN epoch_us(e.ts) > s2.t2_us
                 THEN epoch_us(e.ts) END) AS t3_us
           FROM s2 LEFT JOIN events e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY s2.user_id, s2.t1_us, s2.t2_us)
         SELECT user_id, t1_us, t2_us, t3_us FROM s3 ORDER BY user_id"""),

    // streaming near-dup: the same contract as dedup_minhash, but
    // candidates come from the streaming per-bucket-state operator
    // consuming the corpus as a file stream (continuous ingest shape);
    // verification is the shared batch exact-jaccard. Output must equal
    // the batch pipeline's — the state op is batching-invariant.
    Query("stream_neardup", (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val srcRoot = new java.io.File(scratch("stream_neardup_src"))
        .getAbsolutePath
      inflated.write.mode("overwrite").parquet(srcRoot)
      val stream = s.readStream.schema(inflated.schema).parquet(srcRoot)
      val cands = graft.streaming.NearDup.candidatePairs(stream,
        "doc_id", "text", numPerms = 64, bands = 16, k = 3)
      val outRoot = new java.io.File(scratch("stream_neardup_sink"))
        .getAbsolutePath
      val q = cands.toDF("id_a", "id_b").writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outRoot)
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      val pairs = s.read.parquet(outRoot).distinct()
      Dedup.verifyPairs(pairs, inflated, "doc_id", "text",
          k = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // identical contract to dedup_minhash — the streaming candidate op
      // must reach the same verified pair set as the batch pipeline
      """WITH inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0),
         toks AS (
           SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM inflated),
         sets AS (
           SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE list_transform(generate_series(1, len(tk)-2), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
           FROM toks),
         sz AS (SELECT doc_id, len(sh) AS sz FROM sets),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b
         FROM shared
         JOIN sz za ON za.doc_id = id_a
         JOIN sz zb ON zb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.9
         ORDER BY id_a, id_b"""),

    // STREAMING drift monitor: per-hour-window PSI of event values
    // against the whole-corpus reference distribution. Bin edges are
    // fixed up front (the contract any incremental monitor needs — a
    // 2-double driver collect), per-(window, bin) counts accumulate as
    // an update-mode streaming aggregation with state bounded at
    // windows × bins, and the merged counts score through the same
    // Laplace-smoothed micro-term arithmetic as batch PSI
    Query("events_stream_psi", (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val batch = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("ts"), col("value").cast("double").as("v"))
        .filter(!isnan(col("v")))
      val edges = batch.agg(min(col("v")), max(col("v"))).head()
      if (edges.isNullAt(0)) {
        // no non-null values → no windows to monitor: empty result
        // (matches the oracle, which yields zero window groups)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("w_start",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("psi_micro",
              org.apache.spark.sql.types.LongType))))
      } else {
      val (lo, hi) = (edges.getDouble(0), edges.getDouble(1))
      def binE(v: Column): Column =
        graft.pipeline.Drift.binIndex(v, lit(lo), lit(hi), 10)
      val ref = batch.groupBy(binE(col("v")).as("bin"))
        .agg(count(lit(1)).as("cr"))
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(normalizeEventTs)
        .filter(col("value").isNotNull)
        .select(col("ts"), col("value").cast("double").as("v"))
        .filter(!isnan(col("v")))
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), binE(col("v")).as("bin"))
        .agg(count(lit(1)).as("c"))
      val merged = updateStreamViaCopySink(s, agg, "events_stream_psi",
        b => b.select(col("window.start").as("w_start"), col("bin"),
          col("c")),
        Seq("w_start", "bin", "c"), Seq("w_start", "bin"))
      graft.pipeline.Drift.psiFromBinCounts(
          merged.select(col("w_start").cast("timestamp").as("w_start"),
            col("bin").cast("int").as("bin"),
            col("c").cast("long").as("c")),
          "w_start", "bin", "c", ref, "bin", "cr", bins = 10)
        .select(col("w_start"), col("n"), col("psi_micro"))
        .orderBy(col("w_start"))
      }
    }, oracle =
      """WITH v AS (SELECT ts, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL),
         r AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
         ref AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
             least(CAST(floor((v - lo) / (hi - lo) * 10)
             AS INT), 9) END AS bin, CAST(count(*) AS BIGINT) AS cr
           FROM v, r GROUP BY 1),
         nr AS (SELECT CAST(sum(cr) AS BIGINT) AS n_r FROM ref),
         wb AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
             CASE WHEN hi = lo THEN 0 ELSE
               least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT), 9)
               END AS bin, CAST(count(*) AS BIGINT) AS c
           FROM v, r GROUP BY 1, 2),
         ng AS (SELECT w_start, CAST(sum(c) AS BIGINT) AS n_g FROM wb
           GROUP BY w_start),
         grid AS (SELECT ng.w_start, ng.n_g, b.bin, wb.c, ref.cr
           FROM ng CROSS JOIN
             (SELECT CAST(range AS INT) AS bin FROM range(10)) b
           LEFT JOIN wb ON wb.w_start = ng.w_start AND wb.bin = b.bin
           LEFT JOIN ref ON ref.bin = b.bin),
         terms AS (SELECT w_start, n_g, CAST(floor((
             (CAST(COALESCE(c, 0) + 1 AS DOUBLE)
                / CAST(n_g + 10 AS DOUBLE)
              - CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                / CAST(n_r + 10 AS DOUBLE))
             * ln((CAST(COALESCE(c, 0) + 1 AS DOUBLE)
                     / CAST(n_g + 10 AS DOUBLE))
                  / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                     / CAST(n_r + 10 AS DOUBLE))))
             * 1000000.0 + 0.5) AS BIGINT) AS tm
           FROM grid, nr)
         SELECT w_start, n_g AS n, CAST(sum(tm) AS BIGINT) AS psi_micro
         FROM terms GROUP BY w_start, n_g ORDER BY w_start"""),

    // STREAMING Count-Min maintenance: the same sketch cells as a
    // streaming aggregation — CMS is a linear sketch, so update-mode
    // cumulative cell counts ARE the merged sketch, and state is
    // bounded at depth×width cells no matter how long the stream runs
    // (no watermark needed). Micro-batch emissions land through the
    // distributed COPY sink; merge-on-read keeps the latest value per
    // cell; the final sketch answers the same heavy-hitter probe as
    // the batch path, against the same exact-count oracle.
    Query("stream_cms_topk", (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val rawSchema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val toks = stream
        .select(explode(split(lower(col("text")), Terms.SeparatorClass))
          .as("w"))
        .filter(col("w") =!= "")
      val cells = graft.pipeline.Sketches.cmsSketch(toks, "w",
        width = 8192, depth = 4)
      val merged = updateStreamViaCopySink(s, cells, "stream_cms_sink",
        identity, Seq("d", "idx", "cnt"), Seq("d", "idx"))
      val sketch = merged.select(col("d").cast("int").as("d"),
        col("idx").cast("long").as("idx"), col("cnt").cast("long").as("cnt"))
      val probes = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), Terms.SeparatorClass))
          .as("w"))
        .filter(col("w") =!= "").distinct()
      graft.pipeline.Sketches.cmsEstimate(sketch, probes, "w",
          width = 8192, depth = 4)
        .filter(col("est") >= 500L)
        .select(col("w"), col("est"))
        .orderBy(col("w"))
    }, oracle =
      """WITH toks AS (SELECT
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         c AS (SELECT w, CAST(count(*) AS BIGINT) AS est FROM toks
           WHERE w <> '' GROUP BY w)
         SELECT w, est FROM c WHERE est >= 500 ORDER BY w"""),

    // §2.9 extension: watermarked stream-stream interval join —
    // click→purchase attribution within 4 hours per user. Both sides
    // watermarked + both-direction time bounds, so stream state is
    // O(rate × horizon) and evicts as the watermark advances (the shape
    // that survives an unbounded stream); append mode emits each pair
    // exactly once.
    Query("events_stream_join", (s0, dir) => {
      val s = s0.newSession()
      // stream-stream join keeps 4 state stores per partition (left/
      // right × keyed/keyWithIndex): fewer partitions = materially less
      // per-microbatch store open/commit overhead, and the join keyspace
      // here is small. Production sizing follows key cardinality.
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      def stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(normalizeEventTs)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      val joined = graft.streaming.IntervalJoin.join(
          clicks, purchases, "user_id", "c_ts", "p_ts", "4 hours")
        .select(col("l.user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("c_ts")).as("c_us"),
          unix_micros(col("p_ts")).as("p_us"))
      val outRoot = new java.io.File(scratch("events_stream_join_sink"))
        .getAbsolutePath
      val q = joined.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outRoot)
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      s.read.parquet(outRoot)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }, oracle =
      // batch spelling of the same interval join: every (click, purchase)
      // pair per user with purchase in [click, click + 4h]
      """SELECT c.user_id, c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS c_us, epoch_us(p.ts) AS p_us
         FROM events c JOIN events p ON p.user_id = c.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND epoch_us(p.ts) >= epoch_us(c.ts)
           AND epoch_us(p.ts) <= epoch_us(c.ts) + CAST(14400000000 AS BIGINT)
         ORDER BY c.user_id, click_id, purchase_id""")
  )
}
