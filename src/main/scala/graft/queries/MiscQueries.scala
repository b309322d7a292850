package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Funnel
import graft.pipeline.{Curation, Multimodal}

import QuerySupport.{t, dsum}

/** Queries outside the named families: aggregations, joins, windows,
  * sessionization, funnels and retrieval. */
object MiscQueries {
  val all: Seq[Query] = Seq(
    // §2.5 aggregations — pricing-summary rollup (stats aggregation shape)
    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          (sum(col("l_quantity").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // rolling per-user 1h/24h activity features (range frames over
    // epoch-micros; sums over integer cents — float window sums are
    // order-dependent, so doubles never enter a rolling sum)
    Query("rolling_features", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100).cast("long").as("cents"))
      graft.operators.RollingFeatures.withActivity(e, Seq("user_id"),
          "us", lookbacks = Seq("1h" -> 3600000000L,
            "24h" -> 86400000000L), sumCols = Seq("cents"))
        .select(col("event_id"), col("user_id"), col("us"),
          col("n_1h"), col("sum_cents_1h"),
          col("n_24h"), col("sum_cents_24h"))
        .orderBy(col("event_id"))
    }, oracle =
      """WITH e AS (SELECT event_id, user_id,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
         SELECT event_id, user_id, us,
           count(*) OVER w1 AS n_1h,
           CAST(sum(cents) OVER w1 AS BIGINT) AS sum_cents_1h,
           count(*) OVER w2 AS n_24h,
           CAST(sum(cents) OVER w2 AS BIGINT) AS sum_cents_24h
         FROM e
         WINDOW w1 AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // deterministic per-source mixture sampling: rare sources kept
    // whole, dominant ones thinned — md5-fraction Bernoulli, so
    // reruns/oracles keep identical rows (no rand())
    Query("weighted_sample", (s, dir) => {
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      Curation.weightedSample(t(s, dir, "documents"), "source",
          "doc_id", rates, defaultRate = 0.75)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH d AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
             WHEN 'src2' THEN 0.25 ELSE 0.75 END AS rate
           FROM documents)
         SELECT doc_id, source FROM d
         WHERE rate >= 1.0
            OR substring(md5('graft-wsamp-' || CAST(doc_id AS VARCHAR)), 1, 8)
               < printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
         ORDER BY doc_id"""),

    // salted skew join: every event joined to its user's first signup.
    // The salt routes rows and cancels out — oracle is the PLAIN join,
    // which must match row for row (see SaltedJoin).
    Query("salted_join", (s, dir) => {
      val e = t(s, dir, "events")
      val dims = e.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min("event_id").as("first_signup_id"))
      graft.operators.SaltedJoin.join(
          e.select(col("event_id"), col("user_id"), col("event_type")),
          dims, Seq("user_id"), factor = 8)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("first_signup_id"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT e.event_id, e.user_id, e.event_type, d.first_signup_id
         FROM events e
         JOIN (SELECT user_id, min(event_id) AS first_signup_id
               FROM events WHERE event_type = 'signup'
               GROUP BY user_id) d USING (user_id)
         ORDER BY e.event_id"""),

    // range join: orders against overlapping price bands (width 35k,
    // stride 20k — most orders match 2 bands). Grid-bucketed equi-join
    // (see RangeJoin); oracle is the plain BETWEEN join.
    Query("range_join", (s, dir) => {
      val bands = s.range(0, 30, 1, 1).select(col("id").as("band_id"),
        (col("id") * 20000.0).as("lo"),
        (col("id") * 20000.0 + 34999.0).as("hi"))
      val pts = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.RangeJoin.pointInInterval(pts, "o_totalprice",
          bands, "lo", "hi", cellSize = 5000L)
        .select(col("o_orderkey"), col("band_id"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"), col("band_id"))
    }, oracle =
      """WITH bands AS (
           SELECT b AS band_id, b * 20000.0 AS lo,
                  b * 20000.0 + 34999.0 AS hi
           FROM generate_series(0, 29) AS t(b))
         SELECT o_orderkey, CAST(band_id AS BIGINT) AS band_id,
                o_totalprice
         FROM orders JOIN bands
           ON o_totalprice >= lo AND o_totalprice <= hi
         ORDER BY o_orderkey, band_id"""),

    // as-of join: every click gets the user's newest at-or-before
    // purchase. Tagged-union shape — ONE shuffle on user_id, no pair
    // blow-up (see AsOfJoin); oracle finds the same row by LATERAL
    // keep-1, a deliberately different algorithm with identical
    // semantics. Sub-microsecond ties resolve by event_id.
    Query("asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("last_purchase_id"),
          col("value").as("last_purchase_value"))
      graft.operators.AsOfJoin.asOf(clicks, purchases, Seq("user_id"),
          "ts", "pts", Seq("last_purchase_id", "last_purchase_value"),
          tieBreak = Seq("last_purchase_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_purchase_id"), col("last_purchase_value"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT l.event_id, l.user_id,
           CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
           p.last_purchase_id, p.last_purchase_value
         FROM events l
         LEFT JOIN LATERAL (
           SELECT r.event_id AS last_purchase_id,
                  r.value AS last_purchase_value
           FROM events r
           WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
             AND r.ts <= l.ts
           ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) p ON true
         WHERE l.event_type = 'click'
         ORDER BY l.event_id"""),

    // §2.9 extension: gap-based sessionization (30-min gap). The batch
    // variant shares its session fold with the flatMapGroupsWithState
    // streaming variant (unit-tested with MemoryStream + watermark).
    Query("events_sessionize", (s, dir) => {
      graft.streaming.Sessionize
        .batch(t(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
        .orderBy(col("user_id"), col("session_start_us"))
    }, oracle =
      // gaps-and-islands over per-user event times, at microsecond
      // precision (epoch_us) to match the engine's timestamp resolution
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                    > 30 * 60 * 1000000 OR
                  lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                    IS NULL
             THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM e)
         SELECT user_id, min(us) AS session_start_us,
           max(us) AS session_end_us, count(*) AS n_events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start_us"""),

    // deterministic md5-keyed stratified sample, 20 docs per language
    Query("stratified_sample", (s, dir) => {
      val d = t(s, dir, "documents")
      Curation.stratifiedSample(d, "lang", 20, "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    }, oracle =
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang
             ORDER BY md5('graft-strat-' || CAST(doc_id AS VARCHAR)),
               doc_id) AS rn
           FROM documents) WHERE rn <= 20
         ORDER BY lang, doc_id"""),

    // REAL audio decode: synthetic PCM WAVs (every property an
    // arithmetic function of the id) round-trip through the RIFF/WAV
    // parser; integer-exact features the oracle recomputes by formula
    Query("audio_features", (s, dir) => {
      val media = Multimodal.syntheticAudioTable(
        t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeatures(media).orderBy(col("media_id"))
    }, oracle =
      """WITH p AS (SELECT doc_id AS media_id,
             1 + doc_id % 2 AS ch,
             8000 + (doc_id % 3) * 4000 AS rate,
             200 + doc_id % 100 AS n
           FROM documents)
         SELECT media_id,
           CAST(ch AS INT) AS channels,
           CAST(rate AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n AS BIGINT) * 1000000 // rate AS duration_us,
           (SELECT CAST(sum(v*v) AS BIGINT) FROM
              (SELECT ((media_id*31 + g*7) % 65536) - 32768 AS v
               FROM generate_series(0, 597) t(g)
               WHERE g < n*ch) q) AS sum_sq,
           (SELECT CAST(max(abs(v)) AS BIGINT) FROM
              (SELECT ((media_id*31 + g*7) % 65536) - 32768 AS v
               FROM generate_series(0, 597) t(g)
               WHERE g < n*ch) q) AS peak_abs,
           (SELECT CAST(count(*) AS BIGINT)
            FROM generate_series(0, 597) t(g)
            WHERE g < n*ch - ch
              AND (((media_id*31 + g*7) % 65536) - 32768) *
                  (((media_id*31 + (g+ch)*7) % 65536) - 32768) < 0)
             AS zero_crossings
         FROM p ORDER BY media_id"""),

    // decode -> decimate-by-2 -> re-encode -> decode again: features of
    // the resampled audio prove the re-encoded bytes parse; the oracle
    // recomputes from the generator formula over kept frames
    Query("audio_resample", (s, dir) => {
      val media = Multimodal.syntheticAudioTable(
        t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeatures(
          Multimodal.resampleAudio(media, 2)
            .select(col("media_id"), col("content")))
        .orderBy(col("media_id"))
    }, oracle =
      """WITH p AS (SELECT doc_id AS media_id,
             1 + doc_id % 2 AS ch,
             8000 + (doc_id % 3) * 4000 AS rate,
             200 + doc_id % 100 AS n
           FROM documents),
         r AS (SELECT media_id, ch, rate // 2 AS rate2,
             (n + 1) // 2 AS np FROM p)
         SELECT media_id,
           CAST(ch AS INT) AS channels,
           CAST(rate2 AS INT) AS sample_rate,
           CAST(np AS BIGINT) AS n_frames,
           CAST(np AS BIGINT) * 1000000 // rate2 AS duration_us,
           (SELECT CAST(sum(v*v) AS BIGINT) FROM
              (SELECT ((media_id*31 +
                  ((2*(gp//ch))*ch + gp%ch)*7) % 65536) - 32768 AS v
               FROM generate_series(0, 299) t(gp)
               WHERE gp < np*ch) q) AS sum_sq,
           (SELECT CAST(max(abs(v)) AS BIGINT) FROM
              (SELECT ((media_id*31 +
                  ((2*(gp//ch))*ch + gp%ch)*7) % 65536) - 32768 AS v
               FROM generate_series(0, 299) t(gp)
               WHERE gp < np*ch) q) AS peak_abs,
           (SELECT CAST(count(*) AS BIGINT)
            FROM generate_series(0, 299) t(gp)
            WHERE gp < (np-1)*ch
              AND (((media_id*31 +
                    ((2*(gp//ch))*ch + gp%ch)*7) % 65536) - 32768) *
                  (((media_id*31 +
                    ((2*(gp//ch)+2)*ch + gp%ch)*7) % 65536) - 32768) < 0)
             AS zero_crossings
         FROM r ORDER BY media_id"""),

    // deterministic 80/10/10 train/val/test split: md5-banded, stable
    // under corpus growth — a doc keeps its split across versions
    Query("split_assign", (s, dir) => {
      Curation.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id,
           CASE WHEN md5('graft-split-' || CAST(doc_id AS VARCHAR)) <
                  'cccccccccccccccccccccccccccccccc' THEN 'train'
                WHEN md5('graft-split-' || CAST(doc_id AS VARCHAR)) <
                  'e6666666666666666666666666666666' THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),

    // corpus snapshot diff (data-versioning audit): v2 derived
    // deterministically — every 7th doc dropped, every 5th rewritten,
    // a shifted-id tail appended — and reconciled against v1 on
    // 128-bit content hashes in one full-outer join
    Query("snapshot_diff", (s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2-edit")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Curation.snapshotDiff(v1.select(col("doc_id"), col("text")), v2,
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2-edit'
               ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents
           WHERE doc_id % 3 = 0),
         j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             v1.text AS t1, v2.text AS t2,
             v1.doc_id IS NOT NULL AS ino,
             v2.doc_id IS NOT NULL AS inn
           FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         SELECT doc_id,
           CASE WHEN NOT ino THEN 'added'
                WHEN NOT inn THEN 'removed'
                WHEN t1 <> t2 THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM j WHERE NOT (ino AND inn AND t1 = t2)
         ORDER BY doc_id"""),

    // multimodal decode through the REAL JDK codec (javax.imageio):
    // synthetic per-id PNG fixtures whose geometry is an arithmetic
    // function of the id, so the oracle verifies actual decoded
    // dimensions, not plumbing shape.
    Query("multimodal_decode", (s, dir) => {
      val d = t(s, dir, "documents")
      // REAL codec round-trip: per-id synthetic PNGs (dimensions an
      // arithmetic function of the id) encoded and decoded through
      // javax.imageio — the oracle predicts the decoded geometry exactly
      val media = Multimodal.syntheticImageTable(d, "doc_id")
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("width"), col("height"),
          col("channels"))
        .orderBy(col("media_id"))
    }, oracle =
      """SELECT doc_id AS media_id,
         CAST(16 + doc_id % 32 AS BIGINT) AS width,
         CAST(16 + (doc_id // 32) % 32 AS BIGINT) AS height,
         CAST(3 AS BIGINT) AS channels
         FROM documents ORDER BY media_id"""),

    // multimodal feature-extract + resize on REAL decoded pixels: the
    // solid-color PNG fixtures make the channel means an arithmetic
    // function of the id, and the nearest-neighbor resize of a solid
    // image stays solid — every output column oracle-exact.
    Query("multimodal_features", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val media = Multimodal.syntheticImageTable(d, "doc_id")
      val feats = Multimodal.extractFeatures(media)
      val resized = Multimodal.resize(media, 64, 64)
        .select(col("media_id"), col("n_bytes_out"))
      feats.join(resized, Seq("media_id"))
        .select(col("media_id"), col("n_dims").cast("long"),
          round(get(col("features"), lit(0)) * 255)
            .cast("long").as("mean_r"),
          round(get(col("features"), lit(1)) * 255)
            .cast("long").as("mean_g"),
          round(get(col("features"), lit(2)) * 255)
            .cast("long").as("mean_b"),
          col("n_bytes_out"))
        .orderBy(col("media_id"))
    }, oracle =
      """SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS n_dims,
         doc_id % 256 AS mean_r,
         (doc_id * 7) % 256 AS mean_g,
         (doc_id * 13) % 256 AS mean_b,
         CAST(64*64*3 AS BIGINT) AS n_bytes_out
         FROM documents WHERE doc_id % 10 = 0 ORDER BY media_id"""),

    // multimodal frame sampling shape (explode semantics)
    Query("multimodal_frames", (s, dir) => {
      val media = Multimodal.fromBinary(
        t(s, dir, "documents").select(col("doc_id"),
          repeat(col("text"), 20).as("text")),
        "doc_id", "text", "video")
      Multimodal.sampleFrames(media, everyN = 3)
        .orderBy(col("media_id"), col("frame_idx"))
    }, oracle =
      """SELECT doc_id AS media_id,
         unnest(generate_series(0,
           greatest(CAST(floor(octet_length(encode(repeat(text, 20))) / 1024.0) AS INT), 1) - 1, 3)) AS frame_idx
         FROM documents ORDER BY media_id, frame_idx"""),

    // ordered-step conversion funnel signup → click → purchase: earliest
    // completion of each step strictly after the previous one, NULL from
    // the drop-off step onward; timestamps as epoch micros
    Query("event_funnel", (s, dir) => {
      Funnel.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"))
        .select(col("user").as("user_id"),
          unix_micros(col("ts_1")).as("t1_us"),
          unix_micros(col("ts_2")).as("t2_us"),
          unix_micros(col("ts_3")).as("t3_us"))
        .orderBy(col("user_id"))
    }, oracle =
      // the same join+min-aggregate chain: step i = earliest matching
      // event strictly after step i-1, NULL propagating from drop-off
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

    // deterministic md5-keyed global shuffle into 8 writer shards with
    // in-shard positions (no rand(): reruns and oracles keep the order)
    Query("global_shuffle", (s, dir) => {
      Curation.globalShuffle(t(s, dir, "documents"), "doc_id",
          numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH h AS (SELECT doc_id,
           md5('graft-shuf-' || CAST(doc_id AS VARCHAR)) AS hex
           FROM documents),
         s AS (SELECT doc_id, hex,
             CAST('0x' || substr(hex, 1, 8) AS BIGINT) % 8 AS shard
           FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
             ORDER BY hex, doc_id) AS INT) AS pos
         FROM s ORDER BY doc_id"""),

    // JSON property extraction (events.props) + per-type rollup
    Query("json_extract_agg", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""")
  )
}
