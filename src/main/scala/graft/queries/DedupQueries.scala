package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Cluster, Curation, Dedup, TextAnalysis}

import QuerySupport.t

/** Deduplication queries: exact, near-duplicate (MinHash, SimHash,
  * n-gram, embedding), span and decontamination. */
object DedupQueries {
  val all: Seq[Query] = Seq(
    // MOSS winnowing fingerprints (k=3-gram hashes, w=4 windows,
    // rightmost-minimal rule): md5 variant so the oracle reproduces the
    // SELECTION, not just the grouping
    Query("winnow_fingerprint", (s, dir) => {
      graft.pipeline.TextAnalysis.winnow(t(s, dir, "documents"),
          "doc_id", "text", k = 3, w = 4, hash = md5(_))
        .select(col("id").as("doc_id"),
          col("fp_pos").cast("long").as("fp_pos"), col("fp_hash"))
        .orderBy(col("doc_id"), col("fp_pos"))
    }, oracle =
      """WITH wsrc AS (SELECT doc_id,
             regexp_split_to_array(text, '\s+') AS ws
           FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(ws[i:i+2], ' ')) AS h
           FROM wsrc, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
         m AS (SELECT doc_id, pos, h,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
             max(pos) OVER (PARTITION BY doc_id) AS maxp
           FROM g)
         SELECT DISTINCT doc_id, -(sel.np) AS fp_pos, sel.h AS fp_hash
         FROM m WHERE pos <= maxp - 3
         ORDER BY doc_id, fp_pos"""),

    // ---- training-data pipeline extensions ----
    // exact dedup (hash-groupBy) over an inflated corpus with known dups
    Query("dedup_exact", (s, dir) => {
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exact(inflated, "doc_id", "text")
        .orderBy(col("keep_id"))
    }, oracle =
      """WITH inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT min(doc_id) AS keep_id, count(*) AS dup_count
         FROM inflated GROUP BY text ORDER BY keep_id"""),

    // incremental dedup: a new batch (odd docs + re-submitted evens +
    // an intra-batch duplicate wave) against the already-kept corpus
    // (even docs). Re-submitted corpus content drops; intra-batch dups
    // group to the lowest id.
    Query("dedup_incremental", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
      val batch = d.filter(col("doc_id") % 2 === 1)
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        .unionAll(d.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      Dedup.incrementalExact(batch, corpus, "doc_id", "text")
        .orderBy(col("keep_id"))
    }, oracle =
      """WITH corpus AS (
           SELECT text FROM documents WHERE doc_id % 2 = 0),
         batch AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 20000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 30000, text FROM documents WHERE doc_id % 10 = 1)
         SELECT min(doc_id) AS keep_id, count(*) AS batch_dup_count
         FROM batch WHERE text NOT IN (SELECT text FROM corpus)
         GROUP BY text ORDER BY keep_id"""),

    // connected components over a pair graph + survivor selection: turns
    // pairwise near-dup matches into dedup GROUPS and picks the keeper
    // (longest text, ties → smallest id) per group. The edge list is
    // built deterministically from doc ids — chains of 3 every 5 ids,
    // bridged into 6-node components every 50 — so components are
    // multi-hop and the oracle (DuckDB recursive CTE) walks the same
    // graph to its transitive closure.
    Query("dedup_components", (s0, dir) => {
      // dedicated session: the pair graph is FAR smaller than the corpus
      // (candidate pairs, not documents), so the iterative joins want
      // few shuffle partitions — DERIVED from the edge count (one cheap
      // count of the already-narrow edge frame), not pinned: target
      // ~1M edges per partition, floor 4, so the same rule that gives
      // this fixture 4 gives a 10^10-edge production graph ~10^4
      val s = s0.newSession()
      val d0 = t(s0, dir, "documents")
      val nDocs = d0.select(col("doc_id")).count()
      // the synthetic graph below emits ~(2/5 + 1/50)·n edges
      val edgeEstimate = nDocs * 2L / 5L + nDocs / 50L
      val parts = math.max(4L, edgeEstimate / 1000000L).toString
      s.conf.set("spark.sql.shuffle.partitions", parts)
      val d = t(s, dir, "documents")
      val ids = d.select(col("doc_id").cast("long").as("id"))
      val five = ids.filter(col("id") % 5 === 0)
      val edges = five.select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        .unionAll(five.select((col("id") + 1).as("id_a"),
          (col("id") + 2).as("id_b")))
        .unionAll(ids.filter(col("id") % 50 === 0)
          .select(col("id").as("id_a"), (col("id") + 11).as("id_b")))
      val comp = Dedup.connectedComponents(edges)
      val scores = d.select(col("doc_id").cast("long").as("id"),
        length(col("text")).cast("long").as("score"))
      val keep = Dedup.survivors(comp, scores)
      comp.join(keep, "component")
        .select(col("id"), col("component"), col("keep_id"))
        .orderBy(col("id"))
    }, oracle =
      """WITH RECURSIVE pairs AS (
           SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
           WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 1, doc_id + 2 FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id, doc_id + 11 FROM documents WHERE doc_id % 50 = 0),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (
           SELECT src AS id, LEAST(src, MIN(dst)) AS component
           FROM reach GROUP BY src),
         keep AS (
           SELECT component, id AS keep_id FROM (
             SELECT c.component, c.id,
                    row_number() OVER (PARTITION BY c.component
                      ORDER BY length(d.text) DESC, c.id) AS rk
             FROM comp c JOIN documents d ON d.doc_id = c.id)
           WHERE rk = 1)
         SELECT CAST(c.id AS BIGINT) AS id,
                CAST(c.component AS BIGINT) AS component,
                CAST(k.keep_id AS BIGINT) AS keep_id
         FROM comp c JOIN keep k USING (component) ORDER BY id"""),

    // MinHash + LSH near-dup pairs (exact dups collide in every band)
    Query("dedup_minhash", (s, dir) => {
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      // 64 perms / 16 bands of 4: detection prob at jaccard 0.9 is
      // 1-(1-0.9^4)^16 ≈ 1-5e-8, and every candidate is verified by
      // exact jaccard — half the signature compute of 128/32 for free
      Dedup.minhashLsh(inflated, "doc_id", "text",
          numPerms = 64, bands = 16, k = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // true-jaccard pairwise join (the corpus contains generated near-dups;
      // 128-perm/32-band LSH finds jaccard>=0.9 pairs w.p. ~1-3e-15)
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

    // SimHash candidate generation (64-bit signature collision) + exact
    // text-equality verification — recall 1 on exact dups, oracle-checkable
    Query("dedup_simhash", (s, dir) => {
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.simhashExactPairs(inflated, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // simhash collision candidates verified by exact text equality ⇒ the
      // result is precisely the exact-duplicate pair set (recall 1: equal
      // texts always collide; precision 1: the verify removes hash flukes)
      """WITH inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM inflated a JOIN inflated b
           ON a.doc_id < b.doc_id AND a.text = b.text
         ORDER BY id_a, id_b"""),

    // n-gram Jaccard near-dup pairs
    Query("dedup_ngram", (s, dir) => {
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.ngramJaccard(inflated, "doc_id", "text", n = 3, threshold = 0.95)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
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
         SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (za.sz + zb.sz - c) AS jaccard
         FROM shared
         JOIN sz za ON za.doc_id = id_a
         JOIN sz zb ON zb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.95
         ORDER BY id_a, id_b"""),

    // embedding cosine near-dup via BANDED hyperplane LSH: exact copies
    // (cosine 1) AND genuinely-near perturbed copies (first element
    // ×1.1, cosine >= 0.9993 on this data; natural pairs top out at
    // 0.601) must all surface at threshold 0.99 — the recall the
    // single-bucket shape couldn't deliver
    Query("dedup_embedding", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecD = transform(col("embedding"), x => x.cast("double"))
      val perturbed = concat(
        array(element_at(col("embedding"), 1).cast("double") * 1.1),
        slice(vecD, 2, 63))
      val inflated = e.select(col("vec_id"), vecD.as("embedding"))
        .unionAll(e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000).as("vec_id"),
            vecD.as("embedding")))
        .unionAll(e.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 20000).as("vec_id"),
            perturbed.as("embedding")))
      // bitsPerBand 16 per the operator's own sizing guidance — the
      // 8-bit keys this query previously passed put the 10x corpus in
      // 256 buckets/band, the measured-quadratic shape the comment in
      // Dedup.embeddingNearDup warns against
      Dedup.embeddingNearDup(inflated, "vec_id", "embedding",
          dim = 64, bands = 8, bitsPerBand = 16, threshold = 0.99)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      """SELECT id_a, id_b FROM (
           SELECT vec_id AS id_a, vec_id + 10000 AS id_b
           FROM embeddings WHERE vec_id % 10 = 0
           UNION ALL
           SELECT vec_id, vec_id + 20000 FROM embeddings WHERE vec_id % 7 = 0
           UNION ALL
           SELECT vec_id + 10000, vec_id + 20000
           FROM embeddings WHERE vec_id % 70 = 0)
         ORDER BY id_a, id_b"""),

    // benchmark decontamination: docs sharing a word 3-gram with the
    // held-out slice (doc_id % 97). n=3 because the synthetic corpus's
    // small vocabulary has no longer overlaps; production default is 13
    Query("decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 97 === 0)
      val corpus = d.filter(col("doc_id") % 97 =!= 0)
      Curation.decontaminate(corpus, bench, "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
                    FROM documents),
         g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
               FROM w, UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         SELECT DISTINCT doc_id FROM g
         WHERE doc_id % 97 <> 0 AND gram IN (SELECT gram FROM bench)
         ORDER BY doc_id"""),

    // fuzzy decontamination: corpus docs that NEARLY duplicate a
    // benchmark doc (paraphrase-level overlap the exact n-gram semi-join
    // misses). Bench rows are derived near-copies — two appended words —
    // so the expected jaccard is exactly computable from gram sets.
    Query("decontaminate_fuzzy", (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq xq")).as("text"))
      Dedup.minhashLshBipartite(d, bench, "doc_id", "text",
          numPerms = 64, bands = 16, k = 3, threshold = 0.9)
        .select(col("id_a").as("doc_id"), col("id_b").as("bench_id"),
          col("jaccard"))
        .orderBy(col("doc_id"), col("bench_id"))
    }, oracle =
      """WITH bench AS (SELECT doc_id + 200000 AS bid,
             text || ' zq xq' AS text
           FROM documents WHERE doc_id % 40 = 0),
         wa AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
                FROM documents),
         wb AS (SELECT bid, regexp_split_to_array(text, '\s+') AS ws
                FROM bench),
         ga AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[i:i+2], ' ') AS gram
                FROM wa, UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
         gb AS (SELECT DISTINCT bid,
                  array_to_string(ws[i:i+2], ' ') AS gram
                FROM wb, UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
         na AS (SELECT doc_id, count(*) AS n FROM ga GROUP BY doc_id),
         nb AS (SELECT bid, count(*) AS n FROM gb GROUP BY bid),
         i AS (SELECT ga.doc_id, gb.bid, count(*) AS inter_n
               FROM ga JOIN gb USING (gram) GROUP BY 1, 2)
         SELECT i.doc_id, i.bid AS bench_id,
           CAST(i.inter_n AS DOUBLE) /
             CAST(na.n + nb.n - i.inter_n AS DOUBLE) AS jaccard
         FROM i JOIN na ON na.doc_id = i.doc_id
                JOIN nb ON nb.bid = i.bid
         WHERE CAST(i.inter_n AS DOUBLE) /
             CAST(na.n + nb.n - i.inter_n AS DOUBLE) >= 0.9
         ORDER BY i.doc_id, bench_id"""),

    // asymmetric containment decontamination: bench items are TRUNCATED
    // doc prefixes, so Jaccard vs the full doc dilutes but containment
    // stays 1.0 — the contamination shape symmetric gating misses
    Query("decontaminate_containment", (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          array_join(slice(split(col("text"), "\\s+"), 1, 20), " ")
            .as("text"))
      Curation.benchContainment(d, bench, "doc_id", "text", n = 5,
          threshold = 0.6)
        .select(col("id").as("doc_id"), col("bench_id"), col("inter_n"),
          col("bench_n"), col("containment"))
        .orderBy(col("doc_id"), col("bench_id"))
    }, oracle =
      """WITH bench AS (SELECT doc_id + 500000 AS bid,
             array_to_string((regexp_split_to_array(text, '\s+'))[1:20],
               ' ') AS text
           FROM documents WHERE doc_id % 37 = 0),
         wa AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
                FROM documents),
         wb AS (SELECT bid, regexp_split_to_array(text, '\s+') AS ws
                FROM bench),
         ga AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[i:i+4], ' ') AS gram
                FROM wa, UNNEST(generate_series(1, len(ws)-4)) AS t(i)),
         gb AS (SELECT DISTINCT bid,
                  array_to_string(ws[i:i+4], ' ') AS gram
                FROM wb, UNNEST(generate_series(1, len(ws)-4)) AS t(i)),
         nb AS (SELECT bid, count(*) AS bench_n FROM gb GROUP BY bid),
         iv AS (SELECT ga.doc_id, gb.bid, count(*) AS inter_n
               FROM ga JOIN gb USING (gram) GROUP BY 1, 2)
         SELECT iv.doc_id, iv.bid AS bench_id, iv.inter_n, nb.bench_n,
           CAST(iv.inter_n AS DOUBLE) / CAST(nb.bench_n AS DOUBLE)
             AS containment
         FROM iv JOIN nb USING (bid)
         WHERE CAST(iv.inter_n AS DOUBLE) / CAST(nb.bench_n AS DOUBLE)
           >= 0.6
         ORDER BY iv.doc_id, bench_id"""),

    // corpus-wide paragraph dedup (C4/CCNet step): documents re-chunked
    // into 10-word paragraphs (the synthetic corpus is single-line), the
    // globally-first occurrence of each repeated paragraph survives,
    // docs reassembled in order
    Query("paragraph_dedup", (s, dir) => {
      val ws = filter(split(col("text"), " "), w => w =!= "")
      val np = ceil(size(ws).cast("double") / lit(10.0)).cast("int")
      val paras = transform(
        sequence(lit(0), greatest(np, lit(1)) - 1),
        g => array_join(slice(ws, g * 10 + 1, lit(10)), " "))
      val d2 = t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(paras, "\n\n").as("text"))
      Curation.paragraphDedup(d2, "doc_id", "text", "\n\n", minChars = 1)
        .select(col("id").as("doc_id"), col("text"), col("n_paras"),
          col("n_kept"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH ws AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
         d2 AS (SELECT doc_id, array_to_string(list_transform(
             range(greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1)),
             g -> array_to_string(list_slice(ws, g*10+1, g*10+10), ' ')),
             chr(10)||chr(10)) AS text FROM ws),
         paras AS (SELECT doc_id,
             unnest(string_split(text, chr(10)||chr(10))) AS para,
             generate_subscripts(string_split(text, chr(10)||chr(10)), 1)
               AS idx
           FROM d2),
         k AS (SELECT doc_id, idx, para, row_number() OVER (
             PARTITION BY para ORDER BY doc_id, idx) AS rn FROM paras),
         kept AS (SELECT doc_id, idx, para FROM k
           WHERE length(para) < 1 OR rn = 1),
         reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(para, chr(10)||chr(10) ORDER BY idx) AS text
           FROM kept GROUP BY doc_id),
         np AS (SELECT doc_id, CAST(len(string_split(text,
             chr(10)||chr(10))) AS BIGINT) AS n_paras FROM d2)
         SELECT np.doc_id, coalesce(reb.text, '') AS text, np.n_paras,
           coalesce(reb.n_kept, CAST(0 AS BIGINT)) AS n_kept
         FROM np LEFT JOIN reb USING (doc_id) ORDER BY np.doc_id"""),

    // pair-capped MinHash dedup (round 14): LSH candidates routed to
    // components + survivors WITHOUT materializing intra-group pairs —
    // O(members) spanning edges per bucket, exact-jaccard verified,
    // plus the zero-verified-edge escalation pass. The oracle computes
    // components over the TRUE jaccard>=0.9 pair set (recursive CTE)
    // and picks survivors, so this row proves the capped mode lands
    // the all-pairs answer
    Query("dedup_minhash_components", (s0, dir) => {
      // derived-partitions session, same rule as dedup_components: the
      // verified spanning graph is CHAIN-deep (star edges to the group
      // min can fail verification near the threshold), so pointer
      // jumping runs ~log2(chain) rounds — each round's fixed cost
      // scales with shuffle partitions, and the spanning edge set is
      // bounded by docs × bands, far below one partition's worth here
      val s = s0.newSession()
      val nDocs = t(s0, dir, "documents").count()
      val edgeEstimate = nDocs * 17L // ≤ bands chain + star per doc
      s.conf.set("spark.sql.shuffle.partitions",
        math.max(4L, edgeEstimate / 1000000L).toString)
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val comp = Dedup.minhashComponents(inflated, "doc_id", "text",
        numPerms = 64, bands = 16, k = 3, threshold = 0.9)
      val scores = inflated.select(col("doc_id").cast("long").as("id"),
        length(col("text")).cast("long").as("score"))
      val keep = Dedup.survivors(comp, scores)
      comp.join(keep, "component")
        .select(col("id"), col("component"), col("keep_id"))
        .orderBy(col("id"))
    }, oracle =
      // components + survivors over the TRUE jaccard>=0.9 pair set —
      // the all-pairs answer the pair-capped Spark mode must reproduce
      """WITH RECURSIVE inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0),
         tk AS (
           SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM inflated),
         sets AS (
           SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE list_transform(generate_series(1, len(tk)-2), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
           FROM tk),
         sz AS (SELECT doc_id, len(sh) AS sz FROM sets),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b
           FROM shared
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.9),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (
           SELECT src AS id, LEAST(src, MIN(dst)) AS component
           FROM reach GROUP BY src),
         keep AS (
           SELECT component, id AS keep_id FROM (
             SELECT c.component, c.id,
                    row_number() OVER (PARTITION BY c.component
                      ORDER BY length(d.text) DESC, c.id) AS rk
             FROM comp c JOIN inflated d ON d.doc_id = c.id)
           WHERE rk = 1)
         SELECT CAST(c.id AS BIGINT) AS id,
                CAST(c.component AS BIGINT) AS component,
                CAST(k.keep_id AS BIGINT) AS keep_id
         FROM comp c JOIN keep k USING (component) ORDER BY id"""),

    // cross-document exact-substring dedup (Lee et al. ExactSubstr):
    // every duplicated token span >= 8 tokens keeps its global first
    // occurrence only; k-gram keep-first removal + token reassembly
    Query("substr_dedup", (s, dir) => {
      Dedup.substrDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"), col("text"), col("n_tokens"),
          col("n_removed"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(text, '\s+') AS ws,
             len(regexp_split_to_array(text, '\s+')) AS nt
           FROM documents),
         grams AS (SELECT doc_id, s - 1 AS pos,
             array_to_string(ws[s:s+7], ' ') AS g
           FROM toks, unnest(range(1, greatest(nt - 8 + 2, 1))) t(s)),
         occ AS (SELECT doc_id, pos, g,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos)
               AS rn,
             count(*) OVER (PARTITION BY g) AS c
           FROM grams),
         removed AS (SELECT DISTINCT doc_id, pos + j AS tokidx
           FROM occ, unnest(range(0, 8)) u(j)
           WHERE c > 1 AND rn > 1),
         tokens AS (SELECT doc_id,
             unnest(ws) AS tok, generate_subscripts(ws, 1) - 1 AS tokidx
           FROM toks),
         kept AS (SELECT t.doc_id, t.tokidx, t.tok FROM tokens t
           LEFT JOIN removed r
             ON t.doc_id = r.doc_id AND t.tokidx = r.tokidx
           WHERE r.doc_id IS NULL),
         reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY tokidx) AS text
           FROM kept GROUP BY doc_id)
         SELECT toks.doc_id, coalesce(reb.text, '') AS text,
           CAST(toks.nt AS BIGINT) AS n_tokens,
           CAST(toks.nt - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
         FROM toks LEFT JOIN reb USING (doc_id) ORDER BY toks.doc_id"""),

    // SemDeDup: cluster assign + within-cluster near-identical drop.
    // Corpus salted with exact copies (vec_id+10000 of every %10==0
    // vector): copies land in the original's cluster at cosine 1 and are
    // dropped; max natural pairwise cosine in this corpus is 0.52, so
    // the 0.95 threshold is engine-independent with a wide margin.
    Query("semantic_dedup", (s, dir) => {
      val qe = (c: Column) =>
        transform(c, x => round(x.cast("double") * 1000).cast("long"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), qe(col("embedding")).as("v"))
      val inflated = e.unionAll(
        e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("v")))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster_id"), col("v").as("centroid"))
      Cluster.semanticDedup(inflated, "vec_id", "v", cents,
          threshold = 0.95)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }, oracle =
      // the kept set is the naturals (planted +10000 copies all drop: they
      // sit in their original's cluster at cosine 1); cluster = the same
      // integer-exact nearest-centroid argmin as semantic_cluster
      """WITH q AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 8),
         d AS (SELECT q.vec_id, c.cid,
             (SELECT sum((x.a - x.b) * (x.a - x.b))
              FROM (SELECT unnest(q.v) AS a, unnest(c.cv) AS b) x) AS d2
           FROM q CROSS JOIN c),
         r AS (SELECT vec_id, cid, d2, row_number() OVER (
             PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn FROM d)
         SELECT vec_id, CAST(cid AS BIGINT) AS cluster
         FROM r WHERE rn = 1 ORDER BY vec_id"""),

    // exact-substring dedup signal: fraction of each doc's tokens
    // covered by a word 4-gram occurring >1 time in the corpus (4 — not
    // the production-scale 13 — because the synthetic corpus's small
    // vocabulary has no long repeats); integer interval-union, so the
    // doubles divide exactly alike on both engines
    Query("dup_spans", (s, dir) => {
      Curation.dupSpans(t(s, dir, "documents"), "doc_id", "text", n = 4)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("covered_tokens"), col("dup_span_frac"))
        .orderBy(col("doc_id"))
    }, oracle =
      // grams grouped by their word text (the hash-free spelling of the
      // same computation); interval union via the identical running-max
      """WITH base AS (
           SELECT doc_id, regexp_split_to_array(text, '\s+') AS parts,
             len(regexp_split_to_array(text, '\s+')) AS nt
           FROM documents),
         g AS (SELECT doc_id, nt, s - 1 AS pos,
             parts[s] || ' ' || parts[s+1] || ' ' || parts[s+2] || ' ' ||
               parts[s+3] AS gram
           FROM base, unnest(range(1, nt - 4 + 2)) t(s)),
         f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         d AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)),
         c AS (SELECT doc_id, pos,
             max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
           FROM d),
         sm AS (SELECT doc_id,
             sum(greatest(0, pos + 4 -
               greatest(pos, coalesce(prev_end, 0)))) AS covered
           FROM c GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.nt AS BIGINT) AS n_tokens,
           CAST(coalesce(sm.covered, 0) AS BIGINT) AS covered_tokens,
           CAST(coalesce(sm.covered, 0) AS DOUBLE) /
             CAST(b.nt AS DOUBLE) AS dup_span_frac
         FROM base b LEFT JOIN sm USING (doc_id) ORDER BY doc_id""")
  )
}
