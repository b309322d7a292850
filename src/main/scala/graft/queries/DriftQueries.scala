package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Curation, Terms}

import QuerySupport.t

/** Drift queries: distribution shift, outliers, leakage and mix. */
object DriftQueries {
  val all: Seq[Query] = Seq(
    // per-type z-score outliers over event values: exact-decimal
    // moments broadcast back onto the rows, z emitted as integer micros
    Query("value_outliers", (s, dir) => {
      graft.operators.Profile.outliers(
          t(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", zThreshold = 2.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("z_micro"))
        .orderBy(col("event_id"))
    }, oracle =
      """WITH g AS (SELECT event_type, count(value) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(18,6)) *
                      CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
           FROM events GROUP BY event_type),
         g2 AS (SELECT event_type, n, s, s2,
             CASE WHEN s2/n - (s/n)*(s/n) <= (s2/n) * 1e-14 THEN 0.0
                  ELSE s2/n - (s/n)*(s/n) END AS vr
           FROM g)
         SELECT e.event_id, e.event_type, e.value,
           CAST(floor((e.value - s/n) /
               sqrt(greatest(vr, 0.0))
               * 1000000.0 + 0.5) AS BIGINT) AS z_micro
         FROM events e JOIN g2 USING (event_type)
         WHERE n > 1
           AND sqrt(greatest(vr, 0.0)) > 0
           AND abs((e.value - s/n) /
               sqrt(greatest(vr, 0.0))) >= 2.5
         ORDER BY e.event_id"""),

    // mixture rebalancing: largest subcorpus with sources in 3:2:1:…
    // proportion, rows chosen deterministically by md5-of-id
    Query("domain_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      Curation.mixtureResample(d, "source", "doc_id",
          Map("src0" -> 3.0, "src1" -> 2.0))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH cw AS (SELECT CAST(source AS VARCHAR) AS stratum,
             count(*) AS cnt,
             CASE CAST(source AS VARCHAR) WHEN 'src0' THEN 3.0
               WHEN 'src1' THEN 2.0 ELSE 1.0 END AS w
           FROM documents GROUP BY source),
         r AS (SELECT min(CAST(cnt AS DOUBLE) / w) AS ratio FROM cw),
         t AS (SELECT stratum,
             CAST(floor(w * (SELECT ratio FROM r)) AS BIGINT) AS tgt
           FROM cw),
         rn AS (SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY md5('graft-mix-' || CAST(doc_id AS VARCHAR)),
               doc_id) AS rn
           FROM documents)
         SELECT rn.doc_id, rn.source FROM rn
         JOIN t ON CAST(rn.source AS VARCHAR) = t.stratum
         WHERE rn.rn <= t.tgt ORDER BY rn.doc_id"""),

    // cross-source 3-gram Jaccard overlap matrix (contamination audit)
    Query("source_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      Curation.sourceOverlap(d, "source", "doc_id", "text", n = 3)
        .orderBy(col("src_a"), col("src_b"))
    }, oracle =
      """WITH w AS (SELECT doc_id, source,
             regexp_split_to_array(text, '\s+') AS ws
           FROM documents),
         g AS (SELECT DISTINCT source,
             array_to_string(ws[i:i+2], ' ') AS gram
           FROM w, UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
         n AS (SELECT source, count(*) AS ng FROM g GROUP BY source),
         i AS (SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS inter_n
           FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.src_a, i.src_b,
           CAST(na.ng AS BIGINT) AS n_a, CAST(nb.ng AS BIGINT) AS n_b,
           CAST(i.inter_n AS BIGINT) AS inter_n,
           CAST(i.inter_n AS DOUBLE) /
             CAST(na.ng + nb.ng - i.inter_n AS DOUBLE) AS jaccard
         FROM i JOIN n na ON na.source = i.src_a
                JOIN n nb ON nb.source = i.src_b
         ORDER BY src_a, src_b"""),

    // eval-hygiene audit: exact-duplicate groups straddling the
    // train/val/test boundary (dup waves injected so leaks exist)
    Query("split_leakage", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val inflated = d.unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 40000).as("doc_id"), col("text")))
        .unionAll(d.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 80000).as("doc_id"), col("text")))
      Curation.splitLeakage(inflated, "doc_id", "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("keep_id"))
    }, oracle =
      """WITH inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 40000 AS doc_id, text FROM documents
           WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 80000 AS doc_id, text FROM documents
           WHERE doc_id % 15 = 0),
         a AS (SELECT doc_id, text,
             CASE WHEN md5('graft-split-' || CAST(doc_id AS VARCHAR)) <
                    'cccccccccccccccccccccccccccccccc' THEN 'train'
                  WHEN md5('graft-split-' || CAST(doc_id AS VARCHAR)) <
                    'e6666666666666666666666666666666' THEN 'val'
                  ELSE 'test' END AS split
           FROM inflated),
         g AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
             count(*) AS n_docs,
             list_sort(list_distinct(list(split))) AS sl
           FROM a GROUP BY text)
         SELECT keep_id, n_docs,
           CAST(len(sl) AS BIGINT) AS n_splits,
           array_to_string(sl, ',') AS splits
         FROM g WHERE len(sl) > 1 ORDER BY keep_id"""),

    // PSI drift between two value cohorts (production-ML drift alarm):
    // cohort b's values deterministically shifted+scaled, pooled
    // equal-width bins, Laplace-smoothed shares, per-bin terms in
    // integer micros before the sum
    Query("psi_drift", (s, dir) => {
      val e = t(s, dir, "events")
      val a = e.filter(col("user_id") % 2 === 0).select(col("value"))
      val b = e.filter(col("user_id") % 2 === 1)
        .select((col("value") * 1.15 + 10).as("value"))
      graft.pipeline.Drift.valuePsi(a, b, "value", bins = 10)
    }, oracle =
      """WITH a AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE user_id % 2 = 0 AND value IS NOT NULL),
         b AS (SELECT CAST(value * 1.15 + 10 AS DOUBLE) AS v FROM events
           WHERE user_id % 2 = 1 AND value IS NOT NULL),
         pool AS (SELECT min(v) AS lo, max(v) AS hi FROM
           (SELECT v FROM a UNION ALL SELECT v FROM b)),
         ba AS (SELECT least(CAST(floor((v - lo) / (hi - lo) * 10)
             AS INT), 9) AS bin, CAST(count(*) AS BIGINT) AS c
           FROM a, pool GROUP BY 1),
         bb AS (SELECT least(CAST(floor((v - lo) / (hi - lo) * 10)
             AS INT), 9) AS bin, CAST(count(*) AS BIGINT) AS c
           FROM b, pool GROUP BY 1),
         na AS (SELECT CAST(count(*) AS BIGINT) AS na FROM a),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM b),
         bins AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
         sa AS (SELECT bin, COALESCE(c, 0) AS ca
           FROM bins LEFT JOIN ba USING (bin)),
         sb AS (SELECT bin, COALESCE(c, 0) AS cb
           FROM bins LEFT JOIN bb USING (bin)),
         terms AS (SELECT CAST(floor(
             (CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
              - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
             * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
                  / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)))
             * 1000000.0 + 0.5) AS BIGINT) AS tm
           FROM sa JOIN sb USING (bin), na, nb)
         SELECT na.na AS n_a, nb.nb AS n_b,
           CASE WHEN na.na > 0 AND nb.nb > 0
             AND NOT (pool.lo IS NULL OR pool.lo = pool.hi)
             THEN (SELECT CAST(sum(tm) AS BIGINT) FROM terms) END
             AS psi_micro
         FROM na, nb, pool"""),

    // exact two-sample KS statistic (bin-free drift companion): same
    // shifted cohorts as psi_drift; CDF gaps over distinct values in
    // integer micros, max taken after rounding
    Query("ks_drift", (s, dir) => {
      val e = t(s, dir, "events")
      val a = e.filter(col("user_id") % 2 === 0).select(col("value"))
      val b = e.filter(col("user_id") % 2 === 1)
        .select((col("value") * 1.15 + 10).as("value"))
      graft.pipeline.Drift.valueKs(a, b, "value")
    }, oracle =
      """WITH a AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE user_id % 2 = 0 AND value IS NOT NULL),
         b AS (SELECT CAST(value * 1.15 + 10 AS DOUBLE) AS v FROM events
           WHERE user_id % 2 = 1 AND value IS NOT NULL),
         ca AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM a
           GROUP BY v),
         cb AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b
           GROUP BY v),
         g AS (SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
           FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
         t AS (SELECT CAST(COALESCE(sum(ca), 0) AS BIGINT) AS na,
             CAST(COALESCE(sum(cb), 0) AS BIGINT) AS nb FROM g),
         c AS (SELECT
             sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS fa,
             sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS fb
           FROM g),
         gaps AS (SELECT CAST(floor(abs(
             CAST(fa AS DOUBLE) / CAST(greatest(na, 1) AS DOUBLE)
             - CAST(fb AS DOUBLE) / CAST(greatest(nb, 1) AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS gap FROM c, t)
         SELECT na AS n_a, nb AS n_b,
           CASE WHEN na > 0 AND nb > 0
             THEN (SELECT max(gap) FROM gaps) END AS ks_micro
         FROM t"""),

    // per-source Jensen–Shannon divergence from the corpus unigram
    // blend (domain-mix diagnostic): one tokenize pass, vocab×strata
    // scoring grid, per-term contributions in integer micros
    Query("source_divergence", (s, dir) => {
      Terms.sourceDivergence(t(s, dir, "documents"), "source", "text")
        .select(col("stratum").as("source"), col("n_toks"),
          col("js_micro"))
        .orderBy(col("source"))
    }, oracle =
      """WITH toks AS (SELECT source, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9'']+'),
             x -> x <> '')) AS w FROM documents),
         cs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
           FROM toks GROUP BY source, w),
         cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM cs
           GROUP BY w),
         ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM cs
           GROUP BY source),
         tt AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM cw),
         grid AS (SELECT ns.source, cw.w, ns.n_s, cw.c_w, cs.c_sw
           FROM cw CROSS JOIN ns
           LEFT JOIN cs ON cs.source = ns.source AND cs.w = cw.w),
         pq AS (SELECT source, n_s,
             CAST(COALESCE(c_sw, 0) AS DOUBLE) / CAST(n_s AS DOUBLE)
               AS p,
             CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q,
             0.5 * (CAST(COALESCE(c_sw, 0) AS DOUBLE)
                      / CAST(n_s AS DOUBLE)
                    + CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS m
           FROM grid, tt),
         terms AS (SELECT source, n_s, CAST(floor((
             0.5 * (CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END)
             + 0.5 * (q * ln(q / m)))
             * 1000000.0 + 0.5) AS BIGINT) AS tm FROM pq)
         SELECT source, n_s AS n_toks,
           CAST(sum(tm) AS BIGINT) AS js_micro
         FROM terms GROUP BY source, n_s ORDER BY source"""),

    // centroid drift between the even/odd vec_id cohorts: the
    // distribution-shift check per label, exact integer cross products
    Query("embedding_drift", (s, dir) => {
      graft.pipeline.Drift.centroidDrift(t(s, dir, "embeddings"),
          "embedding", "label", col("vec_id") % 2 === 0)
        .orderBy(col("label"))
    }, oracle =
      """WITH base AS (SELECT vec_id, label, unnest(embedding) AS e,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
           FROM embeddings),
         q AS (SELECT label, pos, vec_id % 2 = 0 AS is_ref,
             CAST(floor(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS q
           FROM base),
         g AS (SELECT label, pos, is_ref, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS s
           FROM q GROUP BY label, pos, is_ref),
         p AS (SELECT r.label, r.pos, r.s AS sa, r.n AS na,
             c.s AS sb, c.n AS nb
           FROM (SELECT * FROM g WHERE is_ref) r
           JOIN (SELECT * FROM g WHERE NOT is_ref) c
             USING (label, pos)),
         t AS (SELECT label, na, nb,
             CAST((CAST(sa AS DOUBLE)/CAST(na AS DOUBLE)/1048576.0 -
                   CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE)/1048576.0) *
                  (CAST(sa AS DOUBLE)/CAST(na AS DOUBLE)/1048576.0 -
                   CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE)/1048576.0)
               AS DECIMAL(38,18)) AS t2
           FROM p),
         d AS (SELECT label, CAST(min(na) AS BIGINT) AS n_ref,
             CAST(min(nb) AS BIGINT) AS n_cur, sum(t2) AS num
           FROM t GROUP BY label)
         SELECT label, n_ref, n_cur,
           CAST(floor(sqrt(CAST(num AS DOUBLE))
             * 1000000000.0 + 0.5) AS BIGINT) AS drift_nano
         FROM d ORDER BY label""")
  )
}
