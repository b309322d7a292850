package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.StringExpressions
import graft.pipeline.{Classifier, Curation, Terms, TextAnalysis}

import QuerySupport.t

/** Text queries: quality signals, language id, tokens, n-gram
  * statistics, normalization, scrubbing and packing. */
object TextQueries {
  val all: Seq[Query] = Seq(
    // hashed-linear classifier inference (fastText-style quality gate):
    // integer milli-unit margins so the fold is engine-exact, md5
    // bucketing so the oracle reproduces the hash table
    Query("quality_classifier", (s, dir) => {
      Classifier.scoreHashed(t(s, dir, "documents"), "doc_id", "text",
          Classifier.scrambledWeightsMilli(1024), biasMilli = 250L)
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tw AS (SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
           FROM toks WHERE w <> ''),
         s AS (SELECT doc_id,
             sum((b * 2654435761) % 2000 - 1000) AS tok_margin
           FROM tw GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(250 + COALESCE(s.tok_margin, 0) AS BIGINT) AS margin_milli,
           CAST(250 + COALESCE(s.tok_margin, 0) AS BIGINT) / 1000.0
             AS score,
           (250 + COALESCE(s.tok_margin, 0)) > 0 AS label
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY d.doc_id"""),

    // classifier evaluation: ROC-AUC of the hashed-linear margin
    // against the lang=='en' weak label — exact Mann–Whitney with tie
    // pairs over distinct-margin groups, one double division at the end
    Query("classifier_auc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Classifier.scoreHashed(docs, "doc_id", "text",
          Classifier.scrambledWeightsMilli(1024), biasMilli = 250L)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("y")), "doc_id")
      Classifier.aucByLabel(scored, "margin_milli", "y")
        .select(col("n_pos"), col("n_neg"), col("wins"),
          col("tie_pairs"), col("auc_micro"))
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tw AS (SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
           FROM toks WHERE w <> ''),
         s AS (SELECT doc_id,
             sum((b * 2654435761) % 2000 - 1000) AS tok_margin
           FROM tw GROUP BY doc_id),
         mm AS (SELECT d.doc_id,
             CAST(250 + COALESCE(s.tok_margin, 0) AS BIGINT) AS m,
             (d.lang = 'en') AS y
           FROM documents d LEFT JOIN s USING (doc_id)),
         g AS (SELECT m,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
           FROM mm GROUP BY m),
         c AS (SELECT p, q, COALESCE(sum(q) OVER (ORDER BY m
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS neg_below FROM g),
         a AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(q) AS BIGINT) AS n_neg,
             CAST(sum(p * neg_below) AS BIGINT) AS wins,
             CAST(sum(p * q) AS BIGINT) AS tie_pairs FROM c)
         SELECT n_pos, n_neg, wins, tie_pairs,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(floor(CAST(2 * wins + tie_pairs AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) END AS auc_micro
         FROM a"""),

    // corpus-relative quality gate: keep the top half by classifier
    // margin (exact percentile threshold over integer margins)
    Query("quality_filter", (s, dir) => {
      val scored = Classifier.scoreHashed(t(s, dir, "documents"),
        "doc_id", "text", Classifier.scrambledWeightsMilli(1024),
        biasMilli = 250L)
      Classifier.filterByMarginPercentile(scored, "margin_milli", 0.5)
        .select(col("doc_id"), col("margin_milli"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tw AS (SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
           FROM toks WHERE w <> ''),
         s AS (SELECT doc_id,
             sum((b * 2654435761) % 2000 - 1000) AS tok_margin
           FROM tw GROUP BY doc_id),
         m AS (SELECT d.doc_id,
             CAST(250 + COALESCE(s.tok_margin, 0) AS BIGINT)
               AS margin_milli
           FROM documents d LEFT JOIN s USING (doc_id)),
         cd AS (SELECT margin_milli,
             cume_dist() OVER (ORDER BY margin_milli) AS c FROM m),
         thr AS (SELECT min(margin_milli) AS t FROM cd WHERE c >= 0.5)
         SELECT m.doc_id, m.margin_milli FROM m, thr
         WHERE m.margin_milli >= thr.t
         ORDER BY m.doc_id"""),

    // text quality features + score
    Query("text_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val f = TextAnalysis.qualityFeatures(col("text"))
      d.select(col("doc_id"),
          f.getField("n_chars").as("n_chars"),
          f.getField("n_tokens").as("n_tokens"),
          f.getField("mean_token_len").as("mean_token_len"),
          f.getField("punct_ratio").as("punct_ratio"),
          f.getField("digit_ratio").as("digit_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
         CAST(length(text) AS DOUBLE) / greatest(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 1) AS mean_token_len,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
         round((CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) < 5 THEN 0.2
               WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > 10000 THEN 0.5 ELSE 1.0 END) *
         (CASE WHEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) > 0.2 THEN 0.3 ELSE 1.0 END) *
         (CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) > 0.3 THEN 0.3 ELSE 1.0 END), 4) AS quality
         FROM documents ORDER BY doc_id"""),

    // language identification (n-gram/stopword heuristic + CJK detection)
    Query("text_langid", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, oracle = {
      // langid: replicate the stopword-ratio argmax with the same tie-break
      // (greatest over (score, lang) structs picks the max lang string on
      // ties; langs ordered 'fr' > 'es' > 'en' > 'de')
      def ratio(l: String, words: Seq[String]): String = {
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            t -> list_contains($arr, t))) AS DOUBLE) /
            greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t2 -> t2 <> '')), 1)"""
      }
      val en = ratio("en", Seq("the", "a", "of", "and", "to", "in", "is",
        "that", "it", "for", "on", "with", "as", "at", "by"))
      val de = ratio("de", Seq("der", "die", "das", "und", "ist", "von",
        "mit", "für", "auf", "ein", "eine", "zu", "den", "im", "nicht"))
      val fr = ratio("fr", Seq("le", "la", "les", "et", "est", "de", "des",
        "un", "une", "dans", "pour", "sur", "avec", "au", "pas"))
      val es = ratio("es", Seq("el", "la", "los", "las", "y", "es", "de",
        "un", "una", "en", "por", "para", "con", "del", "no"))
      s"""WITH scored AS (
            SELECT doc_id, text, $en AS re, $de AS rd, $fr AS rf, $es AS rs
            FROM documents)
          SELECT doc_id,
            CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                 WHEN greatest(re, rd, rf, rs) = 0 THEN 'und'
                 WHEN rf = greatest(re, rd, rf, rs) THEN 'fr'
                 WHEN rs = greatest(re, rd, rf, rs) THEN 'es'
                 WHEN re = greatest(re, rd, rf, rs) THEN 'en'
                 ELSE 'de' END AS lang_pred
          FROM scored ORDER BY doc_id"""
    }),

    // token counting: whitespace + BPE-ish subword estimate
    Query("text_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]+|\s+')) AS n_bpeish_tokens
         FROM documents ORDER BY doc_id"""),

    // rolling-hash document fingerprint. The hash value itself is
    // engine-specific, but its equivalence classes are oracle-checkable:
    // on this corpus, fp equality must coincide exactly with text
    // equality (equal texts ⇒ equal fp; no collisions among distinct).
    Query("text_fingerprint", (s, dir) => {
      val d = t(s, dir, "documents")
      val inflated = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val fp = inflated.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      fp.as("x").join(fp.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // fp equivalence classes == text equivalence classes on this corpus
      """WITH inflated AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM inflated a JOIN inflated b
           ON a.doc_id < b.doc_id AND a.text = b.text
         ORDER BY id_a, id_b"""),

    // Gopher-style repetition quality features; both fractions follow
    // the exact IEEE op order of the oracle SQL, so doubles hash-match
    Query("text_repetition", (s, dir) => {
      val d = t(s, dir, "documents")
      Curation.repetitionFeatures(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("dup_word_frac"),
          col("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
                    FROM documents),
         b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
               FROM w, UNNEST(generate_series(1, len(ws)-1)) AS t(i)),
         c AS (SELECT doc_id, gram, count(*) AS n FROM b GROUP BY 1, 2),
         m AS (SELECT doc_id, CAST(max(n) AS DOUBLE) / sum(n) AS tbf
               FROM c GROUP BY 1)
         SELECT d.doc_id,
           1.0 - CAST(len(list_distinct(regexp_split_to_array(d.text, '\s+'))) AS DOUBLE)
               / len(regexp_split_to_array(d.text, '\s+')) AS dup_word_frac,
           coalesce(m.tbf, 0.0) AS top_bigram_frac
         FROM documents d LEFT JOIN m USING (doc_id)
         ORDER BY doc_id"""),

    // unigram-LM rarity scoring: docs scored by corpus frequencies of
    // their own tokens, exact integer arithmetic + one division
    Query("token_rarity", (s, dir) => {
      val d = t(s, dir, "documents")
      Terms.tokenRarity(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_toks"), col("freq_sum"),
          col("min_freq"), col("mean_freq"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w <> '' GROUP BY doc_id, w),
         c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf
           GROUP BY w)
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_toks,
           CAST(sum(tf.tf * c.c) AS BIGINT) AS freq_sum,
           CAST(min(c.c) AS BIGINT) AS min_freq,
           CAST(sum(tf.tf * c.c) AS DOUBLE) /
             CAST(sum(tf.tf) AS DOUBLE) AS mean_freq
         FROM tf JOIN c USING (w) GROUP BY tf.doc_id
         ORDER BY tf.doc_id"""),

    // packing-QA report: per (bucket, shard) doc count, tokens and fill
    // fraction vs budget over the first-fit packed corpus
    Query("pack_efficiency", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = Curation.packSequences(toks, "doc_id", "n_tok",
        budgetTokens = 2048L, bucketCol = pmod(col("doc_id"), lit(8L)))
      Curation.packEfficiency(packed, 2048L)
        .orderBy(col("bucket"), col("shard"))
    }, oracle =
      """WITH tk AS (SELECT doc_id, doc_id % 8 AS bucket,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT)
               AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, bucket, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
               AS start_offset
           FROM tk),
         p AS (SELECT bucket,
             CAST(floor(CAST(start_offset AS DOUBLE) / 2048) AS BIGINT)
               AS shard,
             n_tokens
           FROM o)
         SELECT bucket, shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_tokens) AS DOUBLE) / 2048.0 AS fill
         FROM p GROUP BY bucket, shard ORDER BY bucket, shard"""),

    // markup stripping (crawl boilerplate removal): synthetic HTML with
    // script/style subtrees and entities wraps each doc, then strips
    // back — both engines run byte-identical regex chains
    Query("html_strip", (s, dir) => {
      val injected = concat(
        lit("<html><head><script type=\"text/js\">if (1 < 2) { x(); }" +
          "</script><style>p { color: red; }</style></head>" +
          "<body class=\"d\"><p>"),
        col("text"),
        lit("</p><br/>&nbsp;<a href=\"/x?a=1&amp;b=2\">link</a> " +
          "tail &lt;kept&gt; &#39;q&#39;</body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
          graft.pipeline.TextAnalysis.stripMarkup(injected).as("clean"))
        .withColumn("clean_len", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH inj AS (SELECT doc_id,
           '<html><head><script type="text/js">if (1 < 2) { x(); }' ||
           '</script><style>p { color: red; }</style></head>' ||
           '<body class="d"><p>' || text ||
           '</p><br/>&nbsp;<a href="/x?a=1&amp;b=2">link</a> ' ||
           'tail &lt;kept&gt; &#39;q&#39;</body></html>' AS t
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(t,
           '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM inj),
         s2 AS (SELECT doc_id, regexp_replace(t,
           '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g')
           AS t FROM s2),
         s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(
           replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
         s5 AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g'))
           AS clean FROM s4)
         SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS clean_len
         FROM s5 ORDER BY doc_id"""),

    // the published Gopher quality rule set: docs stretched to varying
    // word counts (some clear the 50-word floor), bullet/ellipsis line
    // structure and '#' symbols injected by deterministic replaces both
    // engines reproduce byte-for-byte; all ratios integer micros
    Query("gopher_rules", (s, dir) => {
      val n = (lit(1) + col("doc_id") % 6).cast("int")
      val stretched = array_join(
        array_repeat(concat(col("text"), lit(" ")), n), "")
      val injected = replace(replace(replace(
        replace(stretched, lit(" scan "), lit("\n- scan ")),
        lit(" window "), lit(" window...\n")),
        lit(" hash "), lit(" # hash ")),
        lit(" join "), lit(" and of join "))
      Curation.gopherRules(
          t(s, dir, "documents").select(col("doc_id"),
            injected.as("text")),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("n_lines"),
          col("mean_word_len_micro"), col("hash_ratio_micro"),
          col("ellipsis_sym_ratio_micro"),
          col("bullet_frac_micro"), col("ellipsis_frac_micro"),
          col("alpha_frac_micro"), col("stop_hits"), col("pass"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH s AS (SELECT doc_id, replace(replace(replace(replace(
             repeat(text || ' ', CAST(1 + doc_id % 6 AS INT)),
             ' scan ', chr(10) || '- scan '),
             ' window ', ' window...' || chr(10)),
             ' hash ', ' # hash '),
             ' join ', ' and of join ') AS text FROM documents),
         f AS (SELECT doc_id, lower(text) AS t,
             list_filter(string_split_regex(lower(text), '\s+'),
               w -> w <> '') AS words,
             string_split(lower(text), chr(10)) AS lines
           FROM s),
         g AS (SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(floor(CAST(list_sum(list_transform(words,
                 w -> length(w))) AS DOUBLE)
               / greatest(CAST(len(words) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS mean_word_len_micro,
             CAST(floor(
               CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
               / greatest(CAST(len(words) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS hash_ratio_micro,
             CAST(floor(
               ((length(t) - length(replace(t, '...', ''))) / 3)
               / greatest(CAST(len(words) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS ellipsis_sym_ratio_micro,
             CAST(floor(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-•*]'))) AS DOUBLE)
               / greatest(CAST(len(lines) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS bullet_frac_micro,
             CAST(floor(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE)
               / greatest(CAST(len(lines) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS ellipsis_frac_micro,
             CAST(floor(CAST(len(list_filter(words,
                 w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / greatest(CAST(len(words) AS BIGINT), 1)
               * 1000000.0 + 0.5) AS BIGINT) AS alpha_frac_micro,
             CAST((CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END)
               AS BIGINT) AS stop_hits
           FROM f)
         SELECT doc_id, n_words, n_lines, mean_word_len_micro,
           hash_ratio_micro, ellipsis_sym_ratio_micro,
           bullet_frac_micro, ellipsis_frac_micro,
           alpha_frac_micro, stop_hits,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len_micro BETWEEN 3000000 AND 10000000
            AND hash_ratio_micro <= 100000
            AND ellipsis_sym_ratio_micro <= 100000
            AND bullet_frac_micro <= 900000
            AND ellipsis_frac_micro <= 300000
            AND alpha_frac_micro >= 800000
            AND stop_hits >= 2) AS pass
         FROM g ORDER BY doc_id"""),

    // Unicode-script composition (pre-langid crawl step): Cyrillic/CJK/
    // Greek glyphs injected into thirds of the ASCII corpus by
    // deterministic replaces; per-script fractions in integer micros,
    // dominant picked by fixed priority on those integers
    Query("text_scripts", (s, dir) => {
      // half-alphabet replacements make dominance a per-document coin
      // flip between latin and the injected script — the priority/tie
      // logic is actually exercised, not just the fractions
      val injected = when(col("doc_id") % 4 === 1,
          regexp_replace(col("text"), "[a-m]", "д"))
        .when(col("doc_id") % 4 === 2,
          regexp_replace(col("text"), "[a-m]", "中"))
        .when(col("doc_id") % 4 === 3,
          regexp_replace(col("text"), "[n-z]", "ω"))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.scriptProfile(injected).as("p"))
        .select(col("doc_id"), col("p.n_glyphs"), col("p.latin_micro"),
          col("p.digit_micro"), col("p.cjk_micro"),
          col("p.cyrillic_micro"), col("p.greek_micro"),
          col("p.arabic_micro"), col("p.dominant"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH s AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 1
                    THEN regexp_replace(text, '[a-m]', 'д', 'g')
                  WHEN doc_id % 4 = 2
                    THEN regexp_replace(text, '[a-m]', '中', 'g')
                  WHEN doc_id % 4 = 3
                    THEN regexp_replace(text, '[n-z]', 'ω', 'g')
                  ELSE text END AS t FROM documents),
         f AS (SELECT doc_id,
             regexp_replace(t, '\s+', '', 'g') AS nw FROM s),
         g AS (SELECT doc_id,
             CAST(length(nw) AS BIGINT) AS n_glyphs,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS latin_micro,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^0-9]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS digit_micro,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS cjk_micro,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^\x{0400}-\x{04ff}]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS cyrillic_micro,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^\x{0370}-\x{03ff}]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS greek_micro,
             CAST(floor(CAST(length(regexp_replace(nw,
                 '[^\x{0600}-\x{06ff}]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(nw), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS arabic_micro
           FROM f),
         h AS (SELECT *, greatest(latin_micro, digit_micro, cjk_micro,
             cyrillic_micro, greek_micro, arabic_micro) AS m FROM g)
         SELECT doc_id, n_glyphs, latin_micro, digit_micro, cjk_micro,
           cyrillic_micro, greek_micro, arabic_micro,
           CASE WHEN m = 0 THEN 'other'
                WHEN latin_micro = m THEN 'latin'
                WHEN digit_micro = m THEN 'digit'
                WHEN cjk_micro = m THEN 'cjk'
                WHEN cyrillic_micro = m THEN 'cyrillic'
                WHEN greek_micro = m THEN 'greek'
                ELSE 'arabic' END AS dominant
         FROM h ORDER BY doc_id"""),

    // high-entropy token scan (detect-secrets heuristic): every third
    // doc gets a Tok<md5> credential-shaped suffix whose hex diversity
    // straddles the 0.5 gate — some flag, some don't, both engines
    // agree because the gate compares integer micros
    Query("secret_scan", (s, dir) => {
      val injected = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" Tok"),
            md5(col("doc_id").cast("string"))))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.secretCandidates(injected).as("p"))
        .select(col("doc_id"),
          col("p.n_candidates").as("n_candidates"),
          array_join(col("p.candidates"), ",").as("candidates"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH s AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || ' Tok' || md5(CAST(doc_id AS VARCHAR))
               ELSE text END AS t FROM documents),
         tk AS (SELECT doc_id,
             list_filter(string_split_regex(t, '\s+'), x -> x <> '')
               AS toks FROM s),
         c AS (SELECT doc_id, list_filter(toks, x ->
             length(x) >= 20
             AND regexp_matches(x, '^[A-Za-z0-9+/=_-]+$')
             AND CAST(floor(
               CAST(len(list_distinct(string_split(x, ''))) AS DOUBLE)
               / CAST(greatest(len(string_split(x, '')), 1) AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) >= 500000) AS cands
           FROM tk)
         SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
           COALESCE(array_to_string(cands, ','), '') AS candidates
         FROM c ORDER BY doc_id"""),

    // the published C4 cleaning rules: sentence breaks, a javascript
    // line and curly braces injected by deterministic replaces; lines
    // are filtered (terminal punctuation, ≥5 words, no javascript) and
    // docs voted on surviving-line count and brace/lorem content
    Query("c4_rules", (s, dir) => {
      val injected = replace(replace(replace(replace(
        col("text"), lit(" data "), lit(" data.\n")),
        lit(" fast "), lit(" fast!\n")),
        lit(" slow "), lit(" javascript slow ")),
        lit(" batch "), lit(" { batch "))
      Curation.c4Rules(
          t(s, dir, "documents").select(col("doc_id"),
            injected.as("text")),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
          col("keep"), col("clean"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH s AS (SELECT doc_id, replace(replace(replace(replace(text,
             ' data ', ' data.' || chr(10)),
             ' fast ', ' fast!' || chr(10)),
             ' slow ', ' javascript slow '),
             ' batch ', ' { batch ') AS text FROM documents),
         f AS (SELECT doc_id, text,
             string_split(text, chr(10)) AS lines FROM s),
         g AS (SELECT doc_id, text,
             CAST(len(lines) AS BIGINT) AS n_lines,
             list_filter(lines, l ->
               regexp_matches(rtrim(l), '[.!?"]$')
               AND len(list_filter(string_split_regex(l, '\s+'),
                 w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
           FROM f)
         SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
           (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS keep,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean
         FROM g ORDER BY doc_id"""),

    // unigram-LM surprisal scoring (CCNet-shaped perplexity filter):
    // per-token -ln p rounds to integer micros, docs sum longs
    Query("unigram_surprisal", (s, dir) => {
      Terms.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_toks"),
          col("sum_nats_micro"), col("mean_nats_micro"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w <> '' GROUP BY doc_id, w),
         c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf
           GROUP BY w),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
         scored AS (SELECT tf.doc_id, tf.tf,
             tf.tf * CAST(floor(-ln(CAST(c.c AS DOUBLE) /
               CAST(tot.total AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               AS nm
           FROM tf JOIN c USING (w), tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
           CAST(sum(nm) AS BIGINT) AS sum_nats_micro,
           CAST(sum(nm) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)
             AS mean_nats_micro
         FROM scored GROUP BY doc_id ORDER BY doc_id"""),

    // interpolated bigram-LM surprisal (the KenLM-style perplexity
    // filter conditioned on context): per-bigram -ln p in integer
    // micros, doc-level long sums; counts aggregate-compressed first
    Query("bigram_surprisal", (s, dir) => {
      Terms.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("sum_nats_micro"), col("mean_nats_micro"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9'']+'),
             x -> x <> '') AS ws FROM documents),
         toks AS (SELECT doc_id, unnest(ws) AS w FROM w),
         c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM toks
           GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
         bg AS (SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
           FROM w, unnest(range(1, len(ws))) t(i)),
         c2 AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c2 FROM bg
           GROUP BY v, w),
         sc AS (SELECT bg.doc_id,
             CAST(floor(-ln(
               0.9 * (CAST(c2.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
               + (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
                 * (CAST(u2.c1 AS DOUBLE)
                                / CAST(tot.total AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS nm
           FROM bg JOIN c2 USING (v, w)
             JOIN c1 u1 ON u1.w = bg.v
             JOIN c1 u2 ON u2.w = bg.w, tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(nm) AS BIGINT) AS sum_nats_micro,
           CAST(sum(nm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_nats_micro
         FROM sc GROUP BY doc_id ORDER BY doc_id"""),

    // PMI collocations (phrase mining): top adjacent word pairs by
    // pointwise mutual information with a min-count floor; exact
    // integer counts, one double PMI expression, micro-rounded
    Query("collocations_pmi", (s, dir) => {
      Terms.collocations(t(s, dir, "documents"), "text",
          topN = 20, minCount = 5L)
        .select(col("v"), col("w"), col("pair_count"),
          col("pmi_micro"), col("rank"))
        .orderBy(col("rank"))
    }, oracle =
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9'']+'),
             x -> x <> '') AS ws FROM documents),
         toks AS (SELECT unnest(ws) AS w FROM w),
         c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM toks
           GROUP BY w),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM toks),
         bg AS (SELECT ws[i] AS v, ws[i + 1] AS w
           FROM w, unnest(range(1, len(ws))) t(i)),
         c2 AS (SELECT v, w, CAST(count(*) AS BIGINT) AS pair_count
           FROM bg GROUP BY v, w HAVING count(*) >= 5),
         nbg AS (SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT)
           AS n_bg FROM w),
         p AS (SELECT c2.v, c2.w, pair_count,
             CAST(floor(ln(
               (CAST(pair_count AS DOUBLE) / CAST(n_bg AS DOUBLE))
               / ((CAST(u1.c1 AS DOUBLE) / CAST(n_tok AS DOUBLE))
                  * (CAST(u2.c1 AS DOUBLE) / CAST(n_tok AS DOUBLE))))
               * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
           FROM c2 JOIN c1 u1 ON u1.w = c2.v
             JOIN c1 u2 ON u2.w = c2.w, nt, nbg),
         r AS (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC,
             v ASC, w ASC) AS rank FROM p)
         SELECT v, w, pair_count, pmi_micro, rank FROM r
         WHERE rank <= 20 ORDER BY rank"""),

    // Count-Min sketch heavy hitters: one-pass mergeable (d, idx, cnt)
    // sketch over token occurrences, then distinct-token point queries.
    // The exact-count oracle is valid because CMS never undercounts and
    // at width 8192 over this vocabulary no token collides in all 4
    // depth rows (verified deterministic), so est == exact count
    Query("cms_heavy_hitters", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), Terms.SeparatorClass))
          .as("w"))
        .filter(col("w") =!= "")
      graft.pipeline.Sketches.heavyHitters(toks, "w", minCount = 500L,
          width = 8192, depth = 4)
        .select(col("w"), col("est"))
        .orderBy(col("w"))
    }, oracle =
      """WITH toks AS (SELECT
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         c AS (SELECT w, CAST(count(*) AS BIGINT) AS est FROM toks
           WHERE w <> '' GROUP BY w)
         SELECT w, est FROM c WHERE est >= 500 ORDER BY w"""),

    // Unicode NFC normalization (native codegen expression): combining
    // sequences injected deterministically (the corpus is ASCII), then
    // folded to precomposed forms; char counts prove real composition
    Query("text_normalize", (s, dir) => {
      val injected = regexp_replace(col("text"), "a", "a\u0301")
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(injected).cast("long").as("len_raw"),
          StringExpressions.unicodeNormalize(injected, "NFC")
            .as("text_nfc"))
        .withColumn("len_nfc", length(col("text_nfc")).cast("long"))
        .select(col("doc_id"), col("text_nfc"), col("len_raw"),
          col("len_nfc"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH inj AS (SELECT doc_id,
             regexp_replace(text, 'a', 'a' || chr(769), 'g') AS t
           FROM documents)
         SELECT doc_id, nfc_normalize(t) AS text_nfc,
           CAST(length(t) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS len_nfc
         FROM inj ORDER BY doc_id"""),

    // BPE first-merge table: top-50 adjacent char pairs weighted by
    // corpus word frequency — vocabulary-compressed before the pair
    // explosion, integer-only
    Query("bpe_pairs", (s, dir) => {
      Terms.bpePairs(t(s, dir, "documents"), "doc_id", "text", topN = 50)
        .orderBy(col("rank"))
    }, oracle =
      """WITH toks AS (SELECT
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         words AS (SELECT w, count(*) AS c FROM toks WHERE w <> ''
           GROUP BY w HAVING length(w) >= 2),
         pairs AS (SELECT substring(w, CAST(i AS INT), 1) AS l,
             substring(w, CAST(i AS INT) + 1, 1) AS r, c
           FROM words, UNNEST(range(1, length(w))) AS t(i)),
         agg AS (SELECT l, r, CAST(sum(c) AS BIGINT) AS pair_count
           FROM pairs GROUP BY l, r),
         head AS (SELECT * FROM agg
           ORDER BY pair_count DESC, l ASC, r ASC LIMIT 50)
         SELECT l AS "left", r AS "right", pair_count,
           CAST(row_number() OVER (
             ORDER BY pair_count DESC, l ASC, r ASC) AS INT) AS rank
         FROM head ORDER BY rank"""),

    // PII scrub: detection counts + masked text. Deterministic PII is
    // injected per doc_id (the synthetic corpus has none), then counted
    // and redacted with the shared Java/RE2 regex subset — both engines
    // run the exact same patterns.
    Query("pii_scrub", (s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit(""))).as("text"))
      withPii.select(
          (col("doc_id") +:
            graft.pipeline.Scrub.piiRules.map(r =>
              graft.pipeline.Scrub.piiCount(col("text"), r).cast("long")
                .as(s"n_${r.name}")) :+
            graft.pipeline.Scrub.redact(col("text")).as("redacted")): _*)
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH d AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@example.com' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
         FROM d ORDER BY doc_id"""),

    // training-shard sequence packing: greedy first-fit by start offset
    // within hash-bucket packing streams (window cumsum per bucket — no
    // global sort; parallel across buckets)
    Query("token_pack", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      Curation.packSequences(toks, "doc_id", "n_tok",
          budgetTokens = 2048L, bucketCol = pmod(col("doc_id"), lit(8L)))
        .select(col("id").as("doc_id"), col("bucket"), col("shard"),
          col("n_tokens"), col("start_offset"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH tk AS (SELECT doc_id, doc_id % 8 AS bucket,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, bucket, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
           FROM tk)
         SELECT doc_id, bucket,
           CAST(floor(CAST(start_offset AS DOUBLE) / 2048) AS BIGINT) AS shard,
           n_tokens, start_offset
         FROM o ORDER BY doc_id"""),

    // top-3 distinctive terms per doc, ranked (tf desc, df asc, term) —
    // the tf-idf idea with an integer-only, engine-exact comparator
    Query("top_terms", (s, dir) => {
      Terms.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf
           FROM toks WHERE w <> '' GROUP BY doc_id, w),
         df_ AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         r AS (SELECT tf.doc_id, tf.w, tf.tf, df_.df,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df_.df ASC, tf.w ASC) AS rank
           FROM tf JOIN df_ USING (w))
         SELECT doc_id, w AS term, tf, df, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // corpus vocabulary head: top-40 terms with doc frequency and
    // cumulative token-occurrence coverage (stopword extraction / Zipf)
    Query("vocab_coverage", (s, dir) => {
      Terms.vocabCoverage(t(s, dir, "documents"), "doc_id", "text",
          topN = 40)
        .orderBy(col("rank"))
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf
           FROM toks WHERE w <> '' GROUP BY doc_id, w),
         byterm AS (SELECT w, CAST(sum(tf) AS BIGINT) AS tf,
             count(*) AS df
           FROM tf GROUP BY w),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM byterm),
         head AS (SELECT * FROM byterm ORDER BY tf DESC, w ASC LIMIT 40)
         SELECT w AS term, tf, df,
           CAST(row_number() OVER (ORDER BY tf DESC, w ASC) AS INT)
             AS rank,
           CAST(sum(tf) OVER (ORDER BY tf DESC, w ASC
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
             CAST(total AS DOUBLE) AS cum_frac
         FROM head, tot ORDER BY rank"""),

    // sliding token-window chunking (32-token chunks, 8-token overlap):
    // the RAG / training-prep splitter, pure per-doc explode
    Query("text_chunks", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.chunkTokens(col("text"), 32, 8)).as("c"))
        .select(col("doc_id"),
          col("c.chunk_idx").cast("long").as("chunk_idx"),
          col("c.n_tokens").cast("long").as("n_tokens"),
          col("c.chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, oracle =
      """WITH base AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '') AS parts,
             len(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '')) AS n
           FROM documents),
         st AS (
           SELECT doc_id, parts, n,
             unnest(range(0, greatest(n - 1, 0) + 1, 24)) AS s
           FROM base),
         f AS (SELECT * FROM st WHERE s = 0 OR s + 8 < n)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
             AS BIGINT) AS chunk_idx,
           CAST(least(n - s, 32) AS BIGINT) AS n_tokens,
           array_to_string(parts[s + 1 : s + 32], ' ') AS chunk
         FROM f ORDER BY doc_id, chunk_idx""")
  )
}
