package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus term statistics: per-document distinctive-term extraction and
  * corpus-level vocabulary/coverage tables (Zipf curve, stopword
  * extraction). Training-data-pipeline extensions (no reference
  * equivalent — pgloader is pure ETL), designed Spark-first.
  *
  * Unlike the [[Dedup]]/[[Curation]] family, the shuffle keys here ARE
  * the term strings: a term is a short bounded token (the payload the
  * user asked for, not a document), so hashing would save little and
  * the output needs the string anyway. The scale levers are different:
  * two-level aggregation (doc-local counts first, so the term-keyed
  * exchange moves one row per (doc, term), map-side combined), and
  * TakeOrdered limits instead of global sorted windows.
  */
object Terms {

  /** THE tokenizer separator class — every term-level operator (term
    * stats, BM25, BPE train AND the native BpeEncode expression) must
    * split identically or their documented parity silently breaks;
    * reference this constant, never restate the literal. */
  val SeparatorClass = "[^a-z0-9']+"

  /** One row per token occurrence: (id, w). Lower-cased alphanumeric
    * tokens; everything else is a separator. */
  private[pipeline] def termRows(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), SeparatorClass)).as("w"))
      .filter(col("w") =!= "")

  /** (id, w, tf) postings, [[Reuse.shared]]: every consumer reads them
    * at least twice — [[tokenRarity]], [[unigramSurprisal]] and
    * [[termStats]] differ only in what they join/score on top. */
  private[pipeline] def postings(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    Reuse.shared(termRows(df, idCol, textCol)
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf")))

  /** Term frequency per (doc, term) and document frequency per term,
    * joined: (id, w, tf, df). The doc-frequency table derives from the
    * (id, w) aggregate — one row per posting, so `groupBy(w).count` IS
    * the document count, no count-distinct expansion needed. The join
    * side is vocabulary-sized (aggregate-compressed, orders of magnitude
    * below corpus bytes), so AQE broadcasts it in practice — and if a
    * web-scale vocabulary outgrows broadcast, the fallback is a
    * sort-merge join on a 3-column row, not a blow-up.
    *
    * The tf lineage feeds both the output and the doc-frequency branch,
    * which Catalyst plans as two corpus scans; sharing `tf` ((id, term,
    * tf) is far smaller than the raw corpus) lets both consumers read
    * one materialization — measured 1.4× faster warm at sf0.1 and 1.6×
    * at a 10× corpus (tokenize dominates; ProfileScale, round 10). */
  private[pipeline] def termStats(df: DataFrame, idCol: String,
                                  textCol: String): DataFrame = {
    val tf = postings(df, idCol, textCol)
    val docFreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(docFreq, "w")
  }

  /** Top-`k` most DISTINCTIVE terms per document: ranked by term
    * frequency descending, then document frequency ascending (rarer
    * across the corpus wins the tie — the tf-idf idea with an
    * integer-only, engine-exact comparator instead of a float score),
    * then the term itself for a total deterministic order.
    *
    * The rank filter is a row_number window per doc — Catalyst's
    * WindowGroupLimit pushes the `<= k` cap below the exchange, so each
    * map task ships at most k rows per doc it holds.
    *
    * Output: (id, term, tf, df, rank).
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("w").asc)
    termStats(df, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("w").as("term"), col("tf"), col("df"),
        col("rank"))
  }

  /** Corpus vocabulary head with cumulative token coverage — the table
    * behind stopword extraction and Zipf sanity plots: the `topN` most
    * frequent terms with total occurrences, document frequency, rank,
    * and the cumulative fraction of ALL token occurrences covered by
    * ranks 1..r.
    *
    * Shape for scale: occurrences aggregate doc-locally first (map-side
    * combine), then once by term; the head is a `orderBy().limit(topN)`
    * — Spark's TakeOrderedAndProject, a per-partition top-N merge, NOT a
    * global sort; the cumulative window then runs over topN rows only.
    * The grand total rides in as a broadcast single-row cross join.
    * `cum_frac` divides exact longs in IEEE doubles — engine-exact.
    *
    * Output: (term, tf, df, rank, cum_frac), rank 1..topN.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    topN: Int = 100): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // occurrences and doc frequency fall out of ONE pass over the
    // doc-local counts — no docFreq join (that's only needed when the
    // per-doc tf must survive, as in topTerms).
    // NOT pinned (round 21): the earlier persist + collect-to-local
    // shape re-measured SLOWER than letting the head and the grand
    // total recompute the lineage (cold 4.1 → 3.0 s, warm flat, 10 →
    // 6 jobs at sf0.1) — the InMemoryRelation build plus the eager
    // collect action cost more than one extra run of a codegen'd
    // tokenize→aggregate, and AQE overlaps the two consumers' stages.
    val byTerm = termRows(df, idCol, textCol)
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("w"))
      .agg(sum(col("tf")).as("tf"), count(lit(1)).as("df"))
    val total = byTerm.agg(sum(col("tf")).as("__total"))
    val head = byTerm.orderBy(col("tf").desc, col("w").asc).limit(topN)
    val w = Window.orderBy(col("tf").desc, col("w").asc)
    val out = head.crossJoin(broadcast(total))
      .select(col("w").as("term"), col("tf"), col("df"),
        row_number().over(w).as("rank"),
        (sum(col("tf")).over(w).cast("double") /
          col("__total").cast("double")).as("cum_frac"))
    out
  }


  /** Unigram-LM rarity scoring — the cheap perplexity proxy: each
    * document scored by the CORPUS frequencies of its own tokens. Low
    * `mean_freq`/`min_freq` marks rare-token documents (OOV-heavy,
    * often extraction noise); a very high `mean_freq` marks
    * stopword-only boilerplate. The score a unigram LM assigns is a
    * monotone transform of these counts, but the counts themselves are
    * INTEGERS — summed exactly, with the single final division the
    * only float — so unlike a sum-of-logs surprisal the result is
    * bit-identical on every engine and every re-run (log-domain sums
    * reorder under parallelism; exact integer sums can't).
    *
    * Shape for scale (the [[termStats]] pattern): tokenize once into
    * doc-local (id, w, tf) counts — map-side combined, one row per
    * posting; corpus counts fall out of a second vocabulary-sized
    * aggregate that AQE broadcasts back onto the postings. Per-doc
    * totals then reduce postings, not occurrences. The posting frame
    * is shared by its two consumers ([[postings]]).
    *
    * Output: (id, n_toks, freq_sum, min_freq, mean_freq) with
    * `freq_sum = Σ_tokens corpusCount(token)` and
    * `mean_freq = freq_sum / n_toks`.
    */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tf = postings(df, idCol, textCol)
    val corpus = tf.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    tf.join(corpus, "w")
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * col("c")).as("freq_sum"),
        min(col("c")).as("min_freq"))
      .withColumn("mean_freq",
        col("freq_sum").cast("double") / col("n_toks").cast("double"))
  }

  /** Unigram language-model surprisal — the CCNet-shaped quality
    * signal: score each document by the mean negative log-probability
    * of its tokens under the corpus's own unigram distribution
    * (`p(w) = count(w) / total`). Low surprisal ≈ common boilerplate;
    * high surprisal ≈ rare-token noise (OCR garbage, hex dumps); the
    * middle band is what curation keeps. The log-domain companion to
    * [[tokenRarity]] (whose integer frequency sums stay engine-exact
    * but compress the head of the Zipf curve that perplexity-style
    * filtering keys on).
    *
    * Engine-exact: `-ln(c/total)` is transcendental, so each PER-TOKEN
    * surprisal rounds to integer MICROS first (`floor(x*1e6 + 0.5)`)
    * and documents aggregate LONG sums — addition-order-independent,
    * same convention as [[Retrieval.bm25TopK]]. `mean_nats_micro`
    * divides two exact integers in doubles.
    *
    * Scale shape: identical to [[tokenRarity]] — postings aggregate
    * doc-locally first, the corpus-count table is vocabulary-sized and
    * broadcasts back on; the posting frame is shared by its two
    * consumers.
    *
    * Output: (id, n_toks, sum_nats_micro, mean_nats_micro).
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tf = postings(df, idCol, textCol)
    val corpus = tf.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val total = corpus.agg(sum(col("c")).as("total"))
    val natsMicro = floor(-log(col("c").cast("double") /
      col("total").cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    tf.join(corpus, "w")
      .crossJoin(broadcast(total))
      .select(col("id"), col("tf"), (col("tf") * natsMicro).as("nm"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("nm")).as("sum_nats_micro"))
      .withColumn("mean_nats_micro",
        col("sum_nats_micro").cast("double") / col("n_toks").cast("double"))
  }

  /** Interpolated BIGRAM language-model surprisal — the next rung past
    * [[unigramSurprisal]] on the CCNet/KenLM perplexity-filter ladder:
    * each token is scored by its probability GIVEN the previous token,
    * backed off to the unigram distribution (Jelinek–Mercer
    * interpolation):
    *
    *   p(w | v) = λ · c(v,w)/c(v)  +  (1−λ) · c(w)/N
    *
    * Boilerplate that unigram filtering cannot see (common words in
    * predictable order) scores low; scrambled/garbled text (common
    * words in IMPROBABLE order) scores high — exactly the split that
    * motivates conditioning on context. A document's first token has no
    * context and is skipped, so `n_bigrams = n_tokens − 1`; documents
    * shorter than two tokens emit no row.
    *
    * Engine-exact by the library's convention: per-bigram `-ln p`
    * rounds to integer micros before the doc-level LONG sum. The
    * interpolation is evaluated in one fixed shape
    * (`λ·(c2/c1v) + (1−λ)·(c1w/N)`) so an external engine reproduces
    * the double bit-for-bit.
    *
    * Scale shape — the [[Dedup]]/[[Curation]] hash invariant, not the
    * term-stats one (the output needs no gram STRINGS, so none may
    * shuffle): bigram occurrences compress doc-locally to
    * (id, occurrence-count) rows keyed by a 128-bit gram hash pair plus
    * the two 64-bit word hashes, the count tables aggregate over those
    * hashes (map-side combined), and every join matches on 8–16-byte
    * keys — raw words never enter an exchange. A 64-bit word-hash
    * collision merges two words' counts (~2⁻⁶⁴, the library's accepted
    * convention); the bigram identity carries 128 bits. Nothing
    * corpus-sized is cached or collected. Tokenization is
    * [[SeparatorClass]] — the same tokenizer as every term-level
    * operator.
    *
    * Output: (id, n_bigrams, sum_nats_micro, mean_nats_micro).
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      lambda: Double = 0.9): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0, 1), got $lambda")
    val ws = filter(split(lower(col(textCol)), SeparatorClass),
      w => w =!= "")
    val base = df.select(col(idCol).as("id"), ws.as("ws"))
    val c1 = base.select(explode(col("ws")).as("w"))
      .groupBy(xxhash64(col("w")).as("hw"))
      .agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum(col("c1")).as("total"))
    val idxs = when(size(col("ws")) >= 2, sequence(lit(0),
      size(col("ws")) - 2)).otherwise(array().cast("array<int>"))
    // hash at the explode site: only (id, 4 hashes) rows ever shuffle
    val bgm = Reuse.shared(
      base.select(col("id"), col("ws"), explode(idxs).as("pos"))
        .select(col("id"),
          element_at(col("ws"), col("pos") + 1).as("v"),
          element_at(col("ws"), col("pos") + 2).as("w"))
        .select(col("id"), xxhash64(col("v")).as("hv"),
          xxhash64(col("w")).as("hw"),
          xxhash64(col("v"), col("w")).as("h1"),
          xxhash64(lit("graft-bigram-2"), col("v"), col("w")).as("h2")))
    // the narrow hashed gram rows feed BOTH the corpus count table and
    // the scoring join, hence shared. Rounds 9-13 first compressed
    // per-doc repeats through a corpus-sized (id, h1, h2, hv, hw)
    // groupBy; typical documents rarely repeat a bigram, so that
    // exchange shuffled the whole gram set for ~no compression —
    // scoring the rows directly removes one full corpus exchange (the
    // count tables still aggregate map-side; measured round 14: 2.10 →
    // 1.38 s at sf0.1 in-suite, a wash within host noise at the 10×
    // corpus, identical oracle hashes).
    val c2 = bgm.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c2"))
    val p = lit(lambda) *
        (col("c2").cast("double") / col("c1v").cast("double")) +
      lit(1.0 - lambda) *
        (col("c1").cast("double") / col("total").cast("double"))
    // HAPAX PRUNING, semantics-EXACT: a count table's rows below 2
    // are exactly 1, so pruning them and coalescing the left-join miss
    // to lit(1) reproduces the full join bit-for-bit while shrinking
    // the join tables to the NON-hapax vocabulary. At web scale the
    // hapax tail (URLs, typos, ids) dominates distinct tokens — the
    // measured 10× scale growth was almost entirely singleton tokens —
    // so this bounds the unigram broadcasts by the repeated vocabulary
    // and lets AQE broadcast the pruned bigram table instead of
    // shuffling the corpus-sized gram rows. `total` still sums the
    // FULL table (computed before the prune).
    val c1p = c1.filter(col("c1") >= 2)
    val c2p = c2.filter(col("c2") >= 2)
    bgm.join(c2p, Seq("h1", "h2"), "left")
      .join(broadcast(c1p.select(col("hw").as("hv"),
        col("c1").as("c1v"))), Seq("hv"), "left")
      .join(broadcast(c1p), Seq("hw"), "left")
      .crossJoin(broadcast(total))
      .select(col("id"),
        coalesce(col("c2"), lit(1L)).as("c2"),
        coalesce(col("c1v"), lit(1L)).as("c1v"),
        coalesce(col("c1"), lit(1L)).as("c1"), col("total"))
      .select(col("id"),
        floor(-log(p) * lit(1e6) + lit(0.5)).cast("long").as("nm"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nm")).as("sum_nats_micro"))
      .withColumn("mean_nats_micro",
        col("sum_nats_micro").cast("double") /
          col("n_bigrams").cast("double"))
  }

  /** Per-stratum Jensen–Shannon divergence from the corpus unigram
    * distribution — the domain-mix DIAGNOSTIC behind reweighting
    * decisions ([[graft.pipeline.Curation.mixtureResample]] moves data;
    * this measures which sources are lexically far from the blend):
    *
    *   JS(P_s ‖ Q) = ½·KL(P_s ‖ M) + ½·KL(Q ‖ M),  M = ½(P_s + Q),
    *
    * with P_s the stratum's unigram distribution and Q the corpus's.
    * Bounded by ln 2; 0 means the source is lexically indistinguishable
    * from the corpus blend.
    *
    * Scale shape: ONE tokenize pass builds (stratum, term) counts;
    * per-term corpus counts and stratum totals derive from that table
    * by further aggregation (never a second corpus scan). Terms absent
    * from a stratum contribute their ½·q·ln 2 mass ANALYTICALLY — a
    * per-word correction summed once over the vocabulary — so the
    * scoring work is one equi-join on the PRESENT (stratum, term) rows,
    * never a materialized vocabulary × strata grid (which at thousands
    * of strata would dwarf the present rows it pads). Per-term
    * contributions round to integer micros before the per-stratum sum —
    * engine-exact by the library's convention, and bit-identical to the
    * padded-grid spelling (see the body comment for the float-sequence
    * argument).
    *
    * Output: (stratum, n_toks, js_micro), one row per stratum.
    */
  def sourceDivergence(df: DataFrame, stratumCol: String,
                       textCol: String): DataFrame = {
    // termRows keys by "id" — here the id IS the stratum (one shared
    // tokenizer for every term-level operator, per the file header)
    val toks = termRows(df, stratumCol, textCol)
      .select(col("id").as("stratum"), col("w"))
    // shared: the (stratum, term) count table feeds THREE consumers
    // (c_w, n_s, the scoring join), so the corpus tokenize lineage runs
    // once, not three times (round 21: warm 1.4-1.7 s -> 0.87-0.99 s
    // at sf0.1)
    val cs = Reuse.shared(toks.groupBy(col("stratum"), col("w"))
      .agg(count(lit(1)).as("c_sw")))
    val cw = cs.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ns = cs.groupBy(col("stratum")).agg(sum(col("c_sw")).as("n_s"))
    val total = cw.agg(sum(col("c_w")).as("n_tot"))
    // A term ABSENT from a stratum (p = 0) contributes
    //   ½·q·ln(q/m) = ½·q·ln 2  with m = ½(0 + q),
    // which depends on the WORD alone. So the vocabulary × strata
    // grid (a padded left join whose null rows all evaluate to that
    // constant-in-w value) collapses algebraically:
    //   js_micro(s) = Σ_present tm(p,q) + (R_tot − Σ_present r_w),
    // with r_w the absent-cell micros and R_tot their vocabulary sum.
    // The per-cell floor(·×1e6 + ½) happens on exactly the same
    // per-(stratum, term) values as the grid spelling — bit-identical
    // output, vocabulary-sized work instead of vocabulary × strata
    // r_w's float sequence mirrors the grid cell EXACTLY:
    // q/m with m = ½q is exactly 2.0 in IEEE double (same mantissa,
    // exponent−1), so the absent cell evaluates
    // 0.0 + 0.5·(q·ln 2), then ·1e6, then +0.5 — reproduced here
    // operation-for-operation so the floor lands identically
    val q = col("c_w").cast("double") / col("n_tot").cast("double")
    val cwr = cw.crossJoin(broadcast(total))
      .withColumn("r_w", floor(
        (lit(0.5) * (q * lit(math.log(2.0)))) * lit(1e6) + lit(0.5))
        .cast("long"))
    val rtot = cwr.agg(sum(col("r_w")).as("r_tot"))
    val p = col("c_sw").cast("double") / col("n_s").cast("double")
    val m = lit(0.5) * (p + q)
    val term = lit(0.5) * (p * log(p / m)) +
      lit(0.5) * (q * log(q / m))
    // null-SAFE stratum equality: a NULL stratum is a real stratum here
    // (same convention as mixtureResample)
    val ns2 = ns.select(col("stratum").as("ns_stratum"), col("n_s"))
    cs.join(cwr, Seq("w"))
      .join(broadcast(ns2), col("stratum") <=> col("ns_stratum"))
      .select(col("stratum"), col("n_s"),
        (floor(term * lit(1e6) + lit(0.5)).cast("long") -
          col("r_w")).as("tm"))
      .groupBy(col("stratum"))
      .agg(min(col("n_s")).as("n_toks"), sum(col("tm")).as("adj"))
      .crossJoin(broadcast(rtot))
      .select(col("stratum"), col("n_toks"),
        (col("adj") + col("r_tot")).as("js_micro"))
  }

  /** PMI collocations — the phrase-mining table (Church & Hanks 1990,
    * "Word Association Norms, Mutual Information, and Lexicography"):
    * the top-`topN` adjacent word pairs by pointwise mutual information
    *
    *   PMI(v,w) = ln( p(v,w) / (p(v)·p(w)) ),
    *   p(v,w) = c(v,w)/N_bigrams, p(x) = c(x)/N_tokens,
    *
    * gated by `minCount` occurrences (raw PMI favors hapax pairs — the
    * classic failure the count floor exists for). High-PMI pairs are
    * collocations ("san francisco"); curation uses the table for
    * tokenizer phrase lists and template detection.
    *
    * This is a [[termStats]]-family operator: the OUTPUT is the word
    * pair, so pair strings are the aggregation keys (doc-locally
    * map-side combined; the table after aggregation is bigram-
    * vocabulary-sized). The head is orderBy().limit() — TakeOrdered,
    * never a global sort; rank is a window over the topN-row head
    * only. PMI rounds to integer micros AFTER the count ratios (exact
    * integer counts, one double expression per pair) so the ordering
    * and values reproduce on any engine.
    *
    * Output: (v, w, pair_count, pmi_micro, rank), rank 1..topN by
    * pmi desc then (v, w) asc.
    */
  def collocations(df: DataFrame, textCol: String,
                   topN: Int = 20, minCount: Long = 5L): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // no id column: bigram adjacency is row-local to each document's
    // token array, and the output is corpus-level pairs
    val ws = filter(split(lower(col(textCol)), SeparatorClass),
      w => w =!= "")
    // shared: the tokenized arrays feed FOUR lineages (c1, n_tok via
    // c1, the bigram explode, n_bg)
    val base = Reuse.shared(df.select(ws.as("ws")))
    val c1 = base.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTok = c1.agg(sum(col("c1")).as("n_tok"))
    val idxs = when(size(col("ws")) >= 2, sequence(lit(0),
      size(col("ws")) - 2)).otherwise(array().cast("array<int>"))
    val c2 = base.select(col("ws"), explode(idxs).as("pos"))
      .select(element_at(col("ws"), col("pos") + 1).as("v"),
        element_at(col("ws"), col("pos") + 2).as("w"))
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val nBg = base.select(
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n_bg"))
    val pmi = log(
      (col("pair_count").cast("double") / col("n_bg").cast("double")) /
        ((col("c1v").cast("double") / col("n_tok").cast("double")) *
          (col("c1").cast("double") / col("n_tok").cast("double"))))
    // every word in a surviving pair occurs >= pair_count >= minCount
    // times, so pruning c1 below minCount keeps every matchable row —
    // the broadcast is bounded by the >=minCount vocabulary with the
    // output unchanged (hapax-dominated tails never reach the join)
    val c1p = c1.filter(col("c1") >= minCount)
    val head = c2
      .join(broadcast(c1p.select(col("w").as("v"), col("c1").as("c1v"))),
        "v")
      .join(broadcast(c1p), "w")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("v"), col("w"), col("pair_count"),
        floor(pmi * lit(1e6) + lit(0.5)).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("v").asc, col("w").asc)
      .limit(topN)
    val rw = Window.orderBy(col("pmi_micro").desc, col("v").asc,
      col("w").asc)
    head.withColumn("rank", row_number().over(rw))
  }

  /** BPE first-merge statistics: the top-`topN` adjacent CHARACTER pairs
    * across the corpus, weighted by word frequency — the table a BPE /
    * WordPiece tokenizer trainer consults to pick its next merge (the
    * highest-count pair IS merge #1). Counting within words only, no
    * end-of-word marker — the simplest published variant (Sennrich et
    * al. 2016 §3.2, minus the `</w>` symbol), documented as such.
    *
    * Scale shape: the corpus compresses to its VOCABULARY first (one
    * doc-local then one global word-count aggregate — the same two-level
    * shape as [[vocabCoverage]]), so the quadratic-ish pair explosion
    * runs over distinct words, not token occurrences; a 100 TB corpus
    * has a vocabulary in the low millions. Pairs come from a pure
    * column-level `transform(sequence(...))` over each word — no window,
    * no second explode pass — and the final head is an
    * `orderBy().limit()` TakeOrdered, not a global sort.
    *
    * Output: (left, right, pair_count, rank), rank 1..topN by count
    * desc then (left, right) asc — integer-only, engine-exact.
    */
  def bpePairs(df: DataFrame, idCol: String, textCol: String,
               topN: Int = 50): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val words = termRows(df, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(length(col("w")) >= 2)
    val pairs = words.select(col("c"),
      explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("l"),
          col("w").substr(i + 1, lit(1)).as("r")))).as("p"))
    val head = pairs
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("c")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left").asc, col("right").asc)
      .limit(topN)
    // rank over the topN-row head only — cheap by construction
    val w = Window.orderBy(col("pair_count").desc, col("left").asc,
      col("right").asc)
    head.withColumn("rank", row_number().over(w))
      .select(col("left"), col("right"), col("pair_count"), col("rank"))
  }
}
