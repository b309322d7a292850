package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and training: repetition-based quality features
  * (Gopher-style), benchmark decontamination, and deterministic
  * stratified sampling. No reference equivalent (pgloader is pure ETL) —
  * extension surface, designed Spark-first.
  *
  * Scale invariants shared with [[Dedup]]:
  *   - n-grams travel through shuffles as 8/16-byte hashes, never raw
  *     word tuples (at corpus scale the gram column IS the corpus);
  *   - gram formation is codegen'd posexplode + window `lead` — no
  *     interpreted higher-order functions on the hot path;
  *   - nothing corpus-sized is cached or collected.
  */
object Curation {

  /** Per-document repetition features (the Gopher/C4 quality-filter
    * family): fraction of repeated words and the share of word-bigram
    * occurrences taken by the single most frequent bigram. High values
    * flag boilerplate/spam for downstream filtering.
    *
    * `dup_word_frac` is a pure Column expression (no shuffle);
    * `top_bigram_frac` is two doc-keyed hash aggregates over
    * (id, xxhash64(bigram)) rows — the shuffle carries 16 bytes/row.
    * Documents with fewer than two words have no bigrams → 0.0; a
    * NULL text scores (0.0, 0.0) — both fractions, consistently, so
    * one row never mixes a null gate with a passing one.
    */
  def repetitionFeatures(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val ws = split(col(textCol), "\\s+")
    val base = df.select(col(idCol).as("id"), ws.as("ws"))
    val wordFrac = base.select(col("id"),
      coalesce(lit(1.0) - size(array_distinct(col("ws"))).cast("double") /
        size(col("ws")), lit(0.0)).as("dup_word_frac"))
    // group on the hashed bigram, not the word pair: a within-doc
    // collision (2^-64) shifts one count; raw pairs ship the corpus
    val grams = Grams.positioned(df, idCol, textCol, 2)
      .select(col("id"), xxhash64(Grams.wordCols(2): _*).as("g"))
    val top = grams.groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg((max(col("n")).cast("double") / sum(col("n")))
        .as("top_bigram_frac"))
    wordFrac.join(top, Seq("id"), "left")
      .select(col("id"), col("dup_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Distinct word n-grams per document as (id, h1, h2) rows — two
    * INDEPENDENT 64-bit hashes of the word tuple, so downstream joins
    * match on 128 bits (silent cross-doc collision ~2^-128) without ever
    * shuffling gram text. Documents shorter than `n` words produce no
    * rows. */
  private def gramHashRows(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val words = Grams.wordCols(n)
    Grams.positioned(df, idCol, textCol, n)
      .select(col("id"), xxhash64(words: _*).as("h1"),
        xxhash64((lit("graft-decon-2") +: words): _*).as("h2"))
      .distinct()
  }

  /** Benchmark decontamination: ids of `docs` sharing at least one word
    * `n`-gram with any document in `bench` (the standard 13-gram overlap
    * rule for scrubbing eval sets out of training corpora).
    *
    * Both sides reduce to distinct (id, h1, h2) gram rows; the match is
    * a left-semi join on the 128-bit hash pair. The bench side collapses
    * to its distinct gram set first — benchmark suites are tiny relative
    * to the corpus, so AQE broadcasts them and the corpus side never
    * re-shuffles. Nothing wider than 24 bytes/row moves.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 13): DataFrame = {
    val dg = gramHashRows(docs, idCol, textCol, n)
    val bg = gramHashRows(bench, idCol, textCol, n)
      .select(col("h1"), col("h2")).distinct()
    dg.join(bg, Seq("h1", "h2"), "left_semi")
      .select(col("id")).distinct()
  }

  /** Asymmetric benchmark CONTAINMENT (Broder): for each (doc, bench)
    * pair sharing word `n`-grams, the fraction of the BENCH document's
    * distinct grams present in the doc — `|A∩B| / |B|`. The graded
    * companion to [[decontaminate]]: a benchmark item quoted inside a
    * much longer training document has near-total containment while its
    * JACCARD dilutes below any symmetric threshold (|A∪B| grows with
    * the doc), so Jaccard-gated scrubbing misses exactly the most
    * dangerous contamination shape. Pairs at or above `threshold`
    * survive.
    *
    * Scale shape: both sides collapse to distinct (id, 128-bit gram
    * pair) rows; the bench side is a benchmark suite — tiny relative to
    * the corpus — so AQE broadcasts it and the corpus never re-shuffles;
    * bench gram-set sizes ride in as a second broadcast. One integer
    * count per surviving pair, one exact division. Nothing wider than
    * 24 bytes/row moves.
    *
    * Output: (id, bench_id, inter_n, bench_n, containment), pairs with
    * containment >= threshold.
    */
  def benchContainment(docs: DataFrame, bench: DataFrame, idCol: String,
                       textCol: String, n: Int = 13,
                       threshold: Double = 0.8): DataFrame = {
    val dg = gramHashRows(docs, idCol, textCol, n)
    val bg = gramHashRows(bench, idCol, textCol, n)
      .select(col("id").as("bench_id"), col("h1"), col("h2"))
    val sizes = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("bench_n"))
    dg.join(bg, Seq("h1", "h2"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("inter_n"))
      .join(broadcast(sizes), "bench_id")
      .withColumn("containment",
        col("inter_n").cast("double") / col("bench_n").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id"), col("bench_id"), col("inter_n"), col("bench_n"),
        col("containment"))
  }

  /** Duplicated-span coverage — the exact-substring dedup SIGNAL: for
    * each document, the fraction of its tokens covered by some word
    * `n`-gram that occurs more than once in the corpus (within or across
    * documents). The per-doc quality score behind span-level dedup
    * policies: filter or re-weight docs whose text is mostly duplicated
    * boilerplate.
    *
    * Shape: positioned gram rows (id, pos, h1, h2) — the gram travels as
    * a 128-bit hash pair, never words; one hash-aggregate finds grams
    * with corpus frequency > 1; a left-semi join keeps each doc's
    * duplicated positions; interval union (windows [pos, pos+n)) runs as
    * a per-doc running-max window — integer-only, so any engine
    * reproduces it exactly.
    *
    * Output: (id, n_tokens, covered_tokens, dup_span_frac).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 13): DataFrame = {
    val words = Grams.wordCols(n)
    val grams = Grams.positioned(df, idCol, textCol, n)
      .select(col("id"), col("pos"), xxhash64(words: _*).as("h1"),
        xxhash64((lit("graft-spans") +: words): _*).as("h2"))
    val dupGrams = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("h1"), col("h2"))
    // interval union per doc: a gram at pos covers [pos, pos+n); each
    // row adds the part of its window past the furthest end so far
    val prevEnd = max(col("pos") + n).over(
      Window.partitionBy(col("id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val covered = grams.join(dupGrams, Seq("h1", "h2"), "left_semi")
      .withColumn("__prev_end", prevEnd)
      .withColumn("__add", greatest(lit(0), col("pos") + n -
        greatest(col("pos"), coalesce(col("__prev_end"), lit(0)))))
      .groupBy(col("id"))
      .agg(sum(col("__add")).as("covered_tokens"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\\s+")).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_span_frac"))
  }

  /** Greedy sequence packing for training-shard construction: documents
    * are laid end-to-end in id order within a bucket, and each document
    * is assigned to the shard where its first token lands
    * (`floor(start_offset / budgetTokens)`) — the deterministic
    * first-fit rule every trainer-side packer can reproduce.
    *
    * `bucketCol` splits the corpus into independent packing streams
    * (production: `pmod(xxhash64(id), numWriters)` — one stream per
    * shard-writer). The window sort is PER BUCKET, so the work
    * parallelizes across buckets and no global sort exists; shard ids
    * are only meaningful within their bucket, which is exactly the
    * shape a multi-writer trainer wants.
    *
    * Output: (id, bucket, shard, n_tokens, start_offset).
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budgetTokens: Long, bucketCol: Column): DataFrame = {
    require(budgetTokens > 0, s"budget must be > 0, got $budgetTokens")
    // ROWS frame, not the default RANGE frame: duplicate ids in a
    // bucket would be RANGE-frame peers and include each other's token
    // counts in both start offsets
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol).as("id"), bucketCol.as("bucket"),
        col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("id"), col("bucket"),
        floor(col("start_offset") / budgetTokens).as("shard"),
        col("n_tokens"), col("start_offset"))
  }

  /** Deterministic per-stratum Bernoulli sample at a different RATE per
    * stratum — the corpus-mixing primitive: upweight rare sources /
    * downsample dominant ones by keeping each row iff its id-hash
    * fraction falls under the stratum's rate. Seed-free (md5 of the id,
    * not `rand()`), so reruns, retried tasks, and oracles all keep the
    * SAME rows — at 100 TB a lost-stage recompute must not resample.
    *
    * Pure narrow projection + filter: no shuffle, no per-stratum state;
    * rates ride in as a small literal map (one `element_at`). The keep
    * test compares the first 8 md5 hex chars LEXICOGRAPHICALLY against
    * the rate's `%08x`-rendered threshold — fixed-width lowercase hex
    * orders like the number it spells, and the string form is the one
    * every engine renders identically (no base-conversion quirks).
    * Resolution 2^-32 — plenty for mixture weights.
    *
    * Rows whose stratum has no rate entry get `defaultRate`. The hash
    * is salted `graft-wsamp-` — each md5-of-id operator salts its own
    * key so composed selections (sample → split, sample → shuffle)
    * stay independent instead of perfectly correlated. A NULL id's key
    * is SQL-null, so null-id rows survive only where the rate is 1.0
    * (documented; filter or key them upstream if they matter).
    */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
                     rates: Map[String, Double],
                     defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r =>
      r >= 0.0 && r <= 1.0), "rates must be in [0, 1]")
    val rateCol = if (rates.isEmpty) lit(defaultRate)
      else coalesce(element_at(
        typedLit(rates), col(stratumCol).cast("string")),
        lit(defaultRate))
    val keyHex = substring(
      md5(concat(lit("graft-wsamp-"), col(idCol).cast("string"))), 1, 8)
    val thrHex = format_string("%08x",
      floor(rateCol * 4294967296.0).cast("long"))
    df.filter(rateCol >= 1.0 || keyHex < thrHex)
  }

  /** Deterministic global shuffle + shard assignment — the last step
    * before training-shard writing: give every row a pseudo-random but
    * REPRODUCIBLE position (no `rand()`: md5 of the id, so retried
    * tasks, reruns and oracles agree), bucketed into `numShards`
    * writer shards.
    *
    * Shard = the id-hash's first 32 bits mod `numShards`; position =
    * rank of the full hash WITHIN the shard. Both are per-shard window
    * computations — the sort parallelizes across shards and no global
    * total order is ever materialized (a global row_number would
    * single-task the corpus; per-shard positions are what a
    * multi-writer trainer consumes anyway).
    *
    * Output: input columns + (shard, pos), pos 1-based within shard.
    */
  def globalShuffle(df: DataFrame, idCol: String,
                    numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be > 0, got $numShards")
    val clash = df.columns.toSeq.intersect(Seq("shard", "pos", "__hex"))
    require(clash.isEmpty,
      s"input columns collide with outputs/internals: ${clash.mkString(",")}")
    val hex = md5(concat(lit("graft-shuf-"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(hex, 1, 8), 16, 10).cast("long"),
      lit(numShards.toLong))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__hex"), col(idCol))
    df.withColumn("__hex", hex)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .drop("__hex")
  }

  /** Mixture rebalancing to TARGET PROPORTIONS — the corpus-mixing
    * step run before shard writing (Pile/Dolma-style domain weights):
    * keep the LARGEST subcorpus whose per-stratum sizes sit in the
    * ratio `weights` prescribes. The limiting stratum is the one with
    * the least data relative to its weight: with
    * `ratio = min over strata of (count / weight)`, each stratum keeps
    * its top `floor(weight * ratio)` rows by md5-of-id — deterministic
    * and seed-free, so reruns, retried stages, and oracles keep the
    * SAME rows (see [[weightedSample]] for the rate-based variant when
    * the caller already knows the rates; this one derives them from
    * the data).
    *
    * Shape at scale: the counts and targets frames are
    * stratum-cardinality (tiny — broadcast), so the corpus passes
    * through exactly one stratum-keyed window exchange. A dominant
    * stratum serializes its own rank walk; if that bites, pre-trim
    * with [[stratifiedSample]] (whose static cap pushes below the
    * exchange) using any upper bound on the target.
    *
    * Floats: `count/weight`, one `min`, one `weight*ratio`, one
    * `floor` — each a single IEEE-754 operation, so any engine
    * reproduces the targets bit-for-bit.
    */
  def mixtureResample(df: DataFrame, stratumCol: String, idCol: String,
                      weights: Map[String, Double],
                      defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ > 0.0),
      "mixture weights must be > 0")
    val clash = df.columns.toSeq
      .intersect(Seq("__rn", "__stratum", "__tgt"))
    require(clash.isEmpty,
      s"input columns collide with internals: ${clash.mkString(",")}")
    def wOf(s: Column): Column =
      if (weights.isEmpty) lit(defaultWeight)
      else coalesce(element_at(typedLit(weights), s.cast("string")),
        lit(defaultWeight))
    val counts = df
      .groupBy(col(stratumCol).cast("string").as("__stratum"))
      .agg(count(lit(1)).as("__cnt"))
    val ratio = counts.agg(min(col("__cnt").cast("double") /
      wOf(col("__stratum"))).as("__ratio"))
    val targets = counts.crossJoin(broadcast(ratio))
      .select(col("__stratum"),
        floor(wOf(col("__stratum")) * col("__ratio")).cast("long")
          .as("__tgt"))
    val key = md5(concat(lit("graft-mix-"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(stratumCol)).orderBy(key, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      // null-SAFE equality: a null stratum is a real stratum here — with
      // plain ===, its rows fed the limiting ratio (shrinking every
      // other stratum's quota) and then vanished from the join output
      .join(broadcast(targets),
        col(stratumCol).cast("string") <=> col("__stratum"))
      .filter(col("__rn") <= col("__tgt"))
      .drop("__rn", "__stratum", "__tgt")
  }

  /** Cross-stratum contamination audit: pairwise Jaccard overlap of the
    * DISTINCT word `n`-gram sets of every pair of stratum values (data
    * sources, crawl snapshots, train/eval splits). High overlap between
    * two "independent" sources means shared boilerplate or outright
    * mirroring — the corpus-level signal behind dedup-across-sources
    * decisions, and the same audit decontamination runs doc-level.
    *
    * Shape at scale: the corpus collapses FIRST to distinct
    * (stratum, h1, h2) gram rows — 128-bit hash pairs, never gram text
    * (cross-stratum collision odds ~2^-128 leave the integer counts
    * exact in practice); the pair counts come from one equi-join on the
    * hash pair (fan-out per gram = #strata containing it, bounded by
    * stratum cardinality, not corpus size) and the output is
    * strata²-sized. Set sizes broadcast back in. The distinct gram set
    * feeds its three consumers through [[Reuse.shared]].
    *
    * Output: (src_a, src_b, n_a, n_b, inter_n, jaccard), src_a < src_b,
    * pairs with empty intersections omitted. `jaccard` is one division
    * of exact integers — engine-exact.
    */
  def sourceOverlap(df: DataFrame, stratumCol: String, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val words = Grams.wordCols(n)
    val g = Reuse.shared(Grams.positioned(df, idCol, textCol, n,
        extra = Seq(stratumCol))
      .select(col(stratumCol).as("src"),
        xxhash64(words: _*).as("h1"),
        xxhash64((lit("graft-overlap") +: words): _*).as("h2"))
      .distinct())
    val sizes = g.groupBy(col("src")).agg(count(lit(1)).as("ng"))
    val inter = g.select(col("src").as("src_a"), col("h1"), col("h2"))
      .join(g.select(col("src").as("src_b"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter_n"))
    inter
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("ng").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("ng").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter_n"),
        (col("inter_n").cast("double") /
          (col("n_a") + col("n_b") - col("inter_n")).cast("double"))
          .as("jaccard"))
  }

  /** Corpus-wide PARAGRAPH-level exact dedup (the C4/CCNet curation
    * step): split every document on `sep`, keep only the globally FIRST
    * occurrence of each repeated paragraph — first by (doc id, position
    * in doc), the deterministic rule any engine reproduces — and
    * reassemble the surviving paragraphs in their original order.
    * Complements [[Dedup.exact]] (whole-document) and [[dupSpans]]
    * (word-gram span coverage): boilerplate paragraphs (headers,
    * licenses, navigation) repeat across documents whose full texts are
    * unique and whose gram spans dilute below any doc-level threshold.
    *
    * Paragraphs shorter than `minChars` are never deduped (an empty or
    * one-word paragraph repeating is not boilerplate evidence) — they
    * always survive in place.
    *
    * Scale shape: the exchange key is a 128-bit hash pair of the
    * paragraph, never the text (16-byte shuffle rows for the
    * first-occurrence aggregate, same convention as [[Dedup]]); the
    * survivor check is a broadcast-or-shuffle join back on that pair
    * plus the (id, idx) equality. Reassembly groups by doc id —
    * paragraphs of one doc co-locate, `array_sort` on (idx, para)
    * structs restores order without a window. One doc's paragraphs fit
    * one task by construction (a document is bounded; the corpus is
    * not).
    *
    * Output: (id, text, n_paras, n_kept) — `text` is the deduped
    * document (empty string when every paragraph was removed), counts
    * cover eligible + ineligible paragraphs.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n", minChars: Int = 1): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("idx", "para")))
    val eligible = length(col("para")) >= minChars
    val hashed = paras.select(col("id"), col("idx"), col("para"),
      eligible.as("elig"),
      xxhash64(col("para")).as("h1"),
      xxhash64(lit("graft-para"), col("para")).as("h2"))
    // first occurrence per paragraph: min (id, idx) struct — one
    // hash-aggregate on the 16-byte pair
    val first = hashed.filter(col("elig"))
      .groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    val kept = hashed
      .join(first, Seq("h1", "h2"), "left")
      .filter(!col("elig") ||
        (col("first.id") === col("id") && col("first.idx") === col("idx")))
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")), sep).as("text"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), sepLit)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Shard-fill report over a [[packSequences]] output — the packing-QA
    * table a trainer checks before burning GPU-hours on badly-packed
    * shards: per (bucket, shard), document count, token total and fill
    * fraction vs the budget. Fill can exceed 1.0 when a document
    * straddles a boundary (first-fit assigns it where its first token
    * lands) and the closing shard of each bucket under-fills — both are
    * exactly what the report exists to surface. One aggregate over the
    * already-narrow packed frame; `fill` divides exact longs.
    */
  def packEfficiency(packed: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    packed.groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn("fill",
        col("tokens").cast("double") / lit(budgetTokens.toDouble))
  }

  /** Deterministic train/val/test assignment: each row's md5-of-id maps
    * to a point in [0, 2^128) and falls into the split whose cumulative
    * weight band contains it. Seed-free, engine-exact, and STABLE under
    * corpus growth — a document keeps its split forever regardless of
    * what else is added (the property `rand()`-based splitting loses),
    * which is what keeps eval sets uncontaminated across corpus
    * versions.
    *
    * Exactness: thresholds are `floor(cumWeight * 2^128)` computed in
    * exact decimal arithmetic and compared as 32-digit hex strings —
    * lowercase-hex lexicographic order IS numeric order, so any engine
    * with an md5 function reproduces the assignment with string
    * compares alone. Shuffle-free: one narrow projection.
    *
    * Every md5-of-id operator in this file salts its hash with its OWN
    * prefix (`graft-split-` here): an unsalted shared hash makes
    * sampling and splitting perfectly CORRELATED — downsample at rate
    * 0.1 then split 80/10/10 and every surviving row's key sits below
    * the first band, leaving val/test silently EMPTY. Distinct salts
    * make composed selections independent; a NULL id hashes to null
    * and falls through every band to the LAST split (documented, not
    * accidental — filter null ids upstream if that matters).
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    // a zero-weight TRAILING split would push the previous cumulative
    // threshold to exactly 2^128, whose 33-hex rendering truncates to
    // all-zeros and inverts every assignment
    require(splits.forall(_._2 > 0),
      s"every split weight must be > 0: ${splits.map(_._2).mkString(",")}")
    require(!df.columns.contains("split"),
      "input column 'split' collides with the output column")
    val key =
      md5(concat(lit("graft-split-"), col(idCol).cast("string")))
    val labels = splits.map(_._1)
    val bands = hashSplitThresholds(splits.map(_._2))
    val assigned = bands.zip(labels.init).foldRight(
      lit(labels.last): Column) { case ((t, l), rest) =>
      when(key < lit(t), lit(l)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** Upper-bound hex thresholds for all but the last split (exact
    * decimal cumulative weights scaled to 2^128, floored). Exposed so
    * external oracles can embed the identical literals. */
  def hashSplitThresholds(weights: Seq[Double]): Seq[String] = {
    // java BigDecimal: multiply is EXACT by default (Scala's wrapper
    // carries MathContext.DECIMAL128, which silently rounds the 39-digit
    // product of cum * 2^128 at 34 significant digits)
    val two128 = new java.math.BigDecimal(
      (BigInt(1) << 128).bigInteger)
    weights.init.scanLeft(java.math.BigDecimal.ZERO) { (acc, w) =>
      acc.add(new java.math.BigDecimal(w.toString))
    }.tail.map { cum =>
      f"${cum.multiply(two128).toBigInteger}%032x".takeRight(32)
    }
  }

  /** Cross-split leakage audit — the eval-hygiene check run right after
    * [[hashSplit]]: exact-duplicate groups whose members landed in MORE
    * THAN ONE split (a test document with a training-set copy measures
    * memorization, not generalization). Dedup-then-split does not make
    * this vacuous: re-crawls, near-identical mirrors admitted after the
    * dedup threshold, and split assignments inherited from earlier
    * corpus versions all reintroduce it — this is the audit that proves
    * the invariant instead of assuming it.
    *
    * Shape: one 16-byte text-hash aggregate (collect each group's
    * distinct splits as a sorted set — bounded by the split count, not
    * the group), filter groups spanning > 1. Output:
    * (keep_id, n_docs, n_splits, splits) with `splits` a comma-joined
    * sorted list and `keep_id` the group's minimum id — engine-exact.
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splits: Seq[(String, Double)]): DataFrame = {
    // null-text rows are excluded: xxhash64 skips null arguments, so
    // every null-text doc would hash to the seed pair and surface as
    // one giant false-positive "duplicate" group spanning the splits
    hashSplit(df.filter(col(textCol).isNotNull), idCol, splits)
      .groupBy(xxhash64(col(textCol)).as("h1"),
        xxhash64(lit("graft-leak"), col(textCol)).as("h2"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_docs"),
        array_join(array_sort(collect_set(col("split"))), ",")
          .as("splits"),
        size(collect_set(col("split"))).cast("long").as("n_splits"))
      .filter(col("n_splits") > 1)
      .select(col("keep_id"), col("n_docs"), col("n_splits"),
        col("splits"))
  }

  /** The published Gopher document-quality rule set (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", Appendix A.1.1) — the standard first-pass filter
    * every web-scale curation pipeline runs before dedup:
    *
    *   1. 50 ≤ word count ≤ 100,000
    *   2. mean word length in [3, 10] characters
    *   3. symbol-to-word ratio ≤ 0.1 for EACH symbol (`#` and `...` —
    *      the paper gates on "either", i.e. both ratios must clear)
    *   4. ≤ 90% of lines start with a bullet (`-`, `•`, `*`)
    *   5. ≤ 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain at least one alphabetic character
    *   7. at least 2 of the 8 probe stopwords
    *      (the/be/to/of/and/that/have/with) occur
    *
    * (The paper's repetition thresholds — duplicate-line and n-gram
    * fractions — live in [[repetitionFeatures]] / [[dupSpans]]; this is
    * the per-document half that needs no corpus context.)
    *
    * Pure `Column` projection: one narrow pass over corpus bytes, no
    * shuffle, embarrassingly parallel — the 100 TB shape is a map-only
    * stage. Every transcendental-free ratio is emitted as integer
    * MICROS (`floor(x·1e6 + 0.5)`, the library's engine-exact rounding
    * convention) and the rule thresholds compare on those integers, so
    * an external engine reproduces pass/fail bit-for-bit.
    *
    * Word = maximal `\s+`-separated run; line = `\n`-separated; both on
    * the lower-cased text so the stopword probe is case-insensitive.
    * Empty documents (0 words / 0 lines) divide by a floor of 1 and
    * fail rules 1 and 7.
    *
    * Output: (id, n_words, n_lines, mean_word_len_micro,
    * hash_ratio_micro, ellipsis_sym_ratio_micro, bullet_frac_micro,
    * ellipsis_frac_micro, alpha_frac_micro, stop_hits, pass).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def micro(x: Column): Column =
      floor(x * lit(1e6) + lit(0.5)).cast("long")
    val t = lower(col(textCol))
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val lines = split(t, "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val safeWords = greatest(nWords, lit(1L)).cast("double")
    val safeLines = greatest(nLines, lit(1L)).cast("double")
    val sumLen = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    // non-overlapping occurrence counts via length deltas — exact and
    // engine-reproducible (replace scans left-to-right everywhere)
    val nEllipsis = (length(t) - length(replace(t, lit("...")))) / 3
    val nHash = length(t) - length(replace(t, lit("#")))
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-•*]")))
    val nEllLine = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
    val nAlpha = size(filter(words, w => w.rlike("[a-z]")))
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = stop.map(sw => array_contains(words, sw).cast("long"))
      .reduce(_ + _)
    val out = df.select(col(idCol).as("id"),
      nWords.as("n_words"), nLines.as("n_lines"),
      micro(sumLen.cast("double") / safeWords).as("mean_word_len_micro"),
      micro(nHash.cast("double") / safeWords).as("hash_ratio_micro"),
      micro(nEllipsis.cast("double") / safeWords)
        .as("ellipsis_sym_ratio_micro"),
      micro(nBullet.cast("double") / safeLines).as("bullet_frac_micro"),
      micro(nEllLine.cast("double") / safeLines).as("ellipsis_frac_micro"),
      micro(nAlpha.cast("double") / safeWords).as("alpha_frac_micro"),
      stopHits.as("stop_hits"))
    out.withColumn("pass",
      col("n_words").between(50L, 100000L) &&
        col("mean_word_len_micro").between(3000000L, 10000000L) &&
        col("hash_ratio_micro") <= 100000L &&
        col("ellipsis_sym_ratio_micro") <= 100000L &&
        col("bullet_frac_micro") <= 900000L &&
        col("ellipsis_frac_micro") <= 300000L &&
        col("alpha_frac_micro") >= 800000L &&
        col("stop_hits") >= 2L)
  }

  /** Corpus snapshot diff — the data-versioning audit between two
    * releases of the same corpus: which documents were ADDED, REMOVED,
    * or CHANGED (same id, different content)? The provenance table a
    * training run records next to its data hash.
    *
    * Scale shape: both snapshots compress to (id, 128-bit content
    * hash) rows — raw content never enters the exchange — and meet in
    * ONE full-outer join on the id (co-partitioned by the join itself;
    * at petabyte scale, bucket both snapshots by id at write time and
    * the exchange disappears). Unchanged rows are dropped by default
    * (`keepUnchanged = true` keeps them — the full reconciliation
    * table). A 2⁻¹²⁸ hash collision reports a changed document as
    * unchanged — the library's accepted convention.
    *
    * Output: (id, status ∈ added|removed|changed[|unchanged]).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCol: String,
                   keepUnchanged: Boolean = false): DataFrame = {
    def hashed(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as("id"),
        xxhash64(col(contentCol)).as(s"h1$tag"),
        xxhash64(lit("graft-snap-2"), col(contentCol)).as(s"h2$tag"),
        lit(true).as(s"in$tag"))
    val joined = hashed(oldDf, "o")
      .join(hashed(newDf, "n"), Seq("id"), "full_outer")
    val status = when(col("ino").isNull, lit("added"))
      .when(col("inn").isNull, lit("removed"))
      .when(col("h1o") =!= col("h1n") || col("h2o") =!= col("h2n"),
        lit("changed"))
      .otherwise(lit("unchanged"))
    val out = joined.select(col("id"), status.as("status"))
    if (keepUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** The published C4 cleaning rule set (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2) — the LINE-level complement to [[gopherRules]]
    * (Gopher votes a whole document; C4 first edits its lines, then
    * votes):
    *
    *   - keep only lines ending in a terminal punctuation mark
    *     (`.` `!` `?` `"`), ignoring trailing whitespace;
    *   - keep only lines with at least 5 words;
    *   - drop any line containing the word "javascript";
    *   - drop the whole document when fewer than 3 lines survive, or
    *     when it contains "lorem ipsum" or a curly brace `{`.
    *
    * Pure `Column` projection (nested higher-order filters — no
    * explode, no shuffle; the 100 TB shape is a map-only stage). Line
    * membership tests are case-insensitive where the paper's are
    * ("javascript", "lorem ipsum"); the cleaned text preserves
    * surviving lines verbatim (original case), joined with `\n`.
    *
    * Output: (id, n_lines, n_kept, keep, clean) — `clean` is empty when
    * no line survives; callers typically filter on `keep` and write
    * `clean` as the new text.
    */
  def c4Rules(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= 5 &&
        !lower(l).contains("javascript"))
    val lowerT = lower(col(textCol))
    df.select(col(idCol).as("id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        kept.as("__kept"),
        (!lowerT.contains("lorem ipsum") &&
          !col(textCol).contains("{")).as("__docok"))
      .select(col("id"), col("n_lines"), col("n_kept"),
        (col("n_kept") >= 3 && col("__docok")).as("keep"),
        concat_ws("\n", col("__kept")).as("clean"))
  }

  /** Deterministic stratified sample: at most `perStratum` rows per
    * value of `stratumCol`, chosen by md5 of the id — a stable,
    * seed-free order that any engine reproduces (no `rand()`, so reruns
    * and oracles agree).
    *
    * Skew: the row_number + rank-filter shape triggers Catalyst's
    * WindowGroupLimit pushdown, which keeps at most `perStratum` rows
    * per stratum per MAP task before the exchange — a dominant stratum
    * (half the web is one language) ships tasks × perStratum rows, not
    * the stratum, so the single window is already skew-safe. */
  def stratifiedSample(df: DataFrame, stratumCol: String, perStratum: Int,
                       idCol: String): DataFrame = {
    require(!df.columns.contains("__rn"),
      "input column __rn collides with internals")
    val key = md5(concat(lit("graft-strat-"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(stratumCol)).orderBy(key, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }
}
