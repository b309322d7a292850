package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation. These have no
  * reference equivalent (pgloader is pure ETL) — they are the
  * training-data-pipeline extension surface, designed Spark-first.
  *
  * Scale invariants every operator here maintains:
  *   - shingle/token hashing happens ONCE per document (a materialized
  *     `hs` array column), never re-derived per permutation/bit;
  *   - signature computation is a codegen'd explode + hash-aggregate
  *     (map-side combined), not a tree of higher-order-function
  *     aggregates — whole-stage codegen covers the hot loop;
  *   - candidate generation is always a bucketed equi-join (bands,
  *     simhash keys, prefix shingles) — never an all-pairs cross join;
  *   - verification joins carry 8-byte hashed shingles, not the raw
  *     strings, and nothing corpus-wide is cached.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical key. One shuffle.
    * Groups on a pair of INDEPENDENT 64-bit hashes (different seeds), so
    * shuffle rows carry 16 bytes of key instead of the raw document —
    * at corpus scale the key column IS the corpus, and shipping it
    * through the exchange costs corpus-sized shuffle I/O. A silent merge
    * needs a simultaneous collision in both hashes: ~2^-128 per pair,
    * vanishing for any feasible corpus (~10^-20 at a trillion docs). */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.select(col(idCol),
        xxhash64(col(keyCol)).as("__h1"),
        // seeding with a leading literal gives an independent second hash
        xxhash64(lit(0x9E3779B97F4A7C15L), col(keyCol)).as("__h2"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  /** Incremental exact dedup: which BATCH rows survive against an
    * already-ingested CORPUS — the everyday shape of a continuously-fed
    * training pipeline (dedup tonight's crawl against everything kept so
    * far, without re-grouping the whole corpus).
    *
    * Same 128-bit hash-pair key as [[exact]]: both sides shuffle 16-byte
    * keys, never raw text. The corpus side is reduced to DISTINCT hash
    * pairs first, so its exchange is compressed to unique-content size —
    * and at real scale that distinct-pair table is exactly what you
    * persist between runs (16 bytes × unique docs), turning every later
    * increment into one anti-join against a bucketed table with no
    * corpus re-scan at all.
    *
    * Output: (keep_id, batch_dup_count) — one row per surviving batch
    * content group (lowest id kept), corpus-matched content dropped.
    */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       idCol: String, keyCol: String): DataFrame = {
    def hashed(df: DataFrame) = df.select(col(idCol),
      xxhash64(col(keyCol)).as("__h1"),
      xxhash64(lit(0x9E3779B97F4A7C15L), col(keyCol)).as("__h2"))
    val seen = hashed(corpus).select("__h1", "__h2").distinct()
    hashed(batch)
      .join(seen, Seq("__h1", "__h2"), "left_anti")
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("batch_dup_count"))
      .select(col("keep_id"), col("batch_dup_count"))
  }

  /** Distinct 64-bit-hashed word k-shingles — the document's set
    * representation, hash-identical to [[shingleHashRows]] (the word
    * TUPLE is hashed, not the joined string), so the column and row
    * forms are interchangeable: signatures built from either bucket
    * together (streaming NearDup computes row-local signatures from
    * this; the batch pipeline verifies its candidates from the rows).
    * Column form for ad-hoc/streaming use; the batch pipelines use
    * [[shingleHashRows]], which avoids higher-order functions entirely
    * (Spark HOFs run interpreted per element, outside codegen). */
  def hashedShingles(text: Column, k: Int): Column = {
    val ws = split(text, "\\s+")
    val full = transform(sequence(lit(0), size(ws) - k),
      i => xxhash64((0 until k).map(j => element_at(ws, i + j + 1)): _*))
    array_distinct(when(size(ws) < k,
      array(xxhash64(array_join(ws, " ")))).otherwise(full))
  }

  /** Distinct hashed k-shingles as (id, h) ROWS, fully codegen: tokenize
    * → explode the gram start-index range → xxhash64 of the word tuple,
    * with no shuffle at all before the consumer's own. Documents shorter
    * than k hash their whole text (matching [[hashedShingles]]). Every
    * downstream consumer (signature aggregate, prefix filter,
    * count-based verification) is a plain relational op over these
    * rows. */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    // Round 21 measured the zero-shuffle alternative — explode of
    // [[hashedShingles]]' row-local array_distinct(transform(...)) —
    // at 3-5× SLOWER end-to-end (dedup_minhash 2.2 → 7.8 s warm,
    // minhashComponents 5 → 22 s): the HOF lambda evaluates
    // interpreted per element and knocks the whole projection out of
    // whole-stage codegen, which costs far more than the distinct's
    // exchange. The codegen'd explode + global distinct stays.
    shingleHashRowsRaw(df, idCol, textCol, k).distinct()

  /** [[shingleHashRows]] WITHOUT the global distinct — same codegen'd
    * tokenize → explode → hash lineage, duplicate (id, h) rows kept.
    * For consumers that dedup themselves (driver-side set builds): a
    * scan+filter with NO exchange at all. */
  private[pipeline] def shingleHashRowsRaw(df: DataFrame, idCol: String,
                                           textCol: String,
                                           k: Int): DataFrame = {
    // complete k-grams via the shared positioned-gram helper (documents
    // shorter than k words yield no rows there and are hashed whole
    // below, matching [[hashedShingles]]).
    val full = Grams.positioned(df, idCol, textCol, k)
      .select(col("id"), xxhash64(Grams.wordCols(k): _*).as("h"))
    val short = df
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) < k)
      .select(col("id"), xxhash64(array_join(col("toks"), " ")).as("h"))
    full.unionAll(short)
  }

  // Per-permutation hash: xxhash64 re-seeded with a per-perm salt as a
  // leading literal argument. Earlier rounds used the textbook affine
  // family min((a*h + b) mod p) with a,b < 2^30 and h masked to 32 bits
  // so products stay overflow-free under ANSI arithmetic — but with
  // those magnitudes a*h + b < 2^62 NEVER exceeds p = 2^61-1, the mod
  // never wraps, and the map is order-preserving in h: every
  // "permutation" picks the document's single minimum-hash shingle, so
  // a 128-perm signature degenerates to one permutation repeated and
  // LSH recall collapses from 1-(1-j^r)^b to ~j per pair (caught by the
  // bipartite decontamination oracle: pairs at jaccard 0.977 missed).
  // Seeded xxhash64 mixes fully regardless of argument magnitude, costs
  // the same one multiply-rotate round, and cannot overflow.
  private[graft] def permSalts(n: Int, seed: Long): Seq[Long] = {
    val r = new java.util.Random(seed)
    Seq.fill(n)(r.nextLong())
  }

  /** MinHash signature (array of `numPerms` longs) over a pre-hashed
    * shingle array, in ONE pass: a single `aggregate` whose accumulator
    * is the running 128-slot minimum vector. Column-function form for
    * ad-hoc use; the LSH pipeline below uses the codegen'd
    * explode+groupBy equivalent (`signatureCols`), which is faster
    * still. */
  def minhashSignature(hashes: Column, numPerms: Int = 128,
                       seed: Long = 42L): Column = {
    val salts = array(permSalts(numPerms, seed).map(lit): _*)
    aggregate(hashes, array_repeat(lit(Long.MaxValue), numPerms),
      (acc, h) => zip_with(acc, salts, (m, s) =>
        least(m, xxhash64(s, h))))
  }

  /** MinHash signatures from (id, h) shingle rows: ONE hash-aggregate of
    * `numPerms` min columns — whole-stage codegen, map-side combined (one
    * narrow row per doc leaves each task). Output keeps the per-perm
    * columns (`__m0…`) so band buckets can be built without re-slicing an
    * array through interpreted HOFs, plus `sz` = the doc's distinct
    * shingle count (`rows` is distinct (id, h), so count(1) IS the set
    * size) — riding the same aggregate means no consumer ever needs a
    * second corpus pass just to learn set sizes (round 21: that separate
    * `groupBy(id).count` lineage re-ran the whole tokenize/explode/hash
    * pipeline once more per query). This is the 100 TB path. */
  private[pipeline] def signatureCols(rows: DataFrame, numPerms: Int,
                            seed: Long): DataFrame = {
    val aggs = permSalts(numPerms, seed).zipWithIndex.map { case (s, i) =>
      min(xxhash64(lit(s), col("h"))).as(s"__m$i") } :+
      count(lit(1)).as("sz")
    rows.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact jaccard over candidate pairs from shingle ROWS: count shared
    * hashes per pair (equi-join on h) — plain codegen'd
    * joins/aggregates, 8-byte keys, nothing corpus-wide cached.
    * `cand` must carry (id_a, id_b, sz_a, sz_b); each caller attaches
    * the set sizes however its own plan gets them cheapest (ngram: a
    * window over the prefix join's existing id partitioning; minhash: a
    * count-only aggregate joined to the tiny candidate set). */
  private def verifyJaccardRows(cand: DataFrame, rowsA: DataFrame,
                                rowsB: DataFrame,
                                threshold: Double): DataFrame = {
    val shared = cand
      .join(rowsA.as("ra"), col("id_a") === col("ra.id"))
      .join(rowsB.as("rb"),
        col("id_b") === col("rb.id") && col("ra.h") === col("rb.h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    // LEFT join back onto the candidates: a zero-overlap pair must
    // score jaccard 0.0, not vanish — at threshold 0.0 the contract is
    // "every submitted pair gets a score" (sz >= 1 by construction, so
    // the denominator never zeroes)
    cand.join(shared, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (coalesce(col("shared"), lit(0L)).cast("double") /
          (col("sz_a") + col("sz_b") - coalesce(col("shared"), lit(0L)))
            .cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (id, band, bucket, sz) rows from a `signatureCols` frame: band
    * buckets built straight off the per-perm min columns — codegen'd
    * string concat + xxhash64, no array slicing through interpreted
    * HOFs. `sz` (the doc's shingle-set size, already in the signature
    * aggregate) rides through the explode — 8 bytes per bucket row —
    * so candidate pairs leave the bucket join with both set sizes
    * attached and no consumer joins a separate size table. */
  private[pipeline] def bandBuckets(sig: DataFrame, numPerms: Int,
                          bands: Int): DataFrame = {
    // mirror of the streaming twin's guard (NearDup.candidatePairs):
    // bands > numPerms makes rowsPerBand 0 — every doc hashes the
    // EMPTY concat into one global bucket and the candidate join goes
    // quadratic; a non-divisor silently drops trailing permutations
    require(bands >= 1 && bands <= numPerms && numPerms % bands == 0,
      s"bands must divide numPerms: got numPerms=$numPerms bands=$bands")
    val rowsPerBand = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"__m$i").cast("string")): _*)).as("bucket"))
    }
    sig.select(col("id"), col("sz"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"), col("sz"))
  }

  /** LSH banding: explode the signature into `bands` (bandId, bandHash)
    * rows. Docs sharing any band bucket are near-dup candidates. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(array_join(
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")), ",")).as("bucket")))

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Scale shape: one codegen'd pass computes hashed shingles; the
    * signature aggregate shuffles one 128-long row per doc; the bucket
    * join shuffles only (band, bucket, id); verification re-joins hashed
    * (not string) sets for the few surviving candidates. Hot buckets can
    * be salted upstream; AQE handles residual skew.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numPerms: Int = 128, bands: Int = 32, k: Int = 3,
                 threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    // the shingle rows feed THREE consumers (signature aggregate + both
    // verify sides), so without reuse the tokenize/explode/distinct
    // lineage runs three times
    val rows = Reuse.shared(shingleHashRows(df, idCol, textCol, k))
    val buckets = bandBuckets(signatureCols(rows, numPerms, seed),
      numPerms, bands)
    // set sizes ride the bucket rows straight out of the signature
    // aggregate (round 21): the earlier spelling attached them to the
    // deduped candidate set from a SEPARATE count-only aggregate, which
    // re-ran the whole shingle lineage (tokenize → explode → hash →
    // distinct) once more and added two joins — measured at sf0.1 the
    // carried shape is ~25% faster warm and removes one corpus pass at
    // any scale. (Round 8 measured the opposite with the sizes carried
    // only as far as a separate join; carrying them INTO the candidate
    // projection removes the joins entirely, which is what flips the
    // trade.)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .distinct()
    verifyJaccardRows(cand, rows, rows, threshold)
  }

  /** One action counts AND collects the (id_a, id_b) pairs of `f`
    * packed as [a0, b0, a1, b1, …] in partition order — or, when more
    * than `cap` pairs exist, only the count (null array), for the
    * distributed fallback. Each partition counts all its rows but packs
    * at most `cap` pairs ([[packPartition]]), so the driver receives at
    * most P × 16·cap bytes, and nothing from a partition that alone is
    * past the cap. */
  private[graft] def countAndPack(f: DataFrame,
                                  cap: Long): (Long, Array[Long]) = {
    val parts = f.select(col("id_a"), col("id_b")).rdd
      .mapPartitions(it => Iterator.single(packPartition(it, cap)))
      .collect()
    val total = parts.iterator.map(_._1).sum
    if (total > cap) (total, null)
    else {
      val out = new Array[Long](2 * total.toInt)
      var off = 0
      parts.foreach { case (_, a) =>
        System.arraycopy(a, 0, out, off, a.length); off += a.length
      }
      (total, out)
    }
  }

  /** One partition's half of [[countAndPack]]: (row count, the
    * (id_a, id_b) pairs packed). A partition past `cap` makes the total
    * past it too, so its pairs would be discarded: it lets go of what
    * it packed and returns an empty array. */
  private[graft] def packPartition(rows: Iterator[org.apache.spark.sql.Row],
                                   cap: Long): (Long, Array[Long]) = {
    var n = 0L
    var b = new scala.collection.mutable.ArrayBuilder.ofLong
    rows.foreach { r =>
      n += 1L
      if (n <= cap) { b += r.getLong(0); b += r.getLong(1) }
      else b = null
    }
    (n, if (b == null) Array.emptyLongArray else b.result())
  }

  /** MinHash+LSH dedup WITHOUT materializing the intra-group pair set —
    * the pair-capped mode for pathological duplication density.
    *
    * [[minhashLsh]]'s contract is the full verified pair list, which is
    * inherently O(g²) per g-sized duplicate group (a 100-copy group
    * emits 4,950 pairs); when the goal is components + survivors, the
    * pairs are scaffolding, and this operator never builds them.
    * Instead each (band, bucket) contributes O(members) SPANNING edges:
    * a chain between id-ordered neighbors plus a star to the bucket
    * minimum. Clique connectivity within a bucket is preserved exactly
    * (the chain alone spans it); every emitted edge is still verified
    * by exact jaccard before it reaches the component step, so false
    * bucket collisions cannot merge groups. The only semantic
    * difference from components-over-[[minhashLsh]]: jaccard is not
    * transitive, so a group whose members pairwise straddle the
    * threshold can split differently when a spanning edge fails
    * verification while some unexplored clique edge would have passed —
    * with 16-32 independent bands each contributing its own chain,
    * genuine near-copy groups (pairwise above threshold) are unaffected
    * ([[ScaleCorpus]] proves survivor-set equality at 100× duplication
    * on a default-memory driver; the all-pairs mode needs 16 GiB there).
    *
    * Scale shape: the bucket exchange is the same (band, bucket) hash
    * shuffle as the pair mode's self-join; the per-bucket chain is a
    * window over that exchange (no second shuffle); edges, not pairs,
    * flow into verification — output is O(docs × bands), never O(g²).
    *
    * @return (id, component) for every doc with at least one VERIFIED
    *         near-dup edge — component is the group's min id; feed to
    *         [[survivors]] to pick keepers (singletons need no row:
    *         absent ids are their own survivor)
    */
  def minhashComponents(df: DataFrame, idCol: String, textCol: String,
                        numPerms: Int = 128, bands: Int = 32, k: Int = 3,
                        threshold: Double = 0.5,
                        seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the hashed shingle rows are RECOMPUTED per consumer, not
    // persisted — measured at sf0.1 (round 14): caching the exploded
    // rows cost ~4 s MORE than recomputing the codegen'd lineage,
    // the same trade minhashLsh documents
    val rows = shingleHashRows(df, idCol, textCol, k)
    // the bucket frame feeds THREE separate plans (the spanning
    // window, and both sides of the escalation join) — persist the
    // NARROW (id, band, bucket) rows so the signature aggregate (the
    // expensive corpus pass) runs once, not three times; ~24 bytes ×
    // bands per doc, orders of magnitude below corpus bytes
    // repartitioned by (band, bucket) BEFORE the cache: the spanning
    // window needs exactly that hash partitioning (so its exchange is
    // satisfied for free), and it makes every bucket COMPLETE within
    // one cached partition — the escalation pass below can then emit
    // straggler×co-member candidates from a single scan instead of a
    // self-join's two
    val buckets = bandBuckets(signatureCols(rows, numPerms, seed),
      numPerms, bands)
      .repartition(col("band"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("id"))
    // chain edge (prev, id) spans the bucket; the star edge (root, id)
    // adds a shortcut so one failed chain link cannot cut a genuine
    // group in half. Both are O(members) per bucket. Set sizes ride
    // the same window (lag/first of the sz column the signature
    // aggregate already carries), so verification needs NO separate
    // size pass or join — round 21, replacing a full extra shingle
    // lineage (and a second one when the endpoint filter was active).
    val spanning = buckets
      .select(col("id"), col("sz"),
        lag(col("id"), 1).over(w).as("prev"),
        lag(col("sz"), 1).over(w).as("prev_sz"),
        first(col("id")).over(w).as("root"),
        first(col("sz")).over(w).as("root_sz"))
    // persisted: cand0 feeds the verify AND the straggler anti-join —
    // without the cache the window re-sorts every bucket per consumer;
    // the frame itself is tiny (deduped candidate edges)
    val cand0 = spanning.filter(col("prev").isNotNull)
      .select(col("prev").as("id_a"), col("id").as("id_b"),
        col("prev_sz").as("sz_a"), col("sz").as("sz_b"))
      .unionAll(spanning
        .filter(col("root") =!= col("id") && col("prev") =!= col("root"))
        .select(col("root").as("id_a"), col("id").as("id_b"),
          col("root_sz").as("sz_a"), col("sz").as("sz_b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // driver budgets: candidate/pair frames collect packed (≤32 MB a
    // side at the cap) for the driver-side straggler diff; anything
    // larger — or a pathological straggler/bucket structure — falls
    // back to the round-14 distributed spelling below
    val escCap = 20000
    val candCap = 2000000L
    val stragCap = 100000
    def packedPairs(f: DataFrame): Array[Long] = {
      val parts = f.select(col("id_a"), col("id_b")).rdd.mapPartitions {
        it =>
          val b = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
          Iterator.single(b.result())
      }.collect()
      val total = parts.iterator.map(_.length).sum
      val out = new Array[Long](total)
      var off = 0
      parts.foreach { a =>
        System.arraycopy(a, 0, out, off, a.length); off += a.length
      }
      out
    }
    // the packed driver path reads ids as primitive longs; any other
    // id type rides the type-agnostic distributed fallback
    val idIsLong = df.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    // first action: materializes the bucket pipeline into the caches
    // (the count half of the pair is the cap gate; the non-long-id
    // fallback still counts to materialize, and never packs)
    val candArr: Array[Long] =
      if (idIsLong) countAndPack(cand0, candCap)._2
      else { cand0.count(); null }
    // ENDPOINT GATE (sparse-duplication win regime): when the candidate
    // edges touch ≪ the corpus — huge crawl, rare duplicates — the
    // verify pass's shingle lineage re-tokenizes mostly docs that
    // appear in NO candidate, so restrict it to the endpoints via a
    // broadcast semi-join. Gated at endpoints×10 ≤ docs: the dense
    // ×100 stress (endpoints ≈ corpus) measured the unconditional
    // filter at 59.5→152.6 s (the broadcast probe prunes nothing and
    // costs a probe per shingle row), while the sparse 500k corpus
    // measures the gated filter as a ~2× verify-pass win (COVERAGE
    // round 16). corpus size is a FREE count: the cached buckets frame
    // holds exactly `bands` rows per doc.
    val verifyRows = {
      val filtered =
        if (candArr == null) None
        else {
          // gate evaluation must stay cheap in the DENSE (reject) case:
          // a boxed HashSet over the ~2×cap endpoint ids measured
          // +11-14 s paired on the ×100 stress (boxing + a ~200 MB
          // structure held across the job's GC); a primitive sorted
          // clone counts distinct endpoints in ~0.1 s and is freed
          // here. The corpus-size count (one action over the cached
          // buckets) is itself only paid AFTER the absolute check:
          // the filter's design point is a SMALL broadcast endpoint
          // set (probe per shingle row), so >stragCap endpoints
          // short-circuit to unfiltered without any extra action —
          // paired swapped-order dense runs attributed ~3-6 s to the
          // count alone
          val sorted = candArr.clone()
          java.util.Arrays.sort(sorted)
          var nEps = 0
          var i = 0
          while (i < sorted.length) {
            if (i == 0 || sorted(i) != sorted(i - 1)) nEps += 1
            i += 1
          }
          if (nEps <= stragCap &&
              nEps.toLong * 10 <= buckets.count() / math.max(bands, 1)) {
            import df.sparkSession.implicits._
            val epsSeq: Seq[Long] = {
              val b = Seq.newBuilder[Long]
              var j = 0
              while (j < sorted.length) {
                if (j == 0 || sorted(j) != sorted(j - 1)) b += sorted(j)
                j += 1
              }
              b.result()
            }
            // NOT shared ([[Reuse]]): measured cold (the shape the
            // bench pays — each query runs once per JVM) the eager
            // materialization job + its codegen cost ~2-3 s more than
            // the two endpoint-filtered recomputes it saves; the
            // semi-join pushes below the distinct toward the scan, so
            // each recompute only tokenizes candidate-endpoint docs
            Some(rows.join(broadcast(epsSeq.toDF("id")),
              Seq("id"), "left_semi"))
          } else None
        }
      filtered.getOrElse(rows)
    }
    // cand0 already carries both set sizes (from the signature
    // aggregate, via the spanning window) — no size pass over the
    // (possibly endpoint-filtered) verify lineage at all
    val pairs = verifyJaccardRows(cand0, verifyRows,
      verifyRows, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ESCALATION: a doc whose every spanning edge failed verification
    // may still clear the threshold against some unexplored bucket
    // co-member (jaccard is not transitive — the threshold-straddling
    // case). Such docs are structurally rare (a straggler is a doc ALL
    // of whose spanning edges straddled the threshold; at 100×
    // duplication: dozens out of 500k), so the escalation CANDIDATES
    // are collected in one action over the three caches and — when few
    // — verified DRIVER-side from a single filtered shingle pass.
    // Round 14 instead kept escalation inside the component step's one
    // big plan; profiled at sf0.1 (MinhashCompProfile) the escalation
    // verify — three full shingle-lineage passes — ran TWICE more
    // inside the doubled edge union, ~6 s of the query's 10.8 s, to
    // contribute a handful of edges.
    // escalation CANDIDATES (pairs still owed a verification):
    // null = fall back to the distributed spelling
    var escPairs: Array[(Long, Long)] = null
    var nPairs = -1L
    if (candArr != null) {
      val pairArr = packedPairs(pairs) // materializes the verify cache
      nPairs = pairArr.length / 2
      val paired = pairArr.clone()
      java.util.Arrays.sort(paired)
      val stragSet = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i < candArr.length) {
        val v = candArr(i)
        if (java.util.Arrays.binarySearch(paired, v) < 0) stragSet.add(v)
        i += 1
      }
      if (stragSet.isEmpty) escPairs = Array.empty
      else if (stragSet.size <= stragCap) {
        // ONE co-located scan: buckets is cached hash-partitioned by
        // (band, bucket), so every bucket's members live inside one
        // partition — straggler×co-member pairs fall out of a local
        // group-by, no self-join, no second scan
        val stragSorted = {
          val a = new Array[Long](stragSet.size)
          var j = 0
          val it = stragSet.iterator()
          while (it.hasNext) { a(j) = it.next(); j += 1 }
          java.util.Arrays.sort(a); a
        }
        val bcStrag = df.sparkSession.sparkContext.broadcast(stragSorted)
        val cap = escCap + 1
        // streaming group scan: buckets are hash-partitioned by
        // (band, bucket), so sorting WITHIN the partition makes each
        // bucket's members contiguous — O(one bucket) working memory
        // instead of a HashMap over the whole partition (boxed tuple
        // keys, O(partition) heap)
        val pieces = buckets.select(col("band"), col("bucket"), col("id"))
          .sortWithinPartitions(col("band"), col("bucket"))
          .rdd.mapPartitions { it =>
            val strag = bcStrag.value
            def isStrag(x: Long) =
              java.util.Arrays.binarySearch(strag, x) >= 0
            val out = new scala.collection.mutable.ArrayBuffer[
              (Long, Long)]()
            val members = new scala.collection.mutable.ArrayBuffer[Long]()
            def flush(): Unit = {
              if (out.length <= cap && members.exists(isStrag(_)))
                members.foreach { s =>
                  if (isStrag(s))
                    members.foreach { m =>
                      if (m != s && out.length <= cap)
                        out.append((math.min(s, m), math.max(s, m)))
                    }
                }
              members.clear()
            }
            var curBand = 0
            var curBucket = 0L
            var any = false
            it.foreach { r =>
              val b = r.getInt(0)
              val bk = r.getLong(1)
              if (!any) { curBand = b; curBucket = bk; any = true }
              else if (b != curBand || bk != curBucket) {
                flush(); curBand = b; curBucket = bk
              }
              members.append(r.getLong(2))
            }
            if (any) flush()
            Iterator.single(out.toArray)
          }.collect()
        val all = pieces.iterator.flatten.toArray
        if (all.length <= escCap) {
          // already-verified pairs (a straggler's own chain/star edges,
          // which by definition all FAILED) re-verify to the same
          // jaccard — exclude them; in the common case every escalated
          // candidate was already tried and the escalation ends here
          val tried = new java.util.HashSet[(Long, Long)]()
          var j = 0
          while (j < candArr.length) {
            val a = candArr(j); val b = candArr(j + 1)
            if (stragSet.contains(a) || stragSet.contains(b))
              tried.add((math.min(a, b), math.max(a, b)))
            j += 2
          }
          escPairs = all.distinct.filterNot(tried.contains)
        }
      }
    }
    if (nPairs < 0) nPairs = pairs.count() // fallback path only
    val extra: Option[DataFrame] =
      if (escPairs == null) {
        // fallback: the round-14 distributed spelling — anti-join
        // stragglers, self-join buckets on (band, bucket), distributed
        // verify; shared so the component step's edge union reads the
        // verified rows instead of re-running the verify lineage
        val candIds = cand0.select(col("id_a").as("id"))
          .unionAll(cand0.select(col("id_b").as("id"))).distinct()
        val pairedIds = pairs.select(col("id_a").as("id"))
          .unionAll(pairs.select(col("id_b").as("id"))).distinct()
        val stragglers = candIds.join(pairedIds, Seq("id"), "left_anti")
        val zb = buckets.join(broadcast(stragglers), "id")
        // sizes follow the id orientation out of the cached bucket rows
        // — no size table to join
        val escalated = zb.as("z").join(buckets.as("y"),
            col("z.band") === col("y.band") &&
            col("z.bucket") === col("y.bucket") &&
            col("z.id") =!= col("y.id"))
          .select(least(col("z.id"), col("y.id")).as("id_a"),
            greatest(col("z.id"), col("y.id")).as("id_b"),
            when(col("z.id") < col("y.id"), col("z.sz"))
              .otherwise(col("y.sz")).as("sz_a"),
            when(col("z.id") < col("y.id"), col("y.sz"))
              .otherwise(col("z.sz")).as("sz_b"))
          .distinct()
          .join(cand0, Seq("id_a", "id_b"), "left_anti")
        Some(Reuse.shared(verifyJaccardRows(escalated, rows, rows,
          threshold)))
      }
      else if (escPairs.isEmpty) None
      else {
        // driver-side exact verify: ONE corpus shingle pass restricted
        // to the involved docs (broadcast semi-join), sets compared on
        // the driver — identical math to verifyJaccardRows (the
        // HashSets dedup, so |set| is the distinct-shingle sz count and
        // shared/(sz_a+sz_b-shared) is intersection over union).
        // Round 22: reads the PRE-distinct gram rows — the distinct's
        // global exchange bought nothing this consumer needed, so the
        // pass is now a pure scan + broadcast probe with no shuffle.
        import df.sparkSession.implicits._
        val inv = escPairs.flatMap(p => Seq(p._1, p._2)).distinct
        val sets = new java.util.HashMap[Long,
          java.util.HashSet[Long]](inv.length * 2)
        inv.foreach(i => sets.put(i, new java.util.HashSet[Long]()))
        shingleHashRowsRaw(df, idCol, textCol, k)
          .join(broadcast(inv.toSeq.toDF("id")), "id")
          .select(col("id"), col("h"))
          .rdd.mapPartitions { it =>
            val b = new scala.collection.mutable.ArrayBuilder.ofLong
            it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
            Iterator.single(b.result())
          }.collect().foreach { a =>
            var i = 0
            while (i < a.length) {
              sets.get(a(i)).add(a(i + 1)); i += 2
            }
          }
        val passing = escPairs.flatMap { case (a, b) =>
          val (sa, sb) = (sets.get(a), sets.get(b))
          var shared = 0
          val (small, large) =
            if (sa.size <= sb.size) (sa, sb) else (sb, sa)
          small.forEach(h => if (large.contains(h)) shared += 1)
          val j = shared.toDouble / (sa.size + sb.size - shared)
          if (j >= threshold) Some((a, b, j)) else None
        }
        if (passing.isEmpty) None
        else Some(passing.toSeq.toDF("id_a", "id_b", "jaccard"))
      }
    val (edgesIn, nEdges) = extra match {
      case None => (pairs, nPairs)
      case Some(e) => (pairs.unionAll(e), nPairs + e.count())
    }
    // both inputs are cached/local and counted, so hand the component
    // step its edge budget — it skips its own pre-count action
    val comp = connectedComponents(edgesIn,
      edgeCountHint = Some(2L * nEdges))
    buckets.unpersist(blocking = false)
    cand0.unpersist(blocking = false)
    pairs.unpersist(blocking = false)
    comp
  }

  /** Bipartite MinHash+LSH: near-duplicate pairs BETWEEN two corpora —
    * the fuzzy-decontamination shape. The exact n-gram semi-join
    * (`Curation.decontaminate`) only catches verbatim benchmark overlap;
    * this catches paraphrase-level contamination: any `left` doc whose
    * shingle set nearly duplicates a `right` (benchmark/eval) doc, with
    * every candidate verified by exact jaccard.
    *
    * Same permutations, banding, and seed as [[minhashLsh]], so a doc
    * buckets identically on both sides. The bucket join is left×right
    * instead of a self-join — and at scale the eval side is tiny
    * relative to the training corpus, so AQE broadcasts its bucket and
    * shingle rows and the corpus side is never re-shuffled.
    *
    * @return (id_a from `left`, id_b from `right`, jaccard), all
    *         verified jaccard >= threshold
    */
  def minhashLshBipartite(left: DataFrame, right: DataFrame,
                          idCol: String, textCol: String,
                          numPerms: Int = 128, bands: Int = 32,
                          k: Int = 3, threshold: Double = 0.5,
                          seed: Long = 42L): DataFrame = {
    // the left (corpus) shingle rows are recomputed per consumer, not
    // shared: measured at sf0.1 (round 12, best-of-3), materializing
    // them took 4.43 s vs 3.92 s recomputing — the corpus-sized row
    // materialization costs more than re-running the codegen'd lineage
    val rowsL = shingleHashRows(left, idCol, textCol, k)
    val rowsR = shingleHashRows(right, idCol, textCol, k)
    val bL = bandBuckets(signatureCols(rowsL, numPerms, seed),
      numPerms, bands)
    val bR = bandBuckets(signatureCols(rowsR, numPerms, seed),
      numPerms, bands)
    // set sizes ride the bucket rows out of both signature aggregates
    // (round 21) — the separate per-side count lineages re-ran the
    // corpus-sized shingle pipeline and joined twice for values the
    // aggregate already knew
    val cand = bL.as("x").join(bR.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .distinct()
    verifyJaccardRows(cand, rowsL, rowsR, threshold)
  }

  /** Exact-jaccard verification of an EXTERNAL candidate pair list —
    * the batch half of streaming candidate generation (see
    * `streaming.NearDup`), and generally useful for re-scoring pairs
    * from any source. `pairs` must carry (id_a, id_b); shingle sets and
    * sizes are built from `docs` and every pair is verified the same
    * way the self-join pipeline verifies its own candidates.
    *
    * @return (id_a, id_b, jaccard) with verified jaccard >= threshold
    */
  def verifyPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                  textCol: String, k: Int = 3,
                  threshold: Double = 0.5): DataFrame = {
    val rows = shingleHashRows(docs, idCol, textCol, k)
    // dedup HERE, not as a caller precondition: streaming candidate
    // generation legitimately repeats pairs across bands/batches, and a
    // pair present m times would join the shingle rows m times —
    // shared becomes m·|A∩B| and jaccard inflates past 1 (a true 0.33
    // at m=3 verifies as 1.0)
    // canonicalize orientation and drop self-pairs BEFORE the distinct:
    // external candidate sources may emit (a,b) and (b,a) across
    // batches, and both would otherwise verify and double downstream
    // pair counts (least/greatest skip nulls, so a null-id pair
    // collapses to a self-pair and is dropped here too)
    val cand = pairs.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // SIDE-TAGGED union verify (round 21): with no signature aggregate
    // to ride, the old shape paid THREE corpus shingle passes (a
    // count-only sizes pass + one per verify side) plus two size
    // joins. Tagging each side's (pair, h) rows instead derives sz_a,
    // sz_b and the shared count from ONE two-level aggregate over the
    // union — two corpus passes, no size table. Per (pair, h) the
    // 0/1 side indicators multiply into "shared on both sides"
    // (shingle rows are distinct per doc); summing per pair gives the
    // set sizes and the intersection in the same hash-aggregate.
    val ta = cand.join(rows.as("ra"), col("id_a") === col("ra.id"))
      .select(col("id_a"), col("id_b"), col("ra.h").as("h"),
        lit(1L).as("a"), lit(0L).as("b"))
    val tb = cand.join(rows.as("rb"), col("id_b") === col("rb.id"))
      .select(col("id_a"), col("id_b"), col("rb.h").as("h"),
        lit(0L).as("a"), lit(1L).as("b"))
    val perPair = ta.unionAll(tb)
      .groupBy(col("id_a"), col("id_b"), col("h"))
      .agg(max(col("a")).as("ca"), max(col("b")).as("cb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("ca")).as("sz_a"), sum(col("cb")).as("sz_b"),
        sum(col("ca") * col("cb")).as("shared"))
    // a pair whose side has NO shingle rows never verified under the
    // old inner size join — keep that contract
    perPair.filter(col("sz_a") > 0 && col("sz_b") > 0)
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("shared")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over whitespace tokens: bit b is the sign of the sum
    * of ±1 votes from each token hash's bit b. One pass over the tokens
    * (single `aggregate`, 64-slot vote accumulator). */
  def simhash(text: Column): Column = {
    val hs = transform(split(text, "\\s+"), t => xxhash64(t))
    val votes = aggregate(hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (v, b) =>
        v + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)))
    aggregate(zip_with(votes, sequence(lit(0), lit(63)),
      (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i))
        .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash candidate generation + exact verification: pairs whose
    * 64-bit simhash collides (hamming 0), confirmed as true duplicates.
    * The self-join carries only (id, sig, 2×64-bit content hash) — raw
    * text NEVER enters the candidate shuffle. Survivors (sig AND both
    * content hashes agree) are re-joined against the text for a final
    * byte-equality check; by construction that survivor set is tiny, so
    * AQE turns the re-join into a broadcast and the corpus text stays
    * un-shuffled. Oracle-checkable: = exact-duplicate pairs, recall 1
    * (identical texts always share signature and hashes). */
  def simhashExactPairs(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // the 2×64-bit content hashes ride the vote aggregate as first()
    // columns (hashed once per doc BEFORE the token explode, carried
    // 16 bytes per token row locally) — round 21, replacing a second
    // corpus scan + an (id, h1, h2) ⋈ sigs join for values the
    // aggregate's own input already had
    val toks = df
      .select(col(idCol).as("id"),
        xxhash64(col(textCol)).as("h1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col(textCol)).as("h2"),
        explode(split(col(textCol), "\\s+")).as("t"))
      .select(col("id"), col("h1"), col("h2"), xxhash64(col("t")).as("h"))
    // PACKED vote sums (round 22): bit b's vote is 2·ones_b − n with
    // ones_b = Σ tokens' bit b, so the 64 ±1-vote sums collapse to 32
    // carry-free packed ones-counts (bits b and b+32 share one long:
    // low field = ones_b, bits 32..62 = ones_{b+32}) plus one count.
    // Carry-free because a string column is ≤ 2^31 bytes → n ≤ 2^30
    // tokens, so each field stays < 2^31 and the high field < 2^62.
    // Halves the aggregate buffer (34 cols vs 66) and the generated
    // code the 64 when()-votes produced — the r21 shape's min-of-N
    // regressed on exactly that codegen/planning weight. sig bit b is
    // set iff votes_b > 0 iff 2·ones_b > n: bit-identical signatures.
    val aggs = (0 until 32).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) +
        shiftleft(shiftright(col("h"), b + 32).bitwiseAND(1), 32))
        .as(s"__p$b")) ++
      Seq(count(lit(1)).as("__n"),
        first(col("h1")).as("h1"), first(col("h2")).as("h2"))
    val sigExpr = (0 until 32).map { b =>
      val lo = col(s"__p$b").bitwiseAND(lit(0xFFFFFFFFL))
      val hi = shiftright(col(s"__p$b"), 32)
      when(lo * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L))
        .bitwiseOR(
          when(hi * 2 > col("__n"), lit(1L << (b + 32))).otherwise(lit(0L)))
    }.reduce(_ bitwiseOR _)
    val keys = toks.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), col("h1"), col("h2"), sigExpr.as("sig"))
    val cand = keys.as("x").join(keys.as("y"),
        col("x.sig") === col("y.sig") && col("x.id") < col("y.id") &&
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    // text equality only for the few hash-agreeing pairs
    val txt = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    cand
      .join(txt.select(col("id").as("id_a"), col("txt").as("__ta")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("txt").as("__tb")), "id_b")
      .filter(col("__ta") === col("__tb"))
      .select(col("id_a"), col("id_b"))
  }

  /** Exact n-gram Jaccard similarity join with PPJoin-style prefix
    * filtering: under ANY global total order of shingles, two sets with
    * jaccard >= t must share an element among the first
    * `|s| - ceil(t*|s|) + 1` elements of each — so only prefixes are
    * exploded into the inverted index, bounding fan-out while keeping
    * recall exact. The global order is ASCENDING DOCUMENT FREQUENCY
    * (ties by hash) — the canonical PPJoin ordering: prefixes then
    * consist of each document's RAREST shingles, so the inverted-index
    * posting lists that actually join are the short ones, and the hot
    * stop-word-like shingles are pushed out of every prefix. Survivor
    * pairs are verified with exact jaccard on the hashed sets. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle rows feed FOUR plan subtrees (doc-freq, prefix, both
    // verify sides), each re-running the posexplode → window → distinct
    // lineage with its two shuffles unless shared
    val rows = Reuse.shared(shingleHashRows(df, idCol, textCol, n))
    // global document frequency per shingle (one hash-aggregate on h)
    val docFreq = rows.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // prefix = each set's first hashes under the (df asc, h) order.
    // The set size comes from a second window over the SAME id
    // partitioning (no extra exchange) — not a separate groupBy+join
    // corpus pass
    val win = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("h"))
    val szWin = Window.partitionBy(col("id"))
    val prefix = rows.join(docFreq, "h")
      .select(col("id"), col("h"), row_number().over(win).as("rn"),
        count(lit(1)).over(szWin).as("sz"))
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("h"), col("rn"), col("sz"))
    // PPJoin+ positional filter on the FIRST prefix match. Both
    // prefixes are sorted by the same global (df, h) order, so the
    // shared shingles appear in the same relative order on both sides
    // and the first match (min rn on either side) has no shared shingle
    // before it — hence overlap <= 1 + min(|x|-i, |y|-j). A Jaccard-t
    // pair needs overlap >= ceil(t/(1+t)·(|x|+|y|)); candidates whose
    // positional bound can't reach that die BEFORE the verify join ever
    // ships their shingle sets. Sound (never drops a true pair), and
    // the dedup replaces the bare distinct() — same exchange, one agg.
    val reqOverlap = ceil(lit(threshold / (1.0 + threshold)) *
      (col("sz_a") + col("sz_b")))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"),
        col("x.rn").as("rn_a"), col("y.rn").as("rn_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("rn_a")).as("i1"), min(col("rn_b")).as("j1"))
      // first-match positional bound: 1 + min(remaining after the
      // first shared prefix shingle on each side)
      .filter(lit(1) + least(col("sz_a") - col("i1"),
        col("sz_b") - col("j1")) >= reqOverlap)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
    verifyJaccardRows(cand, rows, rows, threshold)
  }

  /** Embedding cosine near-dup: LSH over random hyperplane sign bits →
    * bucket join → exact cosine verify. Deterministic planes from `seed`.
    * The bucket self-join carries only (id, bucket) — 16 bytes per row —
    * NOT the embedding vectors (at corpus scale the vector column IS the
    * corpus); the exact-cosine verify re-joins vectors only for the
    * candidate pairs, which AQE turns into a broadcast once the candidate
    * set is small. No cache: the narrow projections are recomputed —
    * cheaper than pinning the corpus in memory. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, bands: Int = 8, bitsPerBand: Int = 16,
                       threshold: Double = 0.9,
                       seed: Long = 42L): DataFrame = {
    require(bitsPerBand <= 64, s"bitsPerBand must fit a long, got $bitsPerBand")
    // Banded (multi-table) hyperplane LSH. A single all-planes bucket —
    // the pre-round-12 shape — has recall p^planes for per-bit agreement
    // p = 1 - theta/pi: at cosine 0.9 (p ≈ 0.856) a 16-bit bucket finds
    // ~8% of true pairs; banding makes recall 1-(1-p^r)^b — the same fix
    // the MinHash family got. Each band is its OWN bitsPerBand-bit
    // signature from an independent per-band seed (NOT a slice of one
    // packed word): the band key space must stay large enough that
    // random non-neighbors don't share buckets — 8-bit slices of a
    // 64-bit signature put a 22k-vector corpus into 256 buckets per
    // band and the candidate join went quadratic (measured 4.5× wall at
    // 10×); 16-bit keys hold ~n²·b/2^17 false candidates, linear-ish at
    // any realistic density, and recall at the near-identical cosines
    // the dedup contract targets stays ≥0.99 (raise `bands` when
    // hunting looser pairs — 1-(1-p^16)^b governs). Sizing at scale:
    // keep 2^bitsPerBand within a couple orders of magnitude of n so
    // random non-neighbors stay spread (≈ bitsPerBand ≳ log2(n) − 7;
    // a billion vectors wants 24–32-bit keys with bands raised to hold
    // recall — each band is its own signature, so width is per-band,
    // not split out of one 64-bit budget).
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        hyperplaneSignature(col(vecCol), dim, bitsPerBand,
          seed + 31L * b).as("key")))
    val banded = df.select(col(idCol).as("id"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("__va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Connected components over a near-dup PAIR graph — the step that
    * turns pairwise matches into dedup groups (keep = one doc per
    * component). Iterative min-label propagation: every vertex adopts the
    * smallest label among itself and its neighbors until fixpoint, so
    * each component converges to its minimum id. Per iteration: one
    * equi-join + one hash-aggregate + a pointer-jumping self-join, label
    * state persisted and the previous iteration unpersisted — the
    * working set is (id, label) pairs, never the documents. The
    * pointer-jumping step (label(v) := label(label(v)), path-halving)
    * doubles the distance labels travel each round, so convergence is
    * O(log diameter) rounds, not O(diameter) — a 10^6-node chain
    * converges within ~25 rounds instead of 10^6.
    *
    * Small graphs skip the loop entirely: below `smallGraphEdges`
    * directed edges (default 4M ≈ 64 MB of longs — ordinary driver
    * headroom, same budget class as a broadcast side), the edge list
    * collects once and a union-find with path compression labels it in
    * O(E·α). The distributed loop pays ~0.5-2 s of planning+scheduling
    * PER ROUND regardless of data size, so a chain-shaped thousand-edge
    * graph costs ~15 s iteratively and ~2 ms via union-find; meanwhile
    * the 21M-edge 100× stress stays on the loop. The fast path requires
    * long ids (every pipeline caller); other id types keep the loop.
    *
    * @param pairs (idA, idB) undirected edges
    * @return (id, component) — component = min id reachable; only ids
    *   that appear in some pair are returned (singletons are their own
    *   component by definition and need no row)
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 25,
                          smallGraphEdges: Long = 4000000L,
                          edgeCountHint: Option[Long] = None): DataFrame = {
    val undirected = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val longIds = undirected.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // gate on UNDIRECTED pair count (the caller passes an upper bound
    // on directed edges when it already counted — either way an
    // over-estimate can only send a fast-path-sized graph to the loop,
    // never a too-big graph to the driver). The fast path needs no
    // direction-doubling and no distinct: union-find is order- and
    // duplicate-insensitive, so the raw pair frame collects straight
    // off the caller's (usually cached) plan with NO shuffle — the
    // doubled-distinct exchange only exists for the iterative path.
    // hint-less callers pay a gate count AND (on the fast path) a
    // collect over the same lineage — persist the narrow edge frame
    // across the two actions so the caller's plan runs once; the loop
    // path's doubled-distinct also reads it from cache. Released
    // before returning on the fast path; the loop path releases it as
    // soon as its doubled edge frame is built.
    val gatePersisted = edgeCountHint.isEmpty &&
      undirected.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE
    if (gatePersisted)
      undirected.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val underGate = edgeCountHint match {
      case Some(hint) => hint <= smallGraphEdges
      case None => 2L * undirected.count() <= smallGraphEdges
    }
    if (longIds && underGate) {
      // PRIMITIVE collection: each partition packs its (src, dst)
      // pairs into one Array[Long] — the driver holds packed longs
      // (~16 B/edge), never GenericRows (~100 B/edge with two boxed
      // Longs; at the 4M-edge gate that is the difference between
      // ~64 MB and ~400 MB of driver allocation)
      val packed = undirected.rdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
      if (gatePersisted) undirected.unpersist(blocking = false)
      // free the PREVIOUS loop call's cached label state, as the loop
      // path does — the fast path itself pins nothing
      releaseComponents(pairs.sparkSession)
      // vertex table: sorted unique endpoint ids; vertices are indexed
      // by rank, so union-by-min-INDEX is union-by-min-id and the
      // whole union-find runs on primitive arrays
      val total = packed.iterator.map(_.length).sum
      val sorted = new Array[Long](total)
      var off = 0
      packed.foreach { a =>
        System.arraycopy(a, 0, sorted, off, a.length); off += a.length
      }
      java.util.Arrays.sort(sorted)
      var n = 0
      var i = 0
      while (i < total) {
        if (n == 0 || sorted(n - 1) != sorted(i)) {
          sorted(n) = sorted(i); n += 1
        }
        i += 1
      }
      val vids = java.util.Arrays.copyOf(sorted, n)
      val parent = new Array[Int](n)
      var j = 0
      while (j < n) { parent(j) = j; j += 1 }
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      packed.foreach { a =>
        var k = 0
        while (k < a.length) {
          val ra = find(java.util.Arrays.binarySearch(vids, a(k)))
          val rb = find(java.util.Arrays.binarySearch(vids, a(k + 1)))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          k += 2
        }
      }
      val comp = new Array[Long](n)
      j = 0
      while (j < n) { comp(j) = vids(find(j)); j += 1 }
      // ship the result as a parallelized RDD over two BROADCAST
      // primitive arrays — a LocalRelation of millions of rows would
      // embed them in the logical plan and re-serialize into every
      // consuming task
      val spark = pairs.sparkSession
      val sc = spark.sparkContext
      val bIds = sc.broadcast(vids)
      val bComp = sc.broadcast(comp)
      val slices = math.max(1, math.min(sc.defaultParallelism,
        n / 100000 + 1))
      val rows = sc.parallelize(0 until n, slices).mapPartitions { it =>
        val idsL = bIds.value; val compL = bComp.value
        it.map(k => org.apache.spark.sql.Row(idsL(k), compL(k)))
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // iterative path: direction-doubled deduped edges, persisted —
    // every pointer-jumping round joins against them
    val edges = undirected
      .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize before dropping the gate cache
    if (gatePersisted) undirected.unpersist(blocking = false)
    // label state is lineage-TRUNCATED each round: the pointer-jumping
    // self-join references the round's frame TWICE, so without
    // truncation the logical plan doubles per round — exponential plan
    // growth OOMs the driver on plan rendering long before data size
    // matters. Truncation = materialize to a persisted RDD and re-wrap
    // as a leaf DataFrame; the PREVIOUS round's RDD is unpersisted
    // explicitly once the new state exists, so executor storage holds at
    // most two narrow (id, label[, old]) copies at any time.
    // free the cached label RDD left behind by the PREVIOUS call on
    // this session (the returned frame must stay consumable, so the
    // final round's cache can't be dropped before returning — but it
    // must not accumulate across calls either)
    releaseComponents(pairs.sparkSession)
    var prevRdd: Option[org.apache.spark.rdd.RDD[
      org.apache.spark.sql.Row]] = None
    // materialize df to a persisted RDD (lineage truncation), free the
    // previous round's RDD, and — when df carries a trailing boolean
    // "chg" column — count improved rows IN the materialization pass
    // (an accumulator during count, no separate convergence job; task
    // retries can only overcount, which costs one extra no-op round,
    // never a wrong result).
    def truncate(df: DataFrame): (DataFrame, Long) = {
      val spark = df.sparkSession
      val hasChg = df.columns.last == "chg"
      val acc = spark.sparkContext.longAccumulator
      val base = df.rdd
      val rdd = (if (hasChg) {
        val chgAt = df.columns.length - 1
        base.map { r => if (r.getBoolean(chgAt)) acc.add(1L); r }
      } else base)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize BEFORE freeing the state it derives from
      val out = spark.createDataFrame(rdd, df.schema)
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = Some(rdd)
      (out, acc.value)
    }
    var labels = truncate(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))._1
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nlabel"))
      // truncate BEFORE the pointer jump: the self-join below references
      // this frame twice, and its two sides exchange on different keys
      // (label vs id), so without a leaf in between the edge-join +
      // aggregate above would execute twice per round
      val stepped = truncate(labels.as("l")
        .join(nbrMin, col("l.id") === col("src"), "left")
        .select(col("l.id").as("id"), col("l.label").as("old"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label")))
            .as("label")))._1
      // pointer jumping: adopt the label OF my label — halves remaining
      // path length every round (log-diameter convergence)
      val (joined, improved) = truncate(stepped.as("a")
        .join(stepped.select(col("id").as("pid"),
          col("label").as("plabel")), col("a.label") === col("pid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.label"), coalesce(col("plabel"), col("a.label")))
            .as("label"), col("a.old").as("old"))
        .withColumn("chg", col("label") < col("old")))
      converged = improved == 0
      labels = joined.select(col("id"), col("label"))
      iter += 1
    }
    edges.unpersist()
    // a non-converged exit means the labels are WRONG (vertices of one
    // component still carry different ids) — survivors() downstream
    // would keep several "representatives" of one duplicate group with
    // no signal. Refuse to return them.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          "pointer-jumping rounds; raise maxIter (rounds needed grow " +
          "with log2 of the largest component's diameter)")
    // the result is backed by the final round's persisted RDD (its
    // lineage chains through every unpersisted round — recomputing it
    // would replay the whole loop). Park it in the per-session slot:
    // the NEXT connectedComponents call frees it, or the caller frees
    // it early via [[releaseComponents]] once done with the result.
    prevRdd.foreach(r =>
      lastComponentRdd.put(pairs.sparkSession,
        new java.lang.ref.WeakReference(r)))
    labels.select(col("id"), col("label").as("component"))
  }

  /** Cached label state of the most recent [[connectedComponents]] call
    * per session — bounds executor storage to ONE narrow (id, label)
    * frame instead of one per call. Both sides are weak so a session
    * that stops or goes out of scope without a final
    * [[releaseComponents]] pins nothing for process life. The VALUE
    * WeakReference is the load-bearing half: once the caller drops the
    * result frame, the RDD handle clears and Spark's ContextCleaner
    * reclaims the persisted blocks through its own weak references
    * (DedupSpec asserts this). The weak KEY is defense in depth — a
    * strongly-held value would reach the session through its plan
    * lineage and defeat it, and in practice Spark's inheritable
    * thread-locals can keep a session reachable from pooled threads
    * anyway, so nothing may be asserted about key expiry. */
  private val lastComponentRdd = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.SparkSession,
      java.lang.ref.WeakReference[
        org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]]())

  /** Test hook: None = no entry for `spark`; Some(alive?) = whether the
    * weakly-held label RDD is still reachable. */
  private[graft] def componentCacheValueLive(
      spark: org.apache.spark.sql.SparkSession): Option[Boolean] = {
    val ref = lastComponentRdd.get(spark)
    if (ref == null) None else Some(ref.get() != null)
  }

  /** Frees the cached component labels backing the last
    * [[connectedComponents]] result on `spark`. After this, that result
    * frame recomputes the full iteration if re-used — call only once
    * the result has been consumed (written/joined/collected). */
  def releaseComponents(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ref = lastComponentRdd.remove(spark)
    val r = if (ref != null) ref.get() else null
    if (r != null) r.unpersist(blocking = false)
  }

  /** One representative per dedup component — the keep-list a curation
    * pipeline feeds downstream: highest `scoreCol` wins, ties break to
    * the smallest id. One window pass over (id, component, score) rows;
    * the score join stays narrow (id + one numeric). Docs with NO score
    * row participate at the LOWEST priority (LEFT join, NULL scores
    * sort last) — an inner join would silently drop them, and a
    * component whose every member lost its score row would emit no
    * keep_id at all, deleting the whole group downstream. */
  def survivors(components: DataFrame, scores: DataFrame,
                idCol: String = "id",
                scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__s").desc_nulls_last, col(idCol))
    components
      .join(scores.select(col(idCol), col(scoreCol).as("__s")), Seq(idCol),
        "left")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("component"), col(idCol).as("keep_id"))
  }

  /** Cross-document exact-substring dedup — the ExactSubstr operator of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2022): any token span of length >= k that occurs more
    * than once in the corpus keeps exactly its FIRST occurrence (global
    * (id, pos) order) and every other occurrence is removed from the
    * text. The strongest published dedup for LM training data: unlike
    * document- or paragraph-level dedup it catches boilerplate,
    * licenses, and quoted passages embedded inside otherwise-unique
    * documents.
    *
    * Spark-first shape (no suffix array): a span of >= k duplicated
    * tokens is exactly a run of duplicated k-grams, so k-gram-level
    * keep-first removal reproduces span-level removal token-for-token —
    * every token of a duplicated longer span is covered by some
    * non-first duplicated k-gram occurrence, and overlapping spans
    * union naturally at the token level.
    *
    *   1. positioned k-grams (one codegen'd pass, [[Grams.positioned]]),
    *      keyed by a 2×64-bit hash pair — shuffle rows carry 16 bytes +
    *      position, never gram text;
    *   2. one hash-aggregate per gram: occurrence count + global first
    *      occurrence `min(struct(id, pos))`;
    *   3. occurrences of duplicated grams that are NOT the first →
    *      their k covered token indexes (narrow explode + distinct);
    *   4. reassembly exactly like [[Curation.paragraphDedup]]: tokens of
    *      one doc co-locate under one `groupBy(id)`, `array_sort` on
    *      (idx, token) structs restores order — a document is bounded,
    *      so one doc per task always fits.
    *
    * All joins are equi-joins on hashed keys; nothing corpus-wide is
    * collected or crossed. At 100 TB the gram table is the dominant
    * cost — one narrow shuffle of (16-byte hash, id, pos) rows, the
    * same bill every shingle operator here already pays.
    *
    * Tokenization is `\s+` (matching the library's other word
    * operators); reassembly joins surviving tokens with single spaces,
    * so original whitespace is canonicalized — the standard trade of
    * token-level dedup.
    *
    * Output: (id, text, n_tokens, n_removed), one row per input doc;
    * docs shorter than k tokens pass through untouched.
    */
  def substrDedup(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 50): DataFrame = {
    require(k >= 2, s"min duplicated span length must be >= 2, got $k")
    val words = Grams.wordCols(k)
    val occ = Grams.positioned(df, idCol, textCol, k)
      .select(col("id"), col("pos"),
        xxhash64(words: _*).as("h1"),
        xxhash64((lit("graft-substr") +: words): _*).as("h2"))
    val stats = occ.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("id"), col("pos"))).as("first"))
      .filter(col("c") > 1)
      .select(col("h1"), col("h2"), col("first"))
    // COVERED-INTERVAL reassembly (round 14; replaces the corpus-wide
    // token posexplode + anti-join + collect_list rebuild): each
    // non-first duplicated occurrence covers tokens [pos, pos+k-1] —
    // ship ONE (id, pos) row per occurrence instead of k exploded
    // token indexes (at heavy duplication the explode was k× the
    // corpus: ~1.25B rows at the 100× stress). Per doc, the sorted
    // position list folds into merged disjoint intervals with LINEAR
    // zip_with passes (an interval chain starts where the gap from the
    // previous start exceeds k, ends where the gap to the next does),
    // and the doc's tokens filter against the few merged intervals in
    // one codegen'd HOF — no second corpus-wide exchange at all: the
    // only shuffles are the gram aggregate and one narrow
    // (id, pos-array) groupBy.
    val removedPos = occ.join(stats, Seq("h1", "h2"))
      .filter(!(col("first.id") === col("id") &&
        col("first.pos") === col("pos")))
      .select(col("id"), col("pos"))
    val farLow = lit(Int.MinValue / 2)
    val farHigh = lit(Int.MaxValue / 2)
    val ps = col("ps")
    val prev = concat(array(farLow),
      slice(ps, lit(1), greatest(size(ps) - 1, lit(0))))
    val nxt = concat(slice(ps, lit(2), greatest(size(ps) - 1, lit(0))),
      array(farHigh))
    val starts = filter(
      zip_with(ps, prev, (p, q) => when(p > q + k, p)), _.isNotNull)
    val ends = filter(
      zip_with(ps, nxt, (p, q) => when(q > p + k, p)), _.isNotNull)
    val covered = removedPos.groupBy(col("id"))
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("id"), zip_with(starts, ends,
        (s, e) => struct(s.as("s"), (e + (k - 1)).as("e"))).as("ivs"))
    val toks = split(col("__text"), "\\s+")
    val keptArr = when(col("ivs").isNull, toks).otherwise(
      filter(toks, (_, i) => !exists(col("ivs"),
        iv => i >= iv.getField("s") && i <= iv.getField("e"))))
    df.select(col(idCol).as("id"), col(textCol).as("__text"),
        size(split(col(textCol), "\\s+")).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), keptArr.as("kept"), col("n_tokens"))
      .select(col("id"), array_join(col("kept"), " ").as("text"),
        col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long"))
          .as("n_removed"))
  }

  /** Pack the sign bits of `planes` random-hyperplane dot products —
    * one fused native expression over a seed-derived plane matrix (the
    * per-plane VecDot spelling paid array construction and dispatch per
    * plane per row; at 128 planes that dominated signature time). Plane
    * p occupies bit p; same gaussian draw order as ever, so signatures
    * are unchanged for any (dim, planes, seed). NULL vectors and
    * vectors whose length != dim yield a NULL signature and fall out of
    * bucket joins (the HOF chain used to fold them to bucket 0). */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int,
                          seed: Long): Column = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(planes * dim)(rnd.nextGaussian())
    graft.functions.VecExpressions.hyperplaneSig(vec, m, dim)
  }
}
