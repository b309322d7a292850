package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Dedup operators on a tiny known corpus: exact dups must always be
  * found (MinHash/SimHash recall 1 on identical texts), near-dups must
  * clear their thresholds, and unrelated docs must not pair up. */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  // 1 & 2 identical; 3 near-dup of 1 (one word differs); 4/5 unrelated
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark catalyst planning"),
    (5L, "numbers one two three four five six seven eight nine ten")
  ).toDF("id", "text")

  test("exact dedup groups identical texts, keeps smallest id") {
    val r = Dedup.exact(docs, "id", "text")
      .orderBy("keep_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("substrDedup removes every non-first duplicated span, keeps first") {
    // doc 1 carries the canonical 6-token span; doc 2 embeds the SAME
    // span mid-text; doc 3 repeats it twice; doc 4 is clean; doc 5 is
    // shorter than k and passes through untouched
    val span = "alpha bravo charlie delta echo foxtrot"
    val d = Seq(
      (1L, s"intro one two $span outro three"),
      (2L, s"unrelated lead-in words here $span and a tail"),
      (3L, s"$span filler filler filler $span"),
      (4L, "nothing duplicated in this document at all today"),
      (5L, "tiny doc")
    ).toDF("id", "text")
    val r = Dedup.substrDedup(d, "id", "text", k = 6)
      .orderBy("id").collect()
    val byId = r.map(x => x.getLong(0) ->
      (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1: global first occurrence (min id) — untouched
    assert(byId(1L) == (s"intro one two $span outro three", 11L, 0L))
    // doc 2: the 6 span tokens removed, surrounding text survives
    assert(byId(2L) == ("unrelated lead-in words here and a tail", 13L, 6L))
    // doc 3: BOTH occurrences removed (neither is the global first)
    assert(byId(3L) == ("filler filler filler", 15L, 12L))
    assert(byId(4L)._3 == 0L && byId(5L)._3 == 0L)
    assert(byId(5L)._1 == "tiny doc")
  }

  test("substrDedup overlapping spans union at the token level") {
    // docs 1 and 2 share a 7-token span; with k=6 the span is covered
    // by two overlapping 6-grams in doc 2 — removal must excise all 7
    // tokens once, not double-count
    val d = Seq(
      (1L, "p q r s t u v w x"),
      (2L, "zz p q r s t u v yy")
    ).toDF("id", "text")
    val r = Dedup.substrDedup(d, "id", "text", k = 6)
      .orderBy("id").collect()
    assert(r(0).getString(1) == "p q r s t u v w x")
    assert(r(0).getLong(3) == 0L)
    assert(r(1).getString(1) == "zz yy")
    assert(r(1).getLong(3) == 7L)
  }

  test("substrDedup matches a brute-force model on randomized corpora") {
    // adversarial randomized check for the covered-interval reassembly:
    // small alphabets force heavy gram collisions, overlapping and
    // adjacent duplicated spans, spans at document edges, whole-doc
    // duplicates, and docs shorter than k. The model recomputes removal
    // from first principles: global k-gram occurrence lists, keep the
    // (id, pos)-minimal occurrence of each duplicated gram, remove the
    // union of [pos, pos+k-1] over the rest.
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 12) {
      val k = 2 + rnd.nextInt(3) // 2..4
      val vocab = ('a' to ('a' + 3 + rnd.nextInt(3)).toChar).map(_.toString)
      val docs = (0 until (4 + rnd.nextInt(5))).map { id =>
        val len = rnd.nextInt(14) // 0..13 tokens, some below k
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      // model
      val toks = docs.map { case (id, t) =>
        id -> (if (t.isEmpty) Array("") else t.split("\\s+")) }.toMap
      val occs = for {
        (id, ws) <- toks.toSeq; pos <- 0 to ws.length - k
      } yield (ws.slice(pos, pos + k).toSeq, (id, pos))
      val removed = occs.groupBy(_._1).values.filter(_.size > 1)
        .flatMap(os => os.map(_._2).sorted.tail) // all but global first
        .toSeq
      val removedIdx = removed.groupBy(_._1).map { case (id, ps) =>
        id -> ps.flatMap(p => p._2 until p._2 + k).toSet }
      val expect = docs.map { case (id, _) =>
        val ws = toks(id)
        val rm = removedIdx.getOrElse(id, Set.empty)
        val kept = ws.zipWithIndex.collect {
          case (w, i) if !rm(i) => w }
        (id, kept.mkString(" "), ws.length.toLong,
          (ws.length - kept.length).toLong)
      }.sortBy(_._1)
      val got = Dedup.substrDedup(docs.toDF("id", "text"), "id", "text", k)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == expect,
        s"trial $trial (k=$k) mismatch:\n got=$got\n exp=$expect\n docs=$docs")
    }
  }

  test("incremental exact dedup drops corpus-matched and intra-batch dups") {
    val corpus = Seq((10L, "already kept text"), (11L, "another kept one"))
      .toDF("id", "text")
    val batch = Seq(
      (20L, "already kept text"),   // in corpus -> dropped
      (21L, "brand new document"),  // fresh, unique
      (22L, "repeated in batch"),   // fresh, duplicated in-batch
      (23L, "repeated in batch"))
      .toDF("id", "text")
    val r = Dedup.incrementalExact(batch, corpus, "id", "text")
      .orderBy("keep_id").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((21L, 1L), (22L, 2L)))
  }

  test("incremental exact dedup with empty corpus equals exact dedup") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val r = Dedup.incrementalExact(docs, empty, "id", "text")
      .orderBy("keep_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    val e = Dedup.exact(docs, "id", "text")
      .orderBy("keep_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == e.toSeq)
  }

  test("minhash LSH finds the exact pair at jaccard 1.0 and the near pair") {
    val pairs = Dedup.minhashLsh(docs, "id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    // the NEAR pair (one word of twelve differs, jaccard ~0.54): banding
    // at 128/32 detects it with p ≈ 0.94 and the fixed seed makes the
    // outcome deterministic — a permutation-family regression (e.g. the
    // round-12 degenerate-affine bug) turns detection into a ~0.54 coin
    // flip and this assertion is the tripwire
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 3 })
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(1L, 2L, 3L)) })
  }

  test("pair-capped minhashComponents matches components over the " +
    "full pair set, at a fraction of the edges") {
    // 3 duplicate groups of different sizes (8, 5, 2 copies with small
    // perturbations) + singletons: the full pair mode emits O(g²) pairs
    // per group; the capped mode emits O(g·bands) spanning edges but
    // must land the IDENTICAL component and survivor structure
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "pack my box with five dozen liquor jugs before the night falls",
      "how vexingly quick daft zebras jump across the frozen lake today")
    val rows = base.zipWithIndex.flatMap { case (t, g) =>
      val copies = Seq(8, 5, 2)(g)
      (0 until copies).map { c =>
        val text = if (c == 0) t else t + s" v$c" // near-copies
        (g * 100L + c, text)
      }
    } ++ Seq((900L, "a lonely singleton document with no duplicate"),
      (901L, "another entirely different text that matches nothing"))
    val corpus = rows.toDF("id", "text")
    def compSets(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => (r.getLong(1), r.getLong(0)))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val scores = corpus.select(col("id"),
      length(col("text")).cast("long").as("score"))
    // collect the full-mode results BEFORE running the capped mode:
    // each connectedComponents call frees the previous call's cached
    // label RDD (per-session slot), invalidating the earlier frame
    val full = Dedup.connectedComponents(
      Dedup.minhashLsh(corpus, "id", "text",
        numPerms = 64, bands = 16, threshold = 0.5))
    val fullSets = compSets(full)
    val sFull = Dedup.survivors(full, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashComponents(corpus, "id", "text",
      numPerms = 64, bands = 16, threshold = 0.5)
    assert(compSets(capped) == fullSets)
    // survivor equality too (score = text length desc, id asc)
    val sCapped = Dedup.survivors(capped, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sCapped == sFull)
  }

  test("minhashComponents sparse corpus: the endpoint verify filter " +
    "gates ON and matches the full pair mode exactly") {
    // 2 near-dup pairs among 60 unique docs: endpoints (4) × 10 ≤ docs
    // (64), so the broadcast-semi endpoint filter engages — the verify
    // lineage must produce the IDENTICAL components/survivors it does
    // unfiltered (the filter only skips docs in no candidate edge)
    val unique = (0 until 60).map { i =>
      (1000L + i, (0 until 12).map(j => s"tok${i}x$j").mkString(" "))
    }
    val dups = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the bank v"),
      (11L, "pack my box with five dozen liquor jugs before night falls"),
      (12L, "pack my box with five dozen liquor jugs before night fall"))
    val corpus = (unique ++ dups).toDF("id", "text")
    def compSets(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => (r.getLong(1), r.getLong(0)))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val full = Dedup.connectedComponents(
      Dedup.minhashLsh(corpus, "id", "text",
        numPerms = 64, bands = 16, threshold = 0.5))
    val fullSets = compSets(full)
    assert(fullSets == Set(Set(1L, 2L), Set(11L, 12L)), s"full: $fullSets")
    val capped = Dedup.minhashComponents(corpus, "id", "text",
      numPerms = 64, bands = 16, threshold = 0.5)
    assert(compSets(capped) == fullSets)
  }

  test("minhashComponents with non-Long ids rides the distributed " +
      "fallback instead of crashing") {
    // string doc ids: the packed driver-side escalation reads ids as
    // primitive longs and must be bypassed, not crash (regression:
    // the r15 driver-side escalation assumed LongType unconditionally)
    val rows = Seq(
      ("a1", "the quick brown fox jumps over the lazy dog near the bank"),
      ("a2", "the quick brown fox jumps over the lazy dog near the bank v"),
      ("b1", "an entirely different text about nothing in particular"))
    val corpus = rows.toDF("id", "text")
    val comps = Dedup.minhashComponents(corpus, "id", "text",
      numPerms = 64, bands = 16, threshold = 0.5)
    val sets = comps.collect().map(r => (r.getString(1), r.getString(0)))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(sets.contains(Set("a1", "a2")))
  }

  test("countAndPack: a partition past the cap sends no pairs; an " +
    "under-cap total returns every pair in partition order") {
    import org.apache.spark.sql.Row
    val pairs = (1L to 5L).map(i => Row(i, i + 100))
    val (over, none) = Dedup.packPartition(pairs.iterator, 4L)
    assert(over == 5L && none.isEmpty)
    val (all, packed) = Dedup.packPartition(pairs.iterator, 5L)
    assert(all == 5L &&
      packed.toSeq == pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))))
    // three partitions of ten pairs each
    val df = spark.range(0L, 30L, 1L, 3)
      .selectExpr("id AS id_a", "id * 2 AS id_b")
    val (total, arr) = Dedup.countAndPack(df, 30L)
    assert(total == 30L &&
      arr.toSeq == (0L until 30L).flatMap(i => Seq(i, 2 * i)))
    assert(Dedup.countAndPack(df, 29L) == ((30L, null)))
  }

  test("bipartite minhash pairs cross-corpus near-dups only") {
    val bench = Seq(
      // identical to docs 1 and 2
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (102L, "totally unrelated words about benchmarks and evals here")
    ).toDF("id", "text")
    val r = Dedup.minhashLshBipartite(docs, bench, "id", "text",
        numPerms = 64, bands = 16, threshold = 0.9)
      .orderBy("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    // doc 3 (one word off, jaccard ~0.54) must NOT clear 0.9
    assert(r.toSeq == Seq((1L, 101L, 1.0), (2L, 101L, 1.0)))
  }

  test("banded hyperplane LSH finds moderate-cosine pairs, not orthogonal") {
    // cosine(1, 2) = 0.97 — the single-bucket shape found such pairs
    // with probability ~0.2; 16 bands of 16 bits detect at ~0.994 and
    // the fixed seed pins the outcome
    val dim = 64
    def vec(first: Double, second: Double): Seq[Double] =
      first +: second +: Seq.fill(dim - 2)(0.0)
    val vs = Seq(
      (1L, vec(1.0, 0.0)),
      (2L, vec(0.97, math.sqrt(1 - 0.97 * 0.97))),
      (3L, vec(0.0, 1.0))  // orthogonal to doc 1
    ).toDF("id", "v")
    val pairs = Dedup.embeddingNearDup(vs, "id", "v", dim = dim,
        bands = 16, bitsPerBand = 16, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash exact pairs = identical-text pairs only") {
    val pairs = Dedup.simhashExactPairs(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("connected components collapse chains, cliques and pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs real propagation), clique
    // 10/11/12, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components converge on a 300-node chain (log rounds)") {
    import spark.implicits._
    // a path graph 1-2-3-...-300: diameter 299. Plain min-label
    // propagation would need 299 rounds; pointer jumping must converge
    // within the default 25.
    val edges = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length == 300)
    assert(comp.forall(_._2 == 1L),
      s"non-converged labels: ${comp.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("connected components cache at most one label RDD per session") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    // two successive calls: the second frees the first call's cached
    // labels, and releaseComponents frees the second's
    Dedup.releaseComponents(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.connectedComponents(edges).collect()
    Dedup.connectedComponents(edges).collect()
    val during = spark.sparkContext.getPersistentRDDs.size
    assert(during <= before + 1,
      s"expected at most one extra cached label RDD ($before -> $during)")
    Dedup.releaseComponents(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "releaseComponents must drop the final label cache")
  }

  // separate method: the result frame (and through it, the label RDD)
  // must not survive in the test method's own stack frame while the GC
  // loop below runs
  private def componentsDropResult(): Unit = {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("id_a", "id_b")
    // smallGraphEdges = 0 forces the distributed loop (this test is
    // about the loop's RDD cache; the union-find fast path pins nothing)
    Dedup.connectedComponents(edges, smallGraphEdges = 0L).collect()
  }

  test("component cache holds the label RDD only weakly") {
    Dedup.releaseComponents(spark)
    componentsDropResult()
    assert(Dedup.componentCacheValueLive(spark).contains(true),
      "cache entry should exist right after the call")
    // nobody holds the result frame anymore: the weakly-held RDD handle
    // must clear (ContextCleaner then reclaims its blocks) — a session
    // that never calls releaseComponents pins nothing for process life
    var tries = 0
    while (Dedup.componentCacheValueLive(spark).contains(true) &&
        tries < 100) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(Dedup.componentCacheValueLive(spark).contains(false),
      "dropped label RDD must become unreachable through the cache")
  }

  test("survivors pick the highest-score member per component") {
    import spark.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (20L, 20L), (21L, 20L))
      .toDF("id", "component")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (20L, 1L), (21L, 4L))
      .toDF("id", "score")
    val keep = Dedup.survivors(comp, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // component 1: ids 2 and 3 tie at 9 → smallest id wins
    assert(keep == Map(1L -> 2L, 20L -> 21L))
  }

  test("ngram jaccard with prefix filter keeps exact recall") {
    val pairs = Dedup.ngramJaccard(docs, "id", "text", n = 3,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (1,2) at 1.0 and the near pairs (1,3)/(2,3) must survive the filter
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 3 })
    assert(pairs.exists { case (a, b, _) => a == 2 && b == 3 })
    assert(!pairs.exists { case (a, b, _) => b == 4 || b == 5 || a == 4 })
  }

  test("bandBuckets refuses bands that don't divide numPerms") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(docs, "id", "text", numPerms = 16, bands = 32)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(docs, "id", "text", numPerms = 100, bands = 32)
    }
  }

  test("verifyPairs canonicalizes orientation, drops self-pairs, scores zero overlap") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 3L))
      .toDF("id_a", "id_b")
    val got = Dedup.verifyPairs(pairs, docs, "id", "text", k = 2,
        threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // (1,2)+(2,1) collapse to one row; (1,1) dropped; (1,3) shares no
    // shingle yet scores 0.0 instead of vanishing
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L), (1L, 3L)))
    assert(got(1)._3 == 0.0)
  }

  test("connectedComponents refuses to return non-converged labels") {
    import spark.implicits._
    // a 64-node chain needs ~log2(64) pointer-jump rounds; 1 is not it
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      // force the loop: the union-find fast path has no iteration cap
      Dedup.connectedComponents(edges, maxIter = 1,
        smallGraphEdges = 0L).collect()
    }
  }

  test("survivors keep unscored docs at lowest priority, never drop groups") {
    import spark.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "component")
    val scores = Seq((1L, 0.1), (2L, 0.9)).toDF("id", "score")
    // component 7 has NO score rows: it must still emit a keep_id
    val keep = Dedup.survivors(comp, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(keep == Seq((1L, 2L), (7L, 7L)))
  }
}
