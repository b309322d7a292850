package graft

import graft.operators.Funnel
import graft.pipeline.{Curation, Similarity, Terms}
import org.apache.spark.sql.functions._

class TermsFunnelSpec extends SparkSpec {

  test("topTerms ranks by tf desc, df asc, term asc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry cherry date")
    ).toDF("doc_id", "text")
    val got = Terms.topTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).sortBy(t => (t._1, t._5))
    // doc 1: apple tf=2 (df=1); then banana/cherry tf=1 df=2 → term asc
    assert(got(0) == ((1L, "apple", 2L, 1L, 1)))
    assert(got(1) == ((1L, "banana", 1L, 2L, 2)))
    // doc 2: banana and cherry both tf=2 df=2 → term tie-break
    assert(got(2) == ((2L, "banana", 2L, 2L, 1)))
    assert(got(3) == ((2L, "cherry", 2L, 2L, 2)))
  }

  test("topTerms tokenizes case-insensitively on non-alphanumerics") {
    import spark.implicits._
    val docs = Seq((1L, "Hello, HELLO! world")).toDF("doc_id", "text")
    val got = Terms.topTerms(docs, "doc_id", "text", k = 1).head()
    assert(got.getString(1) == "hello" && got.getLong(2) == 2L)
  }

  test("vocabCoverage: ranks, totals and monotone cumulative fraction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b x")
    ).toDF("doc_id", "text")
    val got = Terms.vocabCoverage(docs, "doc_id", "text", topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).sortBy(_._4)
    // occurrences: a=4, b=3, c=1, x=1 → head a,b,c; total = 9
    assert(got.map(_._1).toSeq == Seq("a", "b", "c"))
    assert(got(0) == (("a", 4L, 2L, 1, 4.0 / 9.0)))
    assert(got(1)._5 == 7.0 / 9.0)
    assert(got(2)._5 == 8.0 / 9.0)
  }

  test("tokenRarity: exact corpus-frequency sums, one final division") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    // corpus counts: x=2, y=2, z=1
    val got = Terms.tokenRarity(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(got(0) == ((1L, 3L, 6L, 2L, 2.0)))
    assert(got(1) == ((2L, 2L, 3L, 1L, 1.5)))
    // a second call over the same frame returns the same sums
    val ck = Terms.tokenRarity(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(ck.toSeq == Seq((1L, 6L), (2L, 3L)))
  }

  test("quantizeInt8: max element hits ±127, zero vector → zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val sc = Similarity.int8Scale(col("v"))
    val got = df.select(col("id"),
        Similarity.quantizeInt8(col("v"), sc).as("q"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    // scale=1.0: 0.5*127=63.5 → half-up 64; -127; 0.25*127=31.75 → 32
    assert(got(1L) == Seq(64L, -127L, 32L))
    assert(got(2L) == Seq(0L, 0L, 0L))
  }

  test("funnel: ordered completion only, NULL from drop-off onward") {
    import spark.implicits._
    val ev = Seq(
      // u1 completes in order
      (1L, 10L, "signup"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2: purchase BEFORE click → stops at click
      (2L, 10L, "signup"), (2L, 30L, "click"), (2L, 20L, "purchase"),
      // u3: click precedes signup → click doesn't count
      (3L, 50L, "signup"), (3L, 40L, "click"),
      // u4 never signs up → absent from output
      (4L, 10L, "click"), (4L, 20L, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0) == ((1L, Some(10L), Some(20L), Some(30L))))
    assert(got(1) == ((2L, Some(10L), Some(30L), None)))
    assert(got(2) == ((3L, Some(50L), None, None)))
  }

  test("funnel: same-timestamp step is NOT strictly after") {
    import spark.implicits._
    val ev = Seq((1L, 10L, "signup"), (1L, 10L, "click"))
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(ev, "user_id", "ts", "event_type",
      Seq("signup", "click")).head()
    assert(got.getLong(1) == 10L && got.isNullAt(2))
  }

  test("chunkTokens: stride, overlap, tail chunk, no redundant tail") {
    import graft.pipeline.TextAnalysis
    // 10 tokens, chunk 4, overlap 2 → starts 0,2,4,6 kept while
    // start+overlap < 10, plus start 8 dropped? start 8: 8+2 !< 10 → drop
    val text = lit("t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")
    val got = evalRow(TextAnalysis.chunkTokens(text, 4, 2))
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(got.head == ((0, 4, "t0 t1 t2 t3")))
    assert(got(1) == ((1, 4, "t2 t3 t4 t5")))
    assert(got.last == ((3, 4, "t6 t7 t8 t9")))
    assert(got.length == 4) // start 8 would re-cover t8 t9 → dropped
  }

  test("chunkTokens: doc shorter than one chunk is a single chunk") {
    import graft.pipeline.TextAnalysis
    val got = evalRow(TextAnalysis.chunkTokens(lit("a b"), 32, 8))
      .getSeq[org.apache.spark.sql.Row](0)
    assert(got.length == 1)
    assert(got.head.getInt(1) == 2 && got.head.getString(2) == "a b")
  }

  test("interval join pairs events within the horizon only") {
    import spark.implicits._
    val clicks = Seq((1L, 100L, 0L), (1L, 101L, 50L), (2L, 102L, 0L))
      .toDF("user_id", "click_id", "c_s")
      .withColumn("c_ts", timestamp_seconds(col("c_s"))).drop("c_s")
    val purchases = Seq((1L, 200L, 30L), (1L, 201L, 4000L), (2L, 202L, 3600L))
      .toDF("user_id", "purchase_id", "p_s")
      .withColumn("p_ts", timestamp_seconds(col("p_s"))).drop("p_s")
    val got = graft.streaming.IntervalJoin.join(
        clicks, purchases, "user_id", "c_ts", "p_ts", "1 hour")
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // u1: click@0 ↔ purchase@30 in range; purchase@30 is BEFORE
    //     click@50 → out; purchase@4000 is >1h after both clicks → out
    // u2: purchase exactly at the +1h bound (inclusive)
    assert(got == Seq((100L, 200L), (102L, 202L)))
  }

  test("dupSpans: interval union over duplicated n-gram windows") {
    import spark.implicits._
    // "a b c" appears in docs 1 and 2 → its window covers 3 tokens.
    // doc 1: positions 0-2 ("a b c") and 2-4 ("c a b"? no — grams are
    // (a b c), (b c x), (c x y): only (a b c) dups → covered 3 of 5
    // doc 2: (z a b), (a b c) → covered [1,4) = 3 of 4
    // doc 3: no duplicated gram → 0
    val docs = Seq(
      (1L, "a b c x y"),
      (2L, "z a b c"),
      (3L, "p q r s")
    ).toDF("doc_id", "text")
    val got = graft.pipeline.Curation.dupSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 5L, 3L)))
    assert(got(1) == ((2L, 4L, 3L)))
    assert(got(2) == ((3L, 4L, 0L)))
  }

  test("dupSpans: overlapping duplicated windows merge, not double-count") {
    import spark.implicits._
    // doc 10 repeats "a b a b a": grams (a b a), (b a b), (a b a) — all
    // dup within the doc; windows [0,3),[1,4),[2,5) union to 5 tokens
    val docs = Seq((10L, "a b a b a"), (11L, "m n o"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Curation.dupSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got(10L) == 5L)
    assert(got(11L) == 0L)
  }

  test("funnel and globalShuffle reject colliding column names") {
    import spark.implicits._
    val ev = Seq((1L, 10L, "signup", 9L))
      .toDF("user_id", "ts", "event_type", "ts_1")
    intercept[IllegalArgumentException] {
      Funnel.funnel(ev, "user_id", "ts", "event_type", Seq("signup"))
    }
    val df = Seq((1L, 2L)).toDF("id", "pos")
    intercept[IllegalArgumentException] {
      Curation.globalShuffle(df, "id", 4)
    }
  }

  test("globalShuffle: deterministic, shards bounded, positions dense") {
    import spark.implicits._
    val df = (1L to 200L).toDF("id")
    val a = Curation.globalShuffle(df, "id", 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val b = Curation.globalShuffle(df, "id", 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    assert(a.forall(t => t._2 >= 0 && t._2 < 8))
    // positions within each shard are exactly 1..n
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
  }

  test("bigramSurprisal: interpolated probabilities vs hand-counted LM") {
    import spark.implicits._
    // corpus: a b a b | b a → c1(a)=3 c1(b)=3 N=6; c2(a,b)=2 c2(b,a)=2
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Terms
      .bigramSurprisal(docs, "doc_id", "text", lambda = 0.9)
      .orderBy("id").collect()
    def nm(c2: Long, c1v: Long, c1w: Long, n: Long): Long =
      math.floor(-math.log(
        0.9 * (c2.toDouble / c1v.toDouble) +
        (1.0 - 0.9) * (c1w.toDouble / n.toDouble)) * 1e6 + 0.5).toLong
    val ab = nm(2, 3, 3, 7) // c1 includes 'solo': N=7
    val ba = nm(2, 3, 3, 7)
    // doc 3 has one token → no bigrams → no row
    assert(got.length == 2)
    assert(got(0).getLong(1) == 3L) // n_bigrams = n_tokens - 1
    assert(got(0).getLong(2) == 2 * ab + ba)
    assert(got(1).getLong(1) == 1L)
    assert(got(1).getLong(2) == ba)
    assert(got(1).getDouble(3) == ba.toDouble)
  }
}
