package graft

import graft.pipeline.Curation
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  test("repetition features: dup word fraction and top bigram share") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // 1 distinct of 4 words; bigram "a a" x3
      (2L, "w x y z"),          // all distinct; 3 bigrams each once
      (3L, "spam spam ham spam") // 3 distinct bigrams, top share 1/3
    ).toDF("doc_id", "text")
    val got = Curation.repetitionFeatures(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 0.75, 1.0)))
    assert(got(1) == ((2L, 0.0, 1.0 / 3.0)))
    assert(got(2)._1 == 3L)
    assert(math.abs(got(2)._2 - 0.5) < 1e-12)
    assert(math.abs(got(2)._3 - 1.0 / 3.0) < 1e-12)
  }

  test("repetition features: single-word doc has zero bigram share") {
    import spark.implicits._
    val docs = Seq((9L, "lonely")).toDF("doc_id", "text")
    val got = Curation.repetitionFeatures(docs, "doc_id", "text").head()
    assert(got.getDouble(1) == 0.0)
    assert(got.getDouble(2) == 0.0)
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a totally clean document here"),
      (3L, "prefix words then quick brown fox suffix"),
      (4L, "quick brown") // shorter than n: can never match
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox")).toDF("doc_id", "text")
    val got = Curation.decontaminate(docs, bench, "doc_id", "text", n = 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L))
  }

  test("stratified sample: exact per-stratum quota, deterministic") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, if (i % 4 == 0) "rare" else "big"))
    val df = rows.toDF("id", "stratum")
    val s1 = Curation.stratifiedSample(df, "stratum", 10, "id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.count(_._2 == "big") == 10)
    assert(s1.count(_._2 == "rare") == 10)
    // two-phase result must equal the naive single-window top-N
    val naive = df.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("stratum"))
          .orderBy(md5(concat(lit("graft-strat-"),
            col("id").cast("string"))), col("id"))))
      .filter(col("rn") <= 10).drop("rn")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSet == naive.toSet)
    // quota larger than a stratum returns the whole stratum
    val s2 = Curation.stratifiedSample(df, "stratum", 1000, "id")
    assert(s2.count() == 200)
  }

  test("mixtureResample: largest subcorpus at the target proportions") {
    import spark.implicits._
    // a: 6 rows w=2 → 6/2=3; b: 3 rows w=1 → 3; c: 2 rows default w=1
    // → 2 is the limiting ratio → targets a=4, b=2, c=2
    val df = ((1L to 6L).map((_, "a")) ++ (7L to 9L).map((_, "b")) ++
      (10L to 11L).map((_, "c"))).toDF("id", "stratum")
    val got = Curation.mixtureResample(df, "stratum", "id",
      Map("a" -> 2.0, "b" -> 1.0))
    val bySt = got.collect().map(r => r.getString(1)).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(bySt == Map("a" -> 4, "b" -> 2, "c" -> 2))
    // deterministic: the kept rows are the md5-min ones, rerun-stable
    val again = Curation.mixtureResample(df, "stratum", "id",
      Map("a" -> 2.0, "b" -> 1.0))
    assert(again.collect().map(_.getLong(0)).sorted.sameElements(
      got.collect().map(_.getLong(0)).sorted))
    // equal weights = balance to the smallest stratum
    val eq = Curation.mixtureResample(df, "stratum", "id", Map.empty)
    assert(eq.collect().map(_.getString(1)).groupBy(identity)
      .view.mapValues(_.length).toMap.values.toSet == Set(2))
  }

  test("sourceOverlap: pairwise distinct-gram Jaccard, empty pairs " +
    "omitted, within-source duplicates collapse") {
    import spark.implicits._
    val df = Seq(
      (1L, "A", "a b c d"),  // grams {a b c, b c d}
      (2L, "A", "a b c"),    // duplicate gram within A → distinct
      (3L, "B", "b c d e"),  // grams {b c d, c d e}
      (4L, "C", "x y z w")   // grams {x y z, y z w} — no overlap
    ).toDF("id", "src", "text")
    val got = Curation.sourceOverlap(df, "src", "id", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("A", "B", 2L, 2L, 1L, 1.0 / 3.0)))
    // a second call over the same frame returns the same matrix
    val ck = Curation.sourceOverlap(df, "src", "id", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    assert(ck.toSeq == Seq(("A", "B", 1L)))
  }

  test("weightedSample: rate 1 keeps all, rate 0 keeps none, deterministic") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, s"s${i % 4}")).toDF("id", "stratum")
    val got = Curation.weightedSample(df, "stratum", "id",
      Map("s0" -> 1.0, "s1" -> 0.0, "s2" -> 0.5), defaultRate = 0.5)
    val bySt = got.collect().map(r => r.getString(1)).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(bySt.getOrElse("s0", 0) == 100) // rate 1.0: all kept
    assert(!bySt.contains("s1"))           // rate 0.0: none
    // hash-Bernoulli at 0.5: roughly half, exactly reproducible
    val n2 = bySt.getOrElse("s2", 0)
    assert(n2 > 25 && n2 < 75, s"s2 kept $n2 of 100")
    val again = Curation.weightedSample(df, "stratum", "id",
      Map("s0" -> 1.0, "s1" -> 0.0, "s2" -> 0.5), defaultRate = 0.5)
    assert(again.collect().map(_.getLong(0)).sorted
      .sameElements(got.collect().map(_.getLong(0)).sorted))
  }

  test("rolling features: range frame counts and exact integer sums") {
    import spark.implicits._
    import graft.operators.RollingFeatures
    val e = Seq(
      (1L, 7L, 0L, 10L), (2L, 7L, 50L, 20L), (3L, 7L, 120L, 30L),
      (4L, 9L, 60L, 5L))
      .toDF("event_id", "user_id", "us", "cents")
    val got = RollingFeatures.withActivity(e, Seq("user_id"), "us",
        lookbacks = Seq("w" -> 100L), sumCols = Seq("cents"))
      .orderBy("event_id")
      .select("event_id", "n_w", "sum_cents_w")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq(
      (1L, 1L, 10L),   // only itself
      (2L, 2L, 30L),   // 0 and 50 within [-(100), 50]
      (3L, 2L, 50L),   // 50 and 120 (0 is out of range)
      (4L, 1L, 5L)))   // other user
  }

  test("packSequences: first-fit shard by start offset, per bucket") {
    import spark.implicits._
    val docs = Seq(
      (1L, 600L), (2L, 600L), (3L, 600L), // odd ids -> bucket 1
      (4L, 1500L), (5L, 100L))            // even ids -> bucket 0
      .toDF("doc_id", "n_tok")
    val got = Curation.packSequences(docs, "doc_id", "n_tok",
        budgetTokens = 1000L, bucketCol = col("doc_id") % 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1)
    // bucket 1 = docs 1,3,5 at offsets 0,600,1200; bucket 0 = docs 2,4
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 0L), (2L, 0L, 0L, 0L), (3L, 1L, 0L, 600L),
      (4L, 0L, 0L, 600L), (5L, 1L, 1L, 1200L)))
  }

  test("packSequences: duplicate ids in a bucket use ROWS-frame offsets") {
    import spark.implicits._
    // two rows with the SAME id: the RANGE default frame would make
    // them peers and give both the full prefix sum
    val df = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("doc", "toks")
    val got = Curation.packSequences(df, "doc", "toks",
        budgetTokens = 100L, bucketCol = lit(0))
      .orderBy("start_offset").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    // offsets are a strict running sum: 0, then the first row's token
    // count (10 or 20 depending on tie order), then 30 — never equal
    val offs = got.map(_._3).toSeq
    assert(offs(0) == 0L && Set(10L, 20L).contains(offs(1)) &&
      offs(2) == 30L)
  }

  test("packSequences matches a driver-side reference packer") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (i, (i * 37 % 400) + 1))
    val packed = Curation.packSequences(rows.toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", budgetTokens = 1000L,
        bucketCol = col("doc_id") % 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val expect = rows.groupBy(_._1 % 4).flatMap { case (b, ds) =>
      var off = 0L
      ds.sortBy(_._1).map { case (id, tok) =>
        val shard = off / 1000L; off += tok; id -> ((b, shard))
      }
    }
    assert(packed == expect)
  }

  test("gopher rules: every feature hand-checked on a crafted doc") {
    import spark.implicits._
    // 2 lines; line 2 starts with a bullet; line 1 ends with ellipsis;
    // words: the(1) of(1) ab(2) ...(1) #(1) -(bullet, 1) = 7 words
    val docs = Seq(
      (1L, "the of ab ...\n- ab # Ab"),
      (2L, "")).toDF("doc_id", "text")
    val r = Curation.gopherRules(docs, "doc_id", "text")
      .orderBy("id").collect()
    val d1 = r(0)
    assert(d1.getLong(1) == 8L)   // n_words
    assert(d1.getLong(2) == 2L)   // n_lines
    // lens: the=3 of=2 ab=2 ...=3 -=1 ab=2 #=1 ab=2 → 16/8 = 2.0
    assert(d1.getLong(3) == 2000000L)
    // per-symbol ratios (the paper gates each): one '#', one '...'
    assert(d1.getLong(4) == 125000L)
    assert(d1.getLong(5) == 125000L)
    assert(d1.getLong(6) == 500000L)  // 1 bullet line of 2
    assert(d1.getLong(7) == 500000L)  // 1 ellipsis line of 2
    // alpha words: the of ab ab ab → 5/8
    assert(d1.getLong(8) == 625000L)
    assert(d1.getLong(9) == 2L)       // stop hits: the, of
    assert(!d1.getBoolean(10))        // fails word count + mean len
    val d2 = r(1)                     // empty doc: floors, no crash
    assert(d2.getLong(1) == 0L && d2.getLong(9) == 0L
      && !d2.getBoolean(10))
  }

  test("snapshotDiff: added/removed/changed, unchanged dropped by default") {
    import spark.implicits._
    val v1 = Seq((1L, "same"), (2L, "old text"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new text"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val d = Curation.snapshotDiff(v1, v2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(d == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
    val full = Curation.snapshotDiff(v1, v2, "doc_id", "text",
        keepUnchanged = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(full.contains((1L, "unchanged")) && full.length == 4)
  }

  test("c4 rules: line filter, doc vote, clean reassembly") {
    import spark.implicits._
    val good = "this line has five words.\nso does this one too!\n" +
      "and a third keeps it?\ntrailing ws is fine .  "
    val docs = Seq(
      (1L, good),                                   // 4 lines, all kept
      (2L, good + "\nno punct here at all\nshort."),// 2 rejected lines
      (3L, "only two good lines here.\nboth of them end well."),
      (4L, good + "\nthe javascript line dies here."),
      (5L, good.replace("five", "{ five")),         // brace kills doc
      (6L, "Lorem Ipsum dolor sit amet here.\n" + good))
      .toDF("doc_id", "text")
    val r = Curation.c4Rules(docs, "doc_id", "text")
      .orderBy("id").collect()
    assert(r(0).getLong(2) == 4L && r(0).getBoolean(3))
    assert(r(0).getString(4) == good)
    assert(r(1).getLong(1) == 6L && r(1).getLong(2) == 4L
      && r(1).getBoolean(3))
    assert(r(2).getLong(2) == 2L && !r(2).getBoolean(3)) // < 3 kept
    assert(r(3).getLong(2) == 4L)  // javascript line rejected
    assert(!r(4).getBoolean(3))    // '{' vetoes the document
    assert(!r(5).getBoolean(3))    // lorem ipsum veto, case-insensitive
  }

  test("gopher rules: a long clean document passes") {
    import spark.implicits._
    val body = (1 to 30).map(_ => "the cat and dog ran with that toy")
      .mkString(" ")
    val got = Curation.gopherRules(
      Seq((7L, body)).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(got.getLong(1) == 240L)
    assert(got.getBoolean(10))
  }

  test("gopher rules: per-symbol ratio gate matches the paper's 'either'") {
    import spark.implicits._
    // 20 '#' and 20 '...' over 336 words, all mid-line: each
    // per-symbol ratio is 20/336 ≈ 0.06 ≤ 0.1 (passes the paper's
    // per-symbol gate) while the SUM is ≈ 0.12 > 0.1 — the document
    // the old combined-ratio reading wrongly rejected. This is the
    // discriminating case: a regression back to a summed gate flips
    // this doc to pass=false.
    val base = (1 to 37).map(_ => "the cat and dog sat with that toy")
      .mkString(" ")
    val syms = (1 to 20).map(_ => "# ...").mkString(" ")
    // trailing word keeps the line from ENDING in '...' (rule 5)
    val ok = Seq((1L, s"$base $syms end")).toDF("doc_id", "text")
    val row = Curation.gopherRules(ok, "doc_id", "text").head()
    assert(row.getLong(4) <= 100000L && row.getLong(5) <= 100000L)
    assert(row.getLong(4) + row.getLong(5) > 100000L) // sum gate differs
    assert(row.getBoolean(10))
  }
}
