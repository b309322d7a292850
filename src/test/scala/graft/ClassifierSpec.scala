package graft

import graft.pipeline.Classifier
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {

  test("scoreHashed sums per-token weights plus bias, integer-exact") {
    import spark.implicits._
    val dim = 16
    // weight table where bucket j weighs j milli-units: margins are
    // directly checkable against hand-computed buckets
    val w = Array.tabulate(dim)(_.toLong)
    val df = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "??!!"))
      .toDF("doc_id", "text")
    val got = Classifier.scoreHashed(df, "doc_id", "text", w, biasMilli = 5L)
      .orderBy("doc_id").collect()

    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % dim).toInt
    }
    val expected1 = 5L + 2 * w(bucket("alpha")) + w(bucket("beta"))
    assert(got(0).getLong(1) == expected1)
    // empty / punctuation-only docs score just the bias
    assert(got(1).getLong(1) == 5L && got(2).getLong(1) == 5L)
    // score is margin/1000.0; label thresholds at zero
    assert(got(0).getDouble(2) == expected1 / 1000.0)
    assert(got.forall(r => r.getBoolean(3) == (r.getLong(1) > 0)))
  }

  test("scoring plan is one shuffle-free projection") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val out = Classifier.scoreHashed(df, "doc_id", "text",
      Array.fill(64)(1L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("scrambled demo weights stay in [-1000, 999]") {
    val w = Classifier.scrambledWeightsMilli(1024)
    assert(w.length == 1024)
    assert(w.forall(v => v >= -1000L && v <= 999L))
    assert(w.distinct.length > 500) // actually scrambled, not constant
  }

  test("NULL text scores the bias, like an empty document") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, Option("")))
      .toDF("doc_id", "text")
    val got = Classifier.scoreHashed(df, "doc_id", "text",
        Array.fill(8)(7L), biasMilli = 42L)
      .orderBy("doc_id").collect()
    assert(got.forall(r => r.getLong(1) == 42L))
  }

  test("filterByMarginPercentile keeps exactly the rows at/above the cut") {
    import spark.implicits._
    // margins 1..10; p=0.5 -> percentile_disc = smallest with
    // cume_dist >= 0.5 = 5 -> keep 5..10
    val df = (1L to 10L).map(i => (i, i * 100L)).toDF("id", "m")
    val kept = Classifier.filterByMarginPercentile(df, "m", 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == (5L to 10L))
    // a second call over the same frame keeps the same rows
    val keptC = Classifier.filterByMarginPercentile(df, "m", 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptC == kept)
  }

  test("negative weights flip the label") {
    import spark.implicits._
    val w = Array.fill(8)(-100L)
    val df = Seq((1L, "some words here")).toDF("doc_id", "text")
    val got = Classifier.scoreHashed(df, "doc_id", "text", w).collect()(0)
    assert(got.getLong(1) == -300L && !got.getBoolean(3))
  }

  test("aucByLabel: exact wins/ties vs hand-counted pairs") {
    import spark.implicits._
    // pos scores {3, 2, 2}, neg {1, 2}: wins 4 of 6 pairs, 2 ties
    // → AUC = (4 + 2/2) / 6 = 0.8333…
    val df = Seq((3L, true), (2L, true), (2L, true),
      (1L, false), (2L, false)).toDF("s", "y")
    val r = Classifier.aucByLabel(df, "s", "y").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 833333L)
  }

  test("aucByLabel: perfect ranking is 1.0; one-class data is NULL") {
    import spark.implicits._
    val perfect = Seq((10L, true), (9L, true), (1L, false), (0L, false))
      .toDF("s", "y")
    assert(Classifier.aucByLabel(perfect, "s", "y").head()
      .getLong(4) == 1000000L)
    val oneClass = Seq((5L, true), (6L, true)).toDF("s", "y")
    assert(Classifier.aucByLabel(oneClass, "s", "y").head().isNullAt(4))
  }

  test("aucByLabel: continuous double scores — brute-force parity and " +
    "NO unpartitioned window in the plan (the 100 TB shape)") {
    import spark.implicits._
    // continuous scores: distinct-count ≈ row-count, the shape where a
    // global Window.orderBy would funnel the whole corpus through one
    // task. Deterministic pseudo-random doubles, some exact duplicates
    // to exercise the tie arithmetic across bucket boundaries.
    val rows = (0 until 4000).map { i =>
      val h = (i.toLong * 2654435761L) % 100000L
      val s = if (i % 37 == 0) 0.5 else h.toDouble / 1000.0
      (s, (i * 2654435761L % 3L) != 0L)
    }
    val df = rows.toDF("s", "y").repartition(7)
    val out = Classifier.aucByLabel(df, "s", "y")
    // every Window in the optimized plan must be PARTITIONED — the
    // two-level prefix leaves no global-ordered window anywhere
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the within-bucket window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "found an unpartitioned (single-task) window in the plan")
    val r = out.head()
    // brute force over all (pos, neg) pairs
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val wins2 = pos.map(p => neg.count(_ < p).toLong).sum
    val ties = pos.map(p => neg.count(_ == p).toLong).sum
    assert(r.getLong(0) == pos.size.toLong &&
      r.getLong(1) == neg.size.toLong)
    assert(r.getLong(2) == wins2, s"wins ${r.getLong(2)} vs $wins2")
    assert(r.getLong(3) == ties, s"ties ${r.getLong(3)} vs $ties")
    val expect = math.floor((2.0 * wins2 + ties) /
      (2.0 * pos.size * neg.size) * 1e6 + 0.5).toLong
    assert(r.getLong(4) == expect)
  }

  test("aucByLabel: degenerate numeric ranges (constant, ±Inf, NaN) " +
    "fall back to one bucket and stay exact") {
    import spark.implicits._
    val const = Seq((5.0, true), (5.0, false), (5.0, true)).toDF("s", "y")
    val rc = Classifier.aucByLabel(const, "s", "y").head()
    // all tied: AUC = ties/2 / pairs = 0.5
    assert(rc.getLong(4) == 500000L)
    val inf = Seq((Double.NegativeInfinity, false), (0.0, false),
      (1.0, true), (Double.PositiveInfinity, true)).toDF("s", "y")
    assert(Classifier.aucByLabel(inf, "s", "y").head()
      .getLong(4) == 1000000L)
    val nan = Seq((Double.NaN, true), (1.0, true), (0.0, false))
      .toDF("s", "y")
    // NaN sorts greatest: both positives out-rank the one negative
    assert(Classifier.aucByLabel(nan, "s", "y").head()
      .getLong(4) == 1000000L)
  }

  test("aucByLabel: date and timestamp scores bucket without an " +
    "analysis error (regression: cast(date as double) is illegal)") {
    import spark.implicits._
    import java.sql.{Date, Timestamp}
    val dates = Seq(
      (Date.valueOf("2024-03-01"), true), (Date.valueOf("2024-02-01"), true),
      (Date.valueOf("2024-01-01"), false), (Date.valueOf("2024-02-01"), false)
    ).toDF("s", "y")
    val rd = Classifier.aucByLabel(dates, "s", "y").head()
    // pos {03-01, 02-01}, neg {01-01, 02-01}: wins 3, ties 1 → 0.875
    assert(rd.getLong(2) == 3L && rd.getLong(3) == 1L &&
      rd.getLong(4) == 875000L)
    val tss = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), true),
      (Timestamp.valueOf("2024-01-01 05:00:00"), false)).toDF("s", "y")
    assert(Classifier.aucByLabel(tss, "s", "y").head().getLong(4)
      == 1000000L)
  }

  test("aucByLabel: boolean scores bucket (false < true), exact") {
    import spark.implicits._
    val df = Seq((true, true), (true, false), (false, true),
      (false, false), (true, true)).toDF("s", "y")
    val r = Classifier.aucByLabel(df, "s", "y").head()
    // pos scores {T,F,T}, neg {T,F}: wins = T>F twice = 2, ties:
    // T-T pairs 2, F-F pairs 1 → 3
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L)
    val wins = Classifier.aucByLabel(df, "s", "y")
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("aucByLabel: string scores bucket via the 8-byte prefix — " +
    "hand-counted pairs stay exact") {
    import spark.implicits._
    val df = Seq(("c", true), ("b", true), ("a", false), ("b", false))
      .toDF("s", "y")
    val r = Classifier.aucByLabel(df, "s", "y").head()
    // pos {c, b}, neg {a, b}: wins = c>{a,b} + b>{a} = 3, ties = 1
    assert(r.getLong(2) == 3L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 875000L)
  }

  test("aucByLabel: string scores — brute-force parity over multi-byte " +
    "UTF-8 and shared-8-byte prefixes, NO unpartitioned window") {
    import spark.implicits._
    // adversarial inputs for the byte-prefix bucket map: strings that
    // agree on their first 8 bytes and differ after (the map MUST tie
    // them into one bucket and the within-bucket window resolve them),
    // multi-byte UTF-8 (é=2 bytes, 日=3, 🚀=4 — high bytes exercise
    // the UNSIGNED reading; a signed one would order them before
    // ASCII), empty and 1-char strings (right zero-pad), and exact
    // duplicates across labels for the tie arithmetic
    val pool = Vector("", "a", "z", "prefix__", "prefix__a", "prefix__b",
      "prefix__zzzz", "café", "cafz", "日本語テキスト", "日本語テキス",
      "🚀rocket", "🚀🚀", "ÿÿ", "~tilde", "same8byt-x",
      "same8byt-y", "abc", "abd", "ab")
    val rows = (0 until 600).map { i =>
      val s = pool(((i.toLong * 2654435761L) % pool.size).toInt.abs)
      (s, (i * 2654435761L % 3L) != 0L)
    }
    val df = rows.toDF("s", "y").repartition(5)
    val out = Classifier.aucByLabel(df, "s", "y")
    // the plan assertion is now UNCONDITIONAL for strings: every
    // Window partitioned, none global
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the within-bucket window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "found an unpartitioned (single-task) window in the plan")
    val r = out.head()
    // brute force with Spark's own comparator semantics: UTF8String
    // byte-wise unsigned comparison == comparing UTF-8 byte arrays
    def bytes(s: String) = s.getBytes("UTF-8")
    def lt(a: String, b: String): Boolean = {
      val (x, y) = (bytes(a), bytes(b))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val wins2 = pos.map(p => neg.count(q => lt(q, p)).toLong).sum
    val ties = pos.map(p => neg.count(_ == p).toLong).sum
    assert(r.getLong(2) == wins2, s"wins ${r.getLong(2)} vs $wins2")
    assert(r.getLong(3) == ties, s"ties ${r.getLong(3)} vs $ties")
    val expect = math.floor((2.0 * wins2 + ties) /
      (2.0 * pos.size * neg.size) * 1e6 + 0.5).toLong
    assert(r.getLong(4) == expect)
  }
}
