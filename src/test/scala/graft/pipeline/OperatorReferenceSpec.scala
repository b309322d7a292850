package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized cross-checks of the round-12 rule/sketch/drift operators
  * against independent driver-side scalar references — one Spark job
  * per property over a seeded random corpus (batch-style, not
  * per-case forAll: a Spark job per ScalaCheck case would dominate the
  * suite's wall). The references restate the SEMANTICS in plain Scala
  * (Java regex + arithmetic), so an operator bug in HOF plumbing,
  * regex dialect or rounding shows up as a row mismatch. */
class OperatorReferenceSpec extends SparkSpec {

  private val rng = new scala.util.Random(0xC0FFEE)
  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  // ---- random corpus shared by the rule-set properties ----
  private val vocabulary = Seq("the", "be", "to", "of", "and", "that",
    "have", "with", "cat", "dog", "spark", "merge", "a", "#", "...",
    "-", "•", "javascript", "lorem", "ipsum", "{", "x1", "longword")
  private def randomDoc(): String = {
    val n = rng.nextInt(80)
    (0 until n).map { _ =>
      val w = vocabulary(rng.nextInt(vocabulary.length))
      if (rng.nextInt(8) == 0) w + "\n" else w + " "
    }.mkString
  }
  private lazy val docs = (0 until 200).map(i => (i.toLong, randomDoc()))

  test("gopherRules matches a scalar reference on 200 random docs") {
    import spark.implicits._
    def ref(text: String) = {
      val t = text.toLowerCase
      val words = t.split("\\s+").filter(_.nonEmpty)
      val lines = t.split("\n", -1)
      val nW = words.length.toLong
      val nL = lines.length.toLong
      val safeW = math.max(nW, 1L).toDouble
      val safeL = math.max(nL, 1L).toDouble
      val sumLen = words.map(_.length.toLong).sum
      val nEll = (t.length - t.replace("...", "").length) / 3.0
      val nHash = (t.length - t.replace("#", "").length).toDouble
      def cnt(xs: Array[String], re: String) =
        xs.count(s => re.r.findFirstIn(s).isDefined)
      val nBullet = cnt(lines, "^\\s*[-•*]")
      val nEllLine = cnt(lines, "\\.\\.\\.\\s*$")
      val nAlpha = cnt(words, "[a-z]")
      val stop = Seq("the", "be", "to", "of", "and", "that", "have",
        "with").count(words.contains)
      val m = (nW, nL, micro(sumLen.toDouble / safeW),
        micro(nHash / safeW), micro(nEll / safeW),
        micro(nBullet / safeL), micro(nEllLine / safeL),
        micro(nAlpha / safeW), stop.toLong)
      val pass = m._1 >= 50 && m._1 <= 100000 &&
        m._3 >= 3000000L && m._3 <= 10000000L &&
        m._4 <= 100000L && m._5 <= 100000L &&
        m._6 <= 900000L && m._7 <= 300000L &&
        m._8 >= 800000L && m._9 >= 2L
      (m, pass)
    }
    val got = Curation.gopherRules(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("id").collect()
    docs.zip(got).foreach { case ((id, text), row) =>
      val (m, pass) = ref(text)
      val gm = (row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5), row.getLong(6), row.getLong(7),
        row.getLong(8), row.getLong(9))
      assert(row.getLong(0) == id)
      assert(gm == m, s"doc $id features: got $gm want $m [$text]")
      assert(row.getBoolean(10) == pass, s"doc $id pass [$text]")
    }
  }

  test("c4Rules matches a scalar reference on 200 random docs") {
    import spark.implicits._
    def ref(text: String) = {
      val lines = text.split("\n", -1)
      val kept = lines.filter { l =>
        "[.!?\"]$".r.findFirstIn(l.replaceAll(" +$", "")).isDefined &&
          l.split("\\s+").count(_.nonEmpty) >= 5 &&
          !l.toLowerCase.contains("javascript")
      }
      val keep = kept.length >= 3 &&
        !text.toLowerCase.contains("lorem ipsum") &&
        !text.contains("{")
      (lines.length.toLong, kept.length.toLong, keep, kept.mkString("\n"))
    }
    val got = Curation.c4Rules(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("id").collect()
    docs.zip(got).foreach { case ((id, text), row) =>
      val (nl, nk, keep, clean) = ref(text)
      assert((row.getLong(1), row.getLong(2), row.getBoolean(3),
        row.getString(4)) == ((nl, nk, keep, clean)),
        s"doc $id [$text]")
    }
  }

  test("CMS never undercounts over random corpora and geometries") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val width = 1 + rng.nextInt(64)
      val depth = 1 + rng.nextInt(4)
      val items = (0 until 500).map(_ => s"t${rng.nextInt(40)}")
      val df = items.toDF("w")
      val exact = items.groupBy(identity).map { case (k, v) =>
        (k, v.size.toLong) }
      val sk = Sketches.cmsSketch(df, "w", width, depth)
      val est = Sketches.cmsEstimate(sk, df.distinct(), "w", width, depth)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet == exact.keySet)
      est.foreach { case (k, e) =>
        assert(e >= exact(k),
          s"trial $trial ($width×$depth): undercount on $k")
      }
    }
  }

  test("valueKs: symmetric, bounded, zero on identical cohorts") {
    import spark.implicits._
    val a = (0 until 300).map(_ => rng.nextInt(40).toDouble).toDF("value")
    val b = (0 until 200).map(_ => (rng.nextInt(40) + 5).toDouble)
      .toDF("value")
    val ab = Drift.valueKs(a, b, "value").head().getLong(2)
    val ba = Drift.valueKs(b, a, "value").head().getLong(2)
    assert(ab == ba)                       // |F_a - F_b| is symmetric
    assert(ab >= 0L && ab <= 1000000L)     // a probability gap
    assert(Drift.valueKs(a, a, "value").head().getLong(2) == 0L)
  }

  test("snapshotDiff matches a scalar set-reconciliation reference") {
    import spark.implicits._
    val v1 = (0 until 150).map(i => (i.toLong, s"doc-${rng.nextInt(30)}"))
    val v2 = (50 until 200).map(i => (i.toLong, s"doc-${rng.nextInt(30)}"))
    val m1 = v1.toMap; val m2 = v2.toMap
    val expect = ((m1.keySet ++ m2.keySet).flatMap { id =>
      (m1.get(id), m2.get(id)) match {
        case (Some(_), None) => Some(id -> "removed")
        case (None, Some(_)) => Some(id -> "added")
        case (Some(x), Some(y)) if x != y => Some(id -> "changed")
        case _ => None
      }
    }).toMap
    val got = Curation.snapshotDiff(v1.toDF("id", "text"),
        v2.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expect)
  }

  test("sampling and splitting are independent (distinct salts)") {
    import spark.implicits._
    val ids = (1L to 400L).map(i => (i, "s")).toDF("id", "stratum")
    val kept = Curation.weightedSample(ids, "stratum", "id",
      Map("s" -> 0.25))
    val splits = Curation.hashSplit(kept, "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // with one UNSALTED shared hash every sampled row sits below the
    // first band and val/test are empty; distinct salts keep all three
    assert(splits.keySet == Set("train", "val", "test"), splits.toString)
  }

  test("sourceDivergence treats a NULL stratum as a real stratum") {
    import spark.implicits._
    // both strata have the corpus distribution → p = q → JS exactly 0;
    // a null-unsafe join would score the null stratum at p≡0 (~½·ln 2)
    val docs = Seq((Some("A"), "x y"), (None, "x y"))
      .toDF("source", "text")
    val got = Terms.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getLong(2)).toSeq
    assert(got == Seq(0L, 0L))
  }

  test("psiFromBinCounts fails loudly on out-of-range bins") {
    import spark.implicits._
    val bad = Seq(("g", 12, 5L)).toDF("g", "bin", "c")
    val ref = Seq((0, 1L)).toDF("bin", "cr")
    val e = intercept[Exception] {
      Drift.psiFromBinCounts(bad, "g", "bin", "c", ref, "bin", "cr",
        bins = 10).collect()
    }
    assert(e.getMessage != null)
  }

  test("cmsSketch rejects negative weights loudly") {
    import spark.implicits._
    val df = Seq(("a", 5L), ("b", -2L)).toDF("w", "n")
    val e = intercept[Exception] {
      Sketches.cmsSketch(df, "w", 16, 2, Some("n")).collect()
    }
    assert(e.getMessage != null)
  }

  test("splitLeakage ignores null-text rows; centroids skip NaN/null") {
    import spark.implicits._
    val docs = Seq((1L, Some("dup")), (2L, Some("dup")),
      (3L, None), (4L, None), (5L, None)).toDF("doc_id", "text")
    val leaks = Curation.splitLeakage(docs, "doc_id", "text",
      Seq("train" -> 0.5, "test" -> 0.5)).collect()
    // only the real 'dup' group may surface — never a null-text group
    assert(leaks.forall(_.getLong(1) == 2L))
    val vecs = Seq((0, Seq(1.0f)), (0, Seq(Float.NaN)),
      (0, Seq(3.0f))).toDF("label", "embedding")
    val c = Drift.labelCentroids(vecs, "embedding", "label").head()
    assert(c.getLong(2) == 2L)            // NaN component dropped from n
    assert(c.getDouble(4) == 2.0)         // mean of the VALID 1.0 and 3.0
  }

  test("repetitionFeatures scores null text (0, 0) consistently") {
    import spark.implicits._
    val docs = Seq((1L, Option.empty[String]), (2L, Some("a a")))
      .toDF("doc_id", "text")
    val r = Curation.repetitionFeatures(docs, "doc_id", "text")
      .orderBy("id").collect()
    assert(r(0).getDouble(1) == 0.0 && r(0).getDouble(2) == 0.0)
    assert(r(1).getDouble(1) == 0.5)
  }

  test("tokens() drops boundary empties; fingerprints trim-insensitive") {
    import spark.implicits._
    val r = spark.range(1).select(
      TextAnalysis.tokenCount(lit(" hello world ")).as("n"),
      TextAnalysis.tokenCount(lit("   ")).as("blank"),
      TextAnalysis.fingerprint(lit("a b")).as("f1"),
      TextAnalysis.fingerprint(lit(" a b ")).as("f2"),
      TextAnalysis.scriptProfile(lit(null: String)).as("p")).head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 0)
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getStruct(4).getString(7) == "other") // null text dominant
  }

  test("stripMarkup drops uppercase/space-closed script content") {
    import spark.implicits._
    val html = "a <SCRIPT>var x;</SCRIPT> b <Style>p{}</style > c"
    val got = spark.range(1)
      .select(TextAnalysis.stripMarkup(lit(html))).head().getString(0)
    assert(got == "a b c")
  }

  test("cosine is NULL on zero-norm vectors; top-k never crashes") {
    import spark.implicits._
    val queries = Seq((1L, Seq(0.0, 0.0))).toDF("q_id", "q_vec")
    val corpus = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 0.0)))
      .toDF("c_id", "c_vec")
    // zero-norm query: every cosine NULL, ranks still total-ordered
    val r = Similarity.bruteForceTopK(queries, corpus, k = 2).collect()
    assert(r.length == 2 && r.forall(_.isNullAt(2)))
    // zero-norm corpus row sinks below a real neighbor
    val q2 = Seq((1L, Seq(1.0, 0.0))).toDF("q_id", "q_vec")
    val top = Similarity.bruteForceTopK(q2, corpus, k = 1).head()
    assert(top.getLong(1) == 10L)
  }

  test("aucByLabel excludes NULL labels and NULL scores") {
    import spark.implicits._
    val df = Seq((Some(3L), Some(true)), (Some(1L), Some(false)),
      (Some(9L), None), (None, Some(true))).toDF("s", "y")
    val r = Classifier.aucByLabel(df, "s", "y").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    assert(r.getLong(4) == 1000000L)
  }

  test("every query has an oracle and every oracle has a query") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
    val names = graft.SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    assert(graft.SparkEntry.all.size == graft.SparkEntry.queries.size)
  }
}
