package graft

import graft.pipeline.Cluster
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec {

  test("PQ: train/encode/topK recovers an exact-match vector first") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // 4-dim vectors, m=2 subspaces of 2 dims; two well-separated modes
    // per subspace so ksub=2 kmeans converges immediately
    val corpus = Seq(
      (10L, Seq(0L, 0L, 100L, 100L)),
      (11L, Seq(2L, 1L, 98L, 101L)),
      (12L, Seq(100L, 99L, 0L, 2L)),
      (13L, Seq(101L, 100L, 1L, 0L)),
      (14L, Seq(0L, 1L, 1L, 2L)),
      (15L, Seq(99L, 100L, 100L, 99L)))
      .toDF("c_id", "c_vec")
    val codebook = Similarity.pqTrain(corpus, "c_id", "c_vec",
      dim = 4, m = 2, ksub = 2, iters = 2)
    assert(codebook.count() == 4) // 2 subspaces x 2 centroids
    val codes = Similarity.pqEncode(corpus, "c_id", "c_vec",
      codebook, dim = 4, m = 2)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // vectors sharing both modes share both codes
    assert(codeMap(10L) == codeMap(11L))
    assert(codeMap(12L) == codeMap(13L))
    assert(codeMap(10L) != codeMap(12L))
    // query identical to doc 10: its cell-mates (10, 11) must be the
    // top-2 by ADC distance
    val queries = Seq((1L, Seq(1L, 0L, 99L, 100L))).toDF("q_id", "q_vec")
    val top = Similarity.pqTopK(queries, codes, codebook,
        dim = 4, m = 2, k = 2)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(top.toSet == Set(10L, 11L))
  }

  test("PQ codes stay within [0, ksub) and cover every corpus row") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextInt(2000).toLong - 1000L)))
      .toSeq.toDF("c_id", "c_vec")
    val cb = Similarity.pqTrain(corpus, "c_id", "c_vec",
      dim = 8, m = 4, ksub = 4, iters = 1)
    val codes = Similarity.pqEncode(corpus, "c_id", "c_vec",
      cb, dim = 8, m = 4).collect()
    assert(codes.length == 50)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 4))
    }
  }

  private def vecsDF(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("assign picks the nearest centroid, ties to the lowest cluster id") {
    import spark.implicits._
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)))
      .toDF("cluster_id", "centroid")
    val pts = vecsDF(Seq(
      (1L, Seq(1.0, 0.0)),   // near cluster 0
      (2L, Seq(9.0, 0.0)),   // near cluster 1
      (3L, Seq(5.0, 0.0))))  // equidistant -> cluster 0
    val got = Cluster.assign(pts, "id", "v", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0), (2L, 1), (3L, 0)))
  }

  private def qvecsDF(rows: Seq[(Long, Seq[Long])]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("kmeans recovers well-separated clusters and is deterministic") {
    // two tight quantized blobs around (0,0) and (1000,1000); seeds are
    // the two lowest ids, one in each blob by construction
    val rows = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0L else 1000L
      (i, Seq(base + i % 5, base - i % 3))
    }
    val df = qvecsDF(rows)
    val (cents, assigned) = Cluster.kmeansExact(spark, df, "id", "v",
      k = 2, iters = 4)
    val byCluster = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).toSet }
    assert(byCluster.size == 2)
    // each blob lands wholly in one cluster
    val even = (0L until 20L by 2).toSet
    assert(byCluster.values.toSet == Set(even, (0L until 20L).toSet -- even))
    // centroids are the floored blob means: x sums to 20 over 10
    // points, y to -9
    val cmap = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).toMap
    assert(cmap(0) == Seq(2L, -1L))
    // rerun is bit-identical (deterministic seeding, no rand)
    val (_, again) = Cluster.kmeansExact(spark, df, "id", "v",
      k = 2, iters = 4)
    assert(again.collect().map(r => (r.getLong(0), r.getInt(1))).sorted
      .sameElements(assigned.collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted))
  }

  test("kmeans iterations do not increase inertia") {
    // floor division moves a centroid less than one unit from its
    // cluster mean, which cannot undo a Lloyd step on points spread
    // hundreds of units apart
    val rows = (0L until 40L).map { i =>
      (i, Seq(i * 37 % 11 * 100, i * 53 % 7 * 100))
    }
    val df = qvecsDF(rows)
    def inertia(iters: Int): Double = {
      val (_, a) = Cluster.kmeansExact(spark, df, "id", "v", k = 3,
        iters = iters)
      a.agg(sum(col("dist2"))).head().getDouble(0)
    }
    val i0 = inertia(0); val i2 = inertia(2); val i5 = inertia(5)
    assert(i2 <= i0)
    assert(i5 <= i2)
  }

  test("kmeans-trained centroids drive ivfTopK at full recall on blobs") {
    import graft.pipeline.Similarity
    // three well-separated quantized blobs in 4-d; nprobe=1 must
    // already find the true neighbors because k-means recovers the
    // blob structure
    val pts = (0L until 30L).map { i =>
      val c = i % 3
      val base = Seq(Seq(1000L, 0L, 0L, 0L), Seq(0L, 1000L, 0L, 0L),
        Seq(0L, 0L, 1000L, 0L))(c.toInt)
      (i, base.zipWithIndex.map { case (v, d) => v + (i * 7 + d) % 5 })
    }
    val df = qvecsDF(pts)
    val (cents, _) = Cluster.kmeansExact(spark, df, "id", "v", k = 3,
      iters = 3)
    val ivfCents = cents.select(col("cluster_id").as("ct_id"),
      col("centroid").as("ct_vec"))
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("q_id"), col("v").as("q_vec"))
    val corpus = df.filter(col("id") >= 3)
      .select(col("id").as("c_id"), col("v").as("c_vec"))
    val ivf = Similarity.ivfTopK(queries, corpus, ivfCents, k = 3,
        nprobe = 1)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == bf)
  }

  test("kmeansExact: floor-division centroids, hand-checked iteration") {
    import spark.implicits._
    // 1-d quantized points; k=2 seeds = ids 0,1 -> centroids 0 and 10.
    // assign: {0,3} -> c0 (3 ties? |3-0|=3 > |3-10|=7 no; 3->c0),
    // {10,12,17} -> c1. update: c0 = floor(3/2)=1, c1 = floor(39/3)=13
    val df = Seq((0L, Seq(0L)), (1L, Seq(10L)), (2L, Seq(3L)),
      (3L, Seq(12L)), (4L, Seq(17L))).toDF("id", "v")
    val (cents, assigned) = Cluster.kmeansExact(spark, df, "id", "v",
      k = 2, iters = 1)
    val cmap = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).head)).toMap
    assert(cmap == Map(0 -> 1L, 1 -> 13L))
    val amap = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(amap == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("kmeansExact keeps the previous centroid for an empty cluster") {
    import spark.implicits._
    // seed 1 at 100 attracts nothing once both points sit at 0-2:
    // only ids 0,1 exist; c1's cluster holds just id 1 -> stays 100;
    // then add far outlier handled by floor math unchanged on rerun
    val df = Seq((0L, Seq(0L)), (1L, Seq(100L)), (2L, Seq(1L)),
      (3L, Seq(2L))).toDF("id", "v")
    val (c1, _) = Cluster.kmeansExact(spark, df, "id", "v",
      k = 2, iters = 3)
    val (c2, _) = Cluster.kmeansExact(spark, df, "id", "v",
      k = 2, iters = 3)
    assert(c1.collect().map(_.toString).sorted
      .sameElements(c2.collect().map(_.toString).sorted))
  }

  test("semanticDedup drops later near-identical docs within a cluster") {
    import spark.implicits._
    val cents = Seq((0, Seq(0.0, 0.0, 0.0)), (1, Seq(100.0, 0.0, 0.0)))
      .toDF("cluster_id", "centroid")
    val pts = vecsDF(Seq(
      (1L, Seq(1.0, 0.1, 0.0)),
      (2L, Seq(1.0, 0.1001, 0.0)),    // near-copy of 1 -> dropped
      (3L, Seq(0.0, 5.0, 0.0)),       // same cluster, dissimilar -> kept
      (10L, Seq(99.0, 1.0, 0.0)),
      (11L, Seq(99.0, 1.0001, 0.0)))) // near-copy of 10 -> dropped
    val kept = Cluster.semanticDedup(pts, "id", "v", cents, 0.999)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 10L))
  }

  test("semanticDedup: zero vectors never match anything") {
    import spark.implicits._
    val cents = Seq((0, Seq(0.0, 0.0))).toDF("cluster_id", "centroid")
    val pts = vecsDF(Seq(
      (1L, Seq(0.0, 0.0)),   // zero vector: matches nothing
      (2L, Seq(0.0, 0.0)),   // second zero vector: also kept
      (3L, Seq(1.0, 0.0)),   // non-zero after zeros: kept
      (4L, Seq(1.0, 0.0))))  // exact copy of 3 -> dropped
    val kept = Cluster.semanticDedup(pts, "id", "v", cents, 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
  }

  test("hardPairs: nearest other-label and farthest same-label, self excluded") {
    import spark.implicits._
    // 1-D integer vectors make dot products readable: anchor a=(10), label 0
    val anchors = Seq((1L, Seq(10L), 0)).toDF("a_id", "a_vec", "a_label")
    val corpus = Seq(
      (1L, Seq(10L), 0),   // same id+label: excluded from positives
      (2L, Seq(9L), 0),    // pos, score 90
      (3L, Seq(2L), 0),    // pos, score 20 → hardest positive (rank 1)
      (4L, Seq(8L), 1),    // neg, score 80 → hardest negative (rank 1)
      (5L, Seq(3L), 1),    // neg, score 30
      (6L, Seq(8L), 1))    // neg, score 80, tie → id order after 4
      .toDF("c_id", "c_vec", "c_label")
    val got = graft.pipeline.Similarity.hardPairs(anchors, corpus, k = 2)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("neg", 1, 4L, 80.0), ("neg", 2, 6L, 80.0),
      ("pos", 1, 3L, 20.0), ("pos", 2, 2L, 90.0)))
  }

  test("hardPairs: null vectors sort last, null labels match neither kind") {
    import spark.implicits._
    val anchors = Seq((1L, Seq(10L), Some(0))).toDF("a_id", "a_vec", "a_label")
    val corpus = Seq(
      (2L, Some(Seq(9L)), Some(0)),   // pos, score 90
      (3L, None: Option[Seq[Long]], Some(0)), // null vec: never rank 1
      (4L, Some(Seq(8L)), Some(1)),   // neg, score 80
      (5L, Some(Seq(7L)), None))      // null label: neither kind
      .toDF("c_id", "c_vec", "c_label")
    val got = graft.pipeline.Similarity
      .hardPairs(anchors, corpus, k = 1)
      .collect().map(r => (r.getString(1), r.getLong(3))).sorted.toSeq
    assert(got == Seq(("neg", 4L), ("pos", 2L)))
  }
}
