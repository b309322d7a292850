package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation: nearest-centroid
  * assignment, Lloyd's k-means, and SemDeDup-style semantic
  * deduplication (cluster the corpus, then drop documents whose
  * embedding is near-identical to an earlier document in the same
  * cluster — Abbas et al. 2023, arXiv:2303.09540). No reference
  * equivalent (pgloader is pure ETL) — extension surface, Spark-first.
  *
  * Scale invariants:
  *   - centroids are k×dim doubles — always broadcast, never shuffled;
  *   - assignment is ONE corpus scan per iteration (crossJoin with the
  *     broadcast centroid table + a min-by reduction — no corpus-side
  *     shuffle at all);
  *   - centroid recomputation is a (cluster, dim) hash aggregate whose
  *     result is k×dim rows — collected to the driver like the
  *     reference's own driver-side guessers (csv-guess.lisp:56-77
  *     samples to the client the same way);
  *   - semantic dedup's quadratic step is WITHIN-cluster only: k is
  *     the knob that bounds expected cluster size (SemDeDup's own
  *     design — pick k ∝ corpus size so clusters stay joinable).
  */
object Cluster {

  /** Squared L2 distance between two numeric array columns — native
    * Catalyst expression ([[graft.functions.VecDist2]]) with fused
    * codegen; bit-identical fold order to the HOF spelling it replaced. */
  def dist2(a: Column, b: Column): Column =
    graft.functions.VecExpressions.vecDist2(a, b)

  /** Assign every vector to its nearest centroid (squared L2, ties by
    * lowest cluster id). `centroids` must be small (k rows) — it is
    * collected into the plan as literals (k×dim doubles, the same size
    * contract as a broadcast); the corpus side is scanned once and
    * never shuffled: the min-by happens inside a single projection
    * (`least` over k (dist², cluster) structs), not a window.
    *
    * Output: (idCol, carry…, cluster, dist2). `carry` names input
    * columns to project through (e.g. the vector itself for a Lloyd
    * recomputation step — carrying it here keeps the iteration a single
    * scan instead of a corpus self-join to recover it).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cidCol: String = "cluster_id",
             cvecCol: String = "centroid",
             carry: Seq[String] = Nil): DataFrame = {
    // fold the k (cluster, centroid) pairs into ONE struct-valued
    // min(...) expression via a collected centroid array: the corpus
    // row never leaves its partition and the comparison is codegen'd.
    // Contract: k×dim literals must stay PLAN-small (≲10⁵ doubles —
    // tighter than a broadcast TABLE's limit, because these are
    // folded into the expression tree and codegen'd); at
    // SemDeDup-scale k (10⁴ clusters × 10²⁺ dims) switch to the
    // crossJoin(broadcast(centroids)) + per-row min shape instead.
    val cents = centroids.select(col(cidCol), col(cvecCol))
      .collect().sortBy(_.getAs[Any](cidCol).toString)
    val scored = cents.map { r =>
      val cid = r.get(0)
      val vec = array(r.getSeq[Any](1).map(v => lit(v)): _*)
      struct(dist2(col(vecCol), vec).as("d2"),
        lit(cid).as("cluster"))
    }
    // least() requires >= 2 args; k = 1 is legitimate (one cluster)
    val best = if (scored.length == 1) scored.head else least(scored: _*)
    df.select(col(idCol) +: carry.map(col) :+
        best.as("__best"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("__best.cluster").as("cluster") :+
        col("__best.d2").as("dist2"): _*)
  }

  /** Lloyd's k-means over INTEGER-quantized vectors with floor-division
    * centroid updates — every intermediate value is an integer that
    * doubles represent exactly (sums of |q|<=2^20 longs stay far under
    * 2^53, and floor(S/N) can only disagree with the rational floor
    * when N > 2/ulp — ~10^13 rows per cluster), so the whole iteration
    * is bit-reproducible on ANY engine: same seeds, same assignments,
    * same centroids, run to run and engine to engine. That determinism
    * is what makes an iterative fit oracle-checkable at all — and at
    * 100 TB it also means a re-run after a lost stage reproduces the
    * same model instead of drifting.
    *
    * Each iteration is one corpus scan to assign (centroids folded
    * into a codegen'd projection, zero corpus shuffle) + one (cluster,
    * dim) hash aggregate collected to the driver (k×dim rows); nothing
    * corpus-sized is cached or collected. Seeding: the k lowest-id
    * vectors. Empty clusters keep their previous centroid. Returns
    * (centroids, assignments): centroids as a local k-row DataFrame
    * (cluster_id, centroid), assignments as (idCol, cluster, dist2).
    *
    * Contract: `idCol` must be LONG-CASTABLE — ids key the
    * deterministic seeding order and the assignments output; map
    * string ids to a dense numeric key upstream.
    */
  def kmeansExact(spark: SparkSession, df: DataFrame, idCol: String,
                  vecCol: String, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 0, s"need k>=1, iters>=0; got $k/$iters")
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("long")).as("v"))
    var centroids: Seq[(Int, Seq[Long])] = vecs
      .orderBy(col("id")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
    for (_ <- 0 until iters) {
      val cdf = centroids.toDF("cluster_id", "centroid")
      val sums = assign(vecs, "id", "v", cdf, carry = Seq("v"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("pos"),
          floor(col("s").cast("double") / col("n")).cast("long").as("m"))
        .collect()
        .groupBy(_.getAs[Number](0).intValue)
        .map { case (cid, rows) =>
          cid -> rows.map(r => (r.getAs[Number](1).intValue,
            r.getLong(2))).sortBy(_._1).map(_._2).toSeq
        }
      centroids = centroids.map { case (cid, prev) =>
        (cid, sums.getOrElse(cid, prev))
      }
    }
    val cdf = centroids.toDF("cluster_id", "centroid")
    (cdf, assign(vecs, "id", "v", cdf)
      .withColumnRenamed("id", idCol))
  }

  /** SemDeDup: drop every document that has an EARLIER (lower-id)
    * document in the same cluster with cosine similarity >= threshold.
    * Non-transitive by design (the SemDeDup rule): each doc is compared
    * to all earlier docs of its cluster, so the survivor set is exactly
    * the ids with no near-identical predecessor.
    *
    * `centroids` bounds the quadratic step: the self-join is on the
    * cluster key, so the pair count is Σ |cluster|² — pick k so
    * clusters stay small (SemDeDup uses k ≈ corpus_size / 10⁴).
    * Output: the KEPT (id, cluster) rows.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double)
      : DataFrame = {
    // Pair-predicate cost dominates (it runs once per within-cluster
    // candidate pair, and higher-order aggregates are interpreted, not
    // codegen'd): precompute each vector's norm ONCE so the pair test
    // is a single dot-product HOF — `dot(x,y) >= t·|x|·|y|` — instead
    // of cosine's three aggregates per pair. The assigned frame feeds
    // THREE consumers (both self-join sides + the anti-join left), so
    // it is shared rather than re-running the k-distance assignment
    // scan per consumer.
    val a = Reuse.shared(
      assign(df, idCol, vecCol, centroids, carry = Seq(vecCol))
        .select(col(idCol).as("id"), col("cluster"),
          col(vecCol).as("v"))
        .withColumn("nrm", Similarity.norm(col("v"))))
    // left_anti tolerates duplicate right-side ids, so the dropped set
    // needs no distinct (saves a shuffle + aggregate).
    val dropped = a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.id") < col("x.id") &&
          // zero vectors never match anything: cosine with a zero
          // vector is undefined (NaN never passes), but the norm-scaled
          // inequality would degenerate to 0 >= 0 = true
          col("x.nrm") > 0 && col("y.nrm") > 0 &&
          Similarity.dot(col("x.v"), col("y.v")) >=
            lit(threshold) * col("x.nrm") * col("y.nrm"))
      .select(col("x.id").as("id"))
    a.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cluster"))
  }
}
