package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`/`Array[Double]`). Extension surface beyond the
  * reference, Spark-first: dot products via `zip_with`+`aggregate`
  * (codegen'd), top-k via window rank, and an LSH-bucketed scale path that
  * turns the cross product into a hash join.
  */
object Similarity {

  /** Dot product of two numeric array columns — a native Catalyst
    * expression ([[graft.functions.VecDot]]) with fused codegen: one loop
    * over the two ArrayData buffers, no intermediate zipped array.
    * Bit-identical to the previous `aggregate(zip_with(...))` spelling
    * (double widening, index-order accumulation from +0.0). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NULL for zero-norm inputs (the quantity is
    * undefined there, and an unguarded division is a DIVIDE_BY_ZERO
    * crash under the ANSI mode this library targets). NULLs sort last
    * under the descending rank every top-k here uses, so an all-zeros
    * vector can never displace a real neighbor. */
  def cosine(a: Column, b: Column): Column = {
    val np = norm(a) * norm(b)
    when(np =!= 0.0, dot(a, b) / np)
  }

  /** Brute-force cosine top-k: every query scored against every corpus
    * vector. Baseline / oracle path. The queries side MUST be small — it is
    * broadcast, so the corpus is never shuffled, only scanned: at 100 TB
    * corpus scale this is one pass, embarrassingly parallel. Ties broken by
    * corpus id for determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "q_id", qVec: String = "q_vec",
                     cId: String = "c_id", cVec: String = "c_vec")
      : DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qId), col(cId), cosine(col(qVec), col(cVec)).as("cosine"))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("cosine").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-pair mining for contrastive/metric training: for each anchor,
    * the top-`k` HIGHEST-scoring candidates with a DIFFERENT label
    * (`kind = "neg"` — the near-misses a contrastive loss learns most
    * from) and the top-`k` LOWEST-scoring candidates with the SAME
    * label (`kind = "pos"` — the hardest positives). The curation step
    * behind triplet/InfoNCE dataset construction.
    *
    * Scale shape follows [[bruteForceTopK]]: the anchor set MUST be
    * small (it broadcasts; the corpus is scanned once, never shuffled
    * wider than (anchor, candidate, score) rows, and the per-anchor
    * row_number filter triggers WindowGroupLimit pushdown). For
    * corpus-sized anchor sets, run per anchor batch, or feed the
    * candidate generation from [[lshTopK]]/[[ivfTopK]] instead of the
    * cross product.
    *
    * `score` defaults to [[dot]] — pass normalized (or milli-quantized
    * integer) vectors for cosine semantics with engine-exact sums.
    * Same-id pairs are excluded from positives (a vector is not its own
    * hard positive); anchors and corpus share an id space only if the
    * caller says so, which is why ids, vectors and labels all have
    * column-name knobs. NULL semantics: rows with a NULL label on
    * either side match neither kind (SQL three-valued comparison —
    * documented, not accidental), and NULL scores (a NULL vector)
    * sort LAST in both orderings, so an unscoreable row can never
    * displace a real pair from the top-k.
    *
    * The scored cross product ((anchor, candidate, score) — anchors ×
    * corpus rows, far narrower than the corpus when anchors are the
    * documented small set) feeds both kinds through [[Reuse.shared]].
    *
    * Output: (aId, kind, rank, cId, score), rank 1..k per (anchor,
    * kind), ties broken by candidate id.
    */
  def hardPairs(anchors: DataFrame, corpus: DataFrame, k: Int,
                aId: String = "a_id", aVec: String = "a_vec",
                aLabel: String = "a_label",
                cId: String = "c_id", cVec: String = "c_vec",
                cLabel: String = "c_label",
                score: (Column, Column) => Column = dot): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = Reuse.shared(corpus.crossJoin(broadcast(anchors))
      .select(col(aId), col(cId), col(aLabel), col(cLabel),
        score(col(aVec), col(cVec)).as("score")))
    val wNeg = Window.partitionBy(col(aId))
      .orderBy(col("score").desc_nulls_last, col(cId).asc)
    val neg = scored.filter(col(aLabel) =!= col(cLabel))
      .withColumn("rank", row_number().over(wNeg))
      .filter(col("rank") <= k).withColumn("kind", lit("neg"))
    val wPos = Window.partitionBy(col(aId))
      .orderBy(col("score").asc_nulls_last, col(cId).asc)
    val pos = scored
      .filter(col(aLabel) === col(cLabel) && col(aId) =!= col(cId))
      .withColumn("rank", row_number().over(wPos))
      .filter(col("rank") <= k).withColumn("kind", lit("pos"))
    neg.unionByName(pos)
      .select(col(aId), col("kind"), col("rank"), col(cId), col("score"))
  }

  /** LSH-bucketed ANN: corpus and queries hashed by random-hyperplane
    * signature; only same-bucket pairs are scored. `probes=0` uses the
    * exact bucket; `probes=n` additionally probes buckets at Hamming
    * distance 1 in the first n bits (recall knob).
    *
    * Scale shape: the corpus is bucketed once (can be persisted /
    * Z-ordered by bucket); each query joins to its bucket — a broadcast
    * hash join on the bucket key instead of a full scan per query.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              planes: Int = 12, probes: Int = 4, seed: Long = 42L,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "c_id", cVec: String = "c_vec"): DataFrame = {
    val cb = corpus.withColumn("bucket",
      Dedup.hyperplaneSignature(col(cVec), dim, planes, seed))
    val qSig = Dedup.hyperplaneSignature(col(qVec), dim, planes, seed)
    // multi-probe: the signature itself + flipping each of the first
    // `probes` bits
    val probeBuckets = array(
      (qSig +: (0 until probes).map(b => qSig.bitwiseXOR(lit(1L << b)))): _*)
    val qb = queries.withColumn("bucket", explode(probeBuckets))
    // the query side is the documented small side — broadcast it
    // explicitly (every sibling top-k here hints its small side; left
    // to stats alone the planner may shuffle the whole bucketed corpus)
    val scored = broadcast(qb).join(cb, Seq("bucket"))
      .select(col(qId), col(cId), cosine(col(qVec), col(cVec)).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col(qId))
      .orderBy(col("cosine").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-vector symmetric int8 quantization scale: max |element| as a
    * double. Zero vectors get scale 0 (see [[quantizeInt8]]). */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization of an embedding: q_i =
    * round-half-up(v_i * 127 / scale), spelled `floor(x + 0.5)` so both
    * the rounding rule and every intermediate are single IEEE-754
    * double operations — any engine reproduces the exact integers (no
    * banker's-rounding or decimal-context divergence). Zero vectors
    * (scale 0) quantize to all zeros instead of dividing by zero.
    *
    * 4× storage cut for ANN candidate generation; pure codegen'd
    * Column expression, no shuffle. Dequantize with q * scale / 127.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0d, lit(0L))
        .otherwise(floor(x.cast("double") * 127.0d / scale + 0.5d)))

  /** IVF-style ANN: corpus assigned to the nearest of `centroids`; queries
    * probe the `nprobe` nearest centroids. Centroids are DRIVER-SMALL by
    * contract (like pqTrain's codebook — nlist ≈ √n rows): they are
    * collected once, L2-normalized, and embedded in a native
    * [[graft.functions.NearestCells]] expression, so both assignments
    * are pure narrow maps inside whole-stage codegen. The previous
    * crossJoin(broadcast) + window spelling materialized n×nlist rows
    * carrying FULL VECTORS through a corpus-wide exchange + sort — that
    * exchange, not the dot products, dominated the operator's scale
    * curve (measured 3.1× wall at 10× rows before, assignment-bound).
    * Ranking by dot against normalized centroids equals ranking by
    * cosine (the row norm is a positive per-row constant); ties break
    * to the smaller centroid id, as before. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: DataFrame, k: Int, nprobe: Int = 2,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "c_id", cVec: String = "c_vec",
              ctId: String = "ct_id", ctVec: String = "ct_vec")
      : DataFrame = {
    val cents = centroids.select(col(ctId).cast("long"), col(ctVec))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }.toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfTopK needs at least one centroid")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"all centroids must share dim $dim")
    val ids = cents.map(_._1)
    val matrix = cents.flatMap { case (_, v) =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0.0) v else v.map(_ / norm)
    }
    def assign(df: DataFrame, vec: String, n: Int, out: String) =
      df.withColumn("__cells",
          graft.functions.VecExpressions.nearestCells(col(vec), matrix,
            ids, dim, n))
        .filter(col("__cells").isNotNull)
        .withColumn(out, explode(col("__cells")))
        .drop("__cells")
    val cAssigned = assign(corpus, cVec, 1, "cell")
    val qAssigned = assign(queries, qVec, nprobe, "cell")
    val scored = qAssigned.join(cAssigned, Seq("cell"))
      .select(col(qId), col(cId), cosine(col(qVec), col(cVec)).as("cosine"))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("cosine").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- Product quantization (PQ) ----
  //
  // The memory-compression ANN path: each vector is stored as `m` small
  // codes (one per subspace) instead of `dim` floats — a 16–64× storage
  // cut — and query scoring is per-subspace table lookups (asymmetric
  // distance computation), no vector arithmetic per corpus row. At
  // 100 TB this is the difference between an embedding index that fits
  // the cluster and one that doesn't; scan cost per (query, corpus row)
  // drops from O(dim) multiplies to O(m) array lookups.
  //
  // Determinism contract (same as kmeansExact): vectors are expected
  // integer-quantized (cast-to-long), centroid updates use floor
  // division, so every distance is integer-exact in doubles and the
  // ranking reproduces bit-for-bit on any engine.

  /** Train a PQ codebook: an independent Lloyd fit per subspace with
    * [[Cluster.kmeansExact]] semantics (lowest-id seeds, floor-division
    * centroid updates, ties to the lowest cluster id), usually over a
    * SAMPLE of the corpus (codebooks are always sample-trained at scale
    * — pass the sample in as `train`).
    *
    * All `m` fits run FUSED in one loop: the sample explodes to
    * (id, subspace, subvec) rows once and each iteration is a single
    * scan + one (subspace, cluster, dim) aggregate — m× fewer jobs than
    * m sequential fits, identical centroids.
    *
    * `dim` must be divisible by `m`. Output: (subspace, cluster_id,
    * centroid) with `m * ksub` rows — driver-small by contract. */
  def pqTrain(train: DataFrame, cId: String, cVec: String, dim: Int,
              m: Int, ksub: Int, iters: Int = 2): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must be divisible by m $m")
    require(ksub >= 1 && iters >= 0, s"need ksub>=1, iters>=0")
    val spark = train.sparkSession
    import spark.implicits._
    val dsub = dim / m
    val qv = transform(col(cVec), _.cast("long"))
    // hoist the cast vector to a multi-referenced column so the O(dim)
    // HOF runs once per row, not once per subspace (same boundary
    // rationale as pqEncode)
    val subRows = train
      .select(col(cId).cast("long").as("id"), qv.as("__qv"))
      .select(col("id"),
        posexplode(array((0 until m).map(j =>
          slice(col("__qv"), j * dsub + 1, dsub)): _*)).as(Seq("j", "v")))
    // seeds: the ksub lowest-id sample vectors, sliced per subspace
    val seedVecs = train
      .select(col(cId).cast("long").as("id"), qv.as("v"))
      .orderBy(col("id")).limit(ksub).collect()
      .map(_.getSeq[Long](1))
    // cents(j)(c) = centroid of cluster c in subspace j
    var cents: IndexedSeq[IndexedSeq[Seq[Long]]] =
      (0 until m).map(j => seedVecs.toIndexedSeq.map(v =>
        v.slice(j * dsub, (j + 1) * dsub)))
    def assignExpr: Column = {
      val perJ = (0 until m).map(j => j -> nearestCode(col("v"), cents(j)))
      perJ.tail.foldLeft(when(col("j") === perJ.head._1, perJ.head._2)) {
        case (acc, (j, e)) => acc.when(col("j") === j, e)
      }
    }
    for (_ <- 0 until iters) {
      val sums = subRows
        .select(col("j"), assignExpr.as("cluster"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("j"), col("cluster"), col("pos"),
          floor(col("s").cast("double") / col("n")).cast("long").as("c"))
        .collect()
        .groupBy(r => (r.getAs[Number](0).intValue,
          r.getAs[Number](1).intValue))
        .map { case (key, rows) =>
          key -> rows.map(r => (r.getAs[Number](2).intValue,
            r.getLong(3))).sortBy(_._1).map(_._2).toSeq
        }
      cents = (0 until m).map(j => cents(j).zipWithIndex.map {
        case (prev, c) => sums.getOrElse((j, c), prev)
      })
    }
    (0 until m).flatMap(j => cents(j).zipWithIndex.map {
      case (cent, c) => (j, c, cent)
    }).toDF("subspace", "cluster_id", "centroid")
  }

  /** Nearest-centroid index (= cluster id) for one subvector: distances
    * via [[graft.functions.VecDist2]] inside a `transform` over the
    * centroid table riding as ONE literal array — tiny generated code
    * regardless of ksub. The expanded alternative (a `least` over ksub
    * inlined (dist2, id) structs) produced generated classes that took
    * janino seconds to compile at ksub=16 per plan. Ties resolve to the
    * lowest cluster id (`array_position` returns the FIRST minimum). */
  private def nearestCode(subvec: Column, cents: Seq[Seq[Long]]): Column = {
    val table = typedlit(cents)
    val dists = transform(table, c =>
      graft.functions.VecExpressions.vecDist2(subvec, c))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Encode the corpus against a codebook: one shuffle-free projection —
    * per subspace, the nearest-centroid id (the [[Cluster.assign]]
    * semantics, m times).
    * Output: (cId, codes array<int>) — the compressed index to persist. */
  def pqEncode(corpus: DataFrame, cId: String, cVec: String,
               codebook: DataFrame, dim: Int, m: Int): DataFrame = {
    val dsub = dim / m
    val cb = collectCodebook(codebook, m)
    // the cast-to-long vector lands in its OWN projection (round 21):
    // inlined into nearestCode's per-centroid lambda it re-evaluated
    // the O(dim) cast transform once per centroid per subspace —
    // m × ksub × dim interpreted evals per row (HOFs run outside
    // codegen). The alias is referenced m times, so CollapseProject
    // keeps the boundary; only the O(dsub) slice stays per-centroid.
    val withV = corpus.select(col(cId),
      transform(col(cVec), _.cast("long")).as("__v"))
    val codes = (0 until m).map { j =>
      nearestCode(slice(col("__v"), j * dsub + 1, dsub),
        cb(j).map(_._2))
    }
    withV.select(col(cId), array(codes: _*).as("codes"))
  }

  /** ANN top-k over PQ codes by asymmetric distance: each query
    * precomputes an m×ksub distance table to every centroid (built into
    * the plan — queries are small by the same contract as
    * [[bruteForceTopK]]), then every corpus row's approximate distance
    * is m table lookups summed. One corpus scan, broadcast queries, no
    * shuffle until the per-query top-k. Ties break by corpus id. */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
             dim: Int, m: Int, k: Int,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "c_id"): DataFrame = {
    val dsub = dim / m
    val cb = collectCodebook(codebook, m)
    // same boundary trick as pqEncode: cast the query vector once per
    // row, not once per centroid inside each subspace's table lambda
    val qTab = array((0 until m).map { j =>
      val sub = slice(col("__qv"), j * dsub + 1, dsub)
      transform(typedlit(cb(j).map(_._2)), c =>
        graft.functions.VecExpressions.vecDist2(sub, c))
    }: _*)
    val qt = queries
      .select(col(qId), transform(col(qVec), _.cast("long")).as("__qv"))
      .select(col(qId), qTab.as("__qtab"))
    val approx = (0 until m).map { j =>
      element_at(element_at(col("__qtab"), j + 1),
        element_at(col("codes"), j + 1).cast("int") + 1)
    }.reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qt))
      .select(col(qId), col(cId), approx.as("approx_d2"))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("approx_d2").asc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Codebook rows → per-subspace (cluster_id, centroid) arrays sorted
    * by cluster id. Driver-small by contract (m × ksub × dsub longs). */
  private def collectCodebook(codebook: DataFrame, m: Int)
      : IndexedSeq[Seq[(Int, Seq[Long])]] = {
    val rows = codebook.select(col("subspace"), col("cluster_id"),
        col("centroid")).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).intValue,
        r.getSeq[Long](2)))
    require(rows.nonEmpty, "empty codebook")
    (0 until m).map { j =>
      val subRows = rows.filter(_._1 == j)
      require(subRows.nonEmpty, s"codebook has no centroids for subspace $j")
      val sorted = subRows.sortBy(_._2).map(t => (t._2, t._3)).toSeq
      // nearestCode maps array index -> cluster id, so ids must be 0..n-1
      require(sorted.map(_._1) == sorted.indices,
        s"codebook cluster ids for subspace $j must be contiguous from 0")
      sorted
    }
  }
}
