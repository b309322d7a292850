package graft.tools

import org.apache.spark.sql.functions._

/** Generate an N× scaled copy of a testdata directory's `documents`,
  * `embeddings` and `events` tables — the corpus behind the scale-curve
  * measurements in COVERAGE.md (dedup/ANN wall-time at 1× vs 10×).
  * Replica k offsets ids by k·1,000,000 and perturbs content
  * deterministically (a per-copy suffix token on text, a per-copy
  * epsilon on one embedding dimension), so the scaled corpus has both
  * more documents AND a denser near-dup pair structure — the honest
  * stress for candidate-generation scaling. Events replicate with
  * offset event/user ids and a per-copy value epsilon (new users, same
  * value distribution shape — what the drift operators expect of a
  * bigger cohort).
  *
  * Usage: ScaleCorpus <srcSfDir> <outDir> [factor=10] [tables=docs,embs,events]
  * (the 4th arg restricts output — e.g. `documents` alone for the
  * 100×-edges dedup_components stress, where replicating 100× events
  * would write gigabytes nothing reads)
  *
  * `ScaleCorpus sparse <outDir> [docs=500000] [dupEvery=100]` writes
  * the OPPOSITE duplication regime: `docs` synthetic documents whose
  * texts are independent 150-token draws from a 50k vocabulary
  * (pairwise near-zero shingle overlap), except one doc per
  * `dupEvery` which is a near-copy of its predecessor (one appended
  * unique token — shingle jaccard ≈ 0.97). This is the huge-corpus /
  * rare-duplicate shape real web crawls have after coarse exact
  * dedup, and the win regime for endpoint-based candidate pruning
  * that the dense ×100 stress can never show.
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleCorpus <srcSfDir> <outDir> [factor] [tables]")
    if (args(0) == "sparse") { sparse(args); return }
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables: Set[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).toSet
      else Set("documents", "embeddings", "events")
    // events.parquet may carry TIMESTAMP(NANOS): the preset reads it as
    // long nanos (QuerySupport.normalizeEventTs handles either layout)
    val spark = graft.Sessions.builder("scale-corpus", graft.Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (tables("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // every copy (k=0 included) selects the SAME explicit column list —
    // positional unionAll must never depend on the parquet's physical
    // order (lang/source are union-compatible strings, so a reorder
    // would silently cross-assign them)
    val docCopies = (0 until factor).map { k =>
      if (k == 0) docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      else docs.select(
        (col("doc_id") + k * 1000000L).as("doc_id"),
        concat(col("text"), lit(s" rep$k-"), col("doc_id")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docCopies.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (tables("embeddings")) {
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val embCopies = (0 until factor).map { k =>
      if (k == 0) embs.select(col("vec_id"), col("embedding"),
        col("label"))
      else embs.select(
        (col("vec_id") + k * 1000000L).as("vec_id"),
        // nudge one dimension per copy: near-identical, not identical
        transform(col("embedding"),
          (x, i) => when(i === (k % dim), x + lit(k * 1e-3f))
            .otherwise(x)).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (tables("events")) {
    val events = spark.read.parquet(s"$src/events.parquet")
    // every copy (k=0 included) selects the SAME explicit column list —
    // positional unionAll must never depend on the parquet's physical
    // order (ts-as-long and user_id are union-compatible, so a reorder
    // would silently cross-assign them)
    val evCopies = (0 until factor).map { k =>
      events.select(
        (col("event_id") + k * 10000000L).as("event_id"), col("ts"),
        (col("user_id") + k * 1000000L).as("user_id"),
        col("event_type"),
        (col("value") + lit(k * 1e-3)).as("value"), col("props"))
    }
    evCopies.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    println(s"[scale] wrote ${factor}x ${tables.toSeq.sorted.mkString("+")} to $out")
    spark.stop()
  }

  private def sparse(args: Array[String]): Unit = {
    val out = args(1)
    val n = if (args.length > 2) args(2).toLong else 500000L
    val dupEvery = if (args.length > 3) args(3).toInt else 100
    val spark = graft.Sessions.builder("scale-corpus", graft.Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // id ≡ 1 (mod dupEvery) is a near-copy of id−1; everything else is
    // an independent token draw (xxhash64 over (effective id, position))
    val isDup = col("id") % dupEvery === 1 && col("id") > 0
    val eff = when(isDup, col("id") - 1).otherwise(col("id"))
    val toks = transform(sequence(lit(0), lit(149)),
      j => concat(lit("w"), pmod(xxhash64(eff, j), lit(50000L))))
    val body = array_join(toks, " ")
    val text = when(isDup, concat(body, lit(" u"), col("id")))
      .otherwise(body)
    spark.range(n).select(col("id").as("doc_id"), text.as("text"),
        lit("en").as("lang"), lit("sparse").as("source"),
        length(text).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scale] wrote sparse corpus: $n docs, 1/$dupEvery " +
      s"near-dup incidence to $out")
    spark.stop()
  }
}
