package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (sparse) retrieval over a document corpus — the BM25
  * counterpart to the dense-ANN ladder in [[Similarity]]. Training-data
  * pipelines use it for benchmark decontamination lookups, hard-negative
  * mining for embedding training, and corpus QA ("which documents match
  * this probe query"). Pipeline extension, no reference equivalent
  * (pgloader is pure ETL); designed Spark-first.
  *
  * Scale shape: the query set is SMALL (probes, not a workload), so the
  * corpus is never shuffled by term globally — tokens are semi-filtered
  * to query terms with a broadcast hash join straight off the tokenize,
  * and every downstream aggregate (tf, df, per-query scores) runs on
  * that query-matching subset. Document length and corpus totals come
  * from one narrow scan (no explode). The only wide exchanges carry
  * (doc, term) postings restricted to query terms and the final
  * per-query top-k window, which WindowGroupLimit caps below the
  * exchange.
  *
  * Engine-exact scoring: each per-(query, doc, term) BM25 partial is
  * computed in doubles and immediately rounded to integer MICROS
  * (`floor(x * 1e6 + 0.5)`), then summed as longs — integer addition is
  * order-independent, so the score is reproducible across engines and
  * runs regardless of partitioning (a raw double sum would depend on
  * addition order). `ln` is the one transcendental; both JVM and C
  * libms are faithfully rounded, and a 1-ulp disagreement only matters
  * if it crosses a micro boundary (~1e-9 chance per value).
  */
object Retrieval {

  /** BM25 top-`k` documents per query.
    *
    * `docs`: (idCol, textCol); `queries`: (qidCol, qtextCol) — a small
    * probe set (broadcast). Tokenization matches [[Terms]]: lowercase,
    * `[^a-z0-9']+` separators. Query terms are DISTINCT per query (the
    * standard bag-of-words BM25 sums each term once).
    *
    * Score: sum over matching terms of
    * `idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` with
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` (Robertson/Sparck-Jones
    * with the +1 floor, as in Lucene). `N` counts ALL documents, `avgdl`
    * averages token counts over all documents (zero-token docs
    * included).
    *
    * Output: (qid, doc_id, score_micro, rank), rank 1..k per query by
    * score desc then doc id asc; only documents matching ≥1 term appear.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = split(lower(col(textCol)), Terms.SeparatorClass)
    // narrow per-doc token count — no explode, zero-token docs included
    val dl = docs.select(col(idCol).as("id"),
      size(filter(toks, w => w =!= "")).cast("long").as("dl"))
    // N and avgdl in one 1-row aggregate (exact long / long division)
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    // DISTINCT query terms, broadcast — the filter that keeps the
    // corpus-side pipeline narrow
    val qterms = queries.select(col(qidCol).as("qid"),
        explode(split(lower(col(qtextCol)), Terms.SeparatorClass)).as("w"))
      .filter(col("w") =!= "").distinct()
    // no distinct: a left-semi build side dedups by construction
    val termSet = broadcast(qterms.select(col("w")))
    // postings restricted to query terms BEFORE the (id, w) aggregate:
    // the exchange carries only query-matching tokens. The doc length
    // rides WITH the posting (dl is functionally dependent on id, so
    // grouping on it adds no groups) — no corpus-sized join back later.
    // dl MUST be projected in a separate select below the explode:
    // fused into one select, ExtractGenerator leaves the O(tokens)
    // size(filter(split(...))) expression in the projection ABOVE the
    // Generate, re-evaluating it per TOKEN row — O(len²) per document
    // (measured 33 s vs 1.5 s at sf0.1). tf feeds both the score join
    // and the df aggregate, hence shared.
    val tf = Reuse.shared(docs.select(col(idCol).as("id"),
        size(filter(toks, w => w =!= "")).cast("long").as("dl"),
        col(textCol).as("__text"))
      .select(col("id"), col("dl"),
        explode(split(lower(col("__text")), Terms.SeparatorClass)).as("w"))
      .join(termSet, Seq("w"), "left_semi")
      .groupBy(col("id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf")))
    // df per query term — computed on the restricted postings (df of a
    // term not in any query is never needed)
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfq, "w")
      .join(broadcast(qterms), Seq("w"))
      .crossJoin(broadcast(corpus))
    val avgdl = col("total_tokens").cast("double") /
      col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val partial = idf * tfd * lit(k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val perDoc = scored
      .select(col("qid"), col("id"),
        floor(partial * lit(1e6) + lit(0.5)).cast("long").as("sm"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("sm")).as("score_micro"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("id").asc)
    perDoc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("score_micro"), col("rank"))
  }
}
