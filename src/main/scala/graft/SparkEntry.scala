package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one [[Query]] per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions), each carrying
  * its DuckDB oracle. The queries live in one file per family under
  * `graft.queries`; `queries` and `oracleSql` are the by-name views the
  * mains, the specs and the benchmark harness read.
  *
  * Conventions shared by query and oracle: deterministic ORDER BY on every
  * result; double aggregates computed exactly via DECIMAL then cast back to
  * double (so hashes match bit-for-bit); column names aliased identically
  * on both sides.
  */
object SparkEntry {

  /** Every query, family by family. Names are unique. */
  val all: Seq[Query] = {
    val qs = LoadPathQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ DriftQueries.all ++ StreamingQueries.all ++
      MiscQueries.all
    val dups = qs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** [[queries]] restricted to a comma-separated name list (all of
    * them for None). Throws IllegalArgumentException naming every
    * listed name no query carries, so a stale list fails instead of
    * silently running a smaller set. */
  def select(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { list =>
      val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(queries.contains).toSeq.sorted
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown queries: ${unknown.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
    }

  /** DuckDB oracle per query, over the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
}
