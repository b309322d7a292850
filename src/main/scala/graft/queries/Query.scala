package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pipeline query: `build` computes its result from the parquet
  * tables under a scale-factor directory, and `oracle` is the DuckDB
  * SQL that must return the same rows over the same tables (the
  * conventions are in [[graft.SparkEntry]]). */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)
