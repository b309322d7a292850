package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table plumbing: pre-shuffle a table ONCE at write time so
  * every later join/aggregation on the bucket key runs with NO
  * exchange. This is the physical co-location story for repeated big
  * joins — the 100 TB equivalent of the reference's one-shot sorted
  * COPY: pay the shuffle when the table lands, never again.
  *
  * Spark only honors bucketing through the catalog (`saveAsTable`),
  * not plain `parquet(path)` — a bucketed write to a bare path silently
  * loses the metadata, so this helper always registers the table.
  *
  * Sizing: buckets are the unit of read parallelism AND the join
  * co-location grain — pick `numBuckets` so one bucket of the LARGEST
  * sf fits an executor's working memory (the same rows-per-range
  * arithmetic as the database sources' range splits), and use the same
  * count on every table that joins on the key.
  */
object BucketedTable {

  /** Write `df` as a bucketed (optionally bucket-sorted) parquet table
    * registered as `table` at `path`. */
  def write(df: DataFrame, table: String, path: String,
            keys: Seq[String], numBuckets: Int,
            sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "need bucket keys")
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
}
