package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.CopyEndpoint
import graft.sources.CopyText

/** Helpers shared by the query family files. */
private[graft] object QuerySupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) — read as
    * long nanos via spark.sql.legacy.parquet.nanosAsLong (set by
    * [[graft.Sessions.builder]]) — and TIMESTAMP(MICROS, isAdjustedToUTC =
    * false), which Spark reads as TIMESTAMP_NTZ. Normalize either to a
    * session-UTC timestamp losslessly so every events query (and its
    * DuckDB oracle, which sees the same naive micros) agrees. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Exact double aggregation: sum in decimal, return double. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Scratch dir for round-trip queries. Location is
    * SPARK_GRAFT_SCRATCH if set, else RAM-backed /dev/shm when
    * [[graft.Sessions.shmDir]] admits it, else target/qtmp in the repo
    * tree (same rule as Bench's shuffle scratch — the round-trip
    * operators exercise file FORMATS, not a particular disk, and ~15
    * queries funnel their sink+re-read bytes through here). */
  private lazy val scratchRoot: String =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(Sessions.shmDir("graft-qtmp"))
      .getOrElse("target/qtmp")

  def scratch(name: String): String = {
    val p = s"$scratchRoot/$name"
    val f = new java.io.File(p)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete()
    }
    if (f.exists()) rm(f)
    f.getParentFile.mkdirs()
    p
  }

  /** Shared harness for UPDATE-mode streaming queries that land through
    * the distributed COPY sink: run `agg` to completion, one batch dir
    * per micro-batch emission, then merge-on-read — the LATEST emission
    * per `keyCols` wins (update mode re-emits a key's cumulative value
    * each time it changes, so later batch ids carry the newer
    * aggregate). `flatten` projects each batch to the flat `fields`
    * layout before COPY rendering. Returns STRING columns named
    * `fields` (COPY text round-trip — callers cast); zero fired
    * micro-batches (empty/missing source) merge to an empty frame
    * instead of NPE-ing on a never-created sink root. Part files go
    * through [[CopyEndpoint.file]], which truncates, so a retried sink
    * task rewrites its partition file. */
  def updateStreamViaCopySink(s: SparkSession,
      agg: DataFrame, scratchName: String,
      flatten: DataFrame => DataFrame, fields: Seq[String],
      keyCols: Seq[String]): DataFrame = {
    val outRoot = new java.io.File(scratch(scratchName)).getAbsolutePath
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dirB = new java.io.File(outRoot, s"batch-$batchId")
        dirB.mkdirs()
        val abs = dirB.getAbsolutePath
        val sink = new graft.sinks.CopySink(endpointFactory = pid =>
          CopyEndpoint.file(abs, pid))
        sink.write(flatten(batch))
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val batchDirs = Option(new java.io.File(outRoot).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => d.getName.startsWith("batch-") &&
        Option(d.listFiles()).exists(_.nonEmpty))
    if (batchDirs.isEmpty) {
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(fields.map(f =>
          org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.StringType))))
    } else if (batchDirs.length == 1) {
      // single emission → nothing to merge, skip the dedupe shuffle
      CopyText.read(s, batchDirs.head.getAbsolutePath, fields)
    } else {
      val emissions = batchDirs.map { d =>
        CopyText.read(s, d.getAbsolutePath, fields)
          .withColumn("__batch",
            lit(d.getName.stripPrefix("batch-").toLong))
      }.reduce(_ unionAll _)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col("__batch").desc)
      emissions
        .withColumn("__rn", row_number().over(latest))
        .filter(col("__rn") === 1)
        .drop("__batch", "__rn")
    }
  }
}
