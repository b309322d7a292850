package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main configures its local session. */
object Sessions {

  /** SPARK_GRAFT_CPUS if set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Whether the CLI's session runs in this JVM: `SPARK_MASTER` (its
    * override of `local[cpus]`) unset, `local` or `local[…]`. A Spark
    * task is then a thread of this process, so a database load streams
    * its tables on driver threads instead ([[graft.sinks.LocalCopy]]). */
  def localMaster: Boolean =
    sys.env.get("SPARK_MASTER").forall(_.matches("local(\\[[^\\]]*\\])?"))

  /** `local[cpus]` with `cpus` shuffle partitions, no web UI (a CLI or
    * batch main has no use for it, and skipping it saves ~0.5 s per
    * start), the session zone pinned to UTC (timestamp rendering —
    * from_unixtime, timestamptz literals — follows the session zone,
    * and the reference renders timestamptz in UTC), and parquet
    * TIMESTAMP(NANOS) read as long nanos (older events.parquet files
    * carry it; micros files are unaffected, and the queries normalize
    * both). Callers add or override settings on the returned builder. */
  def builder(app: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** `/dev/shm/<name>` when the host has a writable /dev/shm with at
    * least 4 GiB usable, else None. RAM-backed scratch is fast, but
    * containers commonly mount /dev/shm at 64 MB, where shuffle spill,
    * streaming checkpoints or round-trip files would ENOSPC mid-run,
    * and a tmpfs near its fill line competes with the heap for host
    * RAM — 4 GiB is far above the query suite's peak scratch use. */
  def shmDir(name: String): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite &&
        shm.getUsableSpace >= 4L * 1024 * 1024 * 1024)
      Some(s"/dev/shm/$name")
    else None
  }
}
