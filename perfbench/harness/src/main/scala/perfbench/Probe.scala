package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are `System.nanoTime` of this JVM; the
  * Python side turns parent links into self times. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Long, end: Long)

/** In-memory span store, written out once when the run ends. */
object Spans {
  private val next = new AtomicInteger(1)
  private val all = new ConcurrentLinkedQueue[Span]

  def newId(): Int = next.getAndIncrement()

  def add(s: Span): Unit = all.add(s)

  def timed[T](kind: String, name: String)(f: => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try f finally add(Span(id, 0, kind, name, t0, System.nanoTime()))
  }

  def snapshot: Seq[Span] = all.asScala.toSeq
}

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def spans(ss: Seq[Span]): String = arr(ss.map(s =>
    arr(Seq(s.id.toString, s.parent.toString, str(s.kind), str(s.name),
      s.start.toString, s.end.toString))))

  def write(path: String, json: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Catalyst phase time (analysis, optimization, planning) of every
  * query execution, in every session: registered by class name through
  * `spark.sql.queryExecutionListeners`, because the suite's streaming
  * queries run in sessions of their own. */
class PlanProbe extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit =
    PlanProbe.ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

object PlanProbe {
  val ms = new AtomicLong
}

/** Micro-batch progress of every streaming query, in every session
  * (`spark.sql.streaming.streamingQueryListeners`). */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    StreamProbe.batches.incrementAndGet()
    StreamProbe.batchMs.addAndGet(p.batchDuration)
    StreamProbe.commitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
    StreamProbe.stateRows.put(p.runId.toString,
      p.stateOperators.map(_.numRowsTotal).sum)
  }
}

object StreamProbe {
  val batches = new AtomicLong
  val batchMs = new AtomicLong
  val commitMs = new AtomicLong
  /** last progress's state rows, per query run */
  val stateRows = new java.util.concurrent.ConcurrentHashMap[String, Long]
}

/** Counters of the Spark layers: this `SparkListener` on the context,
  * plus [[PlanProbe]] and [[StreamProbe]] in every session. */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val jobSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobFirstTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  // listener times are wall-clock millis; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(ms: Long): Long = ms * 1000000L + nanoOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageToJob.get(e.stageId)).foreach(j =>
      jobFirstTask.merge(j, e.taskInfo.launchTime, (a, b) => math.min(a, b)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Job intervals as spans (kind "job"), in this JVM's nanoTime. */
  def jobSpans: Seq[Span] = jobSubmit.asScala.toSeq.flatMap { case (j, t0) =>
    Option(jobEnd.get(j)).map(t1 =>
      Span(-j - 1, 0, "job", j.toString, toNanos(t0), toNanos(t1)))
  }

  /** Σ over jobs of (first task launch − job submit). */
  def slotWaitMs: Long = jobSubmit.asScala.toSeq.map { case (j, t0) =>
    Option(jobFirstTask.get(j)).map(t => math.max(0L, t - t0)).getOrElse(0L)
  }.sum

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  def counters: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_run_s" -> taskRunMs.get / 1e3,
    "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.shuffle_write_mb" -> shuffleWriteBytes.get / 1048576.0,
    "spark.spill_mb" -> spillBytes.get / 1048576.0,
    "spark.plan_s" -> PlanProbe.ms.get / 1e3,
    "spark.slot_wait_s" -> slotWaitMs / 1e3,
    "streaming.batches" -> StreamProbe.batches.get.toDouble,
    "streaming.batch_s" -> StreamProbe.batchMs.get / 1e3,
    "streaming.state_rows" ->
      StreamProbe.stateRows.values.asScala.map(_.toDouble).sum,
    "streaming.state_commit_s" -> StreamProbe.commitMs.get / 1e3)
}

object SparkProbe {
  def reset(): Unit = {
    PlanProbe.ms.set(0)
    StreamProbe.batches.set(0)
    StreamProbe.batchMs.set(0)
    StreamProbe.commitMs.set(0)
    StreamProbe.stateRows.clear()
  }

  /** Registers [[PlanProbe]] and [[StreamProbe]] for every session. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.queryExecutionListeners", classOf[PlanProbe].getName)
    .config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamProbe].getName)
}

/** Compile counts and times from spark-core's `CodegenMetrics`
  * histogram. The histogram keeps a sampling reservoir, so the time is
  * count × mean: approximate, while the count is exact. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def sample(): (Long, Double) = {
    val hist = h
    (hist.getCount, hist.getCount * hist.getSnapshot.getMean)
  }
  def delta(before: (Long, Double)): Seq[(String, Double)] = {
    val (c1, ms1) = sample()
    Seq("spark.codegen_compiles" -> (c1 - before._1).toDouble,
      "spark.codegen_s" -> math.max(0.0, ms1 - before._2) / 1e3)
  }
}

/** Argument parsing shared by the mains: `--key value` pairs. */
object Args {
  def apply(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
}

/** Mutable name → value list, rendered in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def ++=(kv: Seq[(String, Double)]): Unit = kv.foreach(m += _)
  def update(k: String, v: Double): Unit = m(k) = v
  def json: String = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
}
