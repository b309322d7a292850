package graft.sinks

/** The driver route of a database table: each split of its
  * [[graft.sources.ScanPlan]] streams on a driver thread through the
  * distributed sink's own partition loop, [[CopySink.writePartition]],
  * with the split's index as partition id — the same opener, batching,
  * per-row recovery, reject files (`part-<pid>.dat` and `.log`) and
  * COPY TEXT lines as the Spark route, with no job, no task
  * serialization and no session.
  *
  * Under `local[n]` a Spark task is a thread of this JVM too, so the
  * route gives up no parallelism: the reference likewise streams every
  * table through one kernel of worker threads
  * (migrate-database.lisp:480-507). At most [[graft.Sessions.cpus]]
  * split streams run at once in the JVM, the slot count `local[cpus]`
  * gives Spark tasks; the Migrator's copy threads wait for their
  * table's streams.
  *
  * Rows render through [[CopySink.textLine]], the scalar twin of the
  * sink's codegen renderer, kept equal by LocalCopySpec.
  */
object LocalCopy {

  /** Tables loaded through the driver route since JVM start — a
    * diagnostic/test counter (specs assert the route actually ran; it
    * is not part of any user-facing contract). */
  val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The driver's split-stream slots; idle threads exit. */
  private lazy val slots: java.util.concurrent.ExecutorService = {
    val n = graft.Sessions.cpus
    val threads = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = new java.util.concurrent.ThreadPoolExecutor(n, n,
      30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-copy-stream-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Load every split of `plan`, one stream per split on the driver's
    * slots, and wait for all of them. When a split fails, the
    * splits not yet started are dropped, the running ones finish, and
    * the first failure is rethrown.
    *
    * @param endpointFactory the endpoint of one split, by partition id
    * @return (rowsSent, rowsRejected, bytesSent) — same accounting as
    *   the distributed sink */
  def write(plan: graft.sources.ScanPlan[_],
            endpointFactory: Int => CopyEndpoint,
            rejectDir: Option[String] = None,
            maxRows: Int = 25000,
            maxBytes: Long = 20L << 20,
            onErrorStop: Boolean = false): (Long, Long, Long) = {
    val streams = plan.splits.indices.map { pid =>
      slots.submit(new java.util.concurrent.Callable[(Long, Long, Long)] {
        def call(): (Long, Long, Long) = {
          val s = plan.stream(pid)
          try CopySink.writePartition[Array[Byte]](
            pid, s.rows.map(CopySink.textLine), identity, _ => null,
            endpointFactory, maxRows, maxBytes, onErrorStop, rejectDir)
          finally s.close()
        }
      })
    }
    var failure: Throwable = null
    val totals = streams.map { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (failure == null) {
            failure = e.getCause
            streams.foreach(_.cancel(false))
          }
          (0L, 0L, 0L)
        case _: java.util.concurrent.CancellationException => (0L, 0L, 0L)
        case e: InterruptedException =>
          streams.foreach(_.cancel(true))
          throw e
      }
    }
    if (failure != null) throw failure
    loads.incrementAndGet()
    (totals.map(_._1).sum, totals.map(_._2).sum, totals.map(_._3).sum)
  }
}
