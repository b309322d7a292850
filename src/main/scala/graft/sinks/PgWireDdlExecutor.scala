package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue

/** Pooled DDL executor for the CLI — the per-STATEMENT connection
  * churn was the last table-count-linear cost after the small-table
  * fast path landed ("Create tables" on the 100-table fixture spent
  * ~4–5 ms per statement on loopback-trust dial+auth; SCRAM or TLS
  * multiplies that). pgloader keeps its pgconn open across a phase
  * (pgsql/connection.lisp); this pool gives the same amortization
  * while preserving the fresh-connection SEMANTICS the per-statement
  * wiring guaranteed:
  *
  *   - every REUSED connection runs `ROLLBACK` (a prior user hook's
  *     lone BEGIN would otherwise leave it idle-in-transaction, where
  *     DISCARD ALL refuses to run; outside a transaction ROLLBACK is
  *     a WARNING-only no-op) then `DISCARD ALL` (SET SESSION
  *     AUTHORIZATION default + RESET ALL + DEALLOCATE ALL + drop temp
  *     tables + unlock advisory locks — PG's own back-to-initial-state
  *     statement), so nothing can leak between statements that
  *     previously ran on fresh connections;
  *   - a pooled connection that went STALE while it sat idle (server
  *     idle timeout, pooler, NAT) fails that reuse guard with an I/O
  *     error — it is closed and the statement transparently runs on a
  *     FRESH dial, exactly the connection the old wiring would have
  *     used. No statement is lost to a dead pooled socket.
  *
  * A [[PgWire.PgServerError]] on the statement itself leaves the wire
  * at ReadyForQuery ([[PgWireConnection.simpleCommand]] drains before
  * throwing), so the connection returns to the pool — tolerated
  * post-phase DDL failures (comments, FKs) keep their amortization.
  * Any OTHER exception closes the connection. Pool size is bounded by
  * the caller's concurrency (the Migrator's index pool + the driver
  * thread); `close()` drains it and never throws. Thread-safe. */
final class PgWireDdlExecutor(params: PgWire.ConnParams)
    extends ((String, Seq[String]) => Unit) with AutoCloseable {

  private val pool = new ConcurrentLinkedQueue[PgWireConnection]
  @volatile private var closed = false

  /** connections dialed over the executor's lifetime (diagnostics —
    * the fixture spec asserts amortization actually happened). */
  val dialed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One statement/query on a pooled-or-fresh connection under the
    * shared discipline: reuse guard (with stale-redial) before `f`,
    * server errors keep the connection, anything else closes it. */
  private def withConn[T](f: PgWireConnection => T): T = {
    var conn: PgWireConnection = null
    var c = pool.poll()
    while (conn == null && c != null) {
      try {
        c.simpleCommand("ROLLBACK")
        c.simpleCommand("DISCARD ALL")
        conn = c
      } catch {
        // stale while pooled (or otherwise unusable): drop it and try
        // the next pooled connection, falling through to a fresh dial
        case scala.util.control.NonFatal(_) =>
          try c.close() catch {
            case scala.util.control.NonFatal(_) => ()
          }
          c = pool.poll()
      }
    }
    if (conn == null) {
      dialed.incrementAndGet()
      conn = new PgWireConnection(params)
    }
    var reusable = false
    try {
      val r = f(conn)
      reusable = true
      r
    } catch {
      // server-reported SQL errors leave the wire synced at
      // ReadyForQuery — the connection is healthy; rethrow but keep it
      case e: PgWire.PgServerError => reusable = true; throw e
    } finally {
      if (reusable && !closed) pool.offer(conn)
      else try conn.close() catch {
        case scala.util.control.NonFatal(_) => ()
      }
      // a close() racing the offer above: drain whatever landed late
      if (closed) drain()
    }
  }

  def apply(sql: String, sessionSetup: Seq[String]): Unit =
    withConn { conn =>
      sessionSetup.foreach(s => conn.simpleCommand(s.stripSuffix(";")))
      conn.simpleCommand(sql.stripSuffix(";"))
    }

  /** Pooled catalog query — the CLI's `queryTarget` channel (the
    * target's index list under `WITH drop indexes`). */
  def query(sql: String): Seq[Array[String]] =
    withConn(conn => conn.query(sql)._2)

  private def drain(): Unit = {
    var c = pool.poll()
    while (c != null) {
      // one throwing socket close must not strand the rest
      try c.close() catch {
        case scala.util.control.NonFatal(_) => ()
      }
      c = pool.poll()
    }
  }

  /** Idempotent; never throws (a peer-reset socket on close must not
    * preempt the caller's remaining cleanup, e.g. spark.stop()). */
  override def close(): Unit = { closed = true; drain() }
}
