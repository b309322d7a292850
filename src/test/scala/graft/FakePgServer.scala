package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** In-process PostgreSQL wire-protocol server speaking just enough of
  * the v3 protocol to drive [[graft.sinks.PgWireCopyEndpoint]] through
  * startup/auth, SET, and COPY FROM STDIN — success, line-numbered
  * errors (`CONTEXT: COPY t, line N`), and position-less errors (the
  * bisect path). Accepts concurrent connections (one handler thread
  * each); successful COPY batches append to [[accepted]] atomically
  * (transactional semantics: an errored batch stores nothing).
  *
  * @param authMode  trust | cleartext | md5 | scram
  * @param badLine   rows for which COPY fails (first match wins)
  * @param reportLine whether the error carries the line position
  */
final class FakePgServer(
    authMode: String = "trust",
    user: String = "graft",
    password: String = "secret",
    badLine: String => Boolean = _ => false,
    reportLine: Boolean = true,
    // SELECT support: a single fake table; each row occupies one "page"
    // for ctid-range slicing (`ctid >= '(lo,0)' AND ctid < '(hi,0)'`)
    tableCols: Seq[String] = Nil,
    tableRows: Seq[Array[String]] = Nil,
    // multi-result routing: first match wins, falls back to the single
    // table above; ctid/LIMIT-0 slicing applies to the routed rows too
    onSelect: String => Option[(Seq[String], Seq[Array[String]])] =
      _ => None,
    // TLS: when set, SSLRequest is answered 'S' and the connection is
    // wrapped server-side; when None, answered 'N' (client falls back
    // or aborts per its sslmode)
    tls: Option[javax.net.ssl.SSLContext] = None,
    // called with the row index before each DataRow is written (rows
    // already written are flushed) — lets a test block the server
    // mid-result to prove the client streams
    onRow: Int => Unit = _ => (),
    // the ParameterStatus `server_version` sent at startup
    serverVersion: String = "16.0-fake") extends AutoCloseable {

  val accepted = new ArrayBuffer[String]()
  val executed = new ArrayBuffer[String]() // non-COPY statements
  val received = new ArrayBuffer[String]() // every simple query, in order
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var running = true
  private val server = new ServerSocket(0, 50,
    java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s), "fake-pg-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed
    }
  }, "fake-pg-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = { running = false; server.close() }

  // ---- per-connection protocol ----

  private def cstring(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def handle(sock0: Socket): Unit = {
    connections.incrementAndGet()
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream))
    def msg(tpe: Char, payload: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(payload.length + 4); out.write(payload)
    }
    def authRequest(code: Int, extra: Array[Byte] = Array.empty): Unit = {
      val b = java.nio.ByteBuffer.allocate(4).putInt(code).array()
      msg('R', b ++ extra)
    }
    def readyForQuery(): Unit = { msg('Z', Array('I'.toByte)); out.flush() }
    def commandComplete(tag: String): Unit = msg('C', cstring(tag))
    def errorResponse(fields: Seq[(Char, String)]): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      fields.foreach { case (c, v) =>
        b.write(c.toInt); b.write(cstring(v)) }
      b.write(0)
      msg('E', b.toByteArray)
    }
    def readMsg(): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt() - 4
      val p = new Array[Byte](len)
      in.readFully(p)
      (tpe, p)
    }

    try {
      // negotiation: an SSLRequest (or other special packet) may precede
      // the real startup message; answer each and keep reading — ONE
      // logical connection either way (no recursion, no double count)
      var negotiated = false
      while (!negotiated) {
        // startup message: int32 len, int32 protocol, params
        val len = in.readInt()
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        val proto = java.nio.ByteBuffer.wrap(body, 0, 4).getInt
        if (proto == 196608) negotiated = true
        else if (proto == 80877103 && tls.isDefined) { // SSLRequest
          out.writeByte('S'); out.flush()
          val ssl = tls.get.getSocketFactory
            .createSocket(sock, null, sock.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          sock = ssl
          in = new DataInputStream(
            new BufferedInputStream(sock.getInputStream))
          out = new DataOutputStream(
            new BufferedOutputStream(sock.getOutputStream))
        } else { // SSLRequest without TLS configured, GSSENC, …: refuse
          out.writeByte('N'); out.flush()
        }
      }
      if (!authenticate(readMsg, msg, authRequest, out)) {
        errorResponse(Seq('S' -> "FATAL", 'C' -> "28P01",
          'M' -> s"""password authentication failed for user "$user""""))
        out.flush()
        return
      }
      authRequest(0) // AuthenticationOk
      msg('S', cstring("server_version") ++ cstring(serverVersion))
      readyForQuery()

      def handleCopy(sql: String): Unit = {
        // CopyInResponse: int8 overall format (text) + int16 ncols +
        // int16 per-column format
        val b = java.nio.ByteBuffer.allocate(5)
        b.put(0.toByte); b.putShort(1.toShort); b.putShort(0.toShort)
        msg('G', b.array())
        out.flush()
        val data = new java.io.ByteArrayOutputStream()
        var done = false
        var failed = false
        while (!done) {
          val (t, p) = readMsg()
          t match {
            case 'd' => data.write(p)
            case 'c' => done = true
            case 'f' => done = true; failed = true // CopyFail
            case _ => ()
          }
        }
        if (failed) {
          errorResponse(Seq('S' -> "ERROR", 'C' -> "57014",
            'M' -> "COPY from stdin failed"))
          return
        }
        val lines = new String(data.toByteArray, UTF_8)
          .split("\n", -1).toSeq.dropRight(1) // trailing newline per row
        val table = sql.split("\\s+")(1)
        lines.zipWithIndex.find { case (l, _) => badLine(l) } match {
          case Some((line, idx)) =>
            val base = Seq('S' -> "ERROR", 'C' -> "22P02",
              'M' -> "invalid input syntax for type integer")
            errorResponse(
              if (reportLine)
                base :+ ('W' -> s"""COPY $table, line ${idx + 1}: "$line"""")
              else base)
          case None =>
            accepted.synchronized(accepted ++= lines)
            commandComplete(s"COPY ${lines.length}")
        }
      }

      def handleSelect(sql: String): Unit = {
        val (cols, allRows) = onSelect(sql).getOrElse((tableCols, tableRows))
        // ctid page-range slice: each fake row is one page
        val range = "ctid >= '\\((\\d+),0\\)'(?: AND ctid < '\\((\\d+),0\\)')?".r
        val rows = range.findFirstMatchIn(sql) match {
          case Some(m) =>
            val lo = m.group(1).toInt
            val hi = Option(m.group(2)).map(_.toInt).getOrElse(allRows.size)
            allRows.slice(lo, hi)
          case None =>
            if (sql.toUpperCase.contains("LIMIT 0")) Nil else allRows
        }
        // RowDescription: int16 n + (name, tableOid, attnum, typeOid,
        // typlen, typmod, format) per field — text (oid 25) everywhere
        val td = new java.io.ByteArrayOutputStream()
        val t = new DataOutputStream(td)
        t.writeShort(cols.size)
        cols.foreach { c =>
          t.write(cstring(c))
          t.writeInt(0); t.writeShort(0); t.writeInt(25)
          t.writeShort(-1); t.writeInt(-1); t.writeShort(0)
        }
        msg('T', td.toByteArray)
        rows.zipWithIndex.foreach { case (r, i) =>
          onRow(i) // may block — rows already written are flushed
          val rd = new java.io.ByteArrayOutputStream()
          val d = new DataOutputStream(rd)
          d.writeShort(r.length)
          r.foreach { v =>
            if (v == null) d.writeInt(-1)
            else { val b = v.getBytes(UTF_8); d.writeInt(b.length); d.write(b) }
          }
          msg('D', rd.toByteArray)
          out.flush()
        }
        commandComplete(s"SELECT ${rows.size}")
      }

      while (true) {
        val (tpe, payload) = readMsg()
        tpe match {
          case 'Q' =>
            val sql = new String(payload.dropRight(1), UTF_8)
            received.synchronized(received += sql)
            val up = sql.toUpperCase
            if (up.startsWith("COPY")) handleCopy(sql)
            else if (up.startsWith("SELECT") || up.startsWith("WITH"))
              handleSelect(sql)
            else {
              executed.synchronized(executed += sql)
              commandComplete(sql.trim.split("\\s+").head.toUpperCase)
            }
            readyForQuery()
          case 'X' => return // Terminate
          case _ => () // ignore
        }
      }
    } catch {
      case _: java.io.EOFException => () // client went away
      case e: Throwable =>
        System.err.println(s"[fake-pg] handler died: $e")
        e.printStackTrace()
    } finally sock.close()
  }

  /** Run the configured auth exchange; false = reject the client. */
  private def authenticate(readMsg: () => (Char, Array[Byte]),
                           msg: (Char, Array[Byte]) => Unit,
                           authRequest: (Int, Array[Byte]) => Unit,
                           out: DataOutputStream): Boolean =
    authMode match {
      case "trust" => true
      case "cleartext" =>
        authRequest(3, Array.empty); out.flush()
        val (t, p) = readMsg()
        t == 'p' && new String(p.dropRight(1), UTF_8) == password
      case "md5" =>
        val salt = Array[Byte](1, 2, 3, 4)
        authRequest(5, salt); out.flush()
        val (t, p) = readMsg()
        t == 'p' && new String(p.dropRight(1), UTF_8) ==
          graft.sinks.PgWire.md5Password(user, password, salt)
      case "scram" => scramVerify(readMsg, msg, authRequest, out)
      case other => throw new IllegalArgumentException(other)
    }

  /** Server side of SCRAM-SHA-256 (the mirror of the client in
    * [[graft.sinks.PgWireConnection]]). */
  private def scramVerify(readMsg: () => (Char, Array[Byte]),
                          msg: (Char, Array[Byte]) => Unit,
                          authRequest: (Int, Array[Byte]) => Unit,
                          out: DataOutputStream): Boolean = {
    import graft.sinks.PgWire.{hmacSha256, pbkdf2, sha256}
    val b64e = java.util.Base64.getEncoder
    val b64d = java.util.Base64.getDecoder
    authRequest(10, cstring("SCRAM-SHA-256") :+ 0.toByte); out.flush()
    val (t1, p1) = readMsg()
    if (t1 != 'p') return false
    // SASLInitialResponse: mech cstring + int32 + client-first-message
    val mechEnd = p1.indexOf(0.toByte)
    val clientFirst = new String(p1.drop(mechEnd + 5), UTF_8)
    require(clientFirst.startsWith("n,,"), s"gs2 header: $clientFirst")
    val clientFirstBare = clientFirst.stripPrefix("n,,")
    val clientNonce = clientFirstBare.split(",")
      .find(_.startsWith("r=")).get.drop(2)

    val salt = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val iters = 4096
    val serverNonce = clientNonce + "srvnonce"
    val serverFirst =
      s"r=$serverNonce,s=${b64e.encodeToString(salt)},i=$iters"
    authRequest(11, serverFirst.getBytes(UTF_8)); out.flush()

    val (t2, p2) = readMsg()
    if (t2 != 'p') return false
    val clientFinal = new String(p2, UTF_8)
    val attrs = clientFinal.split(",").map(kv =>
      kv.substring(0, 1) -> kv.drop(2)).toMap
    if (attrs("r") != serverNonce) return false
    val withoutProof = clientFinal.substring(0, clientFinal.indexOf(",p="))
    val authMessage =
      s"$clientFirstBare,$serverFirst,$withoutProof".getBytes(UTF_8)
    val salted = pbkdf2(password, salt, iters)
    val clientKey = hmacSha256(salted, "Client Key".getBytes(UTF_8))
    val storedKey = sha256(clientKey)
    val clientSig = hmacSha256(storedKey, authMessage)
    val proof = b64d.decode(attrs("p"))
    val recoveredKey = proof.zip(clientSig).map {
      case (a, b) => (a ^ b).toByte }
    if (!java.util.Arrays.equals(sha256(recoveredKey), storedKey))
      return false
    val serverKey = hmacSha256(salted, "Server Key".getBytes(UTF_8))
    val serverSig = hmacSha256(serverKey, authMessage)
    authRequest(12, s"v=${b64e.encodeToString(serverSig)}".getBytes(UTF_8))
    out.flush()
    true
  }
}

object FakePgServer {

  /** The columns of [[graft.sources.IntrospectionSql.pgsqlColumns]], in
    * order. */
  val catalogColumns: Seq[String] = Seq("nspname", "relname", "attname",
    "data_type", "default_expr", "nullable", "enum_labels", "identity",
    "relkind", "generated", "persistence", "owned_seq", "pages")

  /** One full row of the column catalog query: a column of a logged
    * heap of `pages` pages, neither identity nor generated, whose
    * nextval default (if any) owns its sequence. */
  def column(schema: String, table: String, name: String, dataType: String,
             default: String = null, nullable: Boolean = true,
             enumLabels: String = null, pages: Long = 1L): Array[String] =
    Array(schema, table, name, dataType, default, if (nullable) "t" else "f",
      enumLabels, "", "r", "", "p", "t", pages.toString)

  /** Whether `sql` is the column catalog query. */
  def isColumnQuery(sql: String): Boolean = sql.contains("AS owned_seq")

  /** `rows` ([[column]]s) as the answer to the column catalog query. */
  def columns(rows: Seq[Array[String]])
      : Option[(Seq[String], Seq[Array[String]])] =
    Some((catalogColumns, rows))
}
