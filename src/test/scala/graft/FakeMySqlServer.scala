package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

import graft.sources.MySqlWire

/** In-process MySQL wire-protocol server speaking just enough of the
  * client/server protocol to drive [[graft.sources.MySqlWireConnection]]
  * through handshake v10 + mysql_native_password (optionally via an
  * AuthSwitchRequest round), COM_QUERY text resultsets with range-slice
  * routing, and COM_QUIT — the MySQL twin of [[FakePgServer]].
  *
  * @param authSwitch reply to the handshake response with an
  *   AuthSwitchRequest carrying a FRESH salt (the server-side re-auth
  *   path real servers take when the user's plugin differs)
  * @param authPlugin the default plugin advertised in the handshake —
  *   `mysql_native_password` or `caching_sha2_password` (the MySQL ≥ 8.0
  *   default; fast-auth verifies the SHA-256 scramble, then AuthMoreData
  *   0x03 + OK)
  * @param sha2FullAuth with caching_sha2: demand FULL authentication
  *   (AuthMoreData 0x04 — the cache-miss path of a real server), i.e.
  *   the cleartext password + NUL, which the client only sends over TLS
  * @param onSelect   multi-result routing: first match wins, falls back
  *   to the single (tableCols, tableRows) table; `WHERE k >= a AND
  *   k < b` range predicates and LIMIT 0 apply to the routed rows
  */
final class FakeMySqlServer(
    user: String = "graft",
    password: String = "secret",
    // version string served in the handshake; also selects the RSA
    // padding the server accepts (pre-8.0.5 = PKCS#1 v1.5)
    serverVersion: String = "8.0.0-fake",
    authSwitch: Boolean = false,
    authPlugin: String = "mysql_native_password",
    sha2FullAuth: Boolean = false,
    tableCols: Seq[String] = Nil,
    tableRows: Seq[Array[String]] = Nil,
    onSelect: String => Option[(Seq[String], Seq[Array[String]])] =
      _ => None,
    // inject a server ERR for matching statements — e.g. the
    // pre-8.0.16 unknown-table error for check_constraints queries
    onError: String => Option[(Int, String, String)] = _ => None,
    onRow: Int => Unit = _ => (),
    // TLS: when set, CLIENT_SSL is advertised and a 32-byte SSLRequest
    // upgrades the connection before the full handshake response
    tls: Option[javax.net.ssl.SSLContext] = None,
    // row VALUE encoder — lets a test serve bytes stored in a charset
    // other than utf8 (the DECODING TABLE NAMES MATCHING scenario)
    rowEncoder: String => Array[Byte] = _.getBytes(UTF_8))
    extends AutoCloseable {

  val executed = new ArrayBuffer[String]() // row-less statements
  val received = new ArrayBuffer[String]() // every COM_QUERY, in order
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)
  val tlsConnections = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var running = true
  private val server = new ServerSocket(0, 50,
    java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s), "fake-mysql-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed
    }
  }, "fake-mysql-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = { running = false; server.close() }

  // ---- per-connection protocol ----

  private def handle(sock0: Socket): Unit = {
    connections.incrementAndGet()
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream))
    var seq = 0

    def sendPacket(payload: Array[Byte]): Unit = {
      out.writeByte(payload.length & 0xFF)
      out.writeByte((payload.length >> 8) & 0xFF)
      out.writeByte((payload.length >> 16) & 0xFF)
      out.writeByte(seq)
      seq = (seq + 1) & 0xFF
      out.write(payload)
      out.flush()
    }
    def readPacket(): Array[Byte] = {
      val len = in.read() | (in.read() << 8) | (in.read() << 16)
      if (len < 0) throw new java.io.EOFException("client closed")
      seq = (in.read() + 1) & 0xFF
      val p = new Array[Byte](len)
      in.readFully(p)
      p
    }
    def ok(): Unit =
      sendPacket(Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00))
    def err(code: Int, state: String, msg: String): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0xFF)
      b.write(code & 0xFF); b.write((code >> 8) & 0xFF)
      b.write('#'); b.write(state.getBytes(UTF_8), 0, 5)
      val m = msg.getBytes(UTF_8)
      b.write(m, 0, m.length)
      sendPacket(b.toByteArray)
    }
    def eof(): Unit = sendPacket(Array[Byte](0xFE.toByte, 0, 0, 2, 0))

    def newSalt(): Array[Byte] = {
      val s = new Array[Byte](20)
      new java.security.SecureRandom().nextBytes(s)
      // the scramble must be NUL-free (cstring framing in the switch)
      s.map(b => ((b & 0x7F) % 94 + 33).toByte)
    }

    try {
      // ---- handshake v10 ----
      val salt = newSalt()
      val hs = new java.io.ByteArrayOutputStream()
      hs.write(10)
      hs.write(serverVersion.getBytes(UTF_8)); hs.write(0)
      hs.write(Array[Byte](1, 0, 0, 0), 0, 4) // thread id
      hs.write(salt, 0, 8); hs.write(0)
      val capLow = MySqlWire.ClientProtocol41 |
        MySqlWire.ClientSecureConnection | MySqlWire.ClientConnectWithDb |
        MySqlWire.ClientLongPassword | MySqlWire.ClientTransactions |
        (if (tls.isDefined) MySqlWire.ClientSsl else 0)
      hs.write(capLow & 0xFF); hs.write((capLow >> 8) & 0xFF)
      hs.write(45) // utf8mb4
      hs.write(2); hs.write(0) // status
      val capHigh = MySqlWire.ClientPluginAuth >> 16
      hs.write(capHigh & 0xFF); hs.write((capHigh >> 8) & 0xFF)
      hs.write(21) // auth data length
      hs.write(new Array[Byte](10), 0, 10)
      hs.write(salt, 8, 12); hs.write(0)
      hs.write(authPlugin.getBytes(UTF_8)); hs.write(0)
      sendPacket(hs.toByteArray)

      // ---- HandshakeResponse41 (possibly preceded by SSLRequest: the
      // 32-byte prefix with CLIENT_SSL set → upgrade, read the full
      // response over TLS) ----
      var first = readPacket()
      if (tls.isDefined && first.length == 32 &&
          (((first(1) & 0xFF) << 8) & MySqlWire.ClientSsl) != 0) {
        tlsConnections.incrementAndGet()
        // the client's ClientHello may already sit in the plain
        // stream's buffer; the TLS server must read it from there or
        // both sides wait for each other forever
        val early = new Array[Byte](in.available())
        in.readFully(early)
        val ssl = tls.get.getSocketFactory
          .createSocket(sock, new java.io.ByteArrayInputStream(early), true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(false)
        sock = ssl
        in = new DataInputStream(
          new BufferedInputStream(sock.getInputStream))
        out = new DataOutputStream(
          new BufferedOutputStream(sock.getOutputStream))
        first = readPacket()
      }
      val resp = new MySqlWire.Cursor(first)
      val caps = resp.u4
      resp.skip(4) // max packet
      resp.skip(1) // charset
      resp.skip(23)
      val gotUser = resp.cstring
      val authLen = resp.u1
      var auth = resp.bytes(authLen)
      if ((caps & MySqlWire.ClientConnectWithDb) != 0) resp.cstring // db
      var effectiveSalt = salt
      if (authSwitch) {
        // AuthSwitchRequest: 0xFE + plugin cstring + fresh salt cstring
        val fresh = newSalt()
        val sw = new java.io.ByteArrayOutputStream()
        sw.write(0xFE)
        sw.write(authPlugin.getBytes(UTF_8)); sw.write(0)
        sw.write(fresh, 0, fresh.length); sw.write(0)
        sendPacket(sw.toByteArray)
        auth = readPacket()
        effectiveSalt = fresh
      }
      if (gotUser != user) {
        err(1045, "28000", s"Access denied for user '$gotUser'")
        return
      }
      // serve the RSA public key (AuthMoreData + PEM) and recover the
      // cleartext from the client's OAEP(pw-NUL XOR salt-cycle) reply
      def rsaExchange(seed: Array[Byte]): String = {
        sendPacket(0x01.toByte +: FakeMySqlServer.publicKeyPem)
        val enc = readPacket()
        val c = javax.crypto.Cipher.getInstance(
          graft.sources.MySqlWire.rsaPaddingTransform(serverVersion))
        c.init(javax.crypto.Cipher.DECRYPT_MODE,
          FakeMySqlServer.keyPair.getPrivate)
        val dec = c.doFinal(enc)
        val pw = dec.zipWithIndex.map { case (b, i) =>
          (b ^ seed(i % seed.length)).toByte
        }
        new String(pw, 0, math.max(0, pw.length - 1), UTF_8)
      }
      if (authPlugin == "sha256_password") {
        // auth is either the NUL-terminated cleartext (TLS / empty
        // password) or the single 0x01 public-key request
        val gotPw =
          if (auth.length == 1 && auth(0) == 0x01) rsaExchange(effectiveSalt)
          else new String(auth, 0, math.max(0, auth.length - 1), UTF_8)
        if (gotPw != password) {
          err(1045, "28000", s"Access denied for user '$gotUser'")
          return
        }
      } else if (authPlugin == "caching_sha2_password" && sha2FullAuth) {
        // cache miss on a real server: demand the full exchange — the
        // cleartext password + NUL over TLS, or the 0x02 key request
        // followed by the RSA-encrypted password on a plain channel
        sendPacket(Array[Byte](0x01, 0x04))
        val pw = readPacket()
        val gotPw =
          if (pw.length == 1 && pw(0) == 0x02) rsaExchange(effectiveSalt)
          else new String(pw, 0, math.max(0, pw.length - 1), UTF_8)
        if (gotPw != password) {
          err(1045, "28000", s"Access denied for user '$gotUser'")
          return
        }
      } else {
        val expected =
          if (authPlugin == "caching_sha2_password")
            MySqlWire.sha2Scramble(password, effectiveSalt)
          else MySqlWire.nativePassword(password, effectiveSalt)
        if (!java.util.Arrays.equals(auth, expected)) {
          err(1045, "28000", s"Access denied for user '$gotUser'")
          return
        }
        if (authPlugin == "caching_sha2_password")
          sendPacket(Array[Byte](0x01, 0x03)) // fast-auth success
      }
      ok()

      // ---- command loop ----
      def sendResultset(sql: String): Unit = {
        val (cols, allRows) = onSelect(sql).getOrElse((tableCols, tableRows))
        if (cols.isEmpty) { ok(); return } // a real server never sends
        // a 0-column resultset; an unrouted SELECT behaves like a
        // row-less statement
        val rows = sliceRows(sql, cols, allRows)
        val cnt = new java.io.ByteArrayOutputStream()
        MySqlWire.writeLenenc(cnt, cols.size.toLong)
        sendPacket(cnt.toByteArray)
        cols.foreach { name =>
          val cd = new java.io.ByteArrayOutputStream()
          Seq("def", "", "", "", name, name).foreach(
            MySqlWire.writeLenencString(cd, _))
          cd.write(0x0C)
          cd.write(45); cd.write(0) // charset
          cd.write(Array[Byte](-1, 0, 0, 0), 0, 4) // column length
          cd.write(0xFD) // VAR_STRING
          cd.write(0); cd.write(0) // flags
          cd.write(0) // decimals
          cd.write(0); cd.write(0)
          sendPacket(cd.toByteArray)
        }
        eof()
        rows.zipWithIndex.foreach { case (r, i) =>
          onRow(i) // may block — prior rows are flushed per packet
          val rp = new java.io.ByteArrayOutputStream()
          r.foreach { v =>
            if (v == null) rp.write(0xFB)
            else {
              val b = rowEncoder(v)
              MySqlWire.writeLenenc(rp, b.length.toLong)
              rp.write(b, 0, b.length)
            }
          }
          sendPacket(rp.toByteArray)
        }
        eof()
      }

      while (true) {
        val p = readPacket()
        (p(0) & 0xFF) match {
          case 0x01 => return // COM_QUIT
          case 0x0E => ok() // COM_PING
          case 0x03 =>
            val sql = new String(p, 1, p.length - 1, UTF_8)
            received.synchronized(received += sql)
            onError(sql) match {
              case Some((code, state, msg)) => err(code, state, msg)
              case None =>
                if (sql.trim.toUpperCase.startsWith("SELECT"))
                  sendResultset(sql)
                else {
                  executed.synchronized(executed += sql)
                  ok()
                }
            }
          case _ => ok()
        }
      }
    } catch {
      case _: java.io.EOFException => () // client went away
      case e: Throwable =>
        System.err.println(s"[fake-mysql] handler died: $e")
        e.printStackTrace()
    } finally sock.close()
  }

  /** Apply `WHERE k >= a [AND k < b]` range predicates and LIMIT 0 the
    * way [[graft.sources.MySqlWireSource]] emits them. */
  private def sliceRows(sql: String, cols: Seq[String],
                        rows: Seq[Array[String]]): Seq[Array[String]] = {
    if (sql.toUpperCase.contains("LIMIT 0")) return Nil
    val range = "`([^`]+)` >= (-?\\d+)(?: AND `[^`]+` < (-?\\d+))?".r
    range.findFirstMatchIn(sql) match {
      case Some(m) =>
        val idx = cols.indexOf(m.group(1))
        if (idx < 0) rows
        else {
          val lo = m.group(2).toLong
          val hi = Option(m.group(3)).map(_.toLong).getOrElse(Long.MaxValue)
          rows.filter { r =>
            val v = r(idx).toLong; v >= lo && v < hi
          }
        }
      case None => rows
    }
  }
}

object FakeMySqlServer {
  /** One shared 2048-bit pair for the sha256_password / caching_sha2
    * RSA leg — generated once per test JVM. */
  lazy val keyPair: java.security.KeyPair = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }

  /** The key as MySQL serves it: PEM SubjectPublicKeyInfo. */
  lazy val publicKeyPem: Array[Byte] = {
    val b64 = java.util.Base64.getMimeEncoder(64, "\n".getBytes(UTF_8))
      .encodeToString(keyPair.getPublic.getEncoded)
    s"-----BEGIN PUBLIC KEY-----\n$b64\n-----END PUBLIC KEY-----\n"
      .getBytes(UTF_8)
  }

  /** The answer to [[graft.sources.MySqlWireSource.introspect]]'s
    * column query: each (table, column, type, default, nullable, extra)
    * row with its table's `table_rows` from `sizes` appended (0 for a
    * table not named there). */
  def columns(rows: Seq[Array[String]], sizes: Map[String, Long] = Map.empty)
      : Option[(Seq[String], Seq[Array[String]])] =
    Some((Seq("table_name", "column_name", "column_type", "column_default",
      "is_nullable", "extra", "table_rows"),
      rows.map(r => r :+ sizes.getOrElse(r(0), 0L).toString)))
}
