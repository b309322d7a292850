package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_16LE
import scala.collection.mutable.ArrayBuffer

import graft.sources.TdsWire

/** In-process TDS server speaking just enough of [MS-TDS] 7.1 to drive
  * [[graft.sources.TdsWireConnection]] through PRELOGIN, LOGIN7 with SQL
  * auth (password de-obfuscation + verify), SQLBatch with NVARCHAR
  * resultsets, and a TYPED_DEMO route that emits INTN / NUMERICN / BITN
  * / FLT8 / DATETIME / NVARCHAR columns to exercise the client's value
  * decoders end to end — the MSSQL sibling of [[FakePgServer]] and
  * [[FakeMySqlServer]]. */
final class FakeTdsServer(
    user: String = "graft",
    password: String = "secret",
    tableCols: Seq[String] = Nil,
    tableRows: Seq[Array[String]] = Nil,
    onSelect: String => Option[(Seq[String], Seq[Array[String]])] =
      _ => None,
    // wire type per column name for the SELECT path (default NVARCHAR):
    // TMoney / TMoneyN / TMoney4 take 4-dp decimal strings; TBigVarBin /
    // TImage take `\x…` hex; TText ISO-8859-1; TNText UTF-16 — so tests
    // drive the client's legacy-LOB and money decoders over real tokens
    colTypes: Map[String, Int] = Map.empty,
    // called with the row index before each ROW token is written (all
    // full frames so far are flushed) — lets a test park the server
    // mid-result to prove the client streams
    onRow: Int => Unit = _ => (),
    // when set, PRELOGIN answers ENCRYPT_ON to a willing client and the
    // TLS handshake runs tunneled in PRELOGIN-type packets, after which
    // the whole stream is TLS ([MS-TDS] 3.3.5.3)
    tls: Option[javax.net.ssl.SSLContext] = None,
    // negotiated TDS major the LOGINACK announces: 0x71 (default) or
    // 0x74 — at 0x74 the server expects ALL_HEADERS on batches, writes
    // u32 usertypes, u64 DONE rowcounts, serves MAX columns PLP-chunked
    // and speaks the 7.3 date/time token family
    serverTds: Int = 0x71,
    // varchar/nvarchar/varbinary columns to advertise as (MAX) — PLP
    // values — in 7.4 mode; scale-7 is used for the time family
    maxCols: Set[String] = Set.empty) extends AutoCloseable {

  val executed = new ArrayBuffer[String]()
  val received = new ArrayBuffer[String]() // every SQL batch, in order
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
        val t = new Thread(() => handle(s), "fake-tds-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () }
    }
  }, "fake-tds-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = { running = false; server.close() }

  private def handle(sock0: Socket): Unit = {
    connections.incrementAndGet()
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream))

    def sendPacket(tpe: Int, payload: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeByte(0x01)
      out.writeShort(payload.length + 8)
      out.writeShort(0); out.writeByte(1); out.writeByte(0)
      out.write(payload); out.flush()
    }
    def readMessage(): (Int, Array[Byte]) = {
      val acc = new java.io.ByteArrayOutputStream()
      var tpe = 0
      var eom = false
      while (!eom) {
        tpe = in.readByte() & 0xFF
        val status = in.readByte()
        val len = in.readUnsignedShort()
        in.readShort(); in.readByte(); in.readByte()
        val p = new Array[Byte](len - 8)
        in.readFully(p)
        acc.write(p)
        eom = (status & 0x01) != 0
      }
      (tpe, acc.toByteArray)
    }

    // little-endian emitters into a token stream
    def le16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xFF); b.write((v >> 8) & 0xFF)
    }
    def le32(b: java.io.ByteArrayOutputStream, v: Long): Unit =
      (0 until 4).foreach(i => b.write(((v >> (8 * i)) & 0xFF).toInt))
    def bVarchar(b: java.io.ByteArrayOutputStream, s: String): Unit = {
      b.write(s.length)
      val x = s.getBytes(UTF_16LE); b.write(x, 0, x.length)
    }
    def done(b: java.io.ByteArrayOutputStream, rows: Long): Unit = {
      b.write(TdsWire.TokDone); le16(b, 0); le16(b, 0); le32(b, rows)
      if (serverTds >= 0x72) le32(b, 0) // u64 rowcount at 7.2+
    }
    def errorToken(b: java.io.ByteArrayOutputStream, number: Long,
                   msg: String): Unit = {
      val body = new java.io.ByteArrayOutputStream()
      le32(body, number)
      body.write(1) // state
      body.write(14) // severity
      le16(body, msg.length)
      val mb = msg.getBytes(UTF_16LE); body.write(mb, 0, mb.length)
      body.write(0) // server name (empty B_VARCHAR)
      body.write(0) // proc name
      le16(body, 0) // line
      b.write(TdsWire.TokError)
      le16(b, body.size())
      body.writeTo(b)
    }

    try {
      // ---- PRELOGIN ----
      val (t0, preBody) = readMessage()
      require(t0 == TdsWire.PktPrelogin, s"expected PRELOGIN, got $t0")
      val clientEnc = TdsWire.preloginOption(preBody, 1)
        .filter(_.nonEmpty).map(_(0) & 0xFF).getOrElse(2)
      val doTls = tls.isDefined && clientEnc != 2
      val pre = new java.io.ByteArrayOutputStream()
      // VERSION + ENCRYPTION option table
      val version = Array[Byte](16, 0, 0, 0, 0, 0)
      val enc = Array[Byte]((if (doTls) 1 else 2).toByte)
      var off = 2 * 5 + 1
      Seq((0, version), (1, enc)).foreach { case (tok, data) =>
        pre.write(tok)
        pre.write((off >> 8) & 0xFF); pre.write(off & 0xFF)
        pre.write((data.length >> 8) & 0xFF); pre.write(data.length & 0xFF)
        off += data.length
      }
      pre.write(0xFF)
      pre.write(version, 0, version.length); pre.write(enc, 0, enc.length)
      sendPacket(TdsWire.PktTabular, pre.toByteArray)

      if (doTls) {
        // tunneled handshake: our flights frame as PRELOGIN packets
        // until the handshake completes, then the raw stream is TLS
        tlsConnections.incrementAndGet()
        val tunnel = new graft.sources.TdsTlsTunnel(sock, in, out)
        val ssl = tls.get.getSocketFactory
          .createSocket(tunnel, null, sock.getPort, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(false)
        ssl.setEnabledProtocols(Array("TLSv1.2"))
        ssl.startHandshake()
        tunnel.passthrough = true
        sock = ssl
        in = new DataInputStream(
          new BufferedInputStream(ssl.getInputStream))
        out = new DataOutputStream(
          new BufferedOutputStream(ssl.getOutputStream))
      }

      // ---- LOGIN7 ----
      val (t1, login) = readMessage()
      require(t1 == TdsWire.PktLogin7, s"expected LOGIN7, got $t1")
      def dirAt(i: Int): (Int, Int) = {
        val base = 36 + i * 4
        def u16(o: Int) = (login(o) & 0xFF) | ((login(o + 1) & 0xFF) << 8)
        (u16(base), u16(base + 2))
      }
      def fieldStr(i: Int): String = {
        val (o, chars) = dirAt(i)
        new String(login, o, chars * 2, UTF_16LE)
      }
      val gotUser = fieldStr(1)
      val (po, pchars) = dirAt(2)
      val gotPass = TdsWire.deobfuscatePassword(
        java.util.Arrays.copyOfRange(login, po, po + pchars * 2))
      val resp = new java.io.ByteArrayOutputStream()
      if (gotUser != user || gotPass != password) {
        errorToken(resp, 18456L, s"Login failed for user '$gotUser'.")
        done(resp, 0)
        sendPacket(TdsWire.PktTabular, resp.toByteArray)
        return
      }
      // LOGINACK: interface, tdsversion, progname, progversion. The
      // 7.4 version travels big-endian-first (74 00 00 04) like the
      // spec examples; 7.1 keeps the LE form older stacks emit — the
      // client's major-byte heuristic reads both
      val ack = new java.io.ByteArrayOutputStream()
      ack.write(1)
      if (serverTds >= 0x72) {
        ack.write(serverTds); ack.write(0); ack.write(0); ack.write(4)
      } else le32(ack, 0x71000001L)
      bVarchar(ack, "fake-mssql")
      le32(ack, 0L)
      resp.write(TdsWire.TokLoginAck)
      le16(resp, ack.size())
      ack.writeTo(resp)
      done(resp, 0)
      sendPacket(TdsWire.PktTabular, resp.toByteArray)

      // ---- batch loop ----
      while (true) {
        val (tb, body0) = readMessage()
        if (tb != TdsWire.PktSqlBatch) return
        // 7.2+ batches start with ALL_HEADERS (u32 LE total length,
        // headers, then the SQL text)
        val body =
          if (serverTds >= 0x72) {
            val hl = ((body0(0) & 0xFF) | ((body0(1) & 0xFF) << 8) |
              ((body0(2) & 0xFF) << 16) | ((body0(3) & 0xFF) << 24))
            require(hl == 22, s"bad ALL_HEADERS length $hl")
            java.util.Arrays.copyOfRange(body0, hl, body0.length)
          } else body0
        val sql = new String(body, UTF_16LE)
        received.synchronized(received += sql)
        val b = new java.io.ByteArrayOutputStream()
        // the streaming SELECT branch sends its own frames; only the
        // buffered branches emit `b` afterwards
        var sendBuffered = true
        if (sql.contains("TYPED_DEMO")) typedDemo(b, le16, le32, bVarchar,
          done)
        else if (sql.trim.toUpperCase.startsWith("SELECT")) {
          sendBuffered = false
          val (cols, allRows) =
            onSelect(sql).getOrElse((tableCols, tableRows))
          val rows = sliceRows(sql, cols, allRows)
          // stream the resultset: bytes fragment into 1024-byte frames
          // flushed as they fill, EOM on the last — so a client that
          // decodes lazily sees early rows while later ones are unsent
          val w = new PacketWriter(out)
          val h = new java.io.ByteArrayOutputStream()
          val types = cols.map(c => colTypes.getOrElse(c, TdsWire.TNVarChar))
          h.write(TdsWire.TokColMetaData)
          le16(h, cols.size)
          cols.zip(types).foreach { case (c, t) =>
            if (serverTds >= 0x72) le32(h, 0) else le16(h, 0) // usertype
            le16(h, 0) // flags
            h.write(t)
            t match {
              case TdsWire.TNVarChar | TdsWire.TBigVarChar =>
                le16(h, if (maxCols(c)) 0xFFFF else 8000)
                h.write(Array[Byte](0, 0, 0, 0, 0), 0, 5) // collation
              case TdsWire.TBigVarBin | TdsWire.TBigBinary =>
                le16(h, if (maxCols(c)) 0xFFFF else 300)
              case TdsWire.TInt1 => () // fixed 1-byte, no metadata
              case TdsWire.TMoney | TdsWire.TMoney4 => () // fixed-width
              case TdsWire.TMoneyN => h.write(8)
              case TdsWire.TDateTimeN => h.write(8)
              case TdsWire.TIntN => h.write(8)
              case TdsWire.TDate => () // no metadata
              case TdsWire.TTime | TdsWire.TDateTime2 |
                  TdsWire.TDateTimeOffset => h.write(7) // scale
              case TdsWire.TVariant => le32(h, 8009)
              case TdsWire.TText | TdsWire.TNText | TdsWire.TImage =>
                le32(h, 0x7FFFFFFFL)
                if (t != TdsWire.TImage)
                  h.write(Array[Byte](0, 0, 0, 0, 0), 0, 5) // collation
                // owning table name: US_VARCHAR at 7.1, numparts-counted
                // at 7.2+
                if (serverTds >= 0x72) h.write(1)
                le16(h, 1); val tn = "t".getBytes(UTF_16LE)
                h.write(tn, 0, tn.length)
              case other => throw new IllegalArgumentException(
                s"fake server: unhandled colType $other")
            }
            bVarchar(h, c)
          }
          w.write(h.toByteArray)
          def scaled4(s: String): Long =
            new java.math.BigDecimal(s).movePointRight(4).longValueExact
          def hexBytes(s: String): Array[Byte] = {
            require(s.startsWith("\\x"), s"not \\x hex: $s")
            s.drop(2).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
          }
          rows.zipWithIndex.foreach { case (r, i) =>
            onRow(i)
            val rb = new java.io.ByteArrayOutputStream()
            rb.write(TdsWire.TokRow)
            r.lazyZip(types).lazyZip(cols).foreach { (v, t, cname) =>
              def lob(data: Array[Byte]): Unit =
                if (v == null) rb.write(0) // zero-length textptr = NULL
                else {
                  rb.write(16)
                  rb.write(new Array[Byte](16), 0, 16) // textptr
                  rb.write(new Array[Byte](8), 0, 8) // timestamp
                  le32(rb, data.length.toLong)
                  rb.write(data, 0, data.length)
                }
              def money8(): Unit = {
                val s = scaled4(v)
                le32(rb, (s >> 32) & 0xFFFFFFFFL) // high half FIRST
                le32(rb, s & 0xFFFFFFFFL)
              }
              // PLP value: u64 total, the bytes split across TWO chunks
              // (prove reassembly), zero terminator
              def plp(data: Array[Byte]): Unit =
                if (data == null)
                  (0 until 8).foreach(_ => rb.write(0xFF)) // PLP_NULL
                else {
                  le32(rb, data.length.toLong); le32(rb, 0)
                  val half = data.length / 2
                  if (half > 0) {
                    le32(rb, half.toLong); rb.write(data, 0, half)
                  }
                  if (data.length - half > 0) { // a 0-length chunk IS
                    le32(rb, (data.length - half).toLong) // the terminator
                    rb.write(data, half, data.length - half)
                  }
                  le32(rb, 0)
                }
              def leN(v: Long, n: Int): Unit =
                (0 until n).foreach(i =>
                  rb.write(((v >> (8 * i)) & 0xFF).toInt))
              def days0001(d: java.time.LocalDate): Long =
                java.time.temporal.ChronoUnit.DAYS.between(
                  java.time.LocalDate.of(1, 1, 1), d)
              // scale-7 time units: 100 ns
              def timeUnits(t: java.time.LocalTime): Long =
                t.toNanoOfDay / 100L
              t match {
                case TdsWire.TNVarChar if maxCols(cname) =>
                  plp(if (v == null) null else v.getBytes(UTF_16LE))
                case TdsWire.TBigVarChar if maxCols(cname) =>
                  plp(if (v == null) null
                    else v.getBytes(
                      java.nio.charset.StandardCharsets.ISO_8859_1))
                case (TdsWire.TBigVarBin | TdsWire.TBigBinary)
                    if maxCols(cname) =>
                  plp(if (v == null) null else hexBytes(v))
                case TdsWire.TNVarChar | TdsWire.TBigVarChar =>
                  if (v == null) le16(rb, 0xFFFF)
                  else {
                    val x =
                      if (t == TdsWire.TNVarChar) v.getBytes(UTF_16LE)
                      else v.getBytes(
                        java.nio.charset.StandardCharsets.ISO_8859_1)
                    le16(rb, x.length); rb.write(x, 0, x.length)
                  }
                case TdsWire.TBigVarBin | TdsWire.TBigBinary =>
                  if (v == null) le16(rb, 0xFFFF)
                  else {
                    val x = hexBytes(v)
                    le16(rb, x.length); rb.write(x, 0, x.length)
                  }
                case TdsWire.TDate =>
                  if (v == null) rb.write(0)
                  else {
                    rb.write(3)
                    leN(days0001(java.time.LocalDate.parse(v)), 3)
                  }
                case TdsWire.TTime =>
                  if (v == null) rb.write(0)
                  else {
                    rb.write(5)
                    leN(timeUnits(java.time.LocalTime.parse(v)), 5)
                  }
                case TdsWire.TDateTime2 =>
                  if (v == null) rb.write(0)
                  else {
                    val ldt = java.time.LocalDateTime.parse(
                      v.replace(' ', 'T'))
                    rb.write(8)
                    leN(timeUnits(ldt.toLocalTime), 5)
                    leN(days0001(ldt.toLocalDate), 3)
                  }
                case TdsWire.TDateTimeOffset =>
                  if (v == null) rb.write(0)
                  else {
                    // "yyyy-MM-dd HH:mm:ss.fffffff +hh:mm" — stored UTC
                    val m = ("(\\S+) (\\S+) ([+-])(\\d{2}):(\\d{2})").r
                      .findFirstMatchIn(v).getOrElse(
                        throw new IllegalArgumentException(s"bad dto: $v"))
                    val local = java.time.LocalDateTime.parse(
                      m.group(1) + "T" + m.group(2))
                    val off = (m.group(4).toInt * 60 + m.group(5).toInt) *
                      (if (m.group(3) == "-") -1 else 1)
                    val utc = local.minusMinutes(off.toLong)
                    rb.write(10)
                    leN(timeUnits(utc.toLocalTime), 5)
                    leN(days0001(utc.toLocalDate), 3)
                    leN((off & 0xFFFF).toLong, 2)
                  }
                case TdsWire.TMoney => money8()
                case TdsWire.TMoney4 => le32(rb, scaled4(v) & 0xFFFFFFFFL)
                case TdsWire.TMoneyN =>
                  // like a real server: 4-byte form (smallmoney) when the
                  // scaled value fits, else the 8-byte high-half-first form
                  if (v == null) rb.write(0)
                  else {
                    val s = scaled4(v)
                    if (s == s.toInt.toLong) {
                      rb.write(4); le32(rb, s & 0xFFFFFFFFL)
                    } else { rb.write(8); money8() }
                  }
                case TdsWire.TInt1 => // unsigned 0-255, one raw byte
                  rb.write(v.toInt & 0xFF)
                case TdsWire.TIntN =>
                  if (v == null) rb.write(0)
                  else {
                    rb.write(8)
                    val x = v.toLong
                    (0 until 8).foreach(i =>
                      rb.write(((x >> (8 * i)) & 0xFF).toInt))
                  }
                case TdsWire.TDateTimeN =>
                  if (v == null) rb.write(0)
                  else {
                    val ldt = java.time.LocalDateTime.parse(
                      v.replace(' ', 'T'))
                    val days = java.time.temporal.ChronoUnit.DAYS.between(
                      java.time.LocalDate.of(1900, 1, 1), ldt.toLocalDate)
                    val t300 =
                      ldt.toLocalTime.toNanoOfDay / 1000000L * 3L / 10L
                    rb.write(8); le32(rb, days); le32(rb, t300)
                  }
                case TdsWire.TVariant =>
                  // SSVARIANT: values are tagged "kind:raw" strings so a
                  // single column can mix base types like a real
                  // sql_variant; u32 total 0 = NULL
                  if (v == null) le32(rb, 0)
                  else {
                    val i = v.indexOf(':')
                    val kind = v.substring(0, i)
                    val raw = v.substring(i + 1)
                    val vb = new java.io.ByteArrayOutputStream()
                    def leNv(x: Long, n: Int): Unit =
                      (0 until n).foreach(j =>
                        vb.write(((x >> (8 * j)) & 0xFF).toInt))
                    kind match {
                      case "int" =>
                        vb.write(TdsWire.TInt4); vb.write(0)
                        leNv(raw.toLong, 4)
                      case "bigint" =>
                        vb.write(TdsWire.TInt8); vb.write(0)
                        leNv(raw.toLong, 8)
                      case "bit" =>
                        vb.write(TdsWire.TBit); vb.write(0)
                        vb.write(if (raw == "t") 1 else 0)
                      case "flt8" =>
                        vb.write(TdsWire.TFlt8); vb.write(0)
                        leNv(java.lang.Double.doubleToLongBits(
                          raw.toDouble), 8)
                      case "numeric" => // "precision,scale,value"
                        val Array(p, s, dv) = raw.split(",", 3)
                        vb.write(TdsWire.TNumericN); vb.write(2)
                        vb.write(p.toInt); vb.write(s.toInt)
                        val bd = new java.math.BigDecimal(dv)
                        vb.write(if (bd.signum() < 0) 0 else 1)
                        leNv(bd.unscaledValue().abs().longValueExact, 8)
                      case "money" =>
                        vb.write(TdsWire.TMoney); vb.write(0)
                        val s = scaled4(raw)
                        leNv((s >> 32) & 0xFFFFFFFFL, 4) // high half FIRST
                        leNv(s & 0xFFFFFFFFL, 4)
                      case "nvarchar" =>
                        vb.write(TdsWire.TNVarChar); vb.write(7)
                        vb.write(new Array[Byte](5), 0, 5) // collation
                        leNv(8000L, 2) // max length
                        val x = raw.getBytes(UTF_16LE)
                        vb.write(x, 0, x.length)
                      case "varchar" =>
                        vb.write(TdsWire.TBigVarChar); vb.write(7)
                        vb.write(new Array[Byte](5), 0, 5)
                        leNv(8000L, 2)
                        val x = raw.getBytes(
                          java.nio.charset.StandardCharsets.ISO_8859_1)
                        vb.write(x, 0, x.length)
                      case "varbinary" =>
                        vb.write(TdsWire.TBigVarBin); vb.write(2)
                        leNv(300L, 2)
                        val x = hexBytes(raw)
                        vb.write(x, 0, x.length)
                      case "guid" => // mixed-endian: 3 LE groups, 2 BE
                        vb.write(TdsWire.TGuid); vb.write(0)
                        val g = raw.split("-")
                        leNv(java.lang.Long.parseLong(g(0), 16), 4)
                        leNv(java.lang.Long.parseLong(g(1), 16), 2)
                        leNv(java.lang.Long.parseLong(g(2), 16), 2)
                        (g(3) + g(4)).grouped(2).foreach(h =>
                          vb.write(Integer.parseInt(h, 16)))
                      case "date" =>
                        vb.write(TdsWire.TDate); vb.write(0)
                        leNv(days0001(java.time.LocalDate.parse(raw)), 3)
                      case "datetime2" => // scale 7
                        vb.write(TdsWire.TDateTime2); vb.write(1)
                        vb.write(7)
                        val ldt = java.time.LocalDateTime.parse(
                          raw.replace(' ', 'T'))
                        leNv(timeUnits(ldt.toLocalTime), 5)
                        leNv(days0001(ldt.toLocalDate), 3)
                      case "smalldatetime" =>
                        vb.write(TdsWire.TDateTim4); vb.write(0)
                        val ldt = java.time.LocalDateTime.parse(
                          raw.replace(' ', 'T'))
                        leNv(java.time.temporal.ChronoUnit.DAYS.between(
                          java.time.LocalDate.of(1900, 1, 1),
                          ldt.toLocalDate), 2)
                        leNv(ldt.toLocalTime.toSecondOfDay / 60L, 2)
                      case other => throw new IllegalArgumentException(
                        s"fake server: unhandled variant kind $other")
                    }
                    le32(rb, vb.size().toLong)
                    val arr = vb.toByteArray
                    rb.write(arr, 0, arr.length)
                  }
                case TdsWire.TText => lob(
                  if (v == null) null
                  else v.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
                case TdsWire.TNText =>
                  lob(if (v == null) null else v.getBytes(UTF_16LE))
                case TdsWire.TImage =>
                  lob(if (v == null) null else hexBytes(v))
                case other => throw new IllegalArgumentException(
                  s"fake server: unhandled colType $other")
              }
            }
            w.write(rb.toByteArray)
          }
          val d = new java.io.ByteArrayOutputStream()
          done(d, rows.size.toLong)
          w.write(d.toByteArray)
          w.end()
        } else {
          executed.synchronized(executed += sql)
          done(b, 0)
        }
        if (sendBuffered) sendPacket(TdsWire.PktTabular, b.toByteArray)
      }
    } catch {
      case _: java.io.EOFException => ()
      case e: Throwable =>
        System.err.println(s"[fake-tds] handler died: $e")
        e.printStackTrace()
    } finally sock.close()
  }

  /** Apply `WHERE [k] >= a [AND [k] < b]` range predicates and TOP 0
    * the way [[graft.sources.MssqlWireSource]] emits them. */
  private def sliceRows(sql: String, cols: Seq[String],
                        rows: Seq[Array[String]]): Seq[Array[String]] = {
    if (sql.toUpperCase.contains("TOP 0")) return Nil
    val range =
      "\\[([^\\]]+)\\] >= (-?\\d+)(?: AND \\[[^\\]]+\\] < (-?\\d+))?".r
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

  /** Fragments a tabular response into 1024-byte frames, flushing each
    * full (non-EOM) frame immediately; `end()` writes the final EOM
    * frame. */
  private final class PacketWriter(out: DataOutputStream) {
    private val pending = new java.io.ByteArrayOutputStream()
    def write(bytes: Array[Byte]): Unit = {
      pending.write(bytes, 0, bytes.length)
      while (pending.size() >= 1024) {
        val all = pending.toByteArray
        frame(all.take(1024), eom = false)
        pending.reset()
        pending.write(all, 1024, all.length - 1024)
      }
    }
    def end(): Unit = { frame(pending.toByteArray, eom = true); pending.reset() }
    private def frame(payload: Array[Byte], eom: Boolean): Unit = {
      out.writeByte(TdsWire.PktTabular)
      out.writeByte(if (eom) 0x01 else 0x00)
      out.writeShort(payload.length + 8)
      out.writeShort(0); out.writeByte(1); out.writeByte(0)
      out.write(payload)
      out.flush()
    }
  }

  /** A typed resultset — INTN, NUMERICN(12,4), BITN, FLT8, DATETIME,
    * NVARCHAR — two data rows plus an all-NULL row, to drive every
    * client value decoder. */
  private def typedDemo(b: java.io.ByteArrayOutputStream,
                        le16: (java.io.ByteArrayOutputStream, Int) => Unit,
                        le32: (java.io.ByteArrayOutputStream, Long) => Unit,
                        bVarchar: (java.io.ByteArrayOutputStream, String) => Unit,
                        done: (java.io.ByteArrayOutputStream, Long) => Unit)
      : Unit = {
    b.write(TdsWire.TokColMetaData)
    le16(b, 6)
    def colHead(): Unit = { le16(b, 0); le16(b, 0) }
    colHead(); b.write(TdsWire.TIntN); b.write(8); bVarchar(b, "id")
    colHead(); b.write(TdsWire.TNumericN); b.write(17); b.write(12)
    b.write(4); bVarchar(b, "price")
    colHead(); b.write(TdsWire.TBitN); b.write(1); bVarchar(b, "flag")
    colHead(); b.write(TdsWire.TFlt8); bVarchar(b, "ratio")
    colHead(); b.write(TdsWire.TDateTime); bVarchar(b, "at")
    colHead(); b.write(TdsWire.TNVarChar); le16(b, 8000)
    b.write(Array[Byte](0, 0, 0, 0, 0), 0, 5); bVarchar(b, "note")

    def intN(v: Long): Unit = {
      b.write(8); (0 until 8).foreach(i => b.write(((v >> (8 * i)) & 0xFF).toInt))
    }
    def numericN(unscaled: Long, positive: Boolean): Unit = {
      b.write(9); b.write(if (positive) 1 else 0)
      (0 until 8).foreach(i => b.write(((unscaled >> (8 * i)) & 0xFF).toInt))
    }
    def bitN(v: Option[Boolean]): Unit = v match {
      case Some(x) => b.write(1); b.write(if (x) 1 else 0)
      case None => b.write(0)
    }
    def flt8(v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => b.write(((bits >> (8 * i)) & 0xFF).toInt))
    }
    def dt(days: Long, t300: Long): Unit = { le32(b, days); le32(b, t300) }
    def nv(s: String): Unit = {
      if (s == null) le16(b, 0xFFFF)
      else { val x = s.getBytes(UTF_16LE); le16(b, x.length); b.write(x, 0, x.length) }
    }

    b.write(TdsWire.TokRow)
    intN(42L); numericN(12345678L, positive = true)
    bitN(Some(true)); flt8(2.5)
    // 2020-01-02 03:04:05.000 = 43830 days since 1900-01-01;
    // 03:04:05 = 11045 s = 3313500 three-hundredths
    dt(43830L, 3313500L); nv("hello")
    b.write(TdsWire.TokRow)
    intN(-7L); numericN(5000L, positive = false)
    bitN(Some(false)); flt8(-0.125)
    dt(0L, 0L); nv("bye")
    b.write(TdsWire.TokRow)
    b.write(0) // intN NULL
    b.write(0) // numericN NULL
    bitN(None)
    flt8(0.0) // FLT8 is fixed-width, no NULL form
    dt(0L, 0L)
    nv(null)
    done(b, 3)
  }
}

object FakeTdsServer {

  /** The answer to [[graft.sources.IntrospectionSql.mssqlColumns]]: each
    * sys.columns row (schema, table, column, type, max_length,
    * precision, scale, is_nullable, is_identity, default) with its
    * table's row count from `sizes` appended (0 for a table not named
    * there). */
  def columns(rows: Seq[Array[String]], sizes: Map[String, Long] = Map.empty)
      : Option[(Seq[String], Seq[Array[String]])] =
    Some((Seq("schema_name", "table_name", "name", "type_name",
      "max_length", "precision", "scale", "is_nullable", "is_identity",
      "default_def", "table_rows"),
      rows.map(r => r :+ sizes.getOrElse(r(1), 0L).toString)))
}
