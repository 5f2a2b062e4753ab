package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import scala.collection.mutable
import graft.pgproto.{Lsn, PgWire}

/** In-process fake walsender speaking real frontend/backend protocol bytes
  * over a real socket — the reference's own test pattern
  * (`pq/replication/stream_connmu_test.go:77`: a fake server, not a mock of
  * the client). Serves the configured WAL frames after a START_REPLICATION,
  * filtered by the requested LSN with the same txn-aware semantics a slot's
  * restart point gives ([[ResumeFilter]]), and records everything the client
  * sends back (status updates, queries) for assertions.
  */
final class FakeWalsender(
    frames: Seq[Array[Byte]],
    requirePassword: Option[String] = None,
    /** "cleartext" (legacy) or "scram" (SCRAM-SHA-256, the modern default).
      * Only meaningful with `requirePassword`.
      */
    authMethod: String = "cleartext",
    /** Mechanism list advertised in AuthenticationSASL (test seam for the
      * "server offers only unsupported mechanisms" path).
      */
    saslMechanisms: Seq[String] = Seq(graft.pgproto.Scram.Mechanism),
    /** When set, SSLRequest is answered 'S' and the connection upgrades to
      * TLS with this (keystore-backed) context; when None it is answered
      * 'N' like an SSL-less server.
      */
    serverSsl: Option[javax.net.ssl.SSLContext] = None,
    /** With `serverSsl`: demand a client certificate during the handshake
      * (pg_hba `cert` / `clientcert=verify-ca` shape) — the handshake fails
      * unless the client presents a cert the server context trusts.
      */
    requireClientCert: Boolean = false,
    systemId: String = "7000000000000000001",
    timeline: Int = 1,
    xLogPos: Long = 0x1000L,
    /** When ≥ 0: the FIRST replication stream is cut (socket closed
      * abruptly) after this many frames — the reconnect fault injection.
      */
    dropAfterFrames: Int = -1,
    /** Multi-cut fault schedule: the k-th replication stream (0-based) is
      * cut abruptly after `dropSchedule(k)` frames; streams past the
      * schedule's end run to completion. `dropAfterFrames` is the
      * schedule-of-one special case (kept for the single-drop specs).
      */
    dropSchedule: Seq[Int] = Nil,
    /** When > 0: interleave a primary-keepalive ('k', reply requested)
      * after every N served data frames — the chatter a real walsender
      * mixes into the stream, exercising the client's reply path.
      */
    keepaliveEvery: Int = 0,
    /** Generic simple-query handler: sql → Some((colNames, rows)) to serve
      * a result, None → ErrorResponse. Lets the same server back the
      * service-layer SQL executor.
      */
    sqlResults: String => Option[(Seq[String], Seq[Seq[Option[String]]])] = _ => None,
    /** Reject any NON-TLS session at startup with the pg_hba-style FATAL
      * 28000 a `hostssl`-only rule produces — the server shape that makes
      * sslmode=allow retry over TLS.
      */
    rejectPlaintextStartup: Boolean = false,
    /** Reject the first N START_REPLICATION attempts with SQLSTATE 55006
      * (replication slot is active for PID …) — the passive→active takeover
      * race fault injection (`pq/replication/stream.go:126-131`).
      */
    slotInUseRejections: Int = 0,
    /** Typed error injection: sql → Some((sqlstate, message)) sends an
      * ErrorResponse with that exact SQLSTATE — e.g. the 22023
      * invalidated-snapshot family. Checked before `sqlResults`.
      */
    sqlErrors: String => Option[(String, String)] = _ => None,
    /** When set, a replication stream enters CopyBoth but serves its first
      * frame only once this latch opens — lets a spec open the feed, pin
      * the client's state, then release the backlog.
      */
    streamGate: Option[java.util.concurrent.CountDownLatch] = None) {

  private val slotInUseLeft = new java.util.concurrent.atomic.AtomicInteger(slotInUseRejections)

  require(dropAfterFrames < 0 || dropSchedule.isEmpty,
    "pass either dropAfterFrames or dropSchedule, not both")
  private val dropPlan: Vector[Int] =
    if (dropAfterFrames >= 0) Vector(dropAfterFrames) else dropSchedule.toVector
  private val dropIdx = new java.util.concurrent.atomic.AtomicInteger(0)

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  /** Every simple-query SQL string received, in order. */
  val queries = mutable.ArrayBuffer.empty[String]
  /** SASL mechanism the most recent connection authenticated with. */
  @volatile var lastAuthMechanism: String = null
  /** Raw standby-status-update ('r') CopyData payloads received. */
  val statusUpdates = mutable.ArrayBuffer.empty[Array[Byte]]
  /** Rows received through `COPY … FROM STDIN`, decoded from the text
    * format (None = `\N` NULL), tagged with the COPY statement.
    */
  val copiedRows = mutable.ArrayBuffer.empty[(String, Seq[Option[String]])]
  /** Startup parameters of the most recent connection. */
  @volatile var startupParams: Map[String, String] = Map.empty
  /** Connections currently being served — a client-side leak shows up as a
    * count that never drains (the serve thread stays parked on read).
    */
  val liveConnections = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Replication frames written to the socket so far, across streams. */
  val framesServed = new java.util.concurrent.atomic.AtomicLong(0L)

  @volatile private var running = true
  private val acceptor = new Thread(() => acceptLoop(), "fake-walsender-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def acceptLoop(): Unit =
    try while (running) {
      val sock = server.accept()
      val t = new Thread(() => {
        liveConnections.incrementAndGet()
        try serve(sock)
        catch { case _: Throwable => () }
        finally {
          liveConnections.decrementAndGet()
          try sock.close() catch { case _: Throwable => () }
        }
      }, "fake-walsender-conn")
      t.setDaemon(true)
      t.start()
    } catch { case _: Throwable => () }

  /** COPY text-format unescape: `\N` alone is SQL NULL; `\t`/`\n`/`\r`/`\\`
    * decode to their characters.
    */
  private def unescapeCopy(field: String): Option[String] =
    if (field == "\\N") None
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < field.length) {
        val c = field.charAt(i)
        if (c == '\\' && i + 1 < field.length) {
          field.charAt(i + 1) match {
            case 't' => sb += '\t'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case '\\' => sb += '\\'
            case other => sb += other
          }
          i += 2
        } else { sb += c; i += 1 }
      }
      Some(sb.result())
    }

  private def serve(sock0: Socket): Unit = {
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    // Peek for the SSLRequest packet (length 8 + magic) before startup.
    var len = in.readInt()
    if (len == 8) {
      val code = in.readInt()
      require(code == graft.pgproto.PgConnection.SslRequestCode,
        s"unexpected 8-byte pre-startup packet with code $code")
      serverSsl match {
        case Some(ctx) =>
          out.writeByte('S'); out.flush()
          val ssl = ctx.getSocketFactory
            .createSocket(sock, null, sock.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          if (requireClientCert) ssl.setNeedClientAuth(true)
          sock = ssl
          in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
          out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        case None =>
          out.writeByte('N'); out.flush()
      }
      len = in.readInt()
    }
    val (proto, params) = PgWire.readStartupBody(in, len)
    require(proto == PgWire.ProtocolVersion3, s"unexpected protocol $proto")
    startupParams = params
    if (rejectPlaintextStartup && !sock.isInstanceOf[javax.net.ssl.SSLSocket]) {
      PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
        PgWire.errorPayload("FATAL", "28000",
          "no pg_hba.conf entry for host, SSL off"))
      sock.close()
      return
    }

    val localCert: Option[java.security.cert.X509Certificate] = sock match {
      case s: javax.net.ssl.SSLSocket =>
        s.getSession.getLocalCertificates.headOption.collect {
          case c: java.security.cert.X509Certificate => c
        }
      case _ => None
    }
    requirePassword match {
      case Some(expected) if authMethod == "scram" =>
        if (!scramAuthenticate(in, out, expected, localCert)) { sock.close(); return }
      case Some(expected) =>
        PgWire.writeMessage(out, PgWire.Tag.Authentication, PgWire.AuthCleartextPassword)
        val m = PgWire.readMessage(in)
        require(m.tag == PgWire.Tag.PasswordMessage, s"expected password, got '${m.tag.toChar}'")
        val got = PgWire.parseQuery(m.payload) // same NUL-terminated shape
        if (got != expected) {
          PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
            PgWire.errorPayload("FATAL", "28P01", "password authentication failed"))
          sock.close()
          return
        }
        PgWire.writeMessage(out, PgWire.Tag.Authentication, PgWire.AuthOk)
      case None =>
        PgWire.writeMessage(out, PgWire.Tag.Authentication, PgWire.AuthOk)
    }
    PgWire.writeMessage(out, PgWire.Tag.ParameterStatus,
      PgWire.queryPayload("server_version") ++ PgWire.queryPayload("16.0"))
    PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)

    var open = true
    // COPY FROM STDIN mode: buffer CopyData until CopyDone, then parse
    var copyInSql: String = null
    val copyInBuf = new java.io.ByteArrayOutputStream()
    while (open) {
      val m =
        try PgWire.readMessage(in)
        catch { case _: EOFException | _: java.net.SocketException => return }
      m.tag match {
        case PgWire.Tag.Query =>
          val sql = PgWire.parseQuery(m.payload)
          queries.synchronized { queries += sql }
          if (sql.startsWith("IDENTIFY_SYSTEM")) {
            PgWire.writeMessage(out, PgWire.Tag.RowDescription,
              PgWire.rowDescriptionPayload(Seq("systemid", "timeline", "xlogpos", "dbname")))
            PgWire.writeMessage(out, PgWire.Tag.DataRow, PgWire.dataRowPayload(Seq(
              Some(systemId), Some(timeline.toString), Some(Lsn.format(xLogPos)),
              params.get("database"))))
            PgWire.writeMessage(out, PgWire.Tag.CommandComplete, PgWire.queryPayload("IDENTIFY_SYSTEM"))
            PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
          } else if (sql.startsWith("START_REPLICATION") &&
              slotInUseLeft.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            // The previous holder hasn't released the slot yet.
            PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
              PgWire.errorPayload("ERROR", "55006",
                "replication slot \"slot\" is active for PID 4242"))
            PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
          } else if (sql.startsWith("START_REPLICATION")) {
            val fromLsn = parseStartLsn(sql)
            PgWire.writeMessage(out, PgWire.Tag.CopyBothResponse, PgWire.CopyBothAllText)
            // Same replay semantics as a slot restart point: whole txns
            // committing after the confirmed LSN, relations always.
            val dropAt = {
              val i = dropIdx.getAndIncrement()
              if (i < dropPlan.length) dropPlan(i) else -1
            }
            streamGate.foreach(_.await())
            var sent = 0
            val it = ResumeFilter(frames.iterator, fromLsn)
            var cut = false
            while (it.hasNext && !cut) {
              if (dropAt >= 0 && sent >= dropAt) {
                sock.close() // abrupt: no CopyDone, no Terminate
                cut = true
              } else {
                PgWire.writeMessage(out, PgWire.Tag.CopyData, it.next())
                sent += 1
                framesServed.incrementAndGet()
                if (keepaliveEvery > 0 && sent % keepaliveEvery == 0)
                  PgWire.writeMessage(out, PgWire.Tag.CopyData,
                    graft.pgproto.MessageEncoder.keepalive(
                      xLogPos, 1700000000000000L, replyRequested = true))
              }
            }
            if (cut) return
            // Stay in CopyBoth afterwards, consuming client CopyData
            // (status updates) until the client terminates.
          } else if (sql.toUpperCase.startsWith("COPY ") &&
              sql.toUpperCase.contains("FROM STDIN")) {
            copyInSql = sql
            copyInBuf.reset()
            PgWire.writeMessage(out, PgWire.Tag.CopyInResponse,
              PgWire.copyInResponsePayload(0))
          } else sqlErrors(sql) match { // evaluated ONCE: injectors are stateful
            case Some((state, msg)) =>
              PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
                PgWire.errorPayload("ERROR", state, msg))
              PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
            case None => sqlResults(sql) match {
            case Some((cols, rows)) =>
              PgWire.writeMessage(out, PgWire.Tag.RowDescription,
                PgWire.rowDescriptionPayload(cols))
              rows.foreach(r => PgWire.writeMessage(out, PgWire.Tag.DataRow,
                PgWire.dataRowPayload(r)))
              PgWire.writeMessage(out, PgWire.Tag.CommandComplete,
                PgWire.queryPayload(s"SELECT ${rows.size}"))
              PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
            case None =>
              PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
                PgWire.errorPayload("ERROR", "42601", s"unsupported: $sql"))
              PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
            }
          }
        case PgWire.Tag.CopyData =>
          if (copyInSql != null) copyInBuf.write(m.payload, 0, m.payload.length)
          else statusUpdates.synchronized { statusUpdates += m.payload }
        case PgWire.Tag.CopyDone =>
          if (copyInSql != null) {
            val text = new String(copyInBuf.toByteArray,
              java.nio.charset.StandardCharsets.UTF_8)
            val rows = text.split("\n").filter(_.nonEmpty).map { line =>
              line.split("\t", -1).toSeq.map(unescapeCopy)
            }
            copiedRows.synchronized {
              rows.foreach(r => copiedRows += ((copyInSql, r)))
            }
            PgWire.writeMessage(out, PgWire.Tag.CommandComplete,
              PgWire.queryPayload(s"COPY ${rows.length}"))
            PgWire.writeMessage(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
            copyInSql = null
            copyInBuf.reset()
          }
        case PgWire.Tag.Terminate =>
          sock.close()
          open = false
        case other => // ignore
      }
    }
  }

  /** Server side of one SCRAM-SHA-256 exchange (RFC 5802 message flow over
    * the protocol's AuthenticationSASL* envelope). Returns false (after
    * sending 28P01) when the client's proof doesn't verify.
    */
  private def scramAuthenticate(
      in: DataInputStream, out: DataOutputStream, expected: String,
      localCert: Option[java.security.cert.X509Certificate]): Boolean = {
    import graft.pgproto.Scram
    import java.nio.charset.StandardCharsets.UTF_8
    // A TLS server advertises the -PLUS mechanism too (PostgreSQL >= 11).
    val advertised =
      if (localCert.isDefined && saslMechanisms == Seq(Scram.Mechanism))
        Seq(Scram.Mechanism, Scram.MechanismPlus)
      else saslMechanisms
    PgWire.writeMessage(out, PgWire.Tag.Authentication,
      PgWire.authSaslPayload(advertised))
    val init = PgWire.readMessage(in)
    require(init.tag == PgWire.Tag.PasswordMessage,
      s"expected SASLInitialResponse, got '${init.tag.toChar}'")
    val (mech, resp) = PgWire.parseSaslInitialResponse(init.payload)
    require(advertised.contains(mech), s"unexpected mechanism $mech")
    lastAuthMechanism = mech
    val clientFirst = new String(resp, UTF_8)
    // gs2 header: "n,," / "y,," / "p=tls-server-end-point,,". The signed
    // c= attribute must echo it (plus the cert hash for -PLUS), and a "y"
    // from a binding-capable client while we advertised -PLUS is the
    // RFC 5802 downgrade signal.
    val (gs2Header, usesBinding) =
      if (clientFirst.startsWith("p=tls-server-end-point,,"))
        ("p=tls-server-end-point,,", true)
      else if (clientFirst.startsWith("y,,")) ("y,,", false)
      else if (clientFirst.startsWith("n,,")) ("n,,", false)
      else throw new IllegalStateException(s"unexpected gs2 header in '$clientFirst'")
    require(!usesBinding || mech == Scram.MechanismPlus,
      "channel-binding gs2 header requires the -PLUS mechanism")
    if (gs2Header == "y,," && advertised.contains(Scram.MechanismPlus)) {
      // Downgrade attack per RFC 5802 §6: the client CAN bind, we offered
      // binding, yet it chose not to — someone stripped the mechanism list.
      PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
        PgWire.errorPayload("FATAL", "28000",
          "channel binding required: client supports it and server offered it"))
      return false
    }
    val expectedCbind = Scram.b64(gs2Header.getBytes(UTF_8) ++ (
      if (usesBinding)
        Scram.tlsServerEndPointHash(localCert.getOrElse(
          throw new IllegalStateException("-PLUS without a TLS cert")))
      else Array.emptyByteArray))
    val bare = clientFirst.stripPrefix(gs2Header)
    val cNonce = Scram.attrs(bare)('r')
    val sNonce = cNonce + "fakeServerNonce0"
    val salt = "fake-walsender-salt0".getBytes(UTF_8)
    val iterations = 4096
    val serverFirst = s"r=$sNonce,s=${Scram.b64(salt)},i=$iterations"
    PgWire.writeMessage(out, PgWire.Tag.Authentication,
      PgWire.authSaslDataPayload(PgWire.AuthCodeSaslContinue, serverFirst.getBytes(UTF_8)))
    val fin = PgWire.readMessage(in)
    require(fin.tag == PgWire.Tag.PasswordMessage,
      s"expected SASLResponse, got '${fin.tag.toChar}'")
    val clientFinal = new String(fin.payload, UTF_8)
    val a = Scram.attrs(clientFinal)
    // Like a real server: verifier keys derive from the SASLprep'd password.
    val salted = Scram.hi(Scram.saslPrep(expected), salt, iterations)
    val storedKey = Scram.storedKey(Scram.clientKey(salted))
    val withoutProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
    val authMsg = s"$bare,$serverFirst,$withoutProof".getBytes(UTF_8)
    val recoveredCk = Scram.xor(Scram.unb64(a('p')), Scram.hmac(storedKey, authMsg))
    val ok = a.get('r').contains(sNonce) && a.get('c').contains(expectedCbind) &&
      java.security.MessageDigest.isEqual(Scram.sha256(recoveredCk), storedKey)
    if (!ok) {
      PgWire.writeMessage(out, PgWire.Tag.ErrorResponse,
        PgWire.errorPayload("FATAL", "28P01", "password authentication failed"))
      return false
    }
    val serverSig = Scram.hmac(Scram.serverKey(salted), authMsg)
    PgWire.writeMessage(out, PgWire.Tag.Authentication,
      PgWire.authSaslDataPayload(PgWire.AuthCodeSaslFinal,
        s"v=${Scram.b64(serverSig)}".getBytes(UTF_8)))
    PgWire.writeMessage(out, PgWire.Tag.Authentication, PgWire.AuthOk)
    true
  }

  private def parseStartLsn(sql: String): Long = {
    // START_REPLICATION SLOT <slot> LOGICAL <X/X> (...)
    val m = """LOGICAL\s+([0-9A-Fa-f]+/[0-9A-Fa-f]+)""".r.findFirstMatchIn(sql)
    m.map(g => Lsn.parse(g.group(1))).getOrElse(Lsn.Zero)
  }

  def close(): Unit = {
    running = false
    try server.close() catch { case _: java.io.IOException => () }
  }
}
