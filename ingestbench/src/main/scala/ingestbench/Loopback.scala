package ingestbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import graft.pgproto.{Lsn, PgWire}

/** What a replication connection serves after START_REPLICATION: write
  * every frame of the stream that commits after `fromLsn` (the slot's
  * replay semantics), blocking as long as the stream lasts.
  */
trait Feed {
  def serve(fromLsn: Long, out: FrameOut): Unit
}

/** CopyData writer that batches socket flushes (a walsender sends many
  * frames per packet) and counts what it sent.
  */
final class FrameOut(out: DataOutputStream, sent: AtomicLong) {
  def frame(payload: Array[Byte]): Unit = {
    out.writeByte(PgWire.Tag.CopyData)
    out.writeInt(payload.length + 4)
    out.write(payload)
    sent.addAndGet(payload.length + 5L)
  }
  def flush(): Unit = out.flush()
}

/** A chunk query's answer: column names and pre-encoded DataRow payloads
  * `rows(from until until)`.
  */
final case class Answer(cols: Seq[String], rows: Array[Array[Byte]], from: Int, until: Int)

/** In-process PostgreSQL stand-in speaking the real frontend/backend
  * protocol over loopback TCP — the same pattern as the test suite's
  * fake walsender, trimmed to what the benchmark needs: trust auth,
  * IDENTIFY_SYSTEM, START_REPLICATION into CopyBoth (served by a [[Feed]]),
  * and simple queries answered by `select` (transaction control is
  * acknowledged). Every connection thread is joined on [[close]].
  */
final class Loopback(feed: Option[Feed], select: String => Option[Answer]) extends AutoCloseable {
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  /** Bytes written to clients (replication frames and query results). */
  val bytesSent = new AtomicLong(0L)
  val selects = new AtomicLong(0L)
  /** Time from a request's arrival to its first answer byte, in ns. */
  val responseNs = new ConcurrentLinkedQueue[java.lang.Long]()

  @volatile private var running = true
  private val sockets = new ConcurrentLinkedQueue[Socket]()
  private val threads = new ConcurrentLinkedQueue[Thread]()
  private val acceptor = start("loopback-accept") {
    try while (running) {
      val s = server.accept()
      s.setTcpNoDelay(true)
      sockets.add(s)
      start("loopback-conn") {
        try serve(s) catch { case _: Throwable => () }
        finally try s.close() catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
  }

  private def start(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
    t
  }

  private def msg(out: DataOutputStream, tag: Byte, payload: Array[Byte]): Unit = {
    out.writeByte(tag); out.writeInt(payload.length + 4); out.write(payload)
    bytesSent.addAndGet(payload.length + 5L)
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    var len = in.readInt()
    if (len == 8) { // SSLRequest: this server speaks plaintext only
      in.readInt(); out.writeByte('N'); out.flush(); len = in.readInt()
    }
    val (_, params) = PgWire.readStartupBody(in, len)
    msg(out, PgWire.Tag.Authentication, PgWire.AuthOk)
    msg(out, PgWire.Tag.ParameterStatus,
      PgWire.queryPayload("server_version") ++ PgWire.queryPayload("16.0"))
    msg(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
    out.flush()
    while (running) {
      val m = try PgWire.readMessage(in) catch { case _: EOFException => return }
      val t0 = System.nanoTime
      m.tag match {
        case PgWire.Tag.Query =>
          val sql = PgWire.parseQuery(m.payload)
          if (sql.startsWith("IDENTIFY_SYSTEM")) {
            msg(out, PgWire.Tag.RowDescription,
              PgWire.rowDescriptionPayload(Seq("systemid", "timeline", "xlogpos", "dbname")))
            msg(out, PgWire.Tag.DataRow, PgWire.dataRowPayload(Seq(
              Some("7000000000000000001"), Some("1"), Some(Lsn.format(0x1000L)),
              params.get("database"))))
            done(out, "IDENTIFY_SYSTEM")
          } else if (sql.startsWith("START_REPLICATION") && feed.isDefined) {
            msg(out, PgWire.Tag.CopyBothResponse, PgWire.CopyBothAllText)
            out.flush()
            // the client's status updates must be drained while we stream
            start("loopback-replies") {
              try while (running) {
                val r = PgWire.readMessage(in)
                if (r.tag == PgWire.Tag.Terminate) sock.close()
              } catch { case _: Throwable => () }
            }
            val from = """LOGICAL\s+([0-9A-Fa-f]+/[0-9A-Fa-f]+)""".r
              .findFirstMatchIn(sql).map(g => Lsn.parse(g.group(1))).getOrElse(Lsn.Zero)
            responseNs.add(System.nanoTime - t0)
            feed.get.serve(from, new FrameOut(out, bytesSent))
            return
          } else if (sql.startsWith("BEGIN") || sql == "COMMIT") {
            done(out, sql.takeWhile(_ != ' '))
          } else select(sql) match {
            case Some(a) =>
              selects.incrementAndGet()
              msg(out, PgWire.Tag.RowDescription, PgWire.rowDescriptionPayload(a.cols))
              responseNs.add(System.nanoTime - t0)
              var i = a.from
              while (i < a.until) { msg(out, PgWire.Tag.DataRow, a.rows(i)); i += 1 }
              done(out, s"SELECT ${a.until - a.from}")
            case None =>
              msg(out, PgWire.Tag.ErrorResponse,
                PgWire.errorPayload("ERROR", "42601", s"unsupported: $sql"))
              msg(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
              out.flush()
          }
        case PgWire.Tag.Terminate => return
        case _ => ()
      }
    }
  }

  private def done(out: DataOutputStream, tag: String): Unit = {
    msg(out, PgWire.Tag.CommandComplete, PgWire.queryPayload(tag))
    msg(out, PgWire.Tag.ReadyForQuery, PgWire.ReadyIdle)
    out.flush()
  }

  def close(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
    sockets.forEach(s => try s.close() catch { case _: Throwable => () })
    threads.forEach { t => t.interrupt(); t.join(5000) }
  }
}

/** A pre-built backlog served as fast as the client reads (closed loop). */
final class BacklogFeed(w: WalWriter, relations: Int) extends Feed {
  def serve(fromLsn: Long, out: FrameOut): Unit = {
    BacklogFeed.write(w, relations, fromLsn, out)
    while (!Thread.currentThread().isInterrupted) Thread.sleep(1000)
  }
}

object BacklogFeed {
  /** The relation frames, then every transaction committing after
    * `fromLsn` (a slot's replay semantics).
    */
  def write(w: WalWriter, relations: Int, fromLsn: Long, out: FrameOut): Unit = {
    var i = 0
    while (i < relations) { out.frame(w.frames(i)); i += 1 }
    var t = 0
    while (t < w.txnEnds.length && Lsn.compare(w.txnEnds(t), fromLsn) <= 0) t += 1
    if (t > 0) {
      val target = w.txnEnds(t - 1)
      while (i < w.frames.length && Lsn.compare(frameLsn(w.frames(i)), target) <= 0) i += 1
    }
    while (i < w.frames.length) { out.frame(w.frames(i)); i += 1 }
    out.flush()
  }
  private def frameLsn(f: Array[Byte]): Long = {
    var v = 0L; var k = 1
    while (k < 9) { v = (v << 8) | (f(k) & 0xffL); k += 1 }
    v
  }
}
