package graft.streaming

import java.io.EOFException
import graft.pgproto.{Lsn, PgConnection, PgWire, WalFrames}
import graft.services.Replication

/** [[WalSource]] over a real walsender socket: startup handshake (with
  * `replication=database`), `IDENTIFY_SYSTEM`, then `START_REPLICATION ...
  * LOGICAL` into CopyBoth mode — CopyData frames in, standby status updates
  * out. The production binding of S1 (reference
  * `pq/replication/replication.go:23-41`, `stream.go:93-148`), built on the
  * shared [[PgConnection]] wire layer.
  *
  * Threading: one reader thread drains the socket into a queue bounded by
  * BYTES ([[FrameQueue]], budget `maxQueuedBytes` — the stream passes its
  * `maxBufferedBytes`), so the reader runs ahead of the consumer: while a
  * micro-batch executes, the walsender's backlog keeps arriving, and the
  * next trigger groups all of it instead of whatever fit in a fixed count
  * of frames. The reference never needs this because it handles each
  * message as it arrives (`stream.go:93`); a micro-batch consumer polls in
  * bursts. When the queued bytes reach the budget the reader parks, the
  * kernel buffer fills, and the walsender sees TCP backpressure — the
  * second half of the driver-side backlog cap, so the driver holds at most
  * `maxBufferedBytes` (plus one frame) queued here and `maxBufferedBytes`
  * grouped in the stream. One writer lock serializes status updates
  * (acks, keepalive replies) against the shared output stream — the
  * reference's shared-socket mutex hazard (`stream.go:73-84`) solved by
  * construction.
  *
  * `open(fromLsn)` (re)connects from scratch and starts replication at the
  * confirmed LSN; a dead connection reads as `healthy == false`, and the
  * CONSUMER ([[PgCdcMicroBatchStream]]) owns reconnection — it must reset
  * its partial transaction-grouping state before resuming, which this
  * transport layer cannot see.
  */
final class SocketWalSource(
    host: String,
    port: Int,
    user: String,
    database: String,
    slot: String,
    publication: String,
    protoVersion: Int = 2,
    password: Option[String] = None,
    /** Reader hand-off budget: the reader parks once this many payload
      * bytes are queued but not yet polled (see [[FrameQueue]]).
      */
    maxQueuedBytes: Long = 256L << 20,
    sslMode: String = "disable",
    sslRootCert: Option[String] = None,
    sslCert: Option[String] = None,
    sslKey: Option[String] = None,
    sslPassword: Option[String] = None,
    /** Bounded re-capture on SQLSTATE 55006 (slot in use): the passive→active
      * takeover race — the previous holder's walsender hasn't released the
      * slot yet when we issue START_REPLICATION. The reference re-enters its
      * capture loop (`connector.go:284-293`, `pq/replication/stream.go:126-131`);
      * here each retry redials and reissues from scratch after a backoff.
      */
    captureRetries: Int = 5,
    captureBackoffMs: Long = 1000L,
    captureSleep: Long => Unit = Thread.sleep,
    /** Liveness deadline: with no bytes from the walsender for this long,
      * the connection is presumed dead (a peer that dies without a FIN
      * otherwise blocks the reader forever — the reference's 300 ms read
      * deadline + keepalive liveness, `stream.go:304`). A healthy server
      * sends keepalives at wal_sender_timeout/2 (≤30 s by default), so a
      * minute of TOTAL silence means the link is gone. 0 disables.
      */
    readTimeoutMs: Int = 60000) extends WalSource {

  require(maxQueuedBytes > 0, s"pgcdc: maxQueuedBytes must be positive, got $maxQueuedBytes")

  @volatile private var confirmed: Long = Lsn.Zero
  @volatile private var conn: PgConnection = null
  private val writeLock = new Object
  private var reader: Thread = null
  // One queue PER connection generation: a stale reader thread that outlives
  // close()+open() (join timed out while it was parked in queue.put) can
  // only ever write to its own generation's dead queue, never feed a
  // pre-disconnect frame into the reopened session (round-4 advice).
  @volatile private var queue = new FrameQueue(maxQueuedBytes)
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var streamEnded = false
  @volatile private var failure: Throwable = null

  /** Result of the IDENTIFY_SYSTEM handshake, available after open(). */
  @volatile var identity: Replication.IdentifySystemResult = null

  override def open(fromLsn: Long): Unit = {
    close()
    val gen = generation.incrementAndGet()
    queue = new FrameQueue(maxQueuedBytes)
    streamEnded = false
    failure = null
    if (Lsn.compare(fromLsn, confirmed) > 0) confirmed = fromLsn

    // Dial + START_REPLICATION, re-entering the capture loop on the 55006
    // lose-the-race path: the slot is still held, so close this dial, back
    // off, and try again from scratch — bounded, unlike the reference's
    // unbounded recursion, so a genuinely-held slot fails loudly.
    var attempt = 0
    var capturing = true
    while (capturing) {
      attempt += 1
      conn = new PgConnection(host, port, user, database, password,
        replication = true, applicationName = "graft-pgcdc", sslMode = sslMode,
        sslRootCert = sslRootCert, sslCert = sslCert, sslKey = sslKey,
        sslPassword = sslPassword)
      try {
        identity = identifySystem()
        startReplication(confirmed)
        capturing = false
      } catch {
        case e: PgConnection.ServerErrorException
            if e.sqlState == "55006" && attempt <= captureRetries =>
          try conn.close() catch { case _: java.io.IOException => () }
          conn = null
          captureSleep(captureBackoffMs)
        case e: Throwable =>
          // Terminal failure (55006 past the retry budget, or any other
          // handshake error): close the freshly-dialed socket before the
          // exception escapes — open() failing must not leak a connection
          // the caller never learned about. Swallow ANY teardown error
          // (not just IO): a close()-time artifact must never replace the
          // original handshake failure the operator needs to see.
          try conn.close() catch { case scala.util.control.NonFatal(_) => () }
          conn = null
          throw e
      }
    }

    // Liveness deadline arms only once streaming starts: the handshake
    // above used its own blocking reads.
    if (readTimeoutMs > 0) conn.setReadTimeout(readTimeoutMs)

    // The reader captures ITS connection, queue, and generation — it never
    // dereferences the shared mutable fields, and a superseded generation's
    // writes to streamEnded/failure are ignored.
    val myConn = conn
    val myQueue = queue
    reader = new Thread(() => readLoop(gen, myConn, myQueue),
      s"pgcdc-walsender-reader-$slot")
    reader.setDaemon(true)
    reader.start()
  }

  private def identifySystem(): Replication.IdentifySystemResult =
    conn.simpleQuery(Replication.IdentifySystemSql).headOption match {
      case Some(Seq(sysId, tli, pos, db)) =>
        Replication.IdentifySystemResult(sysId, tli.toInt, Lsn.parse(pos), db)
      case other =>
        throw new IllegalStateException(s"pgcdc: malformed IDENTIFY_SYSTEM result $other")
    }

  /** Issue START_REPLICATION and wait for CopyBothResponse. */
  private def startReplication(fromLsn: Long): Unit = {
    val sql = Replication.startReplicationSql(publication, slot, fromLsn, protoVersion)
    PgWire.writeMessage(conn.out, PgWire.Tag.Query, PgWire.queryPayload(sql))
    var copyBoth = false
    while (!copyBoth) {
      val m = PgWire.readMessage(conn.in)
      m.tag match {
        case PgWire.Tag.CopyBothResponse => copyBoth = true
        case PgWire.Tag.NoticeResponse | PgWire.Tag.ParameterStatus =>
        case PgWire.Tag.ErrorResponse =>
          throw PgConnection.serverError("START_REPLICATION", m.payload)
        case other =>
          throw new IllegalStateException(
            s"pgcdc: expected CopyBothResponse, got '${other.toChar}'")
      }
    }
  }

  /** Reader thread: CopyData payloads ('w'/'k' frames) into the bounded
    * queue. `put` blocking on a queue at its byte budget IS the
    * backpressure mechanism.
    * Everything it touches is generation-local (`myConn`/`myQueue`); shared
    * failure/streamEnded writes are dropped once a newer open() supersedes
    * this generation.
    */
  private def readLoop(gen: Long, myConn: PgConnection,
      myQueue: FrameQueue): Unit = {
    def current: Boolean = generation.get() == gen
    def fail(t: Throwable): Unit = if (current) failure = t
    try {
      var running = true
      while (running) {
        val m = PgWire.readMessage(myConn.in)
        m.tag match {
          case PgWire.Tag.CopyData => myQueue.put(m.payload)
          case PgWire.Tag.CopyDone | PgWire.Tag.CommandComplete | PgWire.Tag.ReadyForQuery =>
            running = false
          case PgWire.Tag.NoticeResponse | PgWire.Tag.ParameterStatus =>
          case PgWire.Tag.ErrorResponse =>
            fail(PgConnection.serverError("replication stream", m.payload))
            running = false
          case other =>
            fail(new IllegalStateException(
              s"pgcdc: unexpected message '${other.toChar}' in CopyBoth stream"))
            running = false
        }
      }
      if (current) streamEnded = true
    } catch {
      case _: java.net.SocketTimeoutException =>
        // the liveness deadline: total silence past readTimeoutMs — the
        // peer died without a FIN; surface a reconnectable failure
        fail(new java.io.IOException(
          s"pgcdc: no traffic from walsender for $readTimeoutMs ms — connection presumed dead"))
        if (current) streamEnded = true
      case _: EOFException => if (current) streamEnded = true
      case _: java.net.SocketException => if (current) streamEnded = true // closed under us
      case _: InterruptedException => if (current) streamEnded = true // close() interrupt
      case t: Throwable => fail(t); if (current) streamEnded = true
    }
  }

  override def poll(): Option[Array[Byte]] = {
    if (failure != null)
      throw new IllegalStateException("pgcdc: replication stream failed", failure)
    Option(queue.poll())
  }

  override def queuedBytes: Long = queue.bytes
  override def queuedFrames: Int = queue.frames

  /** False once the connection died (EOF, error, or never opened) and the
    * queue has drained — the consumer's reconnect trigger. Queued frames
    * are still served first so nothing received is lost.
    */
  override def healthy: Boolean =
    failure == null && !(streamEnded && queue.isEmpty) && conn != null && !conn.isClosed

  override def ack(lsn: Long): Unit = {
    if (Lsn.compare(lsn, confirmed) > 0) {
      confirmed = lsn
      // Standby status update with flushed/applied = confirmed (reference
      // `stream.go:735-751`); best-effort — a broken socket surfaces on poll.
      if (conn != null && !conn.isClosed)
        try sendStatusUpdate(WalFrames.encodeStandbyStatusUpdate(
          confirmed, System.currentTimeMillis() * 1000L))
        catch { case _: java.io.IOException => () }
    }
  }

  override def confirmedLsn: Long = confirmed

  override def sendStatusUpdate(frame: Array[Byte]): Unit = writeLock.synchronized {
    val c = conn
    if (c == null || c.isClosed)
      throw new java.io.IOException("pgcdc: no live connection for status update")
    PgWire.writeMessage(c.out, PgWire.Tag.CopyData, frame)
  }

  override def close(): Unit = {
    val c = conn
    if (c != null) {
      c.close()
      conn = null
    }
    if (reader != null) {
      // A reader parked in queue.put() (budget reached) is not unblocked by the
      // socket close — interrupt it so it can't leak, or later push a stale
      // pre-disconnect frame into a reopened session's queue.
      reader.interrupt()
      reader.join(2000)
      reader = null
    }
  }
}

/** The reader → consumer hand-off of [[SocketWalSource]]: a FIFO of
  * payloads bounded by the bytes queued but not yet polled. `put` parks
  * while the queued bytes are at or above `budget`, so the queue holds at
  * most `budget` plus one frame, and a single frame larger than the budget
  * is still admitted into an empty queue (it cannot deadlock). `poll`
  * releases the frame's bytes and wakes a parked reader; an interrupt
  * (`close()`) unparks it with `InterruptedException`.
  */
private[streaming] final class FrameQueue(budget: Long) {
  private val q = new java.util.ArrayDeque[Array[Byte]]()
  private var queued = 0L

  def put(f: Array[Byte]): Unit = synchronized {
    while (queued >= budget) wait()
    q.addLast(f)
    queued += f.length
  }

  def poll(): Array[Byte] = synchronized {
    val f = q.pollFirst()
    if (f != null) {
      if (queued >= budget) notifyAll()
      queued -= f.length
    }
    f
  }

  def isEmpty: Boolean = synchronized(q.isEmpty)
  def bytes: Long = synchronized(queued)
  def frames: Int = synchronized(q.size)
}
