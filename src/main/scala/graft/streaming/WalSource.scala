package graft.streaming

import graft.pgproto.Lsn
import graft.tools.WalFile

/** Abstraction over "where replication frames come from" — the seam between
  * the engine and a walsender socket.
  *
  * The real-PostgreSQL implementation is [[SocketWalSource]]: it owns the
  * replication connection (`START_REPLICATION SLOT … LOGICAL <lsn>`,
  * reference `pq/replication/replication.go:23-41`) with a single reader
  * thread and a serialized writer for standby status updates — deliberately
  * avoiding the reference's shared-socket mutex hazard
  * (`pq/replication/stream.go:73-84`, SURVEY §7 "Hard parts"). It is
  * unit-tested against an in-process fake walsender over a real socket pair
  * (no PostgreSQL in this container); the file/in-memory feeds below
  * exercise every layer above this trait byte-identically.
  */
trait WalSource extends AutoCloseable {
  /** Start (or restart) the feed from the given confirmed LSN; frames with
    * positions at or below it may be skipped by the producer.
    */
  def open(fromLsn: Long): Unit

  /** Next raw CopyData payload, or None when currently exhausted. */
  def poll(): Option[Array[Byte]]

  /** False when the feed died unexpectedly (socket EOF/error) — the
    * consumer's cue to re-open from a safe resume point. A file/in-memory
    * feed running dry is a NORMAL end, not ill health.
    */
  def healthy: Boolean = true

  /** Acknowledge progress — the analogue of the standby status update
    * (`'r'` frame, reference `stream.go:735-751`). Must be monotonic.
    */
  def ack(lsn: Long): Unit

  def confirmedLsn: Long

  /** T6: write a standby status update frame back to the producer — the
    * keepalive reply (`'r'`, reference `stream.go:368-377` reply-on-request).
    * File/in-memory feeds have no socket; they record or drop it.
    */
  def sendStatusUpdate(frame: Array[Byte]): Unit = ()

  /** Payload bytes / frames received but not yet polled — how far a
    * socket reader has run ahead of the consumer. Feeds that read on
    * demand hold nothing.
    */
  def queuedBytes: Long = 0L
  def queuedFrames: Int = 0
}

/** Replays a WalGen/WalFile frame file. Deterministic: re-opening from LSN L
  * replays only transactions with commit end-LSN > L (plus relations and
  * keepalives) via [[ResumeFilter]] — exactly how a resumed
  * `START_REPLICATION` from a confirmed LSN behaves.
  */
final class FileWalSource(path: String) extends WalSource {
  private var it: Iterator[Array[Byte]] = Iterator.empty
  @volatile private var confirmed: Long = Lsn.Zero

  override def open(fromLsn: Long): Unit = {
    if (Lsn.compare(fromLsn, confirmed) > 0) confirmed = fromLsn // unsigned, like ack
    it = ResumeFilter(WalFile.read(path), fromLsn)
  }

  override def poll(): Option[Array[Byte]] = if (it.hasNext) Some(it.next()) else None

  override def ack(lsn: Long): Unit =
    // Monotonic guard, like UpdateConfirmedXLogPos (`stream.go:609-611`).
    if (Lsn.compare(lsn, confirmed) > 0) confirmed = lsn

  override def confirmedLsn: Long = confirmed
  override def close(): Unit = ()
}

/** In-memory frame feed for tests and benchmarks; resume semantics identical
  * to [[FileWalSource]] (txn-aware [[ResumeFilter]]).
  */
final class InMemoryWalSource(frames: Seq[Array[Byte]]) extends WalSource {
  private var it: Iterator[Array[Byte]] = Iterator.empty
  @volatile private var confirmed: Long = Lsn.Zero
  override def open(fromLsn: Long): Unit = {
    if (Lsn.compare(fromLsn, confirmed) > 0) confirmed = fromLsn // unsigned, like ack
    it = ResumeFilter(frames.iterator, fromLsn)
  }
  override def poll(): Option[Array[Byte]] = if (it.hasNext) Some(it.next()) else None
  override def ack(lsn: Long): Unit = if (Lsn.compare(lsn, confirmed) > 0) confirmed = lsn
  override def confirmedLsn: Long = confirmed
  /** Recorded for tests — the frames a walsender socket would receive. */
  val statusUpdates = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
  override def sendStatusUpdate(frame: Array[Byte]): Unit =
    statusUpdates.synchronized { statusUpdates += frame }
  override def close(): Unit = ()
}
