package graft.streaming

import java.util
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.cdc.{ChangeEvent, TransactionAssembler}
import graft.pgproto.Lsn

/** `spark.readStream.format("pgcdc")` — the Structured Streaming face of the
  * engine (SURVEY §2.1 S1-S3, §3.1 steps 5-8).
  *
  * Execution model — the driver/executor split of §3.1 steps 6-7:
  *  - The DRIVER owns the single replication feed (a logical slot is
  *    inherently single-consumer, same constraint as the reference) but never
  *    decodes a tuple: it peeks only frame headers (message tag + one LSN /
  *    XID field) to group raw frames into per-transaction units
  *    ([[TxnGroup]]) and maintain the relation-frame cache. CPU stays O(bytes
  *    scanned) with a tiny constant — no driver decode wall at high
  *    throughput (round-2 verdict fix).
  *  - EXECUTORS do all pgoutput decoding: each input partition carries raw
  *    frame groups plus a relation preamble, runs its own
  *    [[TransactionAssembler]], and emits change-event rows. Decode
  *    throughput scales with cores (`cdcRoundtrip` measures exactly this
  *    path).
  *
  * Offsets are transaction-aligned ([[CdcOffset]]): `seq` counts committed
  * transactions, `resumeLsn` is the last delivered commit end-LSN. Because a
  * batch boundary is always a transaction boundary, restart resume is exactly
  * `START_REPLICATION` from the confirmed LSN (the feed re-sends whole
  * transactions committing after it — [[ResumeFilter]]), with no partial-batch
  * realignment needed. `commit(end)` acks that LSN — the standby status
  * update of `pq/replication/stream.go:735-751`.
  *
  * Options (size and count options must be positive integers; a
  * malformed, zero or negative value fails stream construction):
  *  - `path`                 WAL frame file (FileWalSource) — required unless
  *                           a test injected a source via [[PgCdcTestHook]]
  *  - `startLsn`             snapshot→CDC handoff: first offset resumes here
  *  - `heartbeatSchema`/`heartbeatTable`  P5 suppression target (applied on
  *                           executors)
  *  - `maxFramesPerPartition` target frames per executor task (default 8192)
  *  - `maxTxnsPerTrigger`    admission control (ReadMaxRows over transactions)
  *  - `maxBufferedTxns` / `maxBufferedBytes`  backpressure caps on the
  *                           driver's committed-but-undelivered backlog
  *                           (default 4096 txns / 256 MiB); polling stops at
  *                           the cap. `maxBufferedBytes` also bounds the
  *                           socket reader's queue of received-but-unpolled
  *                           frames, which lets the reader run ahead of a
  *                           running micro-batch until that budget is
  *                           reached and then exerts TCP backpressure. A
  *                           socket feed's driver memory is thus at most
  *                           `maxBufferedBytes` queued plus
  *                           `maxBufferedBytes` grouped
  *  - `spillThresholdEvents` / `maxBufferedStreamEvents`  executor-side
  *                           streamed-txn memory: per-txn in-memory cap
  *                           before disk spill (default 64k) and the total
  *                           in-memory fail-fast bound (default 1M)
  *  - `maxReconnectAttempts` / `reconnectBackoffMs`  transport recovery for
  *                           a dead feed (defaults 5 / 100 ms, doubling)
  *  - `dropForeignOrigin`    suppress transactions carrying a replication
  *                           origin ('O') — bidirectional-replication loop
  *                           prevention (default false)
  */
class PgCdcSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgcdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangeEvent.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgCdcTable
}

/** Test seam: lets specs inject an [[InMemoryWalSource]] under a key. */
object PgCdcTestHook {
  private val sources = new java.util.concurrent.ConcurrentHashMap[String, WalSource]()
  def register(key: String, s: WalSource): Unit = sources.put(key, s)
  def get(key: String): Option[WalSource] = Option(sources.get(key))
}

class PgCdcTable extends Table with SupportsRead {
  override def name(): String = "pgcdc"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChangeEvent.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PgCdcMicroBatchStream(options)
        override def supportedCustomMetrics(): Array[CustomMetric] = GraftMetrics.supported
      }
    }
}

/** Durable streaming offset (checkpointed as JSON by Spark): `seq` counts
  * committed transactions delivered, `resumeLsn` is where the feed reopens
  * on restart, `deliveredLsn` is the commit end-LSN of the last delivered
  * transaction. The two LSNs are equal except while a two-phase PREPARED
  * transaction is open: then `resumeLsn` is held back to the prepared
  * section's start (pgoutput does NOT re-send a prepared body once the
  * confirmed position passes its PREPARE — the feed must reopen below it to
  * rebuild the gid ledger), and transactions replayed between the two
  * positions are skipped by `deliveredLsn`: no duplicates, no loss. The
  * JSON omits `"skip"` when the LSNs coincide, so checkpoints written
  * before two-phase support parse unchanged.
  */
case class CdcOffset(seq: Long, resumeLsn: Long, skipTo: Long = -1L) extends Offset {
  /** Commit end-LSN of the last DELIVERED transaction (≥ resumeLsn). The
    * sentinel is the one LSN PostgreSQL can never assign
    * (`0xFFFFFFFF/FFFFFFFF` = InvalidXLogRecPtr's complement), not "any
    * negative": LSNs are unsigned 64-bit, so a top-bit-set value is a valid
    * position, not an unset marker.
    */
  def deliveredLsn: Long = if (skipTo != -1L) skipTo else resumeLsn
  override def json(): String =
    if (skipTo != -1L && skipTo != resumeLsn)
      s"""{"seq":$seq,"lsn":$resumeLsn,"skip":$skipTo}"""
    else s"""{"seq":$seq,"lsn":$resumeLsn}"""
}

object CdcOffset {
  // LSNs serialize as SIGNED decimal (Long.toString), so a top-bit-set
  // position round-trips through a leading '-'.
  private val Pat = """\{"seq":(\d+),"lsn":(-?\d+)\}""".r
  private val PatSkip = """\{"seq":(\d+),"lsn":(-?\d+),"skip":(-?\d+)\}""".r
  def fromJson(json: String): CdcOffset = json.trim match {
    case Pat(s, l) => CdcOffset(s.toLong, l.toLong)
    case PatSkip(s, l, k) => CdcOffset(s.toLong, l.toLong, k.toLong)
    case other => throw new IllegalArgumentException(s"pgcdc: malformed offset json '$other'")
  }
}

/** One committed transaction's raw frames, self-contained for executor-side
  * decode (streamed txns: all segments + aborts + the stream commit, in
  * arrival order). `relPreamble` is the non-streamed relation-frame cache as
  * of this transaction's commit — schema state a fresh assembler needs before
  * decoding it.
  */
private[streaming] final case class TxnGroup(
    frames: Array[Array[Byte]],
    endLsn: Long,
    relPreamble: Seq[Array[Byte]])

/** A complete two-phase prepared section (b..P ingested, COMMIT/ROLLBACK
  * PREPARED pending). `firstWal` is the section's first frame position — the
  * resume hold-back while the gid is open; `streamed` marks groups whose
  * frames carry v2 xid prefixes (relation folding happens at 'K').
  */
private[streaming] final case class PreparedGroup(
    frames: Array[Array[Byte]], firstWal: Long, streamed: Boolean)

class PgCdcMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  /** A positive integral option, or `default` when unset. A malformed,
    * zero, negative or out-of-range value fails stream construction with a
    * message naming the option and the value — never silently clamped.
    */
  private def positiveOption(key: String, default: Long, max: Long = Long.MaxValue): Long =
    Option(options.get(key)).fold(default) { raw =>
      raw.toLongOption.filter(v => v > 0 && v <= max).getOrElse {
        val range = if (max == Long.MaxValue) "a positive integer" else s"an integer in [1, $max]"
        throw new IllegalArgumentException(s"pgcdc: option '$key' must be $range, got '$raw'")
      }
    }
  private def positiveIntOption(key: String, default: Int): Int =
    positiveOption(key, default, Int.MaxValue).toInt

  private val maxFramesPerPartition = positiveIntOption("maxFramesPerPartition", 8192)
  private val defaultMaxTxnsPerTrigger = positiveOption("maxTxnsPerTrigger", Long.MaxValue)

  /** B7 snapshot→CDC handoff seam: the snapshot records its consistent-point
    * LSN (slot creation's `consistent_point`, reference
    * `pq/replication/stream.go:635-711`) and the stream starts from it,
    * skipping every transaction already contained in the snapshot.
    */
  private val startLsn = options.getLong("startLsn", Lsn.Zero)

  private val heartbeat: Option[(String, String)] = {
    val s = options.get("heartbeatSchema"); val t = options.get("heartbeatTable")
    if (t != null) Some((if (s == null) "public" else s, t)) else None
  }

  // Executor-side assembler tuning, shipped with each partition:
  // `spillThresholdEvents` = per-streamed-txn in-memory cap before disk
  // spill; `maxBufferedStreamEvents` = total in-memory fail-fast bound.
  private val spillThresholdEvents = positiveIntOption("spillThresholdEvents", 1 << 16)
  private val maxBufferedStreamEvents = positiveIntOption("maxBufferedStreamEvents", 1 << 20)
  private val dropForeignOrigin = options.getBoolean("dropForeignOrigin", false)
  // `schema.table=col1+col2;…` — row-key columns recorded as key_names in
  // place of the wire identity flags (REPLICA IDENTITY FULL flags every
  // column); see TransactionAssembler.keyNameOverrides
  private val keyOverrides = Option(options.get("keyOverrides")).getOrElse("")

  // Backpressure: once the committed-but-undelivered backlog reaches either
  // cap, pump() stops polling the feed — over a real socket the reader's
  // queue then fills to ITS byte budget (also maxBufferedBytes) and the
  // unread bytes exert TCP backpressure on the walsender, the same mechanism
  // as the reference's fixed-capacity message channel
  // (`pq/replication/stream.go:93`). Without this, a producer sustainedly
  // faster than the consumer grows driver memory without bound.
  private val maxBufferedTxns = positiveIntOption("maxBufferedTxns", 4096)
  private val maxBufferedBytes = positiveOption("maxBufferedBytes", 256L << 20)

  private val wal: WalSource = {
    val hook = Option(options.get("testSourceKey")).flatMap(PgCdcTestHook.get)
    hook.getOrElse {
      val host = options.get("host")
      val path = options.get("path")
      // Precedence: an explicit file binding beats the socket — a test or
      // local run composing cfg.sourceOptions() (which always carries host)
      // with .option("path", ...) means the file, not a surprise TCP dial.
      if (host != null && path == null) {
        val slot = options.get("slot")
        val publication = options.get("publication")
        require(slot != null && publication != null,
          "pgcdc: 'slot' and 'publication' options are required with 'host'")
        new SocketWalSource(
          host = host,
          port = options.getInt("port", 5432),
          user = Option(options.get("user")).getOrElse("postgres"),
          database = Option(options.get("database")).getOrElse("postgres"),
          slot = slot,
          publication = publication,
          protoVersion = options.getInt("protoVersion", 2),
          password = Option(options.get("password")),
          maxQueuedBytes = maxBufferedBytes,
          sslMode = Option(options.get("sslmode")).getOrElse("disable"),
          sslRootCert = Option(options.get("sslrootcert")),
          sslCert = Option(options.get("sslcert")),
          sslKey = Option(options.get("sslkey")),
          sslPassword = Option(options.get("sslpassword")),
          readTimeoutMs = options.getInt("readTimeoutMs", 60000))
      } else {
        require(path != null,
          "pgcdc: a WalSource binding is required — 'path' (WAL frame file), " +
            "'host'/'port' (walsender socket), or a registered 'testSourceKey'")
        new FileWalSource(path)
      }
    }
  }

  // Committed txn groups buffered on the driver (raw frames, undecoded),
  // trimmed on commit(). seq of buffer(i) == baseSeq + i.
  private val buffer = mutable.ArrayBuffer.empty[TxnGroup]
  private var baseSeq = 0L

  private var bufferedBytes = 0L

  /** Test/metrics visibility into the committed backlog. */
  private[streaming] def backlogTxns: Int = buffer.size
  private[streaming] def backlogBytes: Long = bufferedBytes

  // Gauges for ReportsSourceMetrics: cumulative delivered txns and the send
  // timestamp of the newest frame seen (pg epoch → unix µs), from which
  // cdcLatencyMs = now − serverTime — the reference's `cdc_latency`
  // (`internal/metric/metric.go:100-125`, `stream.go:412`).
  private var txnsDelivered = 0L
  private var lastServerTimeMicros = 0L

  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("backlogTxns", buffer.size.toString)
    m.put("backlogBytes", bufferedBytes.toString)
    m.put("queuedBytes", wal.queuedBytes.toString)
    m.put("queuedFrames", wal.queuedFrames.toString)
    m.put("confirmedLsn", Lsn.format(wal.confirmedLsn))
    m.put("txnsDelivered", txnsDelivered.toString)
    m.put("openStreamedTxns", openStreamed.size.toString)
    m.put("openPreparedTxns", preparedGroups.size.toString)
    m.put("bufferedPreparedBytes", preparedBytes.toString)
    m.put("bufferedStreamFrames", bufferedStreamFrames.toString)
    if (lastServerTimeMicros > 0L)
      m.put("cdcLatencyMs",
        math.max(0L, System.currentTimeMillis() - lastServerTimeMicros / 1000L).toString)
    m
  }
  private var floorLsn = startLsn
  private var opened = false

  // Frame-grouping state (header peeks only — no tuple decode on the driver).
  private var curTxn = mutable.ArrayBuffer.empty[Array[Byte]]
  private val openStreamed = mutable.LongMap.empty[mutable.ArrayBuffer[Array[Byte]]]
  private var openStreamXid = -1L
  // Two-phase: complete prepared sections (b..P ingested, COMMIT/ROLLBACK
  // PREPARED pending) keyed by gid — see [[PreparedGroup]]. Mutate ONLY via
  // park/unpark so the byte/frame accounting can't drift.
  private val preparedGroups = mutable.LinkedHashMap.empty[String, PreparedGroup]
  // Inside a non-streamed BeginPrepare..Prepare section: Relation frames ride
  // the section and fold into the cache only at COMMIT PREPARED — a
  // rolled-back schema change must never be cached or published.
  private var inPrepare = false
  // Parked in-doubt bytes. An in-doubt 2PC decision can take arbitrarily long
  // and only MORE reading resolves it, so backpressure would deadlock —
  // this is a fail-fast bound instead (same contract as
  // maxBufferedStreamFrames).
  private var preparedBytes = 0L
  // Groups replayed at/below this commit end-LSN were delivered before the
  // last reopen — drop them instead of re-buffering (set from the restored
  // offset's deliveredLsn / the reconnect point).
  private var replayFloor = 0L
  // oid → latest non-streamed Relation frame; immutable so TxnGroups can hold
  // the snapshot by reference.
  private var relCache = Map.empty[Long, Array[Byte]]

  // User-facing registry key for PgCdcRelations (typed-view discovery):
  // explicit option, else the natural stream identity (slot / path / test key).
  private val registryKey: Option[String] =
    Option(options.get("relationRegistryKey"))
      .orElse(Option(options.get("slot")))
      .orElse(Option(options.get("path")))
      .orElse(Option(options.get("testSourceKey")))

  /** Decode a canonical (non-xid-prefixed) Relation frame and publish it to
    * [[PgCdcRelations]]. Advisory: a decode failure here is ignored — the
    * executor-side assembler will surface it with full context.
    */
  private def publishRelation(raw: Array[Byte]): Unit = registryKey.foreach { k =>
    try graft.pgproto.Messages.decode(
      java.util.Arrays.copyOfRange(raw, 25, raw.length), inStreamedTx = false) match {
      case rel: graft.pgproto.Messages.Relation => PgCdcRelations.publish(k, rel)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }
  private val maxBufferedStreamFrames =
    options.getInt("maxBufferedStreamFrames", 1 << 20)
  private var bufferedStreamFrames = 0L
  private val maxBufferedPreparedBytes = positiveOption("maxBufferedPreparedBytes", 256L << 20)

  /** Remove a gid's parked section, releasing its byte/frame accounting.
    * Streamed sections keep their frames counted in `bufferedStreamFrames`
    * while parked (all but the trailing 'p' frame) — release that too.
    */
  private def unpark(gid: String): Option[PreparedGroup] = {
    val old = preparedGroups.remove(gid)
    old.foreach { g =>
      var i = 0
      while (i < g.frames.length) { preparedBytes -= g.frames(i).length; i += 1 }
      if (g.streamed) bufferedStreamFrames -= g.frames.length - 1
    }
    old
  }

  /** Park a complete prepared section under its gid. A replayed or reused
    * gid replaces the old entry AND releases its accounting (a replaced
    * streamed entry's frame count must not leak). Clears the restored
    * hold-back once the replayed section re-establishes the floor it stood
    * for. Fail-fast past the in-doubt byte bound — see [[preparedBytes]].
    */
  private def park(gid: String, g: PreparedGroup): Unit = {
    unpark(gid)
    preparedGroups.update(gid, g)
    var i = 0
    while (i < g.frames.length) { preparedBytes += g.frames(i).length; i += 1 }
    if (pendingHoldback != -1L && Lsn.compare(g.firstWal, pendingHoldback) <= 0)
      pendingHoldback = -1L
    if (preparedBytes > maxBufferedPreparedBytes)
      throw new IllegalStateException(
        s"pgcdc: in-doubt prepared transactions exceed $maxBufferedPreparedBytes buffered bytes " +
          s"(open gids: ${preparedGroups.keys.mkString(",")}) — resolve them or raise " +
          "maxBufferedPreparedBytes")
  }

  private def unsignedMin(a: Long, b: Long): Long = if (Lsn.compare(a, b) <= 0) a else b

  /** Restored/reconnect hold-back: a checkpoint whose `resumeLsn` sits below
    * `deliveredLsn` proves a prepared section was open when it was written.
    * Until the replayed b..P frames re-register the gid, `preparedGroups` is
    * empty — without this carry-over an offset emitted in that window would
    * silently drop the hold-back, and checkpointing it would lose the
    * prepared transaction on the next restart. Cleared when a replayed
    * section re-establishes a floor at (or below) the same position.
    * Sentinel -1 = none (the one invalid LSN, see [[CdcOffset.deliveredLsn]]).
    */
  private var pendingHoldback = -1L

  /** Oldest open prepared section's first frame LSN — the resume hold-back
    * while any two-phase gid awaits its commit/rollback decision. Unsigned
    * min: LSNs compare as unsigned 64-bit everywhere in this codebase.
    */
  private def capResume(lsn: Long): Long = {
    val f =
      if (preparedGroups.isEmpty) lsn
      else unsignedMin(lsn, preparedGroups.valuesIterator.map(_.firstWal).reduce(unsignedMin))
    if (pendingHoldback != -1L) unsignedMin(f, pendingHoldback) else f
  }

  private def readCStr(a: Array[Byte], off: Int): String = {
    var end = off
    while (end < a.length && a(end) != 0) end += 1
    new String(a, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def ensureOpen(start: CdcOffset): Unit = if (!opened) {
    wal.open(start.resumeLsn)
    baseSeq = start.seq
    floorLsn = start.deliveredLsn
    replayFloor = start.deliveredLsn
    // resumeLsn below deliveredLsn ⇒ the checkpoint was written while a
    // prepared gid was open. Hold the resume there until the replayed b..P
    // re-registers it — an offset emitted before the replay arrives must not
    // lose the hold-back (checkpointing it would strand the prepared txn).
    if (start.resumeLsn != start.deliveredLsn) pendingHoldback = start.resumeLsn
    opened = true
  }

  private def readU64(a: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (a(off + i) & 0xffL); i += 1 }
    v
  }
  private def readU32(a: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 4) { v = (v << 8) | (a(off + i) & 0xffL); i += 1 }
    v
  }

  // Transport recovery: a dead feed (socket EOF/error) re-opens with capped
  // exponential backoff. The resume point is the last COMPLETED txn group's
  // end LSN (not the last raw frame): whole transactions committing after it
  // replay, so the partial-group state below is dropped and rebuilt — no
  // duplicate, no loss. The transport layer cannot do this itself because it
  // cannot see (or reset) the grouping state.
  private val maxReconnectAttempts = options.getInt("maxReconnectAttempts", 5)
  private val reconnectBackoffMs = options.getLong("reconnectBackoffMs", 100L)
  private val feedReplayTimeoutMs = options.getLong("feedReplayTimeoutMs", 30000L)

  private def recoverFeed(attempt: Int, cause: Throwable): Unit = {
    if (attempt > maxReconnectAttempts)
      throw new IllegalStateException(
        s"pgcdc: feed failed and $maxReconnectAttempts reconnect attempts exhausted", cause)
    Thread.sleep(reconnectBackoffMs * (1L << math.min(attempt - 1, 6)))
    curTxn = mutable.ArrayBuffer.empty
    openStreamed.clear()
    bufferedStreamFrames = 0
    openStreamXid = -1L
    inPrepare = false
    val delivered = if (buffer.nonEmpty) buffer.last.endLsn else floorLsn
    // Reopen below any open prepared section (its ledger rebuilds from the
    // replayed b..P frames); groups already buffered replay too and are
    // skipped by the floor. Same hold-back carry-over as ensureOpen: until
    // the replay re-registers the gid, offsets must keep reopening here.
    val reopenAt = capResume(delivered)
    preparedGroups.clear()
    preparedBytes = 0L
    pendingHoldback = if (reopenAt != delivered) reopenAt else -1L
    replayFloor = delivered
    wal.open(reopenAt) // throws → the next attempt backs off longer
  }

  /** wal.poll() with reconnect-on-failure; also treats an unexpectedly dead
    * feed (None + unhealthy) as a failure.
    */
  private def pollRecovering(): Option[Array[Byte]] = {
    import scala.util.control.NonFatal
    // Only NonFatal transport failures enter the reconnect/backoff path: an
    // InterruptedException is a stream-stop request (rethrow with the flag
    // restored so the caller's shutdown isn't swallowed into backoff
    // sleeps), and fatal errors (OOM, etc.) must surface immediately rather
    // than burn maxReconnectAttempts reconnect cycles first.
    def interrupted(e: InterruptedException): Nothing = {
      Thread.currentThread().interrupt()
      throw e
    }
    var attempt = 0
    while (true) {
      try {
        val r = wal.poll()
        if (r.isEmpty && !wal.healthy)
          throw new IllegalStateException("pgcdc: feed ended unexpectedly")
        return r
      } catch {
        case e: InterruptedException => interrupted(e)
        case NonFatal(e) if attempt < maxReconnectAttempts =>
          attempt += 1
          try recoverFeed(attempt, e)
          catch {
            case ie: InterruptedException => interrupted(ie)
            case NonFatal(_) if attempt < maxReconnectAttempts => ()
            case NonFatal(e2) =>
              throw new IllegalStateException(
                s"pgcdc: feed failed and $maxReconnectAttempts reconnect attempts exhausted", e2)
          }
        case NonFatal(e) =>
          throw new IllegalStateException(
            s"pgcdc: feed failed and $maxReconnectAttempts reconnect attempts exhausted", e)
      }
    }
    None // unreachable
  }

  private def addGroup(frames: Array[Array[Byte]], endLsn: Long): Unit = {
    // Replay dedupe: after a reopen below the delivered point (two-phase
    // hold-back), already-delivered transactions re-group here — drop them.
    if (Lsn.compare(endLsn, replayFloor) <= 0) return
    buffer += TxnGroup(frames, endLsn, relCache.values.toSeq)
    var i = 0
    while (i < frames.length) { bufferedBytes += frames(i).length; i += 1 }
  }

  /** Pump available frames into committed-txn units, stopping once the
    * backlog caps are reached (backpressure). Only headers are read: message
    * tag at payload offset 25, then at most one LSN/XID field.
    *
    * @param needSeq when ≥ 0, keep pumping past the caps until the buffer
    *                covers this absolute txn seq — a restored batch being
    *                replanned must always be satisfiable.
    */
  private def pump(needSeq: Long = -1L): Unit = {
    def mustGrow = needSeq >= 0 && baseSeq + buffer.size < needSeq
    def belowCap = buffer.size < maxBufferedTxns && bufferedBytes < maxBufferedBytes
    // With a socket feed, a replayed batch's frames may still be in flight:
    // an empty NON-dead poll while mustGrow must WAIT, not give up — the
    // require in planInputPartitions would otherwise fail spuriously on a
    // restart race. Bounded by feedReplayTimeoutMs.
    val deadline = System.currentTimeMillis() + feedReplayTimeoutMs
    var done = false
    while (!done) {
      if (!(mustGrow || belowCap)) done = true
      else pollRecovering() match {
        case Some(raw) => ingest(raw)
        case None =>
          if (!mustGrow) done = true
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"pgcdc: feed did not replay to txn $needSeq within ${feedReplayTimeoutMs}ms")
          else Thread.sleep(5)
      }
    }
  }

  /** Group one raw frame into the committed-txn buffer state. */
  private def ingest(raw: Array[Byte]): Unit = {
    {
      val p = 25 // 'w' + walStart(8) + walEnd(8) + serverTime(8)
      if (raw.nonEmpty && raw(0) == graft.pgproto.WalFrames.TagXLogData && raw.length > p) {
        lastServerTimeMicros = graft.pgproto.PgEpoch.toUnixMicros(readU64(raw, 17))
        raw(p) match {
          case 'B' =>
            curTxn += raw
          case 'C' =>
            curTxn += raw
            addGroup(curTxn.toArray, readU64(raw, p + 10))
            curTxn = mutable.ArrayBuffer.empty
          case 'R' =>
            if (openStreamXid >= 0) appendStreamed(openStreamXid, raw)
            else if (inPrepare) curTxn += raw // folds at 'K', never on 'r'
            else {
              // Non-streamed relation: cache for preambles AND keep in-line so
              // this txn group (or the next, for an ambient relation between
              // txns) re-registers it in original order.
              relCache = relCache.updated(readU32(raw, p + 1), raw)
              publishRelation(raw)
              curTxn += raw
            }
          case 'S' =>
            openStreamXid = readU32(raw, p + 1)
            appendStreamed(openStreamXid, raw)
          case 'E' =>
            if (openStreamXid >= 0) appendStreamed(openStreamXid, raw)
            openStreamXid = -1L
          case 'c' =>
            val xid = readU32(raw, p + 1)
            val segs = openStreamed.remove(xid).getOrElse(mutable.ArrayBuffer.empty)
            bufferedStreamFrames -= segs.length
            // A Relation first sent inside this streamed txn is marked
            // "schema sent" server-side once it commits and will NOT be
            // re-sent before later plain transactions — fold it into the
            // cache now (stripping the v2 xid prefix) so their preambles
            // carry it. Aborted streamed txns never reach here, so a
            // rolled-back schema change is never cached.
            segs.foreach { s =>
              if (s(0) == graft.pgproto.WalFrames.TagXLogData && s.length > p && s(p) == 'R') {
                val canonical = stripStreamXid(s)
                relCache = relCache.updated(readU32(s, p + 5), canonical)
                publishRelation(canonical)
              }
            }
            segs += raw
            addGroup(segs.toArray, readU64(raw, p + 14))
          case 'A' =>
            val xid = readU32(raw, p + 1)
            val subXid = readU32(raw, p + 5)
            if (subXid == xid || subXid == 0L)
              openStreamed.remove(xid).foreach(b => bufferedStreamFrames -= b.length)
            else appendStreamed(xid, raw) // subtxn abort rides with the group
          case 'P' =>
            // Two-phase: the b..P section (accumulated in curTxn — 'b' and
            // its DML ride the default case) parks under the gid until the
            // commit/rollback decision; nothing is delivered yet. A replayed
            // section (reopen below an open prepare) replaces its gid entry.
            curTxn += raw
            inPrepare = false
            val gid = readCStr(raw, p + 30)
            // The replay floor is the 'b' frame's position, not curTxn.head:
            // ambient Relation frames may precede it in the group, and
            // relations always replay regardless of the reopen point. A
            // Prepare with no preceding section (feed started mid-section)
            // floors at its own position rather than crashing on an empty
            // buffer.
            val beginPrepareWal = curTxn
              .find(f => f.length > p && f(p) == 'b')
              .map(readU64(_, 1))
              .getOrElse(readU64(curTxn.head, 1)) // curTxn holds ≥ this 'P' frame
            park(gid, PreparedGroup(curTxn.toArray, beginPrepareWal, streamed = false))
            curTxn = mutable.ArrayBuffer.empty
          case 'K' =>
            // COMMIT PREPARED: deliver the parked section + this frame as
            // one group at the commit-prepared end LSN, and only NOW fold
            // the section's Relation frames into the cache — the decision is
            // what makes its schema real. An unknown gid (prepared before
            // this slot's start) has nothing to deliver.
            val gid = readCStr(raw, p + 30)
            unpark(gid).foreach { g =>
              g.frames.foreach { s =>
                if (s(0) == graft.pgproto.WalFrames.TagXLogData && s.length > p && s(p) == 'R') {
                  val canonical = if (g.streamed) stripStreamXid(s) else s
                  relCache = relCache.updated(readU32(canonical, p + 1), canonical)
                  publishRelation(canonical)
                }
              }
              addGroup(g.frames :+ raw, readU64(raw, p + 10))
            }
          case 'r' =>
            // ROLLBACK PREPARED: drop the parked section unseen.
            unpark(readCStr(raw, p + 38))
          case 'p' =>
            // STREAM PREPARE: the streamed txn's chunks park under the gid
            // (still counted against the stream-frame cap until resolved).
            val xid = readU32(raw, p + 26)
            val gid = readCStr(raw, p + 30)
            val segs = openStreamed.remove(xid).getOrElse(mutable.ArrayBuffer.empty)
            val firstWal = if (segs.nonEmpty) readU64(segs.head, 1) else readU64(raw, 1)
            segs += raw
            park(gid, PreparedGroup(segs.toArray, firstWal, streamed = true))
          case 'b' => // BeginPrepare opens the two-phase data section
            inPrepare = true
            curTxn += raw
          case _ => // DML / Truncate / logical message
            if (openStreamXid >= 0) appendStreamed(openStreamXid, raw)
            else curTxn += raw
        }
      }
      else if (raw.nonEmpty && raw(0) == graft.pgproto.WalFrames.TagKeepalive) {
        // T6 liveness: reply with the confirmed position when the server asks
        // (replyRequested byte after walEnd(8)+serverTime(8) — reference
        // `stream.go:368-377`); keepalives carry no events.
        if (raw.length >= 17)
          lastServerTimeMicros = graft.pgproto.PgEpoch.toUnixMicros(readU64(raw, 9))
        if (raw.length > 17 && raw(17) != 0)
          try wal.sendStatusUpdate(graft.pgproto.WalFrames.encodeStandbyStatusUpdate(
            wal.confirmedLsn, System.currentTimeMillis() * 1000L))
          catch { case _: java.io.IOException => () } // reply is best-effort
      }
    }
  }

  /** Rewrite a streamed (v2, xid-prefixed) Relation frame to the canonical
    * non-streamed layout: preambles are decoded outside any stream block, so
    * the 4-byte xid after the tag must go.
    */
  private def stripStreamXid(raw: Array[Byte]): Array[Byte] = {
    val p = 25
    val out = new Array[Byte](raw.length - 4)
    System.arraycopy(raw, 0, out, 0, p + 1) // 'w' header + message tag
    System.arraycopy(raw, p + 5, out, p + 1, raw.length - (p + 5))
    out
  }

  private def appendStreamed(xid: Long, raw: Array[Byte]): Unit = {
    openStreamed.getOrElseUpdate(xid, mutable.ArrayBuffer.empty) += raw
    bufferedStreamFrames += 1
    if (bufferedStreamFrames > maxBufferedStreamFrames)
      throw new IllegalStateException(
        s"pgcdc: streamed-transaction frame buffer exceeded $maxBufferedStreamFrames " +
          s"(open xids: ${openStreamed.keys.mkString(",")})")
  }

  private def offsetFor(seq: Long): CdcOffset = {
    val i = seq - baseSeq
    val delivered = if (i <= 0) floorLsn else buffer((i - 1).toInt).endLsn
    val reopenAt = capResume(delivered)
    // skipTo is only carried while a prepared section holds the resume back
    // (keeps the JSON — and equality with pre-two-phase offsets — unchanged
    // on the common path).
    if (reopenAt == delivered) CdcOffset(seq, delivered)
    else CdcOffset(seq, reopenAt, delivered)
  }

  override def initialOffset(): Offset = CdcOffset(0L, startLsn)
  override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    if (defaultMaxTxnsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(defaultMaxTxnsPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("pgcdc implements SupportsAdmissionControl")

  // Trigger.AvailableNow: DRAIN-UNTIL-IDLE. A replication feed's
  // "available" set is not enumerable up front (the server streams the
  // backlog; an early pin would terminate the run having delivered
  // whatever happened to cross the socket first, and a pin taken at the
  // backpressure cap would strand everything beyond it), so no target is
  // pinned: the engine keeps triggering while latestOffset advances and
  // self-terminates at the first trigger that finds the feed idle — the
  // natural catch-up semantic. Without declaring the capability at all,
  // the engine falls back to SINGLE-batch execution, which under a
  // maxTxnsPerTrigger cap stops after one capped batch with the backlog
  // undelivered. On a feed that never goes idle the run keeps going —
  // AvailableNow on a firehose is a bounded-lag drain, not a fixed set.
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset]
    ensureOpen(s)
    pump()
    val available = baseSeq + buffer.size
    val capped = limit match {
      case r: ReadMaxRows => math.min(available, s.seq + r.maxRows())
      case _ => available
    }
    offsetFor(capped)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset].seq
    val e = end.asInstanceOf[CdcOffset].seq
    ensureOpen(start.asInstanceOf[CdcOffset])
    if (e <= s) return Array.empty
    // A restored uncommitted batch replans before any latestOffset call —
    // pump past the backpressure caps if that's what covering it takes.
    pump(needSeq = e)
    require(s >= baseSeq,
      s"pgcdc: batch start $s below trimmed base $baseSeq — checkpoint older than buffer")
    require(e - baseSeq <= buffer.size,
      s"pgcdc: batch end $e beyond buffered ${baseSeq + buffer.size} — feed did not replay far enough")
    val groups = buffer.slice((s - baseSeq).toInt, (e - baseSeq).toInt)
    // Pack consecutive txns into partitions of ~maxFramesPerPartition frames
    // (a txn is never split — executors decode whole transactions).
    val parts = mutable.ArrayBuffer.empty[InputPartition]
    val cur = mutable.ArrayBuffer.empty[TxnGroup]
    var frames = 0
    def flush(): Unit = if (cur.nonEmpty) {
      parts += PgCdcInputPartition(
        cur.head.relPreamble.toArray, cur.map(_.frames).toArray, heartbeat,
        maxBufferedStreamEvents, spillThresholdEvents, dropForeignOrigin,
        keyOverrides)
      cur.clear(); frames = 0
    }
    groups.foreach { g =>
      if (frames > 0 && frames + g.frames.length > maxFramesPerPartition) flush()
      cur += g; frames += g.frames.length
    }
    flush()
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = PgCdcReaderFactory

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[CdcOffset].seq
    val n = e - baseSeq
    // Loud on any out-of-range commit — a silent no-op here would under-ack
    // after a restart and mask a broken checkpoint (round-2 verdict finding).
    require(n >= 0 && n <= buffer.size,
      s"pgcdc: commit($e) outside buffered range [$baseSeq, ${baseSeq + buffer.size}]")
    if (n == 0) return
    floorLsn = buffer((n - 1).toInt).endLsn
    // T3: ack the last delivered txn's commit end LSN (monotonic in
    // WalSource) — held below any open prepared section so the server keeps
    // its body replayable until COMMIT/ROLLBACK PREPARED resolves it.
    wal.ack(capResume(floorLsn))
    var i = 0
    while (i < n) {
      buffer(i.toInt).frames.foreach(f => bufferedBytes -= f.length)
      i += 1
    }
    buffer.remove(0, n.toInt)
    baseSeq = e
    txnsDelivered += n
  }

  override def stop(): Unit = wal.close()
}

/** Raw frames ride to the executor; all pgoutput decode happens there. */
final case class PgCdcInputPartition(
    relPreamble: Array[Array[Byte]],
    txnFrames: Array[Array[Array[Byte]]],
    heartbeat: Option[(String, String)],
    maxBufferedStreamEvents: Int = 1 << 20,
    spillThresholdEvents: Int = 1 << 16,
    dropForeignOrigin: Boolean = false,
    keyOverrides: String = "") extends InputPartition

object PgCdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgCdcInputPartition]
    new PartitionReader[InternalRow] {
      private val assembler = new TransactionAssembler(
        p.heartbeat, p.maxBufferedStreamEvents, p.spillThresholdEvents,
        dropForeignOrigin = p.dropForeignOrigin,
        keyNameOverrides =
          graft.cdc.TransactionAssembler.parseKeyOverrides(p.keyOverrides))
      p.relPreamble.foreach(assembler.onCopyData)
      private val events: Iterator[ChangeEvent] =
        p.txnFrames.iterator.flatMap(_.iterator.flatMap(assembler.onCopyData))
      private var cur: ChangeEvent = null
      private var decoded = 0L
      private var inserts = 0L
      private var updates = 0L
      private var deletes = 0L
      override def next(): Boolean =
        if (events.hasNext) {
          cur = events.next(); decoded += 1
          cur.op match {
            case "insert" => inserts += 1
            case "update" => updates += 1
            case "delete" => deletes += 1
            case _ => ()
          }
          true
        } else false
      override def get(): InternalRow = toInternalRow(cur)
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        GraftMetrics.taskMetrics(
          decoded, assembler.heartbeatsSuppressed, assembler.totalSpilledEvents,
          inserts, updates, deletes)
      // Releases any open streamed buffers + spill files on task end.
      override def close(): Unit = assembler.close()
    }
  }

  private def utf8Map(m: Map[String, String]): ArrayBasedMapData =
    if (m == null) null
    else {
      val keys = new Array[Any](m.size)
      val vals = new Array[Any](m.size)
      var i = 0
      m.foreach { case (k, v) =>
        keys(i) = UTF8String.fromString(k)
        vals(i) = if (v == null) null else UTF8String.fromString(v)
        i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    }

  def toInternalRow(e: graft.cdc.ChangeEvent): InternalRow = {
    val r = new GenericInternalRow(11)
    r.setLong(0, e.lsn)
    r.setLong(1, e.commitLsn)
    r.setLong(2, e.xid)
    r.update(3, UTF8String.fromString(e.op))
    r.update(4, UTF8String.fromString(e.schema))
    r.update(5, UTF8String.fromString(e.table))
    r.setLong(6, e.messageTimeMicros) // TimestampType is µs since epoch
    r.setLong(7, e.commitTimeMicros)
    r.update(8,
      if (e.keyNames == null) null
      else new GenericArrayData(e.keyNames.map(UTF8String.fromString).toArray[Any]))
    r.update(9, utf8Map(e.before))
    r.update(10, utf8Map(e.after))
    r
  }
}
