package ingestbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.LakeSink

/** The catch-up phase's backlog in 500-row transactions: `orders` and
  * `lineitem` inserts shaped like sf0.1 (1-7 lines per order), seeded full-image updates,
  * a `documents` slice whose updates ship `text` as unchanged-TOAST, and
  * seeded deletes, interleaved in [[Sizes.rounds]] equal rounds so that
  * any prefix a time-boxed run drains holds the same mix; plus one
  * protocol-v2 streamed transaction of new orders after the first round,
  * larger than the stream's spill threshold ([[SpillThreshold]]).
  */
object CatchupInput {
  final case class Sizes(orders: Int, updates: Int, docs: Int, streamed: Int, deletes: Int,
      rounds: Int, txnRows: Int = 500)
  /** ~46 k events, drained three times a run in 3-4 s each on 4 vCPUs;
    * the streamed transaction still spills.
    */
  val Default = Sizes(orders = 6000, updates = 5000, docs = 500,
    streamed = 9000, deletes = 1500, rounds = 5)
  /** `spillThresholdEvents` the catch-up stream runs with. */
  val SpillThreshold = 8192

  def build(rows: Rows, seed: Long, sz: Sizes): (WalWriter, EventLog) = {
    val w = new WalWriter()
    val log = new EventLog
    val now = System.currentTimeMillis * 1000L
    w.relations(Schema.All, now)
    val ver = Seq.fill(3)(mutable.LongMap.empty[Int])
    val pending = mutable.ArrayBuffer.empty[Array[Byte]]
    def flush(): Unit = if (pending.nonEmpty) { w.txn(pending.toSeq, now); log.endTxn(); pending.clear() }
    def emit(table: Int, key: Long, v: Int, msg: Array[Byte]): Unit = {
      pending += msg
      log.add(table, key, v)
      if (v < 0) ver(table).remove(key) else ver(table)(key) = v
      if (pending.size >= sz.txnRows) flush()
    }
    val rnd = new SplittableRandom(Rows.mix(seed ^ 0x5EEDL))
    val inserted = Seq(mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Long])
    def pick(): (Int, Long) = {
      val t = if (rnd.nextBoolean()) 0 else 1
      (t, inserted(t)(rnd.nextInt(inserted(t).size)))
    }
    val perRound = (sz.orders + sz.rounds - 1) / sz.rounds
    for (r <- 0 until sz.rounds) {
      for (k <- (r.toLong * perRound + 1) to math.min(sz.orders.toLong, (r + 1L) * perRound)) {
        emit(0, k, 0, Dml.ins(Schema.Orders, rows.order(k, 0))); inserted(0) += k
        for (l <- 1 to rows.linesOf(k)) {
          emit(1, k * 8 + l, 0, Dml.ins(Schema.Lineitem, rows.lineitem(k * 8 + l, 0)))
          inserted(1) += k * 8 + l
        }
      }
      flush()
      if (r == 0) {
        val fresh = (sz.orders + 1L) to (sz.orders.toLong + sz.streamed)
        w.streamedTxn(x => fresh.grouped(4000).map(_.map(k =>
          Dml.ins(Schema.Orders, rows.order(k, 0), x))).toSeq, now)
        fresh.foreach { k => log.add(0, k, 0); ver(0)(k) = 0; inserted(0) += k }
        log.endTxn()
      }
      for (_ <- 0 until sz.updates / sz.rounds) {
        val (t, k) = pick()
        ver(t).get(k).foreach { v =>
          emit(t, k, v + 1, Dml.upd(Schema.All(t), rows.image(t, k, v + 1), rows.image(t, k, v)))
        }
      }
      flush()
      val docs = (r.toLong * sz.docs / sz.rounds + 1) to ((r + 1L) * sz.docs / sz.rounds)
      for (d <- docs) emit(2, d, 0, Dml.ins(Schema.Documents, rows.document(d, 0)))
      flush()
      for (d <- docs) emit(2, d, 1, Dml.toast(rows.document(d, 1), rows.document(d, 0)))
      flush()
      var deleted = 0
      while (deleted < sz.deletes / sz.rounds) {
        val (t, k) = pick()
        ver(t).get(k).foreach { v =>
          emit(t, k, -1, Dml.del(Schema.All(t), rows.image(t, k, v))); deleted += 1
        }
      }
      flush()
    }
    (w, log)
  }
}

/** The live phase's open-loop schedule: transaction i is due at
  * `i / rate` seconds after the phase starts and carries 1-10 seeded
  * inserts, full-image updates or deletes on `orders`, starting from the
  * `orders` state the backlog left. LSNs continue after `startLsn`.
  */
final class LiveInput(rows: Rows, seed: Long, val rate: Double, val txns: Int,
    initial: mutable.LongMap[Int], startLsn: Long) {
  val log = new EventLog
  /** pgoutput DML messages of each transaction. */
  val bodies: Array[Array[Array[Byte]]] = {
    val rnd = new SplittableRandom(Rows.mix(seed ^ 0x57EADL))
    val ver = initial.clone()
    val live = mutable.ArrayBuffer.from(initial.keys.toSeq.sorted)
    var nextKey = live.lastOption.getOrElse(0L) + 1
    Array.fill(txns) {
      val n = 1 + rnd.nextInt(10)
      val body = Array.fill(n) {
        val p = rnd.nextInt(10)
        if (p < 4 || live.size < 2) {
          val k = nextKey; nextKey += 1
          live += k; ver(k) = 0; log.add(0, k, 0)
          Dml.ins(Schema.Orders, rows.order(k, 0))
        } else {
          val i = rnd.nextInt(live.size)
          val k = live(i); val v = ver(k)
          if (p < 8) {
            ver(k) = v + 1; log.add(0, k, v + 1)
            Dml.upd(Schema.Orders, rows.order(k, v + 1), rows.order(k, v))
          } else {
            live(i) = live.last; live.remove(live.size - 1)
            ver.remove(k); log.add(0, k, -1)
            Dml.del(Schema.Orders, rows.order(k, v))
          }
        }
      }
      log.endTxn()
      body
    }
  }
  /** Commit end-LSN of each transaction (fixed by the schedule). */
  val txnEnds: Array[Long] = {
    var lsn = startLsn
    bodies.map { b => lsn += b.length + 2; lsn }
  }
  def events: Int = log.events
}

/** The workload's walsender: the backlog as fast as the client reads,
  * then — once [[start]] is called — each live transaction at its due
  * time, stamped with that time (a transaction sent late is still timed
  * from when it was due). Records how late each live send ran.
  */
final class WalFeed(backlog: WalWriter, relations: Int, live: LiveInput) extends Feed {
  @volatile private var startNs = 0L
  val lateNs = new ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var liveFrames = 0L
  // the newest connection serves the live schedule; an older one (the
  // catch-up query's, closed when it stopped) leaves it alone
  private val connections = new java.util.concurrent.atomic.AtomicLong(0L)

  @volatile private var startMs = 0L
  def start(leadMs: Long): Unit = {
    startMs = System.currentTimeMillis + leadMs
    startNs = System.nanoTime + leadMs * 1000000L
  }
  def started: Boolean = startNs != 0L
  def dueNs(i: Int): Long = startNs + (i * 1e9 / live.rate).toLong
  /** Wall-clock due time of live transaction i, in ms. */
  def dueMs(i: Int): Long = startMs + (i * 1e3 / live.rate).toLong
  /** Live transactions due at or before wall-clock time `ms`. */
  def dueBy(ms: Long): Int =
    if (ms < startMs) 0 else math.min(live.txns, ((ms - startMs) * live.rate / 1e3).toInt + 1)

  def serve(fromLsn: Long, out: FrameOut): Unit = {
    import graft.pgproto.{MessageEncoder => M}
    val me = connections.incrementAndGet()
    BacklogFeed.write(backlog, relations, fromLsn, out)
    while (!started) Thread.sleep(1)
    if (connections.get != me) return
    val base = System.currentTimeMillis * 1000L - System.nanoTime / 1000L
    var i = 0
    while (i < live.txns && graft.pgproto.Lsn.compare(live.txnEnds(i), fromLsn) <= 0) i += 1
    while (i < live.txns) {
      val due = dueNs(i)
      var now = System.nanoTime
      while (now < due) {
        val ms = (due - now) / 1000000L
        if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
        now = System.nanoTime
      }
      val stamp = base + due / 1000L
      val body = live.bodies(i)
      val commitAt = live.txnEnds(i)
      var at = commitAt - body.length - 1
      out.frame(M.xlogData(at, at, stamp, M.begin(commitAt, stamp, 1000000L + i)))
      body.foreach { m => at += 1; out.frame(M.xlogData(at, at, stamp, m)) }
      out.frame(M.xlogData(commitAt, commitAt, stamp, M.commit(commitAt, commitAt, stamp)))
      out.flush()
      liveFrames += body.length + 2
      lateNs.add(System.nanoTime - due)
      i += 1
    }
    while (!Thread.currentThread().isInterrupted) Thread.sleep(1000)
  }
}

/** Helpers of the WAL workload: map each micro-batch's end offset (from
  * its progress) to the generator's transactions, audit the lake against
  * the generator, and derive the per-layer numbers.
  */
object WalRun {
  /** Return times of one batch's `appendBatch` and (if any) `refresh`. */
  final case class Landed(append: Long, refresh: Long)

  /** The batch that delivered transaction i (0-based, `startSeq <= i <
    * endSeq`), if any.
    */
  def batchIndex(batches: Seq[Progress.Batch]): Int => Option[Progress.Batch] = {
    val sorted = batches.sortBy(_.startSeq).toArray
    i => {
      var lo = 0; var hi = sorted.length - 1; var hit: Option[Progress.Batch] = None
      while (lo <= hi && hit.isEmpty) {
        val m = (lo + hi) >>> 1
        if (i < sorted(m).startSeq) hi = m - 1
        else if (i >= sorted(m).endSeq) lo = m + 1
        else hit = Some(sorted(m))
      }
      hit
    }
  }

  /** Steady transactions that two or more triggers, started at least
    * `graceMs` after they were due, did not take.
    */
  def passedOverTwice(steady: Seq[Progress.Batch], nB: Long, dueMs: Int => Long,
      graceMs: Long): Int = {
    val triggers = steady.map(_.triggerMs).sorted
    steady.map { b =>
      ((b.startSeq - nB).toInt until (b.endSeq - nB).toInt).count { i =>
        triggers.count(t => t < b.triggerMs && t - graceMs >= dueMs(i)) >= 2
      }
    }.sum
  }

  def appendSpan(lake: LakeSink, df: DataFrame, id: Long): Long = {
    Tracer.span("sinks", "appendBatch")(lake.appendBatch(df, id))
    System.nanoTime
  }

  /** The lake's change-event count and per-table latest state against
    * the generator: the backlog, then the delivered steady transactions.
    * Returns the expected state.
    */
  def audit(spark: SparkSession, rows: Rows, lake: LakeSink, backlog: EventLog, backlogTxns: Int,
      live: EventLog, liveTxns: Int, res: Result): Seq[mutable.LongMap[Int]] = {
    val want = live.stateAfter(liveTxns, backlog.stateAfter(backlogTxns))
    val events = lake.changelog(spark).count()
    val expected = backlog.eventsIn(backlogTxns).toLong + live.eventsIn(liveTxns)
    if (events != expected)
      res.fail(math.abs(events - expected), s"lake holds $events change events, expected $expected")
    Schema.All.foreach { t =>
      val got = Harness.lakeDigest(spark, lake, t)
      val exp = Digest.of(rows, t.id, want(t.id))
      if (got != exp) res.fail(math.max(1L, math.abs(got.count - exp.count)),
        s"${t.name} latest state differs from the generator: $got vs $exp")
    }
    want
  }

  def viewAudit(spark: SparkSession, rows: Rows, lake: LakeSink, orders: mutable.LongMap[Int],
      res: Result): Unit = {
    val got = Harness.viewRows(spark, Harness.priceView(lake))
    val want = Harness.expectedView(rows, orders)
    if (got != want) res.fail(1, s"view differs from a recompute: $got vs $want")
  }

  /** Per-layer numbers of the WAL workload. */
  def layers(bs: Seq[Progress.Batch], counters: Counters, spark: SparkSession, roots: Seq[String],
      events: Long, groupMbps: Double, decodeEps: Double, typedEps: Double, stateS: Double,
      lateP99Ms: Double, frames: Long, wireBytes: Long): mutable.LinkedHashMap[String, Double] = {
    val l = Report.layerDefaults()
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble).sum
    def src(k: String) = bs.flatMap(_.source.get(k).flatMap(_.toDoubleOption))
    val spans = Tracer.all
    val appends = spans.filter(_.name == "appendBatch")
    val refreshes = spans.filter(_.name == "refresh")
    l ++= Report.sparkCounters(counters)
    l ++= Map(
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.triggers" -> bs.size.toDouble,
      "streaming.txns_per_trigger_p50" -> Stats.median(bs.map(b => (b.endSeq - b.startSeq).toDouble)),
      "streaming.backlog_txns_max" -> src("backlogTxns").maxOption.getOrElse(0.0),
      "streaming.cdc_latency_ms_p50" -> Stats.median(src("cdcLatencyMs")),
      "streaming.group_mbps" -> groupMbps,
      "cdc.decode_eps" -> decodeEps,
      "cdc.decode_task_cpu_s" -> counters.sourceCpuNs.get / 1e9,
      "cdc.events_decoded" -> counters.accumulated("change events decoded on executors").toDouble,
      "cdc.spilled_events" ->
        counters.accumulated("streamed-txn events spilled to local disk").toDouble,
      "cdc.typed_view_eps" -> typedEps,
      "sinks.append_ms_p50" -> Stats.median(appends.map(_.dur / 1e6)),
      "sinks.append_ms_p99" -> Stats.quantile(appends.map(_.dur / 1e6), 0.99),
      "sinks.append_calls" -> appends.size.toDouble,
      "sinks.files_written" -> roots.map(Harness.parquetFiles(spark, _)).sum.toDouble,
      "sinks.bytes_per_event" -> counters.outputBytes.get.toDouble / math.max(1L, events),
      "sinks.refresh_ms_p50" -> Stats.median(refreshes.map(_.dur / 1e6)),
      "sinks.refresh_ms_p99" -> Stats.quantile(refreshes.map(_.dur / 1e6), 0.99),
      "sinks.refresh_jobs" ->
        counters.jobsWithin(refreshes).toDouble / math.max(1, refreshes.size),
      "sinks.fold_s" -> stateS,
      "gen.frames" -> frames.toDouble,
      "gen.wire_mb" -> wireBytes / 1e6,
      "gen.late_p99_ms" -> lateP99Ms)
    l
  }

  /** Self time along the stream thread: the source's driver calls
    * (`streaming`), decode inside each append (`cdc`, its busy share of
    * the append's task phase), the rest of `appendBatch` and `refresh`
    * (`sinks`), and what remains of the wall time — Spark's trigger loop,
    * offset log and scheduling, and waiting for data.
    */
  def blocking(t0: Long, t1: Long): Seq[LayerTable.Row] = {
    val spans = Tracer.all.filter(s => s.start >= t0 && s.end <= t1)
    val appends = spans.filter(_.name == "appendBatch")
    val thread = appends.headOption.map(_.thread).getOrElse("")
    val onThread = spans.filter(_.thread == thread)
    val children = onThread.groupBy(_.parent)
    def self(s: Span): Double = (s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum) / 1e9
    val decodes = spans.filter(s => s.layer == "cdc" && s.name == "decode")
    var cdc = 0.0
    appends.foreach { a =>
      val d = decodes.filter(x => x.start >= a.start && x.end <= a.end)
      if (d.nonEmpty) {
        val busy = d.map(_.attrs.getOrElse("busy_ns", 0.0)).sum / d.map(_.dur.toDouble).sum
        cdc += busy * (d.map(_.end).max - d.map(_.start).min) / 1e9
      }
    }
    val streaming = onThread.filter(_.layer == "streaming").map(self).sum
    val sinks = onThread.filter(_.layer == "sinks").map(self).sum - cdc
    val wall = (t1 - t0) / 1e9
    Seq(
      LayerTable.Row("streaming", streaming, onThread.count(_.layer == "streaming").toLong),
      LayerTable.Row("cdc", cdc, decodes.size.toLong),
      LayerTable.Row("sinks", sinks, onThread.count(_.layer == "sinks").toLong),
      LayerTable.Row("spark+idle", math.max(0.0, wall - streaming - cdc - sinks), 0L))
  }
}
