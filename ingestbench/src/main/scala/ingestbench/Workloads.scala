package ingestbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sinks.{LakeSink, MaintainedView}

/** `wal_catchup_steady`: the recovery story of a CDC consumer. Catch-up:
  * a pre-built backlog (see [[CatchupInput]]) drains into a fresh lake
  * from a fresh checkpoint as fast as it goes (closed loop) — every
  * transaction is due when the query starts — [[CatchupDrains]] times;
  * the last lake's maintained view then catches up once. Steady: the
  * last stream restarts from its checkpoint on a fixed trigger interval,
  * and small seeded transactions on `orders` arrive at a fixed rate
  * (open loop); each micro-batch lands with `appendBatch` and then
  * refreshes the view. Throughput and CPU come from the catch-ups (the
  * median drain), freshness from the steady phase.
  */
object WalWorkload {
  /** Live transactions per second: far below the catch-up rate. A
    * trigger finds about 100 transactions (~750 frames) due, which the
    * source's 1 024-frame socket queue holds whole, so every trigger
    * takes all that is due. At 125/s (~1 900 frames a trigger) the
    * source's pump, which stops at the first empty poll of that queue,
    * left 0 to 250 transactions a run for the next trigger, and the
    * latency medians of ten runs split into two groups 40 % apart.
    * 400 transactions in an 8 s phase: p99 has four samples beyond it.
    */
  val Rate = 50.0
  /** The live schedule starts this long after the steady query starts. */
  val LeadMs = 500L
  /** The steady query's trigger interval: a batch's append and refresh
    * take 1.3-1.9 s on a 4-vCPU host, so batches start on a fixed cadence
    * and a transaction waits for the next trigger (half the interval on
    * average) plus the work — the work, not its feedback on batch sizes,
    * is what varies. The 8 s phase spans four whole intervals, so the
    * wait is uniform whatever the phase of the trigger grid. A batch
    * that outlasts the interval only stretches the cadence; what makes
    * a run invalid is a growing backlog ([[MaxPassedOver]]).
    */
  val SteadyTriggerMs = 2000L
  /** A transaction due this close to a trigger may still be on its way
    * through the socket; that trigger does not count as passing it over.
    */
  val GraceMs = 100L
  /** A stream that keeps up takes every transaction at the first or
    * second trigger after it is due; when more than this share waited
    * through two triggers, the backlog grows and the run is over the
    * sustainable rate.
    */
  val MaxPassedOver = 0.01
  /** A run whose generator sends later than this at p99 cannot offer the
    * stated rate. Scheduling jitter on a shared host reaches tens of
    * milliseconds; a generator that cannot keep up falls seconds behind.
    */
  val MaxLateMs = 250.0
  /** Catch-up drains per run; the median one is reported. */
  val CatchupDrains = 3
  /** Each drain must finish within this, or the run fails. */
  val CatchupCapNs = 60000000000L

  def run(o: Opts, res: Result): Unit = {
    val rows = new Rows(o.seed)
    val (w, log) = CatchupInput.build(rows, o.seed, CatchupInput.Default)
    val caught = log.stateAfter(log.txnCount)
    val schedule = new LiveInput(rows, o.seed, Rate, (Rate * o.seconds).toInt, caught(0), w.lastLsn)
    res.note(f"backlog: ${log.events} events in ${log.txnCount} transactions " +
      f"(${w.bytes / 1e6}%.1f MB), drained $CatchupDrains times; steady: ${schedule.txns} " +
      f"transactions at $Rate%.0f/s")
    res.mark("generate")
    final class Open(spark: SparkSession) extends AutoCloseable {
      val feed = new WalFeed(w, Schema.All.size, schedule)
      val server = new Loopback(Some(feed), _ => None)
      def close(): Unit = server.close()
    }
    val (spark, h, setupS) = Harness.setUp(o, WarmUp.stream(o, rows))(new Open(_))
    res.mark("set-up")
    try {
      Harness.checkHash(spark)
      Tracer.enabled = o.trace
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val steady = new AtomicBoolean(false)
      val nB = log.txnCount
      /** A fresh lake with its view, checkpoint and progress: one drain. */
      final class Leg(i: Int) {
        val root = Harness.dir(o, s"lake-$i")
        val lake = new LakeSink(root)
        lake.writeRelations(spark, Schema.All.map(_.relation))
        val view: MaintainedView = Harness.priceView(lake)
        val ckpt = Harness.dir(o, s"ckpt-$i")
        val progress = new Progress
        val landed = new ConcurrentHashMap[Long, WalRun.Landed]()
        var t0, caughtAt, cpuNs = 0L
        def query(trigger: Trigger): StreamingQuery = Harness.stream(o, spark, h.server.port, ckpt,
            Map("spillThresholdEvents" -> CatchupInput.SpillThreshold.toString), trigger) { (df, id) =>
          val a = WalRun.appendSpan(lake, df, id)
          val r =
            if (steady.get) { Tracer.span("sinks", "refresh")(view.refresh(spark)); System.nanoTime }
            else 0L
          landed.put(id, WalRun.Landed(a, r)); ()
        }
        def catchupS: Double = (caughtAt - t0) / 1e9
      }
      def await(q: StreamingQuery, done: => Boolean, capNs: Long): Unit = {
        val deadline = System.nanoTime + capNs
        while (q.isActive && !done && System.nanoTime < deadline) Thread.sleep(2)
        q.exception.foreach(e => throw new IllegalStateException("stream failed", e))
      }
      // catch-up: drain the same backlog into a fresh lake, several times
      val legs = (0 until CatchupDrains).map { i =>
        val leg = new Leg(i)
        spark.streams.addListener(leg.progress)
        val cpu0 = Stats.cpuNs()
        leg.t0 = System.nanoTime
        val q = leg.query(Trigger.ProcessingTime(0L))
        await(q, leg.progress.delivered.get >= nB, CatchupCapNs)
        leg.cpuNs = Stats.cpuNs() - cpu0
        require(leg.progress.delivered.get >= nB, s"catch-up $i drained " +
          s"${leg.progress.delivered.get} of $nB transactions in ${CatchupCapNs / 1e9} s")
        Harness.stop(q, leg.progress, leg.landed)
        leg.caughtAt = leg.progress.all.map(b => leg.landed.get(b.id).append).max
        if (i < CatchupDrains - 1) spark.streams.removeListener(leg.progress)
        leg
      }
      val last = legs.last
      Tracer.span("sinks", "refresh")(last.view.refresh(spark))
      val viewCaughtAt = System.nanoTime
      res.mark("catch-up")
      // steady: the last stream, restarted from its checkpoint with a
      // fixed trigger interval, serves the live schedule
      steady.set(true)
      val live = last.query(Trigger.ProcessingTime(SteadyTriggerMs))
      h.feed.start(LeadMs)
      val tLive = System.nanoTime
      val n = schedule.txns
      await(live, last.progress.delivered.get >= nB + n,
        h.feed.dueNs(n - 1) - System.nanoTime + 20000000000L)
      Harness.stop(live, last.progress, last.landed)
      counters.settle()
      Report.counters(o, counters)
      res.mark("steady")

      val batches = last.progress.all.filter(b => last.landed.containsKey(b.id))
      val batchOf = WalRun.batchIndex(batches)
      val lat = (0 until n).flatMap { i =>
        batchOf(nB + i).map { b =>
          val l = last.landed.get(b.id)
          ((l.append - h.feed.dueNs(i)) / 1e6, (l.refresh - h.feed.dueNs(i)) / 1e6)
        }
      }
      val liveDelivered = (batches.map(_.endSeq).max - nB).toInt
      res.attempted = CatchupDrains * log.events.toLong + schedule.events
      if (lat.size < n) res.fail(schedule.events - schedule.log.eventsIn(lat.size),
        s"${n - lat.size} of $n steady transactions never became visible")
      val lateMs = h.feed.lateNs.asScala.toSeq.map(_.doubleValue / 1e6)
      val lateP99 = Stats.quantile(lateMs, 0.99)
      if (lateP99 > MaxLateMs)
        res.fail(schedule.events, f"generator ran late (p99 $lateP99%.1f ms > $MaxLateMs ms): " +
          "the rate is over what the host sustains")
      val steadyBatches = batches.filter(_.endSeq > nB)
      steadyBatches.foreach { b =>
        val behind = math.max(0L, h.feed.dueBy(b.triggerMs - GraceMs) - (b.endSeq - nB))
        res.note(s"steady batch ${b.id}: transactions ${b.startSeq - nB}..${b.endSeq - nB}, " +
          s"$behind due but left behind, ${b.durations.getOrElse("triggerExecution", 0L)} ms")
      }
      val passedOver = WalRun.passedOverTwice(steadyBatches, nB, h.feed.dueMs, GraceMs)
      if (passedOver > MaxPassedOver * n)
        res.fail(schedule.events, s"$passedOver of $n steady transactions waited through two " +
          "triggers: the backlog grows, the rate is over the sustainable rate")
      val batchMs = Stats.median(steadyBatches
        .map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
      val stateS = Harness.stateReads(spark, last.lake, Seq(Schema.Orders, Schema.Lineitem), 3)
      res.mark("state read")
      legs.init.foreach(l => WalRun.audit(spark, rows, l.lake, log, nB, schedule.log, 0, res))
      val want = WalRun.audit(spark, rows, last.lake, log, nB, schedule.log, liveDelivered, res)
      WalRun.viewAudit(spark, rows, last.lake, want(0), res)
      res.mark("audit")

      val drainS = legs.map(_.catchupS)
      res.note(f"catch-up: ${log.events} events in ${drainS.map(s => f"$s%.2f").mkString(", ")} s; " +
        f"median ${log.events / Stats.median(drainS)}%.0f events/s; ${batches.count(_.endSeq <= nB)} " +
        f"batches in the last; its view caught up ${(viewCaughtAt - last.caughtAt) / 1e6}%.0f ms later")
      res.note(f"steady: ${lat.size} transactions; lake p50 ${Stats.median(lat.map(_._1))}%.0f ms, " +
        f"view p50 ${Stats.median(lat.map(_._2))}%.0f ms; generator late p99 $lateP99%.2f ms; " +
        f"batch p50 $batchMs%.0f ms of the $SteadyTriggerMs ms trigger")
      val e2e = Map(
        "setup_s" -> setupS,
        "ingest_per_s" -> Stats.median(legs.map(l => log.events / l.catchupS)),
        "cpu_s_per_m" -> Stats.median(legs.map(l => l.cpuNs / 1e9 / (log.events / 1e6))),
        "lake_visible_p50_ms" -> Stats.median(lat.map(_._1)),
        "lake_visible_p99_ms" -> Stats.quantile(lat.map(_._1), 0.99),
        "view_visible_p50_ms" -> Stats.median(lat.map(_._2)),
        "view_visible_p99_ms" -> Stats.quantile(lat.map(_._2), 0.99),
        "state_read_s" -> stateS)
      Report.endToEnd(o, res, e2e)
      if (o.trace) {
        val (mbps, parts) = LayerPasses.group(w, Schema.All.size)
        val decodeEps = LayerPasses.decode(parts, o.nproc)
        val typedEps = LayerPasses.typedView(spark, last.lake, Schema.All)
        val events = CatchupDrains * log.events.toLong + schedule.log.eventsIn(liveDelivered)
        val allBatches = legs.init.flatMap(_.progress.all) ++ batches
        Report.layers(o, res, WalRun.layers(allBatches, counters, spark, legs.map(_.root), events,
          mbps, decodeEps, typedEps, stateS, lateP99,
          CatchupDrains * w.frames.size + h.feed.liveFrames, h.server.bytesSent.get))
        val end = last.landed.values.asScala.map(l => math.max(l.append, l.refresh)).max
        Report.table(o, Seq(
          ("catch-up", last.catchupS, WalRun.blocking(last.t0, last.caughtAt)),
          ("steady", (end - tLive) / 1e9, WalRun.blocking(tLive, end))), e2e)
      }
    } finally { h.close(); spark.stop() }
  }
}

object Main {
  val Workloads: Map[String, (Opts, Result) => Unit] = Map(
    "wal_catchup_steady" -> WalWorkload.run, "snapshot_load" -> SnapshotLoad.run)

  private def usage(msg: String): Nothing = {
    System.err.println(s"ingestbench: $msg\nusage: --workload ${Workloads.keys.mkString("|")} " +
      "--seed N --seconds N --trace 0|1 --work DIR --out DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val o = Opts(workload, arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1",
      new File(arg("work")), new File(arg("out")), Runtime.getRuntime.availableProcessors,
      mainEntryMs)
    o.work.mkdirs(); o.out.mkdirs()
    val res = new Result
    val code =
      try {
        run(o, res)
        val bad = res.metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
        if (bad.nonEmpty) throw new IllegalStateException(s"non-finite metrics: ${bad.mkString(", ")}")
        val metrics = res.metrics.map { case (k, (v, u)) =>
          s""""$k":{"value":$v,"unit":"$u"}"""
        }.mkString("{", ",", "}")
        println(s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
          s""""failed":${res.failed},"metrics":$metrics}""")
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"ingestbench: $workload failed")
          t.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}
