package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkTestBase
import graft.tools.{WalFile, WalGen}

/** Metrics parity: driver gauges through ReportsSourceMetrics and the
  * listener, executor counters through custom task metrics — the spec the
  * round-3 review asked for ("counters advance through a micro-batch run").
  */
class GraftMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("source gauges advance across pump/commit") {
    val wal = Files.createTempFile("wal-metrics", ".bin").toString
    WalFile.write(wal, WalGen.frames(4, 2))
    val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(
      java.util.Map.of("path", wal)))
    val o0 = s.initialOffset().asInstanceOf[CdcOffset]
    val end = s.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]

    val before = s.metrics(java.util.Optional.empty())
    assert(before.get("backlogTxns").toInt == 4)
    assert(before.get("backlogBytes").toLong > 0L)
    assert(before.get("txnsDelivered").toLong == 0L)
    assert(before.get("cdcLatencyMs") != null, "frame server time seen -> latency gauge present")
    assert(before.get("queuedBytes") == "0" && before.get("queuedFrames") == "0",
      "a file feed reads on demand: nothing queued ahead")

    s.planInputPartitions(o0, end)
    s.commit(end)
    val after = s.metrics(java.util.Optional.empty())
    assert(after.get("backlogTxns").toInt == 0, "commit trims the backlog")
    assert(after.get("backlogBytes").toLong == 0L)
    assert(after.get("txnsDelivered").toLong == 4L, "cumulative delivered counter advances")
    assert(graft.pgproto.Lsn.parse(after.get("confirmedLsn")) > 0L, "ack advanced the confirmed LSN")
    s.stop()
  }

  test("queuedBytes/queuedFrames show the socket reader's run-ahead and return to 0 after a drain") {
    val frames = WalGen.frames(6, 2).toSeq
    val server = new FakeWalsender(frames)
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 10000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(10)
      assert(cond, s"timed out waiting for $what")
    }
    try {
      // One txn grouped per trigger: the rest waits in the reader's queue.
      val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(java.util.Map.of(
        "host", "127.0.0.1", "port", server.port.toString,
        "slot", "s_gauges", "publication", "p1", "maxBufferedTxns", "1")))
      def gauge(k: String): Long = s.metrics(java.util.Optional.empty()).get(k).toLong
      var start = s.initialOffset().asInstanceOf[CdcOffset]
      var end = start
      awaitTrue("first txn grouped") {
        end = s.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        end.seq == 1L
      }
      awaitTrue("the later txns' frames queue behind the backlog cap")(gauge("queuedFrames") > 0L)
      assert(gauge("queuedBytes") > 0L)

      awaitTrue("all 6 txns drained") {
        s.commit(end)
        start = end
        end = s.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        end.seq == 6L
      }
      s.commit(end)
      assert(gauge("queuedFrames") == 0L && gauge("queuedBytes") == 0L,
        "a drained feed holds nothing queued")
      s.stop()
    } finally server.close()
  }

  test("listener observes progress and the pgcdc gauge map through a real query") {
    val wal = Files.createTempFile("wal-listener", ".bin").toString
    WalFile.write(wal, WalGen.frames(5, 3))
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    try {
      val q = spark.readStream.format("pgcdc")
        .option("path", wal)
        .load()
        .writeStream.format("memory").queryName("metrics_sink").outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (listener.totalInputRows < 15L && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(listener.totalInputRows == 15L,
        s"listener must see all 15 rows, saw ${listener.totalInputRows}")
      assert(listener.batchCount >= 1L)
      val gauges = listener.sourceMetrics
      assert(gauges.contains("txnsDelivered") && gauges.contains("backlogTxns"),
        s"pgcdc gauges must surface in progress, got $gauges")

      // an unrelated stream on the same session must NOT shadow the CDC
      // gauges with its own (gauge-less) source metrics
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Long]
      val other = mem.toDF().writeStream.format("memory")
        .queryName("metrics_other").outputMode("append").start()
      mem.addData(1L, 2L)
      other.processAllAvailable()
      other.stop()
      val deadline2 = System.currentTimeMillis() + 10000
      while (listener.totalInputRows < 17L && System.currentTimeMillis() < deadline2)
        Thread.sleep(20)
      assert(listener.sourceMetrics.contains("backlogTxns"),
        "pgcdc gauges retained across another query's progress")
    } finally spark.streams.removeListener(listener)
  }

  test("the /metrics endpoint serves Prometheus text during a streaming query") {
    val wal = Files.createTempFile("wal-prom", ".bin").toString
    WalFile.write(wal, WalGen.frames(5, 3))
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    val tasks = new GraftTaskMetricsListener
    spark.sparkContext.addSparkListener(tasks)
    val server = new GraftMetricsServer(listener, port = 0, taskCounters = Some(tasks))
    def scrape(path: String): String = {
      val url = java.net.URI.create(
        s"http://localhost:${server.boundPort}$path").toURL
      val in = url.openStream()
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    try {
      assert(scrape("/status") == "OK")
      val q = spark.readStream.format("pgcdc")
        .option("path", wal)
        .load()
        .writeStream.format("memory").queryName("prom_sink").outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.totalInputRows < 15L && System.currentTimeMillis() < deadline)
        Thread.sleep(20)

      val body = scrape("/metrics")
      assert(body.contains("# TYPE graft_pgcdc_input_rows_total counter"))
      assert(body.contains("graft_pgcdc_input_rows_total 15"))
      assert(body.contains("# TYPE graft_pgcdc_txns_delivered gauge"))
      def gauge(name: String): Long = {
        val line = body.linesIterator.find(_.startsWith(s"graft_pgcdc_$name "))
        assert(line.isDefined, s"gauge $name missing in:\n$body")
        line.get.split(" ")(1).toDouble.toLong
      }
      // The listener holds whichever progress snapshot arrived last (pre- or
      // post-commit), so assert the conservation invariant rather than one
      // snapshot: every produced txn is either still backlogged or delivered.
      assert(gauge("backlog_txns") + gauge("txns_delivered") == 5L)
      // LSN gauges are numeric WAL positions, not "X/X" strings
      assert(gauge("confirmed_lsn") >= 0L)
      // process latency (reference metric.go:48-49): last trigger wall time
      assert(gauge("process_latency_ms") >= 0L)
      // executor task counters aggregate into the dashboard's *_total
      // series (task-end events arrive on the async listener bus — poll)
      def counter(name: String): Long =
        scrape("/metrics").linesIterator
          .find(_.startsWith(s"graft_pgcdc_$name "))
          .map(_.split(" ")(1).toLong).getOrElse(-1L)
      val deadlineC = System.currentTimeMillis() + 10000
      while (counter("insert_total") < 15L && System.currentTimeMillis() < deadlineC)
        Thread.sleep(20)
      assert(counter("insert_total") == 15L)
      assert(counter("events_decoded_total") == 15L)
      assert(counter("update_total") == 0L && counter("delete_total") == 0L)
    } finally {
      server.close()
      spark.streams.removeListener(listener)
    }
  }

  test("GET /slot serves slot info as JSON, 503 without a provider") {
    import graft.services.SlotManager
    val info = SlotManager.SlotInfo("graft_slot", "logical", active = true,
      activePid = Some(4242L), restartLsn = 0x1000L, confirmedFlushLsn = 0x1800L,
      walStatus = "reserved", currentLsn = 0x2000L)
    val listener = new GraftMetricsListener
    def get(port: Int, path: String): (Int, String) = {
      val conn = java.net.URI.create(s"http://localhost:$port$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(stream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      (code, body)
    }
    val withProvider = new GraftMetricsServer(listener, 0, Some(() => Some(info)))
    try {
      val (code, body) = get(withProvider.boundPort, "/slot")
      assert(code == 200)
      assert(body.contains("\"name\":\"graft_slot\"") && body.contains("\"active\":true"))
      assert(body.contains("\"confirmedFlushLsn\":\"0/1800\""))
      assert(body.contains("\"retainedWalSize\":4096") && body.contains("\"lag\":2048"))
      // the same slot facts serve as numeric gauges on /metrics
      // (reference metric.go:50-54)
      val (mc, metrics) = get(withProvider.boundPort, "/metrics")
      assert(mc == 200)
      assert(metrics.contains("graft_slot_activity 1"))
      assert(metrics.contains(s"graft_slot_confirmed_flush_lsn ${0x1800L}"))
      assert(metrics.contains(s"graft_slot_current_lsn ${0x2000L}"))
      assert(metrics.contains("graft_slot_retained_wal_size 4096"))
      assert(metrics.contains("graft_slot_lag 2048"))
    } finally withProvider.close()

    val without = new GraftMetricsServer(listener, 0)
    try assert(get(without.boundPort, "/slot")._1 == 503)
    finally without.close()
  }

  test("executor task metrics count decoded events and suppressed heartbeats") {
    import graft.pgproto.{Messages, MessageEncoder}
    val relOid = 16600L
    val hbOid = 16601L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val T0 = 1700000000000000L
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "t", cols)),
      MessageEncoder.xlogData(2, 2, T0, MessageEncoder.relation(hbOid, "graft", "heartbeat", cols)),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(106, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0, MessageEncoder.insert(relOid, Seq(Some("1")))),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.insert(hbOid, Seq(Some("9")))),
      MessageEncoder.xlogData(103, 103, T0, MessageEncoder.insert(relOid, Seq(Some("2")))),
      MessageEncoder.xlogData(104, 104, T0,
        MessageEncoder.update(relOid, Seq(Some("3")), Seq(Some("2")))),
      MessageEncoder.xlogData(105, 105, T0,
        MessageEncoder.delete(relOid, Seq(Some("3")))),
      MessageEncoder.xlogData(106, 106, T0, MessageEncoder.commit(106, 107, T0)))
    val part = PgCdcInputPartition(
      Array(frames.head, frames(1)), Array(frames.drop(2).toArray),
      heartbeat = Some(("graft", "heartbeat")))
    val r = PgCdcReaderFactory.createReader(part)
    var n = 0
    while (r.next()) n += 1
    assert(n == 4, "heartbeat row suppressed from output")
    val m = r.currentMetricsValues().map(tm => tm.name() -> tm.value()).toMap
    assert(m("eventsDecoded") == 4L)
    assert(m("heartbeatsSuppressed") == 1L)
    assert(m("streamEventsSpilled") == 0L)
    // per-op counters — the reference's totalInsert/totalUpdate/totalDelete
    // (`internal/metric/metric.go:42-44`); the suppressed heartbeat insert
    // must NOT count
    assert(m("insertsDecoded") == 2L)
    assert(m("updatesDecoded") == 1L)
    assert(m("deletesDecoded") == 1L)
    r.close()
  }

  test("snapshot progress gauges serve under graft_snapshot_* on /metrics") {
    import graft.snapshot.SnapshotProgress
    val sc = spark.sparkContext
    val progress = new SnapshotProgress(sc)
    val listener = new GraftMetricsListener
    val server = new GraftMetricsServer(listener, port = 0, snapshot = Some(progress))
    def scrape(): String = {
      val url = java.net.URI.create(
        s"http://localhost:${server.boundPort}/metrics").toURL
      val in = url.openStream()
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    try {
      val idle = scrape()
      assert(idle.contains("graft_snapshot_in_progress 0"))

      progress.begin(tables = 2)
      progress.addPlannedChunks(8)
      // executor-side ticks: a real job updates the accumulators from tasks,
      // exactly how viaWire's partitions report
      val chunkAcc = progress.completedChunks
      val rowAcc = progress.rowsRead
      sc.parallelize(1 to 8, 4).foreach { _ =>
        chunkAcc.add(1L); rowAcc.add(100L)
      }
      progress.tableDone()

      val mid = scrape()
      assert(mid.contains("graft_snapshot_in_progress 1"))
      assert(mid.contains("graft_snapshot_total_tables 2"))
      assert(mid.contains("graft_snapshot_completed_tables 1"))
      assert(mid.contains("graft_snapshot_total_chunks 8"))
      assert(mid.contains("graft_snapshot_completed_chunks 8"))
      assert(mid.contains("graft_snapshot_rows_total 800"))
      assert(mid.contains("# TYPE graft_snapshot_rows_total counter"))

      progress.tableDone()
      progress.end()
      val done = scrape()
      assert(done.contains("graft_snapshot_in_progress 0"))
      assert(done.contains("graft_snapshot_completed_tables 2"))
      assert(done.contains("graft_snapshot_active_workers 0"))
      // duration froze at end(): two scrapes render the same value
      val d1 = done.linesIterator.find(_.startsWith("graft_snapshot_duration_seconds")).get
      Thread.sleep(30)
      val d2 = scrape().linesIterator.find(_.startsWith("graft_snapshot_duration_seconds")).get
      assert(d1 == d2, "duration must freeze once the snapshot ends")
    } finally server.close()
  }

  test("lake sink gauges serve under graft_lake_* on /metrics") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("lake-metrics").toString
    val lake = new graft.sinks.LakeSink(dir)
    val server = new GraftMetricsServer(new GraftMetricsListener, port = 0,
      lakeGauges = Some(() => lake.gauges(spark)))
    def scrape(): String = {
      val url = java.net.URI.create(
        s"http://localhost:${server.boundPort}/metrics").toURL
      val in = url.openStream()
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    try {
      val idle = scrape()
      assert(idle.contains("graft_lake_committed_batches 0"))
      assert(idle.contains("graft_lake_watermark -1"))
      val rows = Seq(Row(1L, 1L, 7L, "insert", "public", "t",
        new java.sql.Timestamp(0L), new java.sql.Timestamp(0L),
        Seq("id"), null, Map("id" -> "1")))
      lake.appendBatch(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        graft.cdc.ChangeEvent.schema), 0L)
      lake.compact(spark)
      val after = scrape()
      assert(after.contains("graft_lake_committed_batches 1"))
      assert(after.contains("graft_lake_last_batch_id 0"))
      assert(after.contains("graft_lake_watermark 0"))
      // current-state counts shrink on vacuum, so they must render as
      // gauges — a _total-suffixed shrinking counter corrupts rate()
      assert(after.contains("# TYPE graft_lake_committed_batches gauge"))
      // vacuum-safety signal: a consumer that has not covered the folded
      // interval counts as at-risk until its cursor catches up
      assert(after.contains("graft_lake_consumers 0"))
      var n = 0L
      lake.poll(spark, "lagging")(df => n = df.count()) // catches up fully
      val caught = scrape()
      assert(caught.contains("graft_lake_consumers 1"))
      assert(caught.contains("graft_lake_consumers_at_risk_on_vacuum 0"))
      lake.appendBatch(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        graft.cdc.ChangeEvent.schema), 1L)
      lake.compact(spark) // watermark moves past the lagging cursor
      assert(scrape().contains("graft_lake_consumers_at_risk_on_vacuum 1"),
        "a cursor behind the folded interval flags before vacuum strands it")
    } finally {
      server.close()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
