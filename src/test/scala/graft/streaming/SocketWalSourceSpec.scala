package graft.streaming

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkTestBase
import graft.pgproto.WalFrames
import graft.tools.WalGen

/** S1 closed: the walsender socket client against an in-process fake server
  * speaking real protocol bytes over a real socket pair — the reference's
  * own harness pattern (`pq/replication/stream_connmu_test.go:77`).
  */
class SocketWalSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def pollAll(src: WalSource, expect: Int, timeoutMs: Long = 10000): Seq[Array[Byte]] = {
    val out = mutable.ArrayBuffer.empty[Array[Byte]]
    val deadline = System.currentTimeMillis + timeoutMs
    while (out.size < expect && System.currentTimeMillis < deadline)
      src.poll() match {
        case Some(f) => out += f
        case None => Thread.sleep(5)
      }
    out.toSeq
  }

  private def awaitTrue(what: String, timeoutMs: Long = 10000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(10)
    assert(cond, s"timed out waiting for $what")
  }

  private def rowIds(stream: PgCdcMicroBatchStream, start: CdcOffset, end: CdcOffset): Seq[Long] =
    stream.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = PgCdcReaderFactory.createReader(p)
      val out = Seq.newBuilder[Long]
      while (r.next()) {
        val row = r.get()
        val m = row.getMap(10)
        val keys = m.keyArray()
        val idx = (0 until m.numElements())
          .find(i => keys.getUTF8String(i).toString == "id").get
        out += m.valueArray().getUTF8String(idx).toString.toLong
      }
      out.result()
    }

  test("startup handshake, IDENTIFY_SYSTEM, and frame flow over a real socket") {
    val frames = WalGen.frames(2, 2).toSeq
    val server = new FakeWalsender(frames)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db", "slot1", "pub1")
      src.open(0L)
      assert(src.identity.systemId == "7000000000000000001")
      assert(src.identity.timeline == 1)
      assert(server.startupParams("replication") == "database")
      assert(server.startupParams("user") == "u")
      awaitTrue("START_REPLICATION issued") {
        server.queries.synchronized {
          server.queries.exists(q =>
            q.startsWith("START_REPLICATION SLOT slot1 LOGICAL 0/0") &&
              q.contains("proto_version '2'") && q.contains("streaming 'true'") &&
              q.contains("publication_names 'pub1'"))
        }
      }
      val got = pollAll(src, frames.size)
      assert(got.size == frames.size, "every served frame arrives through the socket")
      assert(got.map(_.toSeq) == frames.map(_.toSeq), "payloads are byte-identical")
      src.close()
    } finally server.close()
  }

  test("a silently-dead walsender trips the liveness deadline") {
    // The fake stays connected but silent after serving its frames — the
    // no-FIN death shape. Without a read deadline the reader would block
    // forever and `healthy` would stay true, stalling the stream with no
    // reconnect; with one, silence past the deadline surfaces as a
    // reconnectable failure.
    val frames = WalGen.frames(1, 1).toSeq
    val server = new FakeWalsender(frames)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db",
        "slot_live", "pub1", readTimeoutMs = 300)
      src.open(0L)
      assert(pollAll(src, frames.size).size == frames.size)
      awaitTrue("liveness deadline fires on silence")(!src.healthy)
      val ex = intercept[IllegalStateException](src.poll())
      assert(ex.getCause.getMessage.contains("presumed dead"),
        s"got: ${ex.getCause}")
      src.close()
    } finally server.close()
  }

  test("55006 slot-in-use race: rejected twice, third START_REPLICATION streams") {
    val frames = WalGen.frames(2, 2).toSeq
    val server = new FakeWalsender(frames, slotInUseRejections = 2)
    try {
      val sleeps = mutable.ArrayBuffer.empty[Long]
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db", "slot1", "pub1",
        captureBackoffMs = 250L, captureSleep = sleeps += _)
      src.open(0L) // must not throw: the capture loop absorbs both rejections
      assert(sleeps.toSeq == Seq(250L, 250L), "one backoff per lose-the-race attempt")
      assert(server.queries.synchronized {
        server.queries.count(_.startsWith("START_REPLICATION")) } == 3)
      val got = pollAll(src, frames.size)
      assert(got.map(_.toSeq) == frames.map(_.toSeq),
        "the winning attempt streams every frame")
      src.close()
    } finally server.close()
  }

  test("55006 beyond the retry budget fails loudly") {
    val server = new FakeWalsender(WalGen.frames(1, 1).toSeq, slotInUseRejections = 99)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db", "slot1", "pub1",
        captureRetries = 2, captureBackoffMs = 1L, captureSleep = _ => ())
      val ex = intercept[graft.pgproto.PgConnection.ServerErrorException](src.open(0L))
      assert(ex.sqlState == "55006")
      assert(server.queries.synchronized {
        server.queries.count(_.startsWith("START_REPLICATION")) } == 3,
        "initial attempt + 2 retries, then the genuine holder wins")
      // The terminal failure must not leak its freshly-dialed socket: every
      // server-side serve thread drains once the client closes its end.
      awaitTrue("failed open() closed its connection") {
        server.liveConnections.get() == 0
      }
    } finally server.close()
  }

  test("pgcdc end-to-end over the socket: decode, commit acks, resume") {
    val frames = WalGen.frames(4, 3).toSeq // txns end at LSN 105, 110, 115, 120
    val server = new FakeWalsender(frames)
    try {
      def opts = new CaseInsensitiveStringMap(java.util.Map.of(
        "host", "127.0.0.1", "port", server.port.toString,
        "slot", "s1", "publication", "p1"))

      val s1 = new PgCdcMicroBatchStream(opts)
      val o0 = s1.initialOffset().asInstanceOf[CdcOffset]
      var end = o0
      awaitTrue("all 4 txns pumped") {
        end = s1.latestOffset(end, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        end.seq == 4L
      }
      assert(rowIds(s1, o0, end) == (1L to 12L))
      s1.commit(end)
      // T3 over the wire: the ack became a standby status update ('r').
      awaitTrue("standby status update received") {
        server.statusUpdates.synchronized {
          server.statusUpdates.exists(u =>
            u.nonEmpty && u(0) == WalFrames.TagStandbyStatusUpdate)
        }
      }
      s1.stop()

      // Restart from the checkpointed offset: a fresh stream instance must
      // START_REPLICATION at the confirmed LSN and deliver nothing new.
      val restored = CdcOffset.fromJson(end.json())
      val s2 = new PgCdcMicroBatchStream(opts)
      val end2 = s2.latestOffset(restored, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
      assert(end2.seq == restored.seq, "no replay past the confirmed LSN")
      awaitTrue("resumed START_REPLICATION at confirmed LSN") {
        server.queries.synchronized {
          server.queries.exists(_.startsWith("START_REPLICATION SLOT s1 LOGICAL 0/78"))
        }
      }
      s2.stop()
    } finally server.close()
  }

  test("a dropped connection reconnects with backoff and resumes exactly-once") {
    // 6 txns x 2 rows; the server cuts the FIRST stream after 7 frames —
    // txn 1 complete (relation + 4 frames), txn 2 torn mid-transaction.
    val frames = WalGen.frames(6, 2).toSeq
    val server = new FakeWalsender(frames, dropAfterFrames = 7)
    try {
      val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(java.util.Map.of(
        "host", "127.0.0.1", "port", server.port.toString,
        "slot", "s1", "publication", "p1",
        "reconnectBackoffMs", "10")))
      val o0 = s.initialOffset().asInstanceOf[CdcOffset]
      var end = o0
      awaitTrue("all 6 txns pumped across the reconnect") {
        end = s.latestOffset(end, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        end.seq == 6L
      }
      assert(rowIds(s, o0, end) == (1L to 12L), "no duplicate, no loss across the drop")
      s.commit(end)
      s.stop()
      // The reconnect resumed from the last COMPLETED txn's end LSN (104 =
      // 0/68) — the torn txn 2 replays whole, its partial frames discarded.
      val starts = server.queries.synchronized {
        server.queries.filter(_.startsWith("START_REPLICATION")).toSeq
      }
      assert(starts.size == 2, s"expected one reconnect, got $starts")
      assert(starts(1).contains("LOGICAL 0/68"), s"resume point wrong: ${starts(1)}")
    } finally server.close()
  }

  test("service SQL over the wire: CatalogReader through PgConnection.executor") {
    import graft.pgproto.PgConnection
    import graft.snapshot.CatalogReader
    import graft.services.RetryingExecutor
    val server = new FakeWalsender(Nil, sqlResults = sql => {
      val q = sql.replaceAll("\\s+", " ")
      if (q.contains("indisprimary"))
        Some((Seq("attname", "format_type"), Seq(Seq(Some("id"), Some("bigint")))))
      else if (q.contains("MIN(")) Some((Seq("mn", "mx"), Seq(Seq(Some("1"), Some("100")))))
      else if (q.contains("COUNT(*)")) Some((Seq("count"), Seq(Seq(Some("100")))))
      else if (q.contains("pg_relation_size")) Some((Seq("pages"), Seq(Seq(Some("8")))))
      else if (q.contains("reltuples")) Some((Seq("reltuples"), Seq(Seq(Some("100")))))
      else None
    })
    val conn = new PgConnection("127.0.0.1", server.port, "svc", "db")
    try {
      val exec = RetryingExecutor.wrap(conn.executor, sleep = _ => ())
      val stats = new CatalogReader(exec).tableStats("public", "orders")
      assert(stats.rowCount == 100L)
      assert(stats.intPkColumn.contains("id") && stats.pkMin == 1L && stats.pkMax == 100L)
      // a server error carries its SQLSTATE so the retry taxonomy can classify
      val ex = intercept[java.sql.SQLException] { conn.simpleQuery("SELECT nope") }
      assert(ex.getSQLState == "42601")
      // the connection survives the error (ReadyForQuery resynced)
      assert(conn.simpleQuery("SELECT COUNT(*) FROM x") == Seq(Seq("100")))
    } finally { conn.close(); server.close() }
  }

  test("GraftConfig.sourceOptions alone binds the full readStream socket path") {
    val frames = WalGen.frames(2, 3).toSeq
    val server = new FakeWalsender(frames)
    try {
      val cfg = graft.GraftConfig(
        host = "127.0.0.1", port = server.port,
        username = "u", database = "db",
        publication = graft.services.Publication.Config(
          "p1", Seq(graft.services.Publication.PubTable("public", "users"))),
        slotName = "s1")
      val q = spark.readStream.format("pgcdc")
        .options(cfg.sourceOptions())
        .load()
        .writeStream.format("memory").queryName("cfg_socket_sink").outputMode("append").start()
      val deadline = System.currentTimeMillis + 15000
      while (spark.table("cfg_socket_sink").count() < 6 && System.currentTimeMillis < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
      q.stop()
      assert(spark.table("cfg_socket_sink").count() == 6,
        "the migration-table one-liner must deliver every event")
      assert(server.startupParams("user") == "u")
    } finally server.close()
  }

  test("stress: spill + backpressure + reconnect together stay exactly-once") {
    import graft.pgproto.{MessageEncoder, Messages}
    val relOid = 16700L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val T0 = 1700000000000000L
    def x(lsn: Long, msg: Array[Byte]) = MessageEncoder.xlogData(lsn, lsn, T0, msg)
    val fs = Seq.newBuilder[Array[Byte]]
    fs += x(1, MessageEncoder.relation(relOid, "public", "st", cols))
    // streamed txn xid 800, segment 1: 15 events (ids 1000..1014)
    fs += x(10, MessageEncoder.streamStart(800, firstSegment = true))
    (0 until 15).foreach(i =>
      fs += x(11 + i, MessageEncoder.insert(relOid, Seq(Some((1000 + i).toString)), streamedXid = 800)))
    fs += x(26, MessageEncoder.streamStop())
    // plain txn A (ids 1..3) — the first connection is cut inside this txn
    fs += x(100, MessageEncoder.begin(105, T0, 10))
    (1 to 3).foreach(i => fs += x(100 + i, MessageEncoder.insert(relOid, Seq(Some(i.toString)))))
    fs += x(104, MessageEncoder.commit(104, 105, T0))
    // streamed txn xid 800, segment 2: 15 more events (ids 1015..1029)
    fs += x(110, MessageEncoder.streamStart(800, firstSegment = false))
    (0 until 15).foreach(i =>
      fs += x(111 + i, MessageEncoder.insert(relOid, Seq(Some((1015 + i).toString)), streamedXid = 800)))
    fs += x(126, MessageEncoder.streamStop())
    // plain txn B (ids 4..6)
    fs += x(130, MessageEncoder.begin(135, T0, 11))
    (4 to 6).foreach(i => fs += x(126 + i, MessageEncoder.insert(relOid, Seq(Some(i.toString)))))
    fs += x(134, MessageEncoder.commit(134, 135, T0))
    // aborted streamed txn xid 900 — must never surface
    fs += x(140, MessageEncoder.streamStart(900, firstSegment = true))
    (0 until 5).foreach(i =>
      fs += x(141 + i, MessageEncoder.insert(relOid, Seq(Some((2000 + i).toString)), streamedXid = 900)))
    fs += x(146, MessageEncoder.streamStop())
    fs += x(147, MessageEncoder.streamAbort(900, 900))
    // xid 800 commits — 30 events deliver, spilled on the executor
    fs += x(150, MessageEncoder.streamCommit(800, 150, 151, T0))
    // plain txn C (ids 7..9)
    fs += x(160, MessageEncoder.begin(165, T0, 12))
    (7 to 9).foreach(i => fs += x(154 + i, MessageEncoder.insert(relOid, Seq(Some(i.toString)))))
    fs += x(164, MessageEncoder.commit(164, 165, T0))
    val frames = fs.result()

    // Cut the first stream mid-plain-txn-A; tiny backpressure cap; tiny
    // executor spill threshold.
    val server = new FakeWalsender(frames, dropAfterFrames = 20)
    try {
      val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(java.util.Map.of(
        "host", "127.0.0.1", "port", server.port.toString,
        "slot", "s1", "publication", "p1",
        "maxBufferedTxns", "2",
        "spillThresholdEvents", "4",
        "reconnectBackoffMs", "10")))
      var start = s.initialOffset().asInstanceOf[CdcOffset]
      val delivered = Seq.newBuilder[Long]
      // 4 committed txns total (A, B, streamed 800, C)
      val deadline = System.currentTimeMillis + 20000
      var done = false
      while (!done && System.currentTimeMillis < deadline) {
        val end = s.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        if (end.seq > start.seq) {
          assert(s.backlogTxns <= 2, "backpressure cap must hold under stress")
          delivered ++= rowIds(s, start, end)
          s.commit(end)
          start = end
        } else if (start.seq == 4L) done = true
        else Thread.sleep(20)
      }
      val ids = delivered.result().sorted
      val expected = ((1L to 9L) ++ (1000L to 1029L)).sorted
      assert(ids == expected,
        s"exactly-once across drop+spill+backpressure; missing=${expected.diff(ids)} extra=${ids.diff(expected)}")
      s.stop()
    } finally server.close()
  }

  private def readerThread(slot: String): Thread = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .find(t => t.getName == s"pgcdc-walsender-reader-$slot" && t.isAlive)
      .getOrElse(fail(s"no live reader thread for slot $slot"))
  }

  test("reader queue budget: parks at budget + one frame, resumes after poll()") {
    val frames = WalGen.frames(400, 3).toSeq // ~2 000 frames, ~110 KB
    val budget = 4096L
    val maxFrame = frames.map(_.length).max
    val server = new FakeWalsender(frames)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db",
        "slot_budget", "pub1", maxQueuedBytes = budget)
      src.open(0L)
      awaitTrue("reader fills the queue to its budget")(src.queuedBytes >= budget)
      awaitTrue("reader parks on the budget") {
        readerThread("slot_budget").getState == Thread.State.WAITING
      }
      val parked = src.queuedBytes
      assert(parked <= budget + maxFrame,
        s"at most budget + one frame queued with nobody polling, got $parked")
      Thread.sleep(100)
      assert(src.queuedBytes == parked, "a parked reader queues nothing more")

      val got = mutable.ArrayBuffer.empty[Array[Byte]]
      while (src.queuedBytes >= budget) got += src.poll().get
      awaitTrue("reader resumes once poll() releases bytes")(src.queuedBytes >= budget)
      got ++= pollAll(src, frames.size - got.size)
      assert(got.map(_.toSeq) == frames.map(_.toSeq), "every frame, in order, across the parks")
      assert(src.queuedBytes == 0L && src.queuedFrames == 0)
      src.close()
    } finally server.close()
  }

  test("reader queue budget: a frame larger than the budget still flows") {
    val frames = WalGen.frames(3, 2).toSeq
    val budget = 16L
    assert(frames.forall(_.length > budget))
    val server = new FakeWalsender(frames)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db",
        "slot_big", "pub1", maxQueuedBytes = budget)
      src.open(0L)
      awaitTrue("an oversized frame is admitted into the empty queue")(src.queuedFrames == 1)
      Thread.sleep(100)
      assert(src.queuedFrames == 1, "and only one: the budget is already exceeded")
      val got = pollAll(src, frames.size)
      assert(got.map(_.toSeq) == frames.map(_.toSeq), "every oversized frame flows one at a time")
      src.close()
    } finally server.close()
  }

  test("close() unparks a reader blocked on the queue budget and its thread ends") {
    val server = new FakeWalsender(WalGen.frames(200, 3).toSeq)
    try {
      val src = new SocketWalSource("127.0.0.1", server.port, "u", "db",
        "slot_close", "pub1", maxQueuedBytes = 1024L)
      src.open(0L)
      awaitTrue("reader fills the queue to its budget")(src.queuedBytes >= 1024L)
      val reader = readerThread("slot_close")
      awaitTrue("reader parks on the budget")(reader.getState == Thread.State.WAITING)
      src.close()
      awaitTrue("the parked reader thread ends", 5000)(!reader.isAlive)
    } finally server.close()
  }

  test("the reader runs ahead of an idle consumer: a backlog past 1 024 frames and the socket buffers arrives whole") {
    // ~67 MB: 1 024 txns of 16 inserts carrying 4 KiB of text each — far
    // more than 1 024 frames plus the loopback socket buffers (≤ 36 MB here
    // with kernel autotuning). The consumer opens the feed once and then
    // polls nothing while the walsender writes.
    import graft.pgproto.{MessageEncoder, Messages}
    val relOid = 16800L
    val T0 = 1700000000000000L
    val body = "x" * 4096
    def x(lsn: Long, msg: Array[Byte]) = MessageEncoder.xlogData(lsn, lsn, T0, msg)
    val nTxns = 1024
    val rows = 16
    val fs = mutable.ArrayBuffer(x(1, MessageEncoder.relation(relOid, "public", "big", Seq(
      Messages.RelationColumn("id", 23L, -1, 1), Messages.RelationColumn("body", 25L, -1, 0)))))
    var lsn = 100L
    (0 until nTxns).foreach { t =>
      val end = lsn + rows + 2
      fs += x(lsn, MessageEncoder.begin(end, T0, 5000L + t))
      (0 until rows).foreach(r =>
        fs += x(lsn + 1 + r, MessageEncoder.insert(relOid, Seq(Some((t * rows + r).toString), Some(body)))))
      fs += x(end - 1, MessageEncoder.commit(end - 1, end, T0))
      lsn = end
    }
    val frames = fs.toSeq
    val gate = new java.util.concurrent.CountDownLatch(1)
    val server = new FakeWalsender(frames, streamGate = Some(gate))
    try {
      val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(java.util.Map.of(
        "host", "127.0.0.1", "port", server.port.toString,
        "slot", "s_ahead", "publication", "p1")))
      val o0 = s.initialOffset().asInstanceOf[CdcOffset]
      assert(s.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset].seq == 0L,
        "the feed is open; the backlog is held until the gate opens")
      gate.countDown()
      awaitTrue("the walsender wrote every frame to the idle consumer", 30000) {
        server.framesServed.get == frames.size
      }
      def queued = s.metrics(java.util.Optional.empty()).get("queuedFrames").toInt
      awaitTrue("every frame reached the reader's queue")(queued == frames.size)
      val end = s.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
      assert(end.seq == nTxns.toLong, "one trigger sees the whole backlog")
      assert(queued == 0)
      s.stop()
    } finally server.close()
  }

  test("cleartext password auth: right password connects, wrong one fails loudly") {
    val server = new FakeWalsender(WalGen.frames(1, 1).toSeq, requirePassword = Some("sekret"))
    try {
      val ok = new SocketWalSource("127.0.0.1", server.port, "u", "db", "s", "p",
        password = Some("sekret"))
      ok.open(0L)
      assert(ok.identity != null)
      ok.close()

      val bad = new SocketWalSource("127.0.0.1", server.port, "u", "db", "s", "p",
        password = Some("wrong"))
      val ex = intercept[IllegalStateException] { bad.open(0L) }
      assert(ex.getMessage.toLowerCase.contains("password"))

      val none = new SocketWalSource("127.0.0.1", server.port, "u", "db", "s", "p")
      val ex2 = intercept[IllegalStateException] { none.open(0L) }
      assert(ex2.getMessage.contains("none configured"))
    } finally server.close()
  }
}
