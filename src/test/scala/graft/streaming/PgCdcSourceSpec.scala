package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.pgproto.{Messages, MessageEncoder}
import graft.types.PgTypes
import graft.tools.{WalFile, WalGen}

/** End-to-end Structured Streaming tests over the pgcdc source — the Spark
  * analogue of the reference's `integration_test/basic_functionality_test.go`
  * and `streaming_rollback_test.go`, driven by synthetic frames.
  */
class PgCdcSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val T0 = 1700000000000000L

  private def runStream(
      key: String, frames: Seq[Array[Byte]], queryName: String,
      extraOptions: Map[String, String] = Map.empty) = {
    PgCdcTestHook.register(key, new InMemoryWalSource(frames))
    val q = spark.readStream.format("pgcdc")
      .option("testSourceKey", key)
      .options(extraOptions)
      .load()
      .writeStream.format("memory").queryName(queryName).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  test("insert/update/delete round-trip through readStream with txn LSN semantics") {
    val relOid = 16384L
    val cols = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("name", 25L, -1, 0))
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "books", cols)),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(106, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0, MessageEncoder.insert(relOid, Seq(Some("1"), Some("a")))),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.update(relOid, Seq(Some("1"), Some("a2")))),
      MessageEncoder.xlogData(103, 103, T0, MessageEncoder.delete(relOid, Seq(Some("1"), None), 'K')),
      MessageEncoder.xlogData(105, 105, T0, MessageEncoder.commit(105, 106, T0)))

    val out = runStream("basic", frames, "cdc_basic")
    val rows = out.orderBy("lsn").collect()
    assert(rows.map(_.getAs[String]("op")).toSeq == Seq("insert", "update", "delete"))
    assert(rows.map(_.getAs[Long]("lsn")).toSeq == Seq(101L, 102L, 106L))
    assert(rows.forall(_.getAs[String]("table") == "books"))
    assert(rows(0).getAs[Map[String, String]]("after")("name") == "a")
    assert(rows(2).getAs[Map[String, String]]("before")("id") == "1")
    assert(rows(2).isNullAt(rows(2).fieldIndex("after")))
    // message_time surfaces as a usable timestamp
    assert(out.select(min(col("message_time")).cast("long")).head.getLong(0) == T0 / 1000000L)
  }

  test("Trigger.AvailableNow drains the whole feed under a maxTxnsPerTrigger cap") {
    val relOid = 16390L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    def txn(i: Int): Seq[Array[Byte]] = {
      val base = 100L + i * 10
      Seq(
        MessageEncoder.xlogData(base, base, T0, MessageEncoder.begin(base + 5, T0, 7 + i)),
        MessageEncoder.xlogData(base + 1, base + 1, T0,
          MessageEncoder.insert(relOid, Seq(Some(i.toString)))),
        MessageEncoder.xlogData(base + 4, base + 4, T0,
          MessageEncoder.commit(base + 4, base + 5, T0)))
    }
    val frames =
      MessageEncoder.xlogData(1, 1, T0,
        MessageEncoder.relation(relOid, "public", "an", cols)) +: (0 until 6).flatMap(txn)
    PgCdcTestHook.register("availnow", new InMemoryWalSource(frames))
    // Without SupportsTriggerAvailableNow the engine falls back to SINGLE
    // batch execution: one capped batch of 2 txns and the query ends with
    // 4 transactions never delivered.
    val q = spark.readStream.format("pgcdc")
      .option("testSourceKey", "availnow")
      .option("maxTxnsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("cdc_availnow")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("cdc_availnow")
      .select(element_at(col("after"), "id")).collect().map(_.getString(0)).sorted
    assert(ids.toSeq == (0 until 6).map(_.toString).sorted,
      "every buffered transaction drains before the query self-terminates")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "the cap spreads the drain over multiple triggers")
  }

  test("logical messages, origin, and type frames flow through readStream") {
    val relOid = 16390L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "outboxed", cols)),
      // 'Y' type metadata and an 'O' origin inside a local txn (no filter
      // configured): both are absorbed, DML + messages flow.
      MessageEncoder.xlogData(2, 2, T0, MessageEncoder.typeMessage(88888L, "public", "mood")),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(106, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0,
        MessageEncoder.logicalMessage("outbox", """{"id":1}""".getBytes("UTF-8"),
          transactional = true, lsn = 101)),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.insert(relOid, Seq(Some("1")))),
      MessageEncoder.xlogData(103, 103, T0,
        MessageEncoder.logicalMessage("audit", "ping".getBytes("UTF-8"),
          transactional = false, lsn = 103)),
      MessageEncoder.xlogData(105, 105, T0, MessageEncoder.commit(105, 106, T0)))

    val out = runStream("logmsg", frames, "cdc_logmsg")
    val rows = out.orderBy("lsn").collect()
    // Delivery order: the non-transactional audit message jumps the queue
    // (lsn 103 but emitted immediately); transactional outbox + insert ship
    // with the commit.
    assert(rows.map(_.getAs[String]("op")).toSeq == Seq("message", "message", "insert"))
    val byPrefix = rows.filter(_.getAs[String]("op") == "message")
      .map(r => r.getAs[Map[String, String]]("after")("prefix") -> r).toMap
    assert(byPrefix("outbox").getAs[Map[String, String]]("after")("content_text") == """{"id":1}""")
    assert(byPrefix("audit").getAs[Long]("xid") == 0L)
    assert(rows.last.getAs[Long]("lsn") == 106L) // insert was last in txn: T1 rewrite
  }

  test("dropForeignOrigin option suppresses originated transactions end-to-end") {
    val relOid = 16391L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    def txn(id: String, origin: Option[String], base: Long): Seq[Array[Byte]] = {
      val o = origin.toSeq.map(n =>
        MessageEncoder.xlogData(base, base, T0, MessageEncoder.origin(base, n)))
      Seq(MessageEncoder.xlogData(base, base, T0, MessageEncoder.begin(base + 10, T0, 7))) ++ o ++ Seq(
        MessageEncoder.xlogData(base + 1, base + 1, T0,
          MessageEncoder.insert(relOid, Seq(Some(id)))),
        MessageEncoder.xlogData(base + 9, base + 9, T0,
          MessageEncoder.commit(base + 9, base + 10, T0)))
    }
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "bidi", cols))) ++
      txn("1", None, 100) ++ txn("2", Some("peer_dc"), 200) ++ txn("3", None, 300)

    val out = runStream("origin_drop", frames, "cdc_origin_drop",
      Map("dropForeignOrigin" -> "true"))
    val ids = out.orderBy("lsn").collect()
      .map(_.getAs[Map[String, String]]("after")("id")).toSeq
    assert(ids == Seq("1", "3")) // the peer_dc txn never reaches the sink
  }

  test("streamed txn abort never reaches the sink; commit does") {
    val relOid = 16385L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "t", cols)),
      // aborted streamed txn
      MessageEncoder.xlogData(10, 10, T0, MessageEncoder.streamStart(900, firstSegment = true)),
      MessageEncoder.xlogData(11, 11, T0, MessageEncoder.insert(relOid, Seq(Some("666")), streamedXid = 900)),
      MessageEncoder.xlogData(12, 12, T0, MessageEncoder.streamStop()),
      MessageEncoder.xlogData(13, 13, T0, MessageEncoder.streamAbort(900, 900)),
      // committed streamed txn
      MessageEncoder.xlogData(20, 20, T0, MessageEncoder.streamStart(901, firstSegment = true)),
      MessageEncoder.xlogData(21, 21, T0, MessageEncoder.insert(relOid, Seq(Some("42")), streamedXid = 901)),
      MessageEncoder.xlogData(22, 22, T0, MessageEncoder.streamStop()),
      MessageEncoder.xlogData(23, 23, T0, MessageEncoder.streamCommit(901, 23, 24, T0 + 1)))

    val out = runStream("abort", frames, "cdc_abort")
    val ids = out.select(element_at(col("after"), "id")).collect().map(_.getString(0))
    assert(ids.toSeq == Seq("42"))
  }

  test("spillThresholdEvents option reaches the executor assembler (output unchanged)") {
    val relOid = 16401L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "sp", cols)),
      MessageEncoder.xlogData(10, 10, T0, MessageEncoder.streamStart(960, firstSegment = true))) ++
      (1 to 10).map(i => MessageEncoder.xlogData(10 + i, 10 + i, T0,
        MessageEncoder.insert(relOid, Seq(Some(i.toString)), streamedXid = 960))) ++ Seq(
      MessageEncoder.xlogData(30, 30, T0, MessageEncoder.streamStop()),
      MessageEncoder.xlogData(31, 31, T0, MessageEncoder.streamCommit(960, 31, 32, T0)))

    PgCdcTestHook.register("spill-opt", new InMemoryWalSource(frames))
    val q = spark.readStream.format("pgcdc")
      .option("testSourceKey", "spill-opt")
      .option("spillThresholdEvents", "2") // force the disk path per 2 events
      .load()
      .writeStream.format("memory").queryName("cdc_spill_opt").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("cdc_spill_opt").select(element_at(col("after"), "id").cast("int"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ids == (1 to 10), "spilled streamed txn must deliver identically")
  }

  test("relation first sent inside a streamed txn folds into later partitions' preambles") {
    val relOid = 16400L
    val cols = Seq(Messages.RelationColumn("id", 23L, -1, 1))
    val frames = Seq(
      // Streamed txn carries the FIRST (and only) Relation for the table —
      // the server marks the schema sent once it commits and won't re-send.
      MessageEncoder.xlogData(10, 10, T0, MessageEncoder.streamStart(950, firstSegment = true)),
      MessageEncoder.xlogData(11, 11, T0,
        MessageEncoder.relation(relOid, "public", "folded", cols, streamedXid = 950)),
      MessageEncoder.xlogData(12, 12, T0, MessageEncoder.insert(relOid, Seq(Some("1")), streamedXid = 950)),
      MessageEncoder.xlogData(13, 13, T0, MessageEncoder.streamStop()),
      MessageEncoder.xlogData(14, 14, T0, MessageEncoder.streamCommit(950, 14, 15, T0)),
      // Later plain txn on the same table, no Relation re-send.
      MessageEncoder.xlogData(20, 20, T0, MessageEncoder.begin(23, T0, 951)),
      MessageEncoder.xlogData(21, 21, T0, MessageEncoder.insert(relOid, Seq(Some("2")))),
      MessageEncoder.xlogData(22, 22, T0, MessageEncoder.commit(22, 23, T0)))

    PgCdcTestHook.register("relfold", new InMemoryWalSource(frames))
    val q = spark.readStream.format("pgcdc")
      .option("testSourceKey", "relfold")
      // 1 frame/partition: the plain txn decodes in its own partition and
      // must find the relation in its preamble, not in-line.
      .option("maxFramesPerPartition", "1")
      .load()
      .writeStream.format("memory").queryName("cdc_relfold").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("cdc_relfold").select(element_at(col("after"), "id"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("1", "2"))
  }

  test("typed per-table view from the envelope (PgTypes.typedColumns)") {
    val relOid = 16386L
    val rel = Messages.Relation(0, relOid, "public", "accounts", 'd', Array(
      Messages.RelationColumn("id", PgTypes.Oid.Int4, -1, 1),
      Messages.RelationColumn("balance", PgTypes.Oid.Numeric, 655366, 0), // numeric(10,2)
      Messages.RelationColumn("active", PgTypes.Oid.Bool, -1, 0),
      Messages.RelationColumn("tags", PgTypes.Oid.Int4Arr, -1, 0)))
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "accounts", rel.columns.toSeq)),
      MessageEncoder.xlogData(30, 30, T0, MessageEncoder.begin(33, T0, 9)),
      MessageEncoder.xlogData(31, 31, T0, MessageEncoder.insert(relOid,
        Seq(Some("5"), Some("123.45"), Some("t"), Some("{1,2,3}")))),
      MessageEncoder.xlogData(32, 32, T0, MessageEncoder.commit(32, 33, T0)))

    val out = runStream("typed", frames, "cdc_typed")
    val typed = out.select(PgTypes.typedColumns(rel, col("after")): _*)
    val row = typed.head()
    assert(row.getInt(0) == 5)
    assert(row.getDecimal(1).toString == "123.45")
    assert(row.getBoolean(2))
    assert(row.getSeq[Int](3) == Seq(1, 2, 3))
    // schema is the typed relation schema
    assert(typed.schema("balance").dataType.typeName == "decimal(10,2)")
  }

  test("FileWalSource resume skips acked positions but replays relations") {
    val tmp = java.nio.file.Files.createTempFile("wal", ".bin").toString
    WalFile.write(tmp, WalGen.frames(3, 2))
    val src = new FileWalSource(tmp)
    src.open(0L)
    var all = List.empty[Array[Byte]]
    var f = src.poll()
    while (f.isDefined) { all ::= f.get; f = src.poll() }
    val total = all.size

    // resume from the 1st txn's end LSN (100 + 2 + 2 = txn structure): events
    // at or below it are skipped, relation replays
    src.ack(104L)
    src.open(src.confirmedLsn)
    var replay = 0
    var sawRelation = false
    f = src.poll()
    while (f.isDefined) {
      graft.pgproto.WalFrames.parse(f.get) match {
        case graft.pgproto.WalFrames.XLogDataFrame(x) if x.data(0) == 'R' => sawRelation = true
        case _ =>
      }
      replay += 1; f = src.poll()
    }
    assert(sawRelation, "relation message must replay on resume")
    assert(replay < total, "resume must skip already-acked frames")
  }

  test("schema evolution: a replacement Relation re-types subsequent events and the registry follows") {
    val relOid = 16510L
    val v1 = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("name", 25L, -1, 0))
    val v2 = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("name", 25L, -1, 0),
      Messages.RelationColumn("age", 23L, -1, 0)) // ALTER TABLE ADD COLUMN
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "people", v1)),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(103, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0, MessageEncoder.insert(relOid, Seq(Some("1"), Some("ada")))),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.commit(102, 103, T0)),
      // DDL: server re-sends the relation with the new column list.
      MessageEncoder.xlogData(110, 110, T0, MessageEncoder.relation(relOid, "public", "people", v2)),
      MessageEncoder.xlogData(200, 200, T0, MessageEncoder.begin(203, T0, 8)),
      MessageEncoder.xlogData(201, 201, T0,
        MessageEncoder.insert(relOid, Seq(Some("2"), Some("bob"), Some("44")))),
      MessageEncoder.xlogData(202, 202, T0, MessageEncoder.commit(202, 203, T0)))

    PgCdcRelations.clear("schema-evo")
    val out = runStream("schema-evo", frames, "cdc_schema_evo").orderBy("lsn").collect()
    assert(out.length == 2)
    val first = out(0).getAs[Map[String, String]]("after")
    val second = out(1).getAs[Map[String, String]]("after")
    assert(first == Map("id" -> "1", "name" -> "ada"), "pre-DDL event decodes with v1 columns")
    assert(second == Map("id" -> "2", "name" -> "bob", "age" -> "44"),
      "post-DDL event must decode with the replacement relation")
    // The registry holds the LATEST schema (v2).
    val rel = PgCdcRelations.relations("schema-evo")("public.people")
    assert(rel.columns.map(_.name).toSeq == Seq("id", "name", "age"))
    PgCdcRelations.clear("schema-evo")
  }

  test("mid-stream DDL: typed views re-type across a micro-batch boundary; old-batch rows still decode") {
    // The reference replaces a relation-cache entry whenever a new 'R'
    // arrives (`pq/message/message.go:64-69`, implicit map overwrite). This
    // drives that semantic END-TO-END across a REAL micro-batch boundary:
    // batch 1 commits under schema v1, the stream goes idle, then a
    // replacement Relation (added column + widened type) arrives with batch
    // 2's frames. The registry must follow, typedViews must re-type, and
    // batch-1 rows already in the sink must decode through the NEW schema.
    final class AppendableWalSource extends WalSource {
      private val queue = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
      @volatile private var confirmed: Long = graft.pgproto.Lsn.Zero
      def push(fs: Seq[Array[Byte]]): Unit = fs.foreach(queue.add)
      override def open(fromLsn: Long): Unit =
        confirmed = math.max(confirmed, fromLsn)
      override def poll(): Option[Array[Byte]] = Option(queue.poll())
      override def ack(lsn: Long): Unit =
        if (graft.pgproto.Lsn.compare(lsn, confirmed) > 0) confirmed = lsn
      override def confirmedLsn: Long = confirmed
      override def close(): Unit = ()
    }

    val relOid = 16520L
    val v1 = Seq(
      Messages.RelationColumn("id", 23L, -1, 1), // int4
      Messages.RelationColumn("score", 23L, -1, 0)) // int4
    // ALTER TABLE ADD COLUMN note text + ALTER COLUMN score TYPE numeric(8,2)
    val numericTypmod = ((8 << 16) | 2) + 4
    val v2 = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("score", 1700L, numericTypmod, 0),
      Messages.RelationColumn("note", 25L, -1, 0))

    val src = new AppendableWalSource
    src.push(Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "grades", v1)),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(103, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0, MessageEncoder.insert(relOid, Seq(Some("1"), Some("5")))),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.commit(102, 103, T0))))

    PgCdcRelations.clear("midstream-ddl")
    PgCdcTestHook.register("midstream-ddl", src)
    val q = spark.readStream.format("pgcdc")
      .option("testSourceKey", "midstream-ddl")
      .load()
      .writeStream.format("memory").queryName("cdc_midstream_ddl")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: schema v1 only
      val envelope = spark.table("cdc_midstream_ddl")
      val v1View = PgCdcRelations.typedViews("midstream-ddl", envelope)("public.grades")
      // the view carries the envelope columns (lsn/op/...) then the typed ones
      assert(v1View.schema.fieldNames.takeRight(2).toSeq == Seq("id", "score"))
      assert(v1View.schema("score").dataType.typeName == "integer")
      assert(v1View.collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("score"))).toSeq
        == Seq((1, 5)))

      // DDL lands between batches: replacement 'R' + a v2-shaped txn.
      src.push(Seq(
        MessageEncoder.xlogData(110, 110, T0, MessageEncoder.relation(relOid, "public", "grades", v2)),
        MessageEncoder.xlogData(200, 200, T0, MessageEncoder.begin(203, T0, 8)),
        MessageEncoder.xlogData(201, 201, T0,
          MessageEncoder.insert(relOid, Seq(Some("2"), Some("7.25"), Some("late")))),
        MessageEncoder.xlogData(202, 202, T0, MessageEncoder.commit(202, 203, T0))))
      q.processAllAvailable() // batch 2: decoded under v2

      val after = PgCdcRelations.typedViews("midstream-ddl", spark.table("cdc_midstream_ddl"))("public.grades")
      assert(after.schema.fieldNames.takeRight(3).toSeq == Seq("id", "score", "note"),
        "typed view must pick up the added column")
      assert(after.schema("score").dataType.typeName == "decimal(8,2)",
        "typed view must pick up the widened column type")
      val rows = after.orderBy("id").collect()
      assert(rows.length == 2, "batch-1 rows must still decode through the new schema")
      assert(rows(0).getAs[java.math.BigDecimal]("score").compareTo(new java.math.BigDecimal("5")) == 0)
      assert(rows(0).isNullAt(rows(0).fieldIndex("note")), "pre-DDL row has no note column -> NULL")
      assert(rows(1).getAs[java.math.BigDecimal]("score").compareTo(new java.math.BigDecimal("7.25")) == 0)
      assert(rows(1).getAs[String]("note") == "late")
      // registry holds the latest relation
      assert(PgCdcRelations.relations("midstream-ddl")("public.grades")
        .columns.map(_.name).toSeq == Seq("id", "score", "note"))
    } finally {
      q.stop()
      PgCdcRelations.clear("midstream-ddl")
    }
  }

  test("PgCdcRelations surfaces the live relation cache as typed views") {
    val relOid = 16500L
    val cols = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),     // int4
      Messages.RelationColumn("price", 1700L, -1, 0), // numeric
      Messages.RelationColumn("title", 25L, -1, 0))  // text
    val streamedOid = 16501L
    val streamedCols = Seq(Messages.RelationColumn("k", 20L, -1, 1)) // int8
    val frames = Seq(
      MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "books2", cols)),
      MessageEncoder.xlogData(100, 100, T0, MessageEncoder.begin(103, T0, 7)),
      MessageEncoder.xlogData(101, 101, T0,
        MessageEncoder.insert(relOid, Seq(Some("1"), Some("9.50"), Some("dune")))),
      MessageEncoder.xlogData(102, 102, T0, MessageEncoder.commit(102, 103, T0)),
      // A relation FIRST announced inside a committed streamed txn must also
      // land in the registry (the stripStreamXid fold-in path).
      MessageEncoder.xlogData(110, 110, T0, MessageEncoder.streamStart(950, firstSegment = true)),
      MessageEncoder.xlogData(111, 111, T0,
        MessageEncoder.relation(streamedOid, "public", "streamed_rel", streamedCols, streamedXid = 950)),
      MessageEncoder.xlogData(112, 112, T0,
        MessageEncoder.insert(streamedOid, Seq(Some("7")), streamedXid = 950)),
      MessageEncoder.xlogData(113, 113, T0, MessageEncoder.streamStop()),
      MessageEncoder.xlogData(114, 114, T0, MessageEncoder.streamCommit(950, 114, 115, T0)))

    PgCdcRelations.clear("rel-registry")
    val envelope = runStream("rel-registry", frames, "cdc_rel_registry")

    val rels = PgCdcRelations.relations("rel-registry")
    assert(rels.keySet == Set("public.books2", "public.streamed_rel"))
    assert(rels("public.books2").columns.map(_.name).toSeq == Seq("id", "price", "title"))

    val views = PgCdcRelations.typedViews("rel-registry", envelope)
    val typed = views("public.books2").collect()
    assert(typed.length == 1)
    val r = typed.head
    assert(r.getAs[Int]("id") == 1)
    assert(r.getAs[java.math.BigDecimal]("price") == new java.math.BigDecimal("9.500000000000000000"))
    assert(r.getAs[String]("title") == "dune")
    val streamedRow = views("public.streamed_rel").collect().head
    assert(streamedRow.getAs[Long]("k") == 7L)
    PgCdcRelations.clear("rel-registry")
    assert(PgCdcRelations.relations("rel-registry").isEmpty)
  }

  private val sizeOptions = Seq("maxBufferedBytes", "maxBufferedTxns", "maxFramesPerPartition",
    "maxTxnsPerTrigger", "spillThresholdEvents", "maxBufferedStreamEvents",
    "maxBufferedPreparedBytes")
  private val intOptions = Set("maxBufferedTxns", "maxFramesPerPartition",
    "spillThresholdEvents", "maxBufferedStreamEvents")

  private def constructWith(key: String, value: String): IllegalArgumentException = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", "/nonexistent.wal", key, value))
    val ex = intercept[IllegalArgumentException](new PgCdcMicroBatchStream(opts))
    assert(ex.getMessage.contains(s"'$key'") && ex.getMessage.contains(s"'$value'"),
      s"the error must name the option and the value: ${ex.getMessage}")
    ex
  }

  test("size/count options: zero or negative values fail stream construction, not clamped") {
    for (key <- sizeOptions; bad <- Seq("0", "-1", "-9223372036854775808")) constructWith(key, bad)
  }

  test("size/count options: non-numeric values fail with the option named") {
    for (key <- sizeOptions; bad <- Seq("abc", "1.5", "", "64MB")) constructWith(key, bad)
  }

  test("size/count options: int-valued options reject values past Int.MaxValue") {
    for (key <- intOptions.toSeq) constructWith(key, "3000000000")
    // long-valued options take them
    new PgCdcMicroBatchStream(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", "/nonexistent.wal", "maxBufferedBytes", "3000000000"))).stop()
  }
}
