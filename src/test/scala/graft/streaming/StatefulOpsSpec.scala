package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.pgproto.{Messages, MessageEncoder}

/** Latest-state materialization over the pgcdc stream: insert→update→delete
  * per key across micro-batches must leave exactly the current row state.
  */
class StatefulOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val T0 = 1700000000000000L

  test("mapGroupsWithState materializes current row state across batches") {
    val relOid = 16500L
    val cols = Seq(
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("name", 25L, -1, 0))
    def txn(lsn: Long, xid: Long, msg: Array[Byte]): Seq[Array[Byte]] = Seq(
      MessageEncoder.xlogData(lsn, lsn, T0, MessageEncoder.begin(lsn + 3, T0, xid)),
      MessageEncoder.xlogData(lsn + 1, lsn + 1, T0, msg),
      MessageEncoder.xlogData(lsn + 2, lsn + 2, T0, MessageEncoder.commit(lsn + 2, lsn + 3, T0)))

    val frames =
      Seq(MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "acct", cols))) ++
        txn(100, 1, MessageEncoder.insert(relOid, Seq(Some("1"), Some("alice")))) ++
        txn(110, 2, MessageEncoder.insert(relOid, Seq(Some("2"), Some("bob")))) ++
        txn(120, 3, MessageEncoder.update(relOid, Seq(Some("1"), Some("alice-v2")))) ++
        txn(130, 4, MessageEncoder.insert(relOid, Seq(Some("3"), Some("carol")))) ++
        txn(140, 5, MessageEncoder.delete(relOid, Seq(Some("2"), None), 'K'))

    PgCdcTestHook.register("stateful", new InMemoryWalSource(frames))
    val stream = spark.readStream.format("pgcdc")
      .option("testSourceKey", "stateful")
      // 2 txns per micro-batch: state must carry across batches
      .option("maxTxnsPerTrigger", "2")
      .load()
    val q = StatefulOps.latestState(spark, stream)
      .writeStream.format("memory").queryName("latest_state")
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()

    // update mode emits per-batch rows; the final state per key is the last
    val finalState = spark.table("latest_state").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2),
        Option(r.getAs[Map[String, String]]("image")))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._2) }

    assert(finalState("1:1")._1 == "update")
    assert(finalState("1:1")._3.get("name") == "alice-v2")
    assert(finalState("1:2")._1 == "delete" && finalState("1:2")._3.isEmpty, "tombstone for deleted key")
    assert(finalState("1:3")._3.get("name") == "carol")
    // T1 commit rewrite: key 2's delete carries its txn-end LSN (140 + 3)
    assert(finalState("1:2")._2 == 143L)
  }

  test("composite replica-identity keys do not collapse on the first component") {
    val relOid = 16501L
    // Two-column key (tenant, id): rows (1, 1) and (1, 2) share the first
    // component and must still be distinct state entries.
    val cols = Seq(
      Messages.RelationColumn("tenant", 23L, -1, 1),
      Messages.RelationColumn("id", 23L, -1, 1),
      Messages.RelationColumn("v", 25L, -1, 0))
    def txn(lsn: Long, xid: Long, msg: Array[Byte]): Seq[Array[Byte]] = Seq(
      MessageEncoder.xlogData(lsn, lsn, T0, MessageEncoder.begin(lsn + 3, T0, xid)),
      MessageEncoder.xlogData(lsn + 1, lsn + 1, T0, msg),
      MessageEncoder.xlogData(lsn + 2, lsn + 2, T0, MessageEncoder.commit(lsn + 2, lsn + 3, T0)))
    val frames =
      Seq(MessageEncoder.xlogData(1, 1, T0, MessageEncoder.relation(relOid, "public", "ck", cols))) ++
        txn(100, 1, MessageEncoder.insert(relOid, Seq(Some("1"), Some("1"), Some("a")))) ++
        txn(110, 2, MessageEncoder.insert(relOid, Seq(Some("1"), Some("2"), Some("b")))) ++
        txn(120, 3, MessageEncoder.delete(relOid, Seq(Some("1"), Some("2"), None), 'K'))

    PgCdcTestHook.register("composite", new InMemoryWalSource(frames))
    val stream = spark.readStream.format("pgcdc")
      .option("testSourceKey", "composite").load()
    val q = StatefulOps.latestState(spark, stream)
      .writeStream.format("memory").queryName("latest_state_ck")
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()

    val finalState = spark.table("latest_state_ck").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2),
        Option(r.getAs[Map[String, String]]("image")))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._2) }

    assert(finalState.size == 2, s"expected 2 composite keys, got ${finalState.keys}")
    val k11 = "1:1|1:1"
    val k12 = "1:1|1:2"
    assert(finalState(k11)._1 == "insert" && finalState(k11)._3.get("v") == "a",
      "(1,1) must survive (1,2)'s delete")
    assert(finalState(k12)._1 == "delete" && finalState(k12)._3.isEmpty)
  }

  test("idle TTL: a timed-out key is removed silently (no duplicate emission)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val prior = StatefulOps.KeyState("k", "insert", 10L, Map("id" -> "1"))
    val state = TestGroupState.create[StatefulOps.KeyState](
      org.apache.spark.api.java.Optional.of(prior), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = StatefulOps.updateKey(Some(60000L))("k", Iterator.empty, state)
    assert(out.isEmpty,
      "eviction must not re-emit the unchanged row — update-mode sinks would double-apply it")
    assert(state.isRemoved, "timed-out state must be evicted, not kept forever")
  }

  test("idle TTL: a live update arms the processing-time timeout") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val state = TestGroupState.create[StatefulOps.KeyState](
      org.apache.spark.api.java.Optional.empty[StatefulOps.KeyState](), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = StatefulOps.updateKey(Some(60000L))("k",
      Iterator(("k", "insert", 5L, Map("id" -> "1"))), state).toSeq
    assert(out.map(_.lsn) == Seq(5L) && !state.isRemoved)
    assert(state.getTimeoutTimestampMs.isPresent &&
      state.getTimeoutTimestampMs.get() == 61000L,
      "timeout = batch processing time + TTL")
  }

  test("without a TTL no timeout is armed (NoTimeout semantics preserved)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val state = TestGroupState.create[StatefulOps.KeyState](
      org.apache.spark.api.java.Optional.empty[StatefulOps.KeyState](), GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = StatefulOps.updateKey(None)("k",
      Iterator(("k", "insert", 5L, Map("id" -> "1"))), state).toSeq
    assert(out.map(_.lsn) == Seq(5L))
    assert(!state.getTimeoutTimestampMs.isPresent)
  }
}
