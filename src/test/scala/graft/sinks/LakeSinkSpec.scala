package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The lake sink: exactly-once batch commits (marker protocol, replay,
  * half-written batch invisibility), truncate-aware latest-state fold, and
  * the compact→vacuum lifecycle preserving reader-visible state.
  */
class LakeSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(
      lsn: Long, op: String, table: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", table, T, T, Seq("id"),
      if (before == null) null else before,
      if (after == null) null else after)

  private def withSink(body: (LakeSink, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-sink").toString
    try body(new LakeSink(dir), dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def stateMap(sink: LakeSink): Map[String, String] =
    sink.latestState(spark, "public", "users")
      .select(col("k"), element_at(col("after"), "name").as("name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("appendBatch commits exactly once: replayed ids are no-ops") {
    withSink { (sink, _) =>
      val b0 = envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b"))))
      sink.appendBatch(b0, 0L)
      sink.appendBatch(b0, 0L) // at-least-once redelivery of the same epoch
      assert(sink.committedBatchIds(spark) == Seq(0L))
      assert(sink.changelog(spark).count() == 2)
    }
  }

  test("a half-written batch (no marker) is invisible until its retry commits") {
    withSink { (sink, dir) =>
      // simulate the crash window: the append stamped the root's format
      // and landed its parquet, but its commit marker was never created
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, LakeSink.FormatFile),
        LakeSink.FormatVersion.getBytes)
      envelope(Seq(ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a"))))
        .write.parquet(s"$dir/changelog/batch_id=5")
      assert(sink.committedBatchIds(spark).isEmpty)
      assert(sink.changelog(spark).count() == 0)
      // the retry overwrites the same dir and commits it
      sink.appendBatch(
        envelope(Seq(ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "x")))), 5L)
      assert(sink.committedBatchIds(spark) == Seq(5L))
      val names = sink.changelog(spark)
        .select(element_at(col("after"), "name")).collect().map(_.getString(0)).toSeq
      assert(names == Seq("x"), "retry content wins, no duplicate from the partial write")
    }
  }

  test("latestState folds inserts/updates/deletes per key across batches") {
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")),
        ev(3, "insert", "other", null, Map("id" -> "9", "name" -> "zz")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(4, "update", "users", null, Map("id" -> "1", "name" -> "a2")),
        ev(5, "delete", "users", Map("id" -> "2", "name" -> null), null),
        ev(6, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 1L)
      assert(stateMap(sink) == Map("1" -> "a2", "3" -> "c"))
      // other table untouched by the users fold
      assert(sink.latestState(spark, "public", "other").count() == 1)
    }
  }

  test("truncate wipes earlier state; later events survive") {
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(3, "truncate", "users", null, null),
        ev(4, "insert", "users", null, Map("id" -> "2", "name" -> "b2")))), 1L)
      assert(stateMap(sink) == Map("2" -> "b2"))
    }
  }

  test("compact + vacuum: base absorbs the log, state is unchanged, tail keeps winning") {
    withSink { (sink, dir) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(3, "update", "users", null, Map("id" -> "1", "name" -> "a2")))), 1L)
      val before = stateMap(sink)
      sink.compact(spark)
      assert(sink.watermark(spark) == 1L)
      assert(stateMap(sink) == before, "fold over base must equal fold over log")
      sink.vacuum(spark)
      assert(sink.committedBatchIds(spark).isEmpty, "folded batches vacuumed")
      assert(sink.baseEntries(spark).keys.exists {
        case (s, t, _) => s == "public" && t == "users" })
      assert(new java.io.File(s"$dir/_base_data/schema=public/table=users").exists())
      assert(stateMap(sink) == before, "state survives vacuum via base")
      // post-compaction tail supersedes base rows and a replayed OLD batch id
      // (below the watermark) must still be a no-op after vacuum
      sink.appendBatch(envelope(Seq(
        ev(4, "delete", "users", Map("id" -> "1", "name" -> null), null))), 2L)
      assert(stateMap(sink) == (before - "1"))
      // a replay from a stale checkpoint: batch 0's marker was vacuumed but
      // its content lives in base — re-landing it must be a no-op
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "stale")))), 0L)
      assert(sink.committedBatchIds(spark) == Seq(2L))
      assert(stateMap(sink) == (before - "1"))
      sink.compact(spark)
      sink.vacuum(spark)
      assert(stateMap(sink) == (before - "1"))
    }
  }

  test("end-to-end: pgcdc stream → foreachBatch → lake, replay-safe across restart") {
    val wal = Files.createTempFile("wal-lake", ".bin").toString
    val ckpt = Files.createTempDirectory("ckpt-lake").toString
    graft.tools.WalFile.write(wal, graft.tools.WalGen.frames(6, 2)) // 12 inserts
    withSink { (sink, _) =>
      @volatile var failOnce = true
      def run(): Unit = {
        val q = spark.readStream.format("pgcdc")
          .option("path", wal)
          .option("maxTxnsPerTrigger", "2")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink.appendBatch(df, batchId)
            // crash AFTER the commit marker: the restart replays this epoch
            // and the sink must swallow the duplicate
            if (batchId == 1 && failOnce) {
              failOnce = false
              throw new RuntimeException("injected post-commit crash")
            }
          }
          .start()
        try { q.processAllAvailable(); q.stop() }
        catch { case _: Throwable => () }
      }
      run() // dies on batch 1
      run() // restart: replays batch 1, finishes the stream
      val state = sink.latestState(spark, "public", "users")
      assert(state.count() == 12, "one live row per inserted id, no replay dupes")
      val ids = state.select(element_at(col("after"), "id").cast("long"))
        .collect().map(_.getLong(0)).toSet
      assert(ids == (1L to 12L).toSet)
    }
  }

  test("appendSnapshot: snapshot + stream fold as one log, redelivery idempotent") {
    import spark.implicits._
    withSink { (sink, _) =>
      val snap = Seq((1L, "a", true), (2L, "b", false), (3L, "c", true))
        .toDF("id", "name", "flag")
      sink.appendSnapshot("public.users", snap, Seq("id"), 100L, -1L)
      // invalidation-retry redelivery of the same table reuses the id
      sink.appendSnapshot("public.users", snap, Seq("id"), 100L, -1L)
      assert(sink.changelog(spark).count() == 3)
      // stream events after the consistent point supersede the image
      sink.appendBatch(envelope(Seq(
        ev(150, "update", "users", null, Map("id" -> "1", "name" -> "a2", "flag" -> "f")),
        ev(151, "delete", "users", Map("id" -> "3", "name" -> null, "flag" -> null), null))), 0L)
      assert(stateMap(sink) == Map("1" -> "a2", "2" -> "b"))
      // booleans render in pg text form so snapshot and stream rows agree
      val flags = sink.latestState(spark, "public", "users")
        .select(col("k"), element_at(col("after"), "flag"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(flags == Map("1" -> "f", "2" -> "f"))
      // compaction folds the mixed log and a post-compact replay stays a no-op
      sink.compact(spark); sink.vacuum(spark)
      sink.appendSnapshot("public.users", snap, Seq("id"), 100L, -1L)
      assert(stateMap(sink) == Map("1" -> "a2", "2" -> "b"))
    }
  }

  test("persisted relation schema types the lake fold without a live stream") {
    import graft.pgproto.Messages.{Relation, RelationColumn}
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a", "bal" -> "10.50")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b", "bal" -> null)))), 0L)
      sink.writeRelations(spark, Seq(Relation(0L, 16384L, "public", "users", 'd',
        Array(RelationColumn("id", 20L, -1, 1),      // int8, key
          RelationColumn("name", 25L, -1, 0),        // text
          RelationColumn("bal", 701L, -1, 0)))))     // float8
      val typed = sink.latestStateTyped(spark, "public", "users")
      assert(typed.schema("id").dataType.typeName == "long")
      assert(typed.schema("bal").dataType.typeName == "double")
      val byId = typed.collect().map(r => r.getLong(0) -> r).toMap
      assert(byId(1L).getDouble(2) == 10.5)
      assert(byId(2L).isNullAt(2))
      // round-trip of the schema record itself
      val rel = sink.readRelation(spark, "public", "users").get
      assert(rel.columns.map(_.name).toSeq == Seq("id", "name", "bal"))
      assert(rel.replicaIdentity == 'd'.toByte)
      assert(sink.readRelation(spark, "public", "absent").isEmpty)
    }
  }

  test("late snapshot after compaction: lands, folds, survives vacuum, absorbed next compact") {
    withSink { (sink, _) =>
      import spark.implicits._
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 1L)
      var polled = Vector.empty[Long]
      def drain(): Int = sink.poll(spark, "c") { df =>
        polled = polled ++ df.select(col("batch_id")).distinct()
          .collect().map(_.getLong(0)).sorted
      }
      drain()
      sink.compact(spark)
      sink.vacuum(spark)
      assert(sink.watermark(spark) == 1L && sink.foldedLow(spark) == 0L)
      // a mid-stream table addition lands its snapshot BELOW the folded
      // interval — it must not be mistaken for a replay of vacuumed history
      val snap = Seq((7L, "bolt"), (8L, "nut")).toDF("id", "pname")
      sink.appendSnapshot("public.parts", snap, Seq("id"), 0L, -1L)
      assert(sink.committedBatchIds(spark) == Seq(-1L), "snapshot batch landed")
      assert(sink.latestState(spark, "public", "parts").count() == 2,
        "fold includes the unabsorbed late snapshot")
      assert(sink.latestState(spark, "public", "users").count() == 2,
        "base state unaffected")
      // two-sided poll delivers the late batch to an existing consumer
      assert(drain() == 1 && polled.last == -1L)
      // vacuum before the next compact must NOT delete the unfolded batch
      sink.vacuum(spark)
      assert(sink.committedBatchIds(spark) == Seq(-1L),
        "vacuum keeps batches below the fold floor")
      // the next compaction absorbs it; state is unchanged; vacuum may
      // then drop it, and a consumer that never saw it fails loudly
      sink.compact(spark)
      assert(sink.foldedLow(spark) == -1L)
      assert(sink.latestState(spark, "public", "parts").count() == 2)
      sink.vacuum(spark)
      assert(sink.committedBatchIds(spark).isEmpty)
      assert(sink.vacuumLowWater(spark) == -1L)
      assert(sink.latestState(spark, "public", "parts").count() == 2)
      val e = intercept[IllegalStateException](sink.poll(spark, "late")(_ => ()))
      assert(e.getMessage.contains("re-bootstrap"))
      // the caught-up consumer keeps working
      assert(drain() == 0)
    }
  }

  test("clearSnapshot after compaction clears UNFOLDED late snapshots; snapshot ids never reuse") {
    withSink { (sink, dir) =>
      import spark.implicits._
      // first export via the production sink: ids -1, -2
      val sinkFn = sink.connectorSnapshotSink(spark, "public.a",
        _ => Seq("id"))
      sinkFn("public.a", Seq((1L, "x")).toDF("id", "v"))
      sinkFn("public.b", Seq((2L, "y")).toDF("id", "v"))
      assert(sink.committedBatchIds(spark) == Seq(-2L, -1L))
      // stream epoch, compact: folded interval [-2, 0]
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.compact(spark)
      sink.vacuum(spark)
      assert(sink.foldedLow(spark) == -2L && sink.watermark(spark) == 0L)
      // a LATER connector run adds a table: its snapshot id continues
      // BELOW everything ever seen — not a reused -1 appendBatch would drop
      val sinkFn2 = sink.connectorSnapshotSink(spark, "public.a",
        _ => Seq("id"))
      sinkFn2("public.c", Seq((3L, "z")).toDF("id", "v"))
      assert(sink.committedBatchIds(spark).min == -3L,
        "snapshot ids continue below the folded floor")
      assert(sink.latestState(spark, "public", "c").count() == 1)
      // the late (unfolded) snapshot is separable: clearSnapshot removes
      // it without refusing — folded snapshots are untouched in BASE
      sink.clearSnapshot(spark)
      assert(sink.committedBatchIds(spark).forall(_ >= 0))
      assert(sink.latestState(spark, "public", "a").count() == 1,
        "folded first-export snapshot survives in BASE")
      // but once the late snapshot is folded too, clearing refuses
      val sinkFn3 = sink.connectorSnapshotSink(spark, "public.a", _ => Seq("id"))
      sinkFn3("public.d", Seq((4L, "w")).toDF("id", "v"))
      sink.compact(spark)
      val e = intercept[IllegalStateException](sink.clearSnapshot(spark))
      assert(e.getMessage.contains("compacted into base"))
    }
  }

  test("vacuum with retention keeps time-travel depth; older boundaries refuse") {
    withSink { (sink, _) =>
      def land(i: Int): Unit = sink.appendBatch(envelope(Seq(
        ev(i + 1, "insert", "users", null,
          Map("id" -> s"$i", "name" -> s"n$i")))), i.toLong)
      land(0); land(1)
      sink.compact(spark) // manifest v1, wm=1 (retained through the next GC)
      land(2); land(3)
      sink.compact(spark) // manifest v2, wm=3
      sink.vacuum(spark, keepLast = 2) // batches 2,3 stay readable history
      assert(sink.committedBatchIds(spark) == Seq(2L, 3L))
      assert(sink.vacuumHighWater(spark) == 1L)
      // retained depth: previous manifest + kept tail reach batches 1..3
      assert(sink.stateAsOf(spark, "public", "users", 2L).count() == 3)
      assert(sink.stateAsOf(spark, "public", "users", 1L).count() == 2)
      // a boundary the vacuum passed refuses rather than folding holes
      intercept[IllegalStateException](
        sink.stateAsOf(spark, "public", "users", 0L).count())
      // full state unaffected, and a later plain vacuum drops the rest
      assert(sink.latestState(spark, "public", "users").count() == 4)
      sink.vacuum(spark)
      assert(sink.committedBatchIds(spark).isEmpty)
      assert(sink.latestState(spark, "public", "users").count() == 4)
    }
  }

  test("retention checks are presence-based, not density-based") {
    withSink { (sink, _) =>
      import spark.implicits._
      // sparse hand-chosen snapshot id and epochs not starting at 0 —
      // neither is vacuumed, so nothing may refuse
      sink.appendSnapshot("public.users",
        Seq((9L, "snap")).toDF("id", "name"), Seq("id"), 0L, -5L)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 57L)
      assert(sink.stateAsOf(spark, "public", "users", 57L).count() == 2)
      assert(sink.stateAsOf(spark, "public", "users", -5L).count() == 1)
      // after fold + full vacuum the history IS gone — still refuses
      sink.compact(spark); sink.vacuum(spark)
      assert(sink.latestState(spark, "public", "users").count() == 2)
      intercept[IllegalStateException](
        sink.stateAsOf(spark, "public", "users", -5L).count())
    }
  }

  test("retention is per growth direction; deeper manifests extend time travel") {
    val dir = Files.createTempDirectory("lake-retain").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4, retainManifests = 3)
      import org.apache.spark.sql.functions.col
      def land(i: Int): Unit = sink.appendBatch(envelope(Seq(
        ev(i + 1, "insert", "users", null,
          Map("id" -> s"$i", "name" -> s"n$i")))), i.toLong)
      land(0); land(1); sink.compact(spark) // v1 wm=1
      land(2); sink.compact(spark)          // v2 wm=2
      // a just-landed table addition's snapshot + one more epoch
      import spark.implicits._
      sink.appendSnapshot("public.parts",
        Seq((7L, "bolt")).toDF("id", "pname"), Seq("id"), 0L, -1L)
      land(3); sink.compact(spark)          // v3 wm=3, minFolded=-1
      sink.vacuum(spark, keepLast = 1)
      // keeps the newest EPOCH and the newest SNAPSHOT — a plain
      // "newest by id" would have deleted the snapshot first
      assert(sink.committedBatchIds(spark) == Seq(-1L, 3L))
      // three retained manifests: time travel reaches v1's watermark
      assert(sink.stateAsOf(spark, "public", "users", 1L).count() == 2)
      assert(sink.stateAsOf(spark, "public", "users", 3L).count() == 4)
      intercept[IllegalStateException](
        sink.stateAsOf(spark, "public", "users", 0L).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("seedCursor re-bootstraps a consumer past vacuumed history, then polls incrementally") {
    withSink { (sink, _) =>
      import spark.implicits._
      sink.appendSnapshot("public.users",
        Seq((100L, "snap")).toDF("id", "name"), Seq("id"), 0L, -1L)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 1L)
      sink.compact(spark)
      sink.vacuum(spark)
      // the stranded-consumer problem every gap error points at:
      intercept[IllegalStateException](sink.poll(spark, "rebuild")(_ => ()))
      // the packaged fix: pin at the current end, seed from the fold
      val pin = sink.seedCursor(spark, "rebuild")
      assert(pin == (-1L, 1L))
      val seed = sink.stateAsOf(spark, "public", "users", pin._2)
      assert(seed.count() == 3, "seed reads through BASE despite the vacuum")
      // from here on: incremental, both directions of the id space
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 2L)
      sink.appendSnapshot("public.parts",
        Seq((7L, "bolt")).toDF("id", "pname"), Seq("id"), 0L, -2L)
      var got = Seq.empty[Long]
      val n = sink.poll(spark, "rebuild") { df =>
        got = df.select(col("batch_id")).distinct().collect().map(_.getLong(0)).sorted
      }
      assert(n == 2 && got == Seq(-2L, 2L),
        s"exactly the post-pin batches deliver, got $got")
      assert(sink.poll(spark, "rebuild")(_ => ()) == 0)
    }
  }


  test("poll: named cursors deliver each committed batch exactly once, vacuum gap detected") {
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 1L)
      var seen = Vector.empty[Long]
      def drain(): Int = sink.poll(spark, "c1") { df =>
        seen = seen ++ df.select("lsn").collect().map(_.getLong(0)).sorted
      }
      assert(drain() == 2 && seen == Vector(1L, 2L))
      assert(drain() == 0, "cursor advanced: nothing re-delivered")
      // crash mid-callback: cursor does NOT advance, span re-delivers
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 2L)
      intercept[RuntimeException](sink.poll(spark, "c1")(_ =>
        throw new RuntimeException("consumer crash")))
      assert(drain() == 1 && seen == Vector(1L, 2L, 3L))
      // an independent cursor starts from the beginning
      var n = 0L
      sink.poll(spark, "c2")(df => n = df.count())
      assert(n == 3)
      // a lagging consumer whose span was vacuumed fails loudly
      sink.compact(spark); sink.vacuum(spark)
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "users", null, Map("id" -> "4", "name" -> "d")))), 3L)
      val e = intercept[IllegalStateException](sink.poll(spark, "c3")(_ => ()))
      assert(e.getMessage.contains("re-bootstrap"))
      // caught-up consumers keep working past the vacuum
      assert(drain() == 1 && seen == Vector(1L, 2L, 3L, 4L))
    }
  }

  test("clearSnapshot: an invalidated export re-lands fresh, compacted snapshots refuse") {
    import spark.implicits._
    withSink { (sink, _) =>
      // attempt 1 delivers one table, then the export is invalidated
      sink.appendSnapshot("public.users",
        Seq((1L, "stale")).toDF("id", "name"), Seq("id"), 100L, -1L)
      // attempt 2: clear, then the NEW export's rows must actually land
      sink.clearSnapshot(spark)
      sink.appendSnapshot("public.users",
        Seq((1L, "fresh"), (2L, "new")).toDF("id", "name"), Seq("id"), 120L, -1L)
      assert(stateMap(sink) == Map("1" -> "fresh", "2" -> "new"))
      // once compacted into base, the image is no longer separable
      sink.compact(spark)
      val e = intercept[IllegalStateException](sink.clearSnapshot(spark))
      assert(e.getMessage.contains("fresh lake root"))
    }
  }

  test("schema evolution on the lake: a replacement relation re-types old rows") {
    import graft.pgproto.Messages.{Relation, RelationColumn}
    withSink { (sink, _) =>
      // v1 rows land without the column a later ALTER adds
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "users", null,
          Map("id" -> "2", "name" -> "b", "score" -> "7.5")))), 1L)
      // latest-wins schema write, mirroring the live registry's replacement
      sink.writeRelations(spark, Seq(Relation(0L, 16384L, "public", "users", 'd',
        Array(RelationColumn("id", 20L, -1, 1), RelationColumn("name", 25L, -1, 0)))))
      sink.writeRelations(spark, Seq(Relation(0L, 16384L, "public", "users", 'd',
        Array(RelationColumn("id", 20L, -1, 1), RelationColumn("name", 25L, -1, 0),
          RelationColumn("score", 701L, -1, 0)))))
      val typed = sink.latestStateTyped(spark, "public", "users")
      assert(typed.schema.fieldNames.toSeq.take(3) == Seq("id", "name", "score"))
      val byId = typed.collect().map(r => r.getLong(0) -> r).toMap
      assert(byId(1L).isNullAt(2), "pre-ALTER row types through the new schema as NULL")
      assert(byId(2L).getDouble(2) == 7.5)
    }
  }

  test("versioned relation schemas: typed time travel projects each era through its own schema") {
    import graft.pgproto.Messages.{Relation, RelationColumn}
    withSink { (sink, _) =>
      // era A (from the bottom of the id space): v is TEXT
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "v" -> "low")))), 0L)
      sink.writeRelations(spark, Seq(Relation(0L, 16384L, "public", "users", 'd',
        Array(RelationColumn("id", 20L, -1, 1), RelationColumn("v", 25L, -1, 0)))))
      // DDL in force from batch 1: v becomes INT8 and a score column appears
      sink.appendBatch(envelope(Seq(
        ev(2, "update", "users", Map("id" -> "1", "v" -> "low"),
          Map("id" -> "1", "v" -> "42", "score" -> "7.5")))), 1L)
      sink.writeRelations(spark, Seq(Relation(0L, 16384L, "public", "users", 'd',
        Array(RelationColumn("id", 20L, -1, 1), RelationColumn("v", 20L, -1, 0),
          RelationColumn("score", 701L, -1, 0)))), validFromBatch = 1L)
      // pre-DDL read: old era's schema — v is text, NO phantom score column
      val t0 = sink.stateAsOfTyped(spark, "public", "users", asOf = 0L)
      assert(t0.schema("v").dataType.typeName == "string")
      assert(!t0.schema.fieldNames.contains("score"),
        "a column added later must not appear in a pre-DDL read")
      assert(t0.collect().head.getString(1) == "low")
      // post-DDL read (and latest): new era's schema
      val t1 = sink.stateAsOfTyped(spark, "public", "users", asOf = 1L)
      assert(t1.schema("v").dataType.typeName == "long")
      val r1 = t1.collect().head
      assert(r1.getLong(1) == 42L && r1.getDouble(2) == 7.5)
      assert(sink.latestStateTyped(spark, "public", "users")
        .schema("v").dataType.typeName == "long")
      // the graft-lake format combines asOfBatch+typed now that eras exist
      val viaFormat = spark.read.format("graft-lake")
        .option("path", sink.root).option("table", "public.users")
        .option("asOfBatch", "0").option("typed", "true").load()
      assert(viaFormat.schema("v").dataType.typeName == "string")
      assert(viaFormat.collect().head.getString(1) == "low")
    }
  }

  test("keyless (replica-identity-nothing) rows fold append-only; empty batches are harmless") {
    withSink { (sink, _) =>
      // key_names null: each row must survive the fold as its own key
      val rows = Seq(
        Row(1L, 1L, 7L, "insert", "public", "log", T, T, null,
          null, Map("msg" -> "a")),
        Row(2L, 2L, 7L, "insert", "public", "log", T, T, null,
          null, Map("msg" -> "a"))) // identical image, distinct WAL position
      sink.appendBatch(envelope(rows), 0L)
      // an empty micro-batch (idle trigger flushed by foreachBatch) commits fine
      sink.appendBatch(envelope(Seq.empty), 1L)
      assert(sink.committedBatchIds(spark) == Seq(0L, 1L))
      assert(sink.latestState(spark, "public", "log").count() == 2)
      sink.compact(spark); sink.vacuum(spark)
      assert(sink.latestState(spark, "public", "log").count() == 2)
    }
  }

  test("compact is churn-proportional: untouched buckets carry forward byte-identical") {
    val dir = Files.createTempDirectory("lake-sink").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 8)
      // spread keys across buckets, fold them into base v1
      sink.appendBatch(envelope((1 to 64).map(i =>
        ev(i, "insert", "users", null, Map("id" -> i.toString, "name" -> s"n$i")))), 0L)
      sink.compact(spark)
      assert(sink.watermark(spark) == 0L)
      val v1 = sink.baseEntries(spark)
      assert(v1.nonEmpty && v1.keys.forall(_._3 < 8))
      def fileStamps(rel: String): Map[String, Long] = {
        val d = new java.io.File(dir, rel)
        d.listFiles().map(f => f.getName -> f.lastModified()).toMap
      }
      val stampsBefore = v1.map { case (k, rel) => k -> fileStamps(rel) }
      // touch exactly one key → exactly one bucket is dirty
      sink.appendBatch(envelope(Seq(
        ev(100, "update", "users", null, Map("id" -> "1", "name" -> "n1x")))), 1L)
      val dirtyBucket = spark.range(1)
        .select(pmod(hash(lit("1")), lit(8))).collect().head.getInt(0)
      sink.compact(spark)
      val v2 = sink.baseEntries(spark)
      assert(sink.watermark(spark) == 1L)
      // the dirty bucket moved to a v2 slice; every other slice is the SAME
      // path with the SAME untouched files
      assert(v2((("public"), "users", dirtyBucket)) !=
        v1(("public", "users", dirtyBucket)))
      assert(v2(("public", "users", dirtyBucket)).contains("/v0_1/"))
      v1.foreach { case (k @ (_, _, b), rel) =>
        if (b != dirtyBucket) {
          assert(v2(k) == rel, s"clean bucket $b was rewritten")
          assert(fileStamps(rel) == stampsBefore(k),
            s"clean bucket $b files changed on disk")
        }
      }
      // fold is still correct across the carried-forward + rewritten slices
      val state = sink.latestState(spark, "public", "users")
        .select(col("k"), element_at(col("after"), "name")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state.size == 64 && state("1") == "n1x" && state("2") == "n2")
      // superseded v1 slice of the dirty bucket survives ONE cycle for
      // in-flight readers, then GCs on the next compact
      assert(new java.io.File(dir, v1(("public", "users", dirtyBucket))).exists())
      sink.appendBatch(envelope(Seq(
        ev(101, "update", "users", null, Map("id" -> "2", "name" -> "n2x")))), 2L)
      sink.compact(spark)
      assert(!new java.io.File(dir, v1(("public", "users", dirtyBucket))).exists(),
        "v1 slice superseded two compactions ago must be garbage-collected")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("truncate in the tail dirties all of its table's buckets and wipes base state") {
    val dir = Files.createTempDirectory("lake-sink").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      sink.appendBatch(envelope((1 to 16).map(i =>
        ev(i, "insert", "users", null, Map("id" -> i.toString, "name" -> s"n$i")))), 0L)
      sink.compact(spark)
      sink.appendBatch(envelope(Seq(
        ev(100, "truncate", "users", null, null),
        ev(101, "insert", "users", null, Map("id" -> "7", "name" -> "only")))), 1L)
      sink.compact(spark); sink.vacuum(spark)
      val state = sink.latestState(spark, "public", "users")
        .select(element_at(col("after"), "name")).collect().map(_.getString(0)).toSeq
      assert(state == Seq("only"), s"truncate must wipe compacted base state: $state")
      // every surviving slice is post-truncate: only one bucket has rows
      assert(sink.baseEntries(spark).count { case ((_, t, _), _) => t == "users" } == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("keyless snapshot folds append-only (one row per snapshot row, not one key)") {
    import spark.implicits._
    withSink { (sink, _) =>
      // REPLICA IDENTITY NOTHING table: no key columns at all
      val snap = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("msg", "n")
      sink.appendSnapshot("public.log", snap, Seq.empty, 0L, -1L)
      assert(sink.latestState(spark, "public", "log").count() == 3,
        "every keyless snapshot row is its own key — even identical images")
      // keyless CDC rows after the handoff append alongside, never collide
      sink.appendBatch(envelope(Seq(
        Row(50L, 50L, 7L, "insert", "public", "log", T, T, null,
          null, Map("msg" -> "c", "n" -> "3")))), 0L)
      assert(sink.latestState(spark, "public", "log").count() == 4)
      sink.compact(spark); sink.vacuum(spark)
      assert(sink.latestState(spark, "public", "log").count() == 4)
    }
  }

  test("a new consumer may read the full changelog after compact alone; vacuum gates it") {
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.compact(spark) // NO vacuum: the full changelog is still on disk
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 1L)
      var n = 0L
      assert(sink.poll(spark, "fresh")(df => n = df.count()) == 2,
        "compaction alone must not refuse a brand-new consumer the history")
      assert(n == 2)
      // after vacuum actually deletes batches, a new consumer is refused
      sink.vacuum(spark) // watermark is 0 → only batch 0 is deleted
      assert(sink.vacuumHighWater(spark) == 0L)
      val e = intercept[IllegalStateException](sink.poll(spark, "late")(_ => ()))
      assert(e.getMessage.contains("re-bootstrap"))
      // the already-caught-up consumer keeps polling fine
      assert(sink.poll(spark, "fresh")(_ => ()) == 0)
    }
  }

  test("multi-column keys join with a separator no text value contains") {
    withSink { (sink, _) =>
      val row = Row(1L, 1L, 7L, "insert", "public", "pairs", T, T,
        Seq("a", "b"), null, Map("a" -> "x y", "b" -> "z", "v" -> "1"))
      val row2 = Row(2L, 2L, 7L, "insert", "public", "pairs", T, T,
        Seq("a", "b"), null, Map("a" -> "x", "b" -> "y z", "v" -> "2"))
      sink.appendBatch(envelope(Seq(row, row2)), 0L)
      // "x y"+"z" and "x"+"y z" must remain DISTINCT keys
      assert(sink.latestState(spark, "public", "pairs").count() == 2)
    }
  }

  test("stateAsOf time-travels to every batch boundary, across compactions and a truncate") {
    withSink { (sink, _) =>
      // six batches of user mutations; compact after 2 and after 4 so the
      // as-of reads cross raw-changelog, predecessor-manifest, and
      // current-manifest resolution paths
      val batches: Seq[Seq[(Long, String, String, String)]] = Seq(
        Seq((1, "insert", "1", "a"), (2, "insert", "2", "b")),
        Seq((3, "update", "1", "a2"), (4, "insert", "3", "c")),
        Seq((5, "delete", "2", null), (6, "insert", "4", "d")),
        Seq((7, "update", "3", "c2")),
        Seq((8, "truncate", null, null), (9, "insert", "5", "e")),
        Seq((10, "insert", "6", "f"), (11, "update", "5", "e2")))
      def toRow(e: (Long, String, String, String)): Row = e match {
        case (lsn, "truncate", _, _) => ev(lsn, "truncate", "users", null, null)
        case (lsn, "delete", id, _) =>
          ev(lsn, "delete", "users", Map("id" -> id, "name" -> null), null)
        case (lsn, op, id, name) =>
          ev(lsn, op, "users", null, Map("id" -> id, "name" -> name))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        sink.appendBatch(envelope(b.map(toRow)), i.toLong)
        if (i == 2 || i == 4) sink.compact(spark)
      }
      // pure-Scala replay oracle: state after applying batches 0..asOf
      def replay(asOf: Int): Map[String, String] = {
        var st = Map.empty[String, String]
        batches.take(asOf + 1).flatten.foreach {
          case (_, "insert", id, name) => st += id -> name
          case (_, "update", id, name) => st += id -> name
          case (_, "delete", id, _)    => st -= id
          case (_, "truncate", _, _)   => st = Map.empty
        }
        st
      }
      (0 until batches.size).foreach { asOf =>
        val got = sink.stateAsOf(spark, "public", "users", asOf.toLong)
          .select(col("k"), element_at(col("after"), "name").as("name"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == replay(asOf), s"asOf=$asOf")
      }
      // vacuum deletes the changelog through the current watermark (4):
      // pre-watermark as-of reads now lack history and must THROW, not
      // silently return holes; reads at/after the watermark still work
      sink.vacuum(spark)
      val e = intercept[IllegalStateException] {
        sink.stateAsOf(spark, "public", "users", 3L).collect()
      }
      assert(e.getMessage.contains("vacuum"))
      val after = sink.stateAsOf(spark, "public", "users", 5L)
        .select(col("k"), element_at(col("after"), "name").as("name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(after == replay(5))
    }
  }

  test("commit markers carry truncate metadata; a legacy empty marker falls back to the scan") {
    withSink { (sink, dir) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(3, "truncate", "users", null, null),
        ev(4, "insert", "users", null, Map("id" -> "2", "name" -> "b2")))), 1L)
      // the batch-1 marker records the truncate position for public.users
      // (optimization r21: folds read the supersession point from marker
      // metadata instead of running a per-fold aggregation job)
      val m1 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_commits", "1")), "UTF-8")
      assert(m1.startsWith("t1"), s"marker magic missing: '$m1'")
      assert(m1.contains("public\tusers\t3\t3"),
        s"truncate position missing from marker metadata: '$m1'")
      val m0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_commits", "0")), "UTF-8")
      assert(m0.trim == "t1", s"truncate-free batch marker should carry only the magic: '$m0'")
      assert(stateMap(sink) == Map("2" -> "b2"))
      // a PRE-METADATA lake's markers are empty — the fold must fall back
      // to the maxTruncate scan and produce the same state (fresh sink
      // instance: marker metadata is memoized per instance)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_graft_commits", "1"), Array.empty[Byte])
      val reopened = new LakeSink(dir)
      val fallback = reopened.latestState(spark, "public", "users")
        .select(col("k"), element_at(col("after"), "name").as("name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(fallback == Map("2" -> "b2"),
        "legacy empty marker must fold identically via the scan fallback")
    }
  }

  /** Per-key names of a fold result. */
  private def names(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select(col("k"), element_at(col("after"), "name")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** The oracle: a direct in-order fold of envelope rows keyed on `id`. */
  private def directFold(rows: Seq[Row]): Map[String, String] =
    rows.foldLeft(Map.empty[String, String]) { (m, r) =>
      r.getString(3) match {
        case "delete" => m - r.getMap[String, String](9)("id")
        case _ =>
          val after = r.getMap[String, String](10)
          m + (after("id") -> after("name"))
      }
    }

  test("a table first landing after compact + vacuum reads through an empty BASE") {
    withSink { (sink, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "update", "users", null, Map("id" -> "1", "name" -> "a2")))), 1L)
      sink.compact(spark); sink.vacuum(spark)
      // "pets" lands only now: no batch folded at the lake key holds it
      val b2 = Seq(
        ev(3, "insert", "pets", null, Map("id" -> "p1", "name" -> "rex")),
        ev(4, "insert", "pets", null, Map("id" -> "p2", "name" -> "tom")))
      val b3 = Seq(
        ev(5, "update", "pets", null, Map("id" -> "p1", "name" -> "rex2")),
        ev(6, "delete", "pets", Map("id" -> "p2", "name" -> null), null))
      sink.appendBatch(envelope(b2), 2L)
      sink.appendBatch(envelope(b3), 3L)
      def check(): Unit = {
        assert(names(sink.latestState(spark, "public", "pets")) == directFold(b2 ++ b3))
        assert(names(sink.stateAsOf(spark, "public", "pets", asOf = 3L)) ==
          directFold(b2 ++ b3))
        assert(names(sink.stateAsOf(spark, "public", "pets", asOf = 2L)) == directFold(b2))
      }
      check()
      // once compacted, its log exists but lacks the older lake key that
      // the as-of-2 read resolves through
      sink.compact(spark)
      check()
    }
  }

  test("a compaction that died before its lake publish is redone by the next compact") {
    withSink { (sink, dir) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 0L)
      sink.compact(spark)
      sink.appendBatch(envelope(Seq(
        ev(3, "update", "users", null, Map("id" -> "1", "name" -> "a2")),
        ev(4, "insert", "users", null, Map("id" -> "3", "name" -> "c")),
        ev(5, "insert", "other", null, Map("id" -> "9", "name" -> "z")))), 1L)
      sink.appendBatch(envelope(Seq(
        ev(6, "delete", "users", Map("id" -> "2", "name" -> null), null))), 2L)
      def reads() = (stateMap(sink),
        (0L to 2L).map(b => names(sink.stateAsOf(spark, "public", "users", asOf = b))))
      val before = reads()
      sink.compact(spark)
      assert(sink.watermark(spark) == 2L)
      // the crash: every table log holds (0, 2), the lake log does not
      val lakeCommits = new java.io.File(dir, "_base_data/_lake/_commits")
      assert(new java.io.File(lakeCommits, "manifest.0_2").delete())
      new java.io.File(lakeCommits, ".manifest.0_2.crc").delete()
      assert(sink.watermark(spark) == 0L && sink.foldedLow(spark) == 0L)
      assert(reads() == before)
      sink.vacuum(spark)
      assert(sink.committedBatchIds(spark) == Seq(1L, 2L),
        "vacuum must drop only the published interval")
      val usersManifest = new java.io.File(dir,
        "_base_data/schema=public/table=users/_commits/manifest.0_2")
      val stamp = usersManifest.lastModified()
      sink.compact(spark)
      assert(new java.io.File(lakeCommits, "manifest.0_2").exists())
      assert(sink.watermark(spark) == 2L && sink.foldedLow(spark) == 0L)
      assert(usersManifest.lastModified() == stamp,
        "a table log already holding the key is skipped, not rewritten")
      assert(stateMap(sink) == before._1)
      assert((1L to 2L).map(b => names(sink.stateAsOf(spark, "public", "users", asOf = b))) ==
        before._2.drop(1))
      sink.vacuum(spark)
      assert(stateMap(sink) == before._1)
      assert(names(sink.latestState(spark, "public", "other")) == Map("9" -> "z"))
    }
  }
}
