package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.cdc.ChangeEvent
import graft.sinks.LakeSink

/** `format("graft-lake")`: the batch relation must agree with the LakeSink
  * methods it fronts, and the streaming source must deliver every committed
  * batch exactly once across triggers, restarts, per-trigger caps, and the
  * two-sided id space (late snapshot batches), refusing vacuumed gaps.
  */
class LakeReadSourceSpec extends AnyFunSuite {
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

  private def withLake(body: (LakeSink, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-read").toString
    try body(new LakeSink(dir), dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def seed(sink: LakeSink): Unit = {
    sink.appendBatch(envelope(Seq(
      ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
      ev(2, "insert", "users", null, Map("id" -> "2", "name" -> "b")))), 0L)
    sink.appendBatch(envelope(Seq(
      ev(3, "update", "users", null, Map("id" -> "1", "name" -> "a2")),
      ev(4, "insert", "orders", null, Map("id" -> "7", "total" -> "9.5")))), 1L)
  }

  // Spark writes the envelope's timestamps in whichever encoding
  // spark.sql.parquet.outputTimestampType names (INT96, or INT64 micros or
  // millis) — the stream reader must honor each, not assume one. The
  // same lake carries the envelope's nullable shapes: a NULL `before`
  // (inserts), NULL `key_names` (a keyless REPLICA IDENTITY NOTHING
  // table) and image maps holding NULL values.
  Seq("INT96" -> "INT96", "TIMESTAMP_MICROS" -> "INT64/MICROS",
      "TIMESTAMP_MILLIS" -> "INT64/MILLIS").foreach { case (encoding, label) =>
    test(s"streaming: $label parquet timestamps read as the written instant") {
      withLake { (sink, dir) =>
        val odd = Seq(
          Row(5L, 5L, 7L, "insert", "public", "logs", T, T, null, null,
            Map("msg" -> "hi", "note" -> null)),
          Row(6L, 6L, 7L, "update", "public", "users", T, T, Seq("id"),
            Map("id" -> "2", "name" -> null), Map("id" -> "2", "name" -> "b2")))
        // restore the PRIOR session value, not a hardcoded one — overwriting
        // the shared session's default would silently change what parquet
        // encoding every later test exercises
        val key = "spark.sql.parquet.outputTimestampType"
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, encoding)
        try {
          seed(sink)
          sink.appendBatch(envelope(odd), 2L)
        } finally prior match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        val ckpt = Files.createTempDirectory("lake-ts-ckpt").toString
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
        val q = spark.readStream.format("graft-lake").option("path", dir).load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
            df.drop("batch_id").collect().foreach(buf.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
        val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(buf.iterator())
          .asScala.toSeq
        val got = rows.map(_.getTimestamp(7)).toSet
        assert(got == Set(T), s"expected $T, got $got")
        val back = rows.filter(r => r.getLong(0) >= 5L).sortBy(_.getLong(0))
        assert(back == odd, s"expected $odd, got $back")
      }
    }
  }

  test("batch: state read equals latestState; asOfBatch equals stateAsOf") {
    withLake { (sink, dir) =>
      seed(sink)
      val viaFormat = spark.read.format("graft-lake")
        .option("path", dir).option("table", "public.users").load()
        .select(col("k"), element_at(col("after"), "name").as("name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(viaFormat == Map("1" -> "a2", "2" -> "b"))
      val asOf0 = spark.read.format("graft-lake")
        .option("path", dir).option("table", "public.users")
        .option("asOfBatch", "0").load()
        .select(col("k"), element_at(col("after"), "name").as("name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(asOf0 == Map("1" -> "a", "2" -> "b"),
        "time travel to batch 0 sees the pre-update image")
    }
  }

  test("a typo'd option is a loud error, not a silent default") {
    withLake { (sink, dir) =>
      seed(sink)
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft-lake").option("path", dir)
          .option("table", "public.users").option("asOfBach", "0").load()
      }
      assert(e.getMessage.contains("asofbach") &&
        e.getMessage.contains("asofbatch"), e.getMessage)
      val e2 = intercept[Exception] {
        spark.readStream.format("graft-lake").option("path", dir)
          .option("maxBatchesPerTriger", "1").load()
      }
      assert(e2.getMessage.contains("maxbatchespertriger"), e2.getMessage)
    }
  }

  test("batch: changelog read, fromBatch filter, and a fresh batch on re-scan") {
    withLake { (sink, dir) =>
      seed(sink)
      val rel = spark.read.format("graft-lake").option("path", dir).load()
      assert(rel.count() == 4)
      assert(rel.filter(col("batch_id") === 1L).count() == 2)
      val from0 = spark.read.format("graft-lake")
        .option("path", dir).option("fromBatch", "0").load()
      assert(from0.select("batch_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
      // the relation re-plans per scan: a batch landed after load() is seen
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 2L)
      assert(rel.count() == 5)
    }
  }

  /** Drive one run of a graft-lake stream into a driver-side collector
    * (the memory sink cannot recover from a checkpoint, foreachBatch can).
    * Returns (lsn, batch_id) pairs delivered THIS run and the number of
    * row-bearing triggers.
    */
  private def drain(
      dir: String, ckpt: String, trigger: Trigger,
      options: Map[String, String] = Map.empty): (Seq[(Long, Long)], Int) = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    var reader = spark.readStream.format("graft-lake").option("path", dir)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        df.select("lsn", "batch_id").collect()
          .foreach(r => buf.add((r.getLong(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(trigger).start()
    q.awaitTermination(60000)
    val triggers = q.recentProgress.count(_.numInputRows > 0)
    // ReportsSourceMetrics surface: every progress event carries the
    // delivered interval + backlog gauges
    q.recentProgress.lastOption.foreach { pr =>
      val m = pr.sources.head.metrics
      assert(m.containsKey("deliveredFloor") && m.containsKey("backlogBatches"),
        s"source metrics missing: $m")
    }
    (scala.jdk.CollectionConverters.IteratorHasAsScala(buf.iterator()).asScala.toSeq.sorted,
      triggers)
  }

  test("streaming: delivers committed batches exactly once across triggers and restarts") {
    withLake { (sink, dir) =>
      seed(sink)
      val ckpt = Files.createTempDirectory("lake-read-ckpt").toString
      try {
        val (got1, _) = drain(dir, ckpt, Trigger.AvailableNow())
        assert(got1.map(_._1) == Seq(1L, 2L, 3L, 4L))
        // a rerun with nothing new delivers nothing (exactly-once)
        val (gotIdle, _) = drain(dir, ckpt, Trigger.AvailableNow())
        assert(gotIdle.isEmpty, s"idle restart must redeliver nothing, got $gotIdle")
        // new stream batch + a LATE snapshot batch (downward id space)
        sink.appendBatch(envelope(Seq(
          ev(9, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 2L)
        sink.appendSnapshot("public.parts",
          spark.createDataFrame(
            new java.util.ArrayList[Row](scala.jdk.CollectionConverters
              .SeqHasAsJava(Seq(Row(41, "bolt"), Row(42, "nut"))).asJava),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("pname",
                org.apache.spark.sql.types.StringType)))),
          Seq("id"), 0L, -1L)
        val (got2, _) = drain(dir, ckpt, Trigger.AvailableNow())
        assert(got2.map(_._2).sorted == Seq(-1L, -1L, 2L),
          "restart delivers ONLY the new ids: the late snapshot batch and epoch 2")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      }
    }
  }

  test("streaming: tables filter and maxBatchesPerTrigger admission cap") {
    withLake { (sink, dir) =>
      val ckpt = Files.createTempDirectory("lake-read-ckpt2").toString
      try {
        // First run seeds the checkpoint with batch 0 delivered.
        sink.appendBatch(envelope(Seq(
          ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
          ev(2, "insert", "orders", null, Map("id" -> "7", "total" -> "9.5")))), 0L)
        val (got0, _) = drain(dir, ckpt, Trigger.AvailableNow(),
          Map("tables" -> "public.users"))
        assert(got0 == Seq((1L, 0L)), "orders row filtered out")
        // Three more batches land; a capped RESTART must deliver them one
        // per trigger (admission control receives the checkpointed start,
        // so the cap can never plan behind it).
        (1 to 3).foreach { i =>
          sink.appendBatch(envelope(Seq(
            ev(10 + i, "insert", "users", null,
              Map("id" -> s"${10 + i}", "name" -> s"n$i")))), i.toLong)
        }
        val (got, triggers) = drain(dir, ckpt, Trigger.AvailableNow(),
          Map("tables" -> "public.users", "maxBatchesPerTrigger" -> "1"))
        assert(got == Seq((11L, 1L), (12L, 2L), (13L, 3L)),
          "exactly the three new batches, no redelivery of batch 0")
        assert(triggers >= 3,
          s"cap=1 must spread 3 batches over >=3 triggers, got $triggers")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      }
    }
  }

  test("streaming: typed change feed projects through the persisted relation schema") {
    withLake { (sink, dir) =>
      sink.writeRelations(spark, Seq(graft.pgproto.Messages.Relation(
        0L, 9001L, "public", "users", 'f'.toByte,
        Array(
          graft.pgproto.Messages.RelationColumn("id", 23L, -1, 1),
          graft.pgproto.Messages.RelationColumn("name", 25L, -1, 0)))))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "users", null, Map("id" -> "1", "name" -> "a")),
        ev(2, "insert", "orders", null, Map("id" -> "7", "total" -> "9.5")),
        ev(3, "delete", "users", Map("id" -> "1", "name" -> "a"), null))), 0L)
      val ckpt = Files.createTempDirectory("lake-read-ckpt4").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
      try {
        val df = spark.readStream.format("graft-lake").option("path", dir)
          .option("table", "public.users").option("typed", "true").load()
        assert(df.schema("id").dataType ==
          org.apache.spark.sql.types.IntegerType, "typed id column")
        val q = df.writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            b.select("id", "name", "op").collect()
              .foreach(r => got.add((r.getInt(0), r.getString(1), r.getString(2))))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
        val rows = scala.jdk.CollectionConverters
          .IteratorHasAsScala(got.iterator()).asScala.toSeq.sortBy(_._3)
        assert(rows == Seq((1, "a", "delete"), (1, "a", "insert")),
          s"typed rows with the delete carrying its before image; got $rows")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      }
    }
  }

  test("sink: writeStream.format(graft-lake) lands the envelope with exactly-once batches") {
    withLake { (src, srcDir) =>
      withLake { (dst, dstDir) =>
        seed(src)
        val ckpt = Files.createTempDirectory("lake-sink-ckpt").toString
        try {
          def pump(): Unit = {
            val q = spark.readStream.format("graft-lake").option("path", srcDir).load()
              .drop("batch_id") // the sink assigns its own epoch ids
              .writeStream.format("graft-lake").option("path", dstDir)
              // the sink's tuning option must survive the provider's
              // schema-inference validation (DataStreamWriter resolves
              // the table BEFORE the v1 sink fallback)
              .option("baseBuckets", "8")
              .option("checkpointLocation", ckpt)
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination(60000)
          }
          pump()
          assert(dst.changelog(spark).count() == 4,
            "all source events landed in the destination lake")
          // re-pump with nothing new: checkpoint + markers keep it at 4
          pump()
          assert(dst.changelog(spark).count() == 4)
          src.appendBatch(envelope(Seq(
            ev(9, "insert", "users", null, Map("id" -> "3", "name" -> "c")))), 2L)
          pump()
          assert(dst.changelog(spark).count() == 5)
          val folded = dst.latestState(spark, "public", "users")
            .select(col("k")).collect().map(_.getString(0)).toSet
          assert(folded == Set("1", "2", "3"), "destination lake folds like the source")
          // the event log is append-only: other output modes refuse
          val e = intercept[Exception] {
            spark.readStream.format("graft-lake").option("path", srcDir).load()
              .groupBy("table").count()
              .writeStream.format("graft-lake").option("path", dstDir)
              .outputMode("complete")
              .option("checkpointLocation",
                Files.createTempDirectory("lake-sink-ckpt2").toString)
              .trigger(Trigger.AvailableNow()).start()
          }
          assert(e.getMessage.contains("append-only") ||
            e.getMessage.toLowerCase.contains("complete"))
        } finally {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
        }
      }
    }
  }

  test("streaming: a vacuumed undelivered late snapshot batch refuses the negative-side gap") {
    withLake { (sink, dir) =>
      seed(sink)
      val ckpt = Files.createTempDirectory("lake-read-ckpt5").toString
      try {
        val (got1, _) = drain(dir, ckpt, Trigger.AvailableNow())
        assert(got1.size == 4)
        // a late snapshot lands, is folded and vacuumed before the stream
        // ever sees it — restart must refuse, not silently skip
        sink.appendSnapshot("public.parts",
          spark.createDataFrame(
            new java.util.ArrayList[Row](scala.jdk.CollectionConverters
              .SeqHasAsJava(Seq(Row(41, "bolt"))).asJava),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("pname",
                org.apache.spark.sql.types.StringType)))),
          Seq("id"), 0L, -1L)
        sink.compact(spark)
        sink.vacuum(spark)
        assert(sink.vacuumLowWater(spark) == -1L)
        val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          val q = spark.readStream.format("graft-lake").option("path", dir).load()
            .writeStream
            .foreachBatch { (_: org.apache.spark.sql.Dataset[Row], _: Long) => () }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination(60000)
          fail("query finished without refusing the negative-side gap")
        }
        def causes(t: Throwable): Seq[Throwable] =
          Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
        assert(causes(err).exists(c =>
          c.isInstanceOf[IllegalStateException] &&
            c.getMessage.contains("deleted snapshot batches")),
          s"expected the negative-side refusal, got: ${err.getMessage}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      }
    }
  }

  test("streaming: a restart below the vacuum high-water mark refuses the gap") {
    withLake { (sink, dir) =>
      seed(sink)
      val ckpt = Files.createTempDirectory("lake-read-ckpt3").toString
      try {
        // consume only batch 0 (cap 1, single trigger), then stop
        val (got1, _) = drain(dir, ckpt, Trigger.Once(),
          Map("maxBatchesPerTrigger" -> "1"))
        assert(got1 == Seq((1L, 0L), (2L, 0L)), s"one capped trigger, got $got1")
        // fold + vacuum everything: batch 1 is gone before delivery; a new
        // batch then lands so the restart has something to trigger on
        sink.compact(spark)
        sink.vacuum(spark)
        sink.appendBatch(envelope(Seq(
          ev(9, "insert", "users", null, Map("id" -> "9", "name" -> "z")))), 3L)
        val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          val q2 = spark.readStream.format("graft-lake").option("path", dir).load()
            .writeStream
            .foreachBatch { (_: org.apache.spark.sql.Dataset[Row], _: Long) => () }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q2.awaitTermination(60000)
          fail("query finished without refusing the gap")
        }
        def causes(t: Throwable): Seq[Throwable] =
          Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
        assert(causes(err).exists(c =>
          c.isInstanceOf[IllegalStateException] &&
            c.getMessage.contains("vacuum has deleted")),
          s"expected the vacuum-gap refusal, got: ${err.getMessage}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      }
    }
  }
}
