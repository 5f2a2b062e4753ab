package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The maintained SemDeDup verdict table: every refresh is checked
  * against the batch pipeline's from-scratch recompute
  * ([[MaintainedSemDedup.assertConsistent]] — the churn==rebuild
  * equivalence the r19 verdict asked for) AND against hand-computed
  * keep/drop sets, through the churn shapes the incremental path must
  * get right: embedding updates that MOVE a doc between cells (both
  * cells' verdicts change), a keeper's delete re-opening its dups'
  * verdicts, unusable embeddings entering the corpus, replay
  * idempotence, truncate reseed through BASE, the REPLICA IDENTITY FULL
  * and id-is-row-key refusals, the model marker, and dirty-cell write
  * boundedness.
  */
class MaintainedSemDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(lsn: Long, op: String, keys: Seq[String],
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "docs", T, T, keys, before, after)

  private def doc(id: String, emb: String): Map[String, String] =
    if (emb == null) Map("id" -> id) else Map("id" -> id, "emb" -> emb)

  // two far-apart cells; parallel vectors are exact duplicates (cos 1)
  private val Cents = Seq(Seq(0f, 0f), Seq(10f, 10f))
  private val Tau = 0.95

  private def withDedup(body: (LakeSink, MaintainedSemDedup) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-sd").toString
    try {
      val sink = new LakeSink(dir)
      val sd = new MaintainedSemDedup(sink, "public", "docs", "sd",
        idKey = "id", embKey = "emb", centroids = Cents, tau = Tau,
        stateBuckets = 4)
      body(sink, sd)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** (id, dropped) of the served verdicts. */
  private def verdictSet(sd: MaintainedSemDedup): Set[(String, Boolean)] =
    sd.read(spark).collect().map(r => (r.getString(1), r.getBoolean(2))).toSet

  test("seed, cross-cell move, keeper deletion, and an unusable embedding gaining one — all equal the batch recompute") {
    withDedup { (sink, sd) =>
      assert(verdictSet(sd).isEmpty)
      // cell 0: a=(1,0) ∥ b=(2,0) → b dropped; c=(0,1) orthogonal, kept.
      // cell 1: d=(9,9) ∥ e=(10,10) → e dropped. u: NO embedding →
      // outside the state (the batch pipeline's usable filter).
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")),
        ev(2, "insert", Seq("id"), null, doc("b", "2,0")),
        ev(3, "insert", Seq("id"), null, doc("c", "0,1")),
        ev(4, "insert", Seq("id"), null, doc("d", "9,9")),
        ev(5, "insert", Seq("id"), null, doc("e", "10,10")),
        ev(6, "insert", Seq("id"), null, doc("u", null)))), 0L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("a", false), ("b", true), ("c", false),
        ("d", false), ("e", true)))
      assert(sd.assertConsistent(spark) == 5L)
      assert(sd.survivors(spark).collect().map(_.getString(0)).toSet ==
        Set("a", "c", "d"))
      assert(sd.refresh(spark) == 0, "replay: nothing new, nothing applied")

      // b MOVES cells ((2,0) → (9.5,9.5)): cell 0 loses its only dup
      // pair (b's old verdict retracts), cell 1 gains a LOWER-id keeper
      // (d and e both flip dropped). u gains an embedding (0,2) ∥ c →
      // u enters cell 0 dropped.
      sink.appendBatch(envelope(Seq(
        ev(7, "update", Seq("id"), doc("b", "2,0"), doc("b", "9.5,9.5")),
        ev(8, "update", Seq("id"), doc("u", null), doc("u", "0,2")))), 1L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("a", false), ("b", false), ("c", false),
        ("d", true), ("e", true), ("u", true)))
      assert(sd.assertConsistent(spark) == 6L)

      // keeper deletions re-open their dups' verdicts: b leaves cell 1
      // (d becomes keeper, e stays dropped), c leaves cell 0 (u kept)
      sink.appendBatch(envelope(Seq(
        ev(9, "delete", Seq("id"), doc("b", "9.5,9.5"), null),
        ev(10, "delete", Seq("id"), doc("c", "0,1"), null))), 2L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("a", false), ("d", false), ("e", true),
        ("u", false)))
      assert(sd.assertConsistent(spark) == 4L)
    }
  }

  test("dirty-cell write boundedness: a one-doc churn rewrites only the churned cell's bucket") {
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")),
        ev(2, "insert", Seq("id"), null, doc("b", "0,1")),
        ev(3, "insert", Seq("id"), null, doc("d", "9,9")),
        ev(4, "insert", Seq("id"), null, doc("e", "10,10")))), 0L)
      assert(sd.refresh(spark) == 1)
      // churn INSIDE cell 1 only (e stays parallel to d)
      sink.appendBatch(envelope(Seq(
        ev(5, "update", Seq("id"), doc("e", "10,10"), doc("e", "9.8,9.8")))), 1L)
      assert(sd.refresh(spark) == 1)
      assert(sd.assertConsistent(spark) == 4L)
      val log = sd.stateLog
      val f = log.fs(spark)
      val key = sd.latestKey(spark).get
      val vName = s"v${IntervalKeys.name(key)}"
      val (written, carried) =
        log.entries(f, key).partition(_._2.startsWith(vName))
      def bucketOf(cell: Int): Int =
        spark.range(1).select(log.bucketExpr(Seq(lit(cell)))).head().getInt(0)
      val dirtyBucket = bucketOf(1)
      assert(written.keySet.map(_._1) == Set(dirtyBucket),
        s"one-cell churn must rewrite only bucket $dirtyBucket, wrote " +
          s"${written.keySet}")
      val cell0Bucket = bucketOf(0)
      if (cell0Bucket != dirtyBucket)
        assert(carried.keySet.map(_._1).contains(cell0Bucket),
          "the clean cell's bucket must carry by reference")
    }
  }

  test("truncate reseeds through the boundary; seed reads through BASE after compact+vacuum") {
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")),
        ev(2, "insert", Seq("id"), null, doc("b", "2,0")))), 0L)
      // compact + vacuum BEFORE the first refresh: the seed must fold
      // through BASE (no surviving changelog row mentions these docs)
      sink.compact(spark)
      sink.vacuum(spark)
      sink.seedCursor(spark, "semdedup_sd")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", Seq("id"), null, doc("c", "0,1")))), 1L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("a", false), ("b", true), ("c", false)))
      assert(sd.assertConsistent(spark) == 3L)
      sink.appendBatch(envelope(Seq(
        Row(10L, 10L, 7L, "truncate", "public", "docs", T, T, null, null, null),
        ev(11, "insert", Seq("id"), null, doc("z", "9,9")))), 2L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("z", false)))
      assert(sd.assertConsistent(spark) == 1L)
    }
  }

  test("contract refusals: before-less retraction, a non-id replica key, and a mismatched model") {
    // each refusal needs its own lake — a refused span stays
    // undelivered, so a later batch would replay it in the same span
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")))), 0L)
      assert(sd.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(2, "update", Seq("id"), null, doc("a", "2,0")))), 1L)
      val e1 = intercept[IllegalStateException] { sd.refresh(spark) }
      assert(e1.getMessage.contains("REPLICA IDENTITY FULL"), e1.getMessage)
      // a retrained model over the same state dir refuses by marker
      val other = new MaintainedSemDedup(sink, "public", "docs", "sd",
        idKey = "id", embKey = "emb", centroids = Cents, tau = 0.5,
        stateBuckets = 4)
      val e3 = intercept[IllegalStateException] { other.refresh(spark) }
      assert(e3.getMessage.contains("different model"), e3.getMessage)
      val e4 = intercept[IllegalStateException] { other.read(spark) }
      assert(e4.getMessage.contains("different model"), e4.getMessage)
    }
    withDedup { (sink, sd) =>
      // a span with a different identity shape refuses (the candidate
      // fold prunes on the id)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id", "emb"), null, doc("x", "3,0")))), 0L)
      val e2 = intercept[IllegalStateException] { sd.refresh(spark) }
      assert(e2.getMessage.contains("replica-identity"), e2.getMessage)
    }
  }

  test("an empty state dir's mistyped model may be re-stamped by a writer; committed state still refuses") {
    withDedup { (sink, sd) =>
      // a refresh over an EMPTY lake stamps the model yet commits no
      // state — the corrected construction must not be burned forever
      val wrong = new MaintainedSemDedup(sink, "public", "docs", "sd",
        idKey = "id", embKey = "emb", centroids = Cents, tau = 0.5,
        stateBuckets = 4)
      assert(wrong.refresh(spark) == 0)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")),
        ev(2, "insert", Seq("id"), null, doc("b", "2,0")))), 0L)
      assert(sd.refresh(spark) == 1) // re-stamps tau 0.95 and serves
      assert(verdictSet(sd) == Set(("a", false), ("b", true)))
      // but once state is committed the model is fixed
      val wrong2 = new MaintainedSemDedup(sink, "public", "docs", "sd",
        idKey = "id", embKey = "emb", centroids = Cents, tau = 0.5,
        stateBuckets = 4)
      val e = intercept[IllegalStateException] { wrong2.refresh(spark) }
      assert(e.getMessage.contains("different model"), e.getMessage)
    }
  }

  test("committed state whose model marker is gone refuses rather than re-stamping") {
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")))), 0L)
      assert(sd.refresh(spark) == 1)
      val stateDir = new java.io.File(sink.root, "_graft_semdedup/sd")
      assert(new java.io.File(stateDir, "_model").delete())
      new java.io.File(stateDir, "._model.crc").delete()
      // the model the committed state was built under is now unknown
      val reopened = new MaintainedSemDedup(sink, "public", "docs", "sd",
        idKey = "id", embKey = "emb", centroids = Cents, tau = Tau,
        stateBuckets = 4)
      val e = intercept[IllegalStateException] { reopened.refresh(spark) }
      assert(e.getMessage.contains("no _model marker"), e.getMessage)
      assert(!new java.io.File(stateDir, "_model").exists, "nothing re-stamped")
    }
  }

  /** Rewind the maintainer's cursor to `0:0` — the crash window where the
    * state committed but the cursor advance was lost.
    */
  private def rewindCursor(sink: LakeSink): Unit = {
    // the raw write bypasses Hadoop's checksum sidecar — drop it too
    new java.io.File(s"${sink.root}/_graft_cursors/.semdedup_sd.crc").delete()
    java.nio.file.Files.write(
      new java.io.File(s"${sink.root}/_graft_cursors/semdedup_sd").toPath,
      "0:0".getBytes)
  }

  private def versions(sd: MaintainedSemDedup): Seq[(Long, Long)] =
    sd.stateLog.committed(sd.stateLog.fs(spark))

  test("replay after a lost cursor advance is idempotent and commits no new version") {
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")),
        ev(2, "insert", Seq("id"), null, doc("b", "2,0")))), 0L)
      assert(sd.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", Seq("id"), doc("a", "1,0"), null))), 1L)
      assert(sd.refresh(spark) == 1)
      val healthy = verdictSet(sd)
      assert(healthy == Set(("b", false)))
      val committed = versions(sd)
      rewindCursor(sink)
      assert(sink.cursor(spark, "semdedup_sd") == 0L)
      // the replayed span must not double-apply the delete
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == healthy)
      assert(versions(sd) == committed, "a replayed span commits nothing")
      assert(sink.cursor(spark, "semdedup_sd") == 1L, "cursor healed")
      assert(sd.refresh(spark) == 0)
      assert(sd.assertConsistent(spark) == 1L)
    }
  }

  test("an empty committed batch advances the cursor without touching state") {
    withDedup { (sink, sd) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("a", "1,0")))), 0L)
      assert(sd.refresh(spark) == 1)
      val committed = versions(sd)
      sink.appendBatch(envelope(Seq.empty), 1L)
      assert(sd.refresh(spark) == 1, "the empty batch is consumed")
      assert(verdictSet(sd) == Set(("a", false)))
      assert(versions(sd) == committed, "an empty span commits nothing")
      assert(sd.refresh(spark) == 0, "cursor advanced past the empty batch")
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", Seq("id"), null, doc("b", "2,0")))), 2L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("a", false), ("b", true)))
      assert(sd.assertConsistent(spark) == 2L)
    }
  }

  test("a late snapshot batch below the cursor floor reaches the verdicts") {
    withDedup { (sink, sd) =>
      import spark.implicits._
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", Seq("id"), null, doc("b", "2,0")),
        ev(2, "insert", Seq("id"), null, doc("d", "9,9")))), 0L)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == Set(("b", false), ("d", false)))
      // the table's snapshot lands as a NEGATIVE batch id, below the
      // cursor's floor: the lower-id "a" now keeps and drops "b"
      sink.appendSnapshot("public.docs",
        Seq(("a", "1,0"), ("c", "0,1")).toDF("id", "emb"), Seq("id"), 0L, -1L)
      assert(sd.refresh(spark) == 1)
      val withSnapshot = Set(("a", false), ("b", true), ("c", false), ("d", false))
      assert(verdictSet(sd) == withSnapshot, "snapshot rows joined the verdicts")
      assert(sd.assertConsistent(spark) == 4L)
      // replay the same late span (cursor rewound): must not double-apply
      rewindCursor(sink)
      assert(sd.refresh(spark) == 1)
      assert(verdictSet(sd) == withSnapshot, "replayed snapshot span is idempotent")
    }
  }
}
