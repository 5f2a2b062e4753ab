package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The CDC-maintained IVF posting index: postings stay exact for the
  * CURRENT corpus under embedding churn, the driver-side bucket pruning
  * agrees with the engine's hash, and maintenance is indistinguishable
  * from a from-scratch rebuild.
  */
class MaintainedIvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(
      lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "vecs", T, T, Seq("id"), before, after)
  private def doc(id: String, emb: String): Map[String, String] =
    Map("id" -> id, "emb" -> emb)

  // three well-separated 2-D centroids
  private val Cents = Seq(Seq(0f, 0f), Seq(10f, 10f), Seq(20f, 0f))

  private def mkIndex(sink: LakeSink, name: String = "ivf") =
    new MaintainedIvfIndex(sink, "public", "vecs", name,
      idKey = "id", embKey = "emb", centroids = Cents, stateBuckets = 8)

  private def hits(ix: MaintainedIvfIndex, q: Seq[Float], nprobe: Int = 1): Set[String] =
    ix.search(spark, q, nprobe).collect().map(_.getString(0)).toSet

  private def withIndex(body: (LakeSink, MaintainedIvfIndex, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-ivf").toString
    try {
      val sink = new LakeSink(dir)
      body(sink, mkIndex(sink), dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("drift -> retrainAndRebuild: error drops, searches serve under the new model, the old instance refuses") {
    val dir = Files.createTempDirectory("lake-ivf-rt").toString
    try {
      val sink = new LakeSink(dir)
      // a deliberately BAD model: both centroids far from every doc
      val bad = new MaintainedIvfIndex(sink, "public", "vecs", "rt",
        idKey = "id", embKey = "emb",
        centroids = Seq(Seq(100f, 100f), Seq(120f, 100f)), stateBuckets = 8)
      // two tight real clusters around (0,0) and (10,10)
      val docs = (0 until 8).map { i =>
        val (bx, by) = if (i % 2 == 0) (0f, 0f) else (10f, 10f)
        ev(i + 1L, "insert", null,
          doc(s"v$i", s"${bx + i * 0.01f},${by - i * 0.01f}"))
      }
      sink.appendBatch(envelope(docs), 0L)
      assert(bad.refresh(spark) == 1)
      // the drift gauge: huge under the bad model
      val qe0 = bad.quantizationError(spark)
      assert(qe0 > 5000, s"bad model must show large quantization error: $qe0")
      // the composed loop: train from the lake's current state, rebuild
      // under the new fingerprint, return the successor
      val good = bad.retrainAndRebuild(spark, kCells = 2)
      val qe1 = good.quantizationError(spark)
      assert(qe1 < 1.0, s"retrained model must fit the two clusters: $qe1")
      assert(qe1 < qe0 / 1000)
      // searches serve under the new model: each cluster is one cell
      val near0 = good.searchTopK(spark, Seq(0f, 0f), nprobe = 1, k = 8)
        .collect().map(_.getString(0)).toSet
      assert(near0 == (0 until 8 by 2).map(i => s"v$i").toSet, s"$near0")
      // the OLD instance refuses everything from the marker on
      intercept[IllegalStateException](bad.search(spark, Seq(0f, 0f), 1))
      intercept[IllegalStateException](bad.refresh(spark))
      intercept[IllegalStateException](bad.quantizationError(spark))
      // incremental maintenance continues under the successor
      sink.appendBatch(envelope(Seq(
        ev(100, "insert", null, doc("v9", "9.9,10.2")))), 1L)
      assert(good.refresh(spark) == 1)
      // v9 joined cluster (10,10)'s cell (v1 at (10.01, 9.99) stays the
      // closest — the re-rank is exact)
      val near10 = good.searchTopK(spark, Seq(10f, 10f), nprobe = 1, k = 5)
        .collect().map(_.getString(0)).toSeq
      assert(near10.head == "v1" && near10.contains("v9"), s"$near10")
      // the retrainer is deterministic: same corpus, same model
      assert(good.trainCentroidsFromCorpus(spark, 2) ==
        good.trainCentroidsFromCorpus(spark, 2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("postings assign to the nearest cell; churn moves and retracts them") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a", "0.5,0.5")),     // cell 0
        ev(2, "insert", null, doc("b", "1.0,0.0")),     // cell 0
        ev(3, "insert", null, doc("c", "9.5,10.5")))), 0L) // cell 1
      assert(ix.refresh(spark) == 1)
      assert(hits(ix, Seq(0.2f, 0.1f)) == Set("a", "b"))
      assert(hits(ix, Seq(10f, 10f)) == Set("c"))
      assert(hits(ix, Seq(0.2f, 0.1f), nprobe = 2) == Set("a", "b", "c"))
      // an embedding edit MOVES the posting: b migrates cell 0 -> cell 2
      sink.appendBatch(envelope(Seq(
        ev(4, "update", doc("b", "1.0,0.0"), doc("b", "19.5,0.5")))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(hits(ix, Seq(0.2f, 0.1f)) == Set("a"))
      assert(hits(ix, Seq(20f, 0f)) == Set("b"))
      // a delete retracts exactly its posting
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", doc("a", "0.5,0.5"), null))), 2L)
      assert(ix.refresh(spark) == 1)
      assert(hits(ix, Seq(0.2f, 0.1f)).isEmpty)
      val cells = ix.cells(spark).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(cells == Map(1 -> 1L, 2 -> 1L))
    }
  }

  test("missing or mis-dimensioned embeddings contribute nothing; edits onto/off behave as insert/delete") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("m", "")),          // unparseable
        ev(2, "insert", null, doc("w", "1.0")),       // wrong dim
        ev(3, "insert", null, Map("id" -> "n")))), 0L) // absent
      assert(ix.refresh(spark) == 1)
      assert(ix.cells(spark).isEmpty)
      // gaining a valid embedding is a pure posting insert
      sink.appendBatch(envelope(Seq(
        ev(4, "update", doc("w", "1.0"), doc("w", "0.1,0.1")))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(hits(ix, Seq(0f, 0f)) == Set("w"))
      // losing it again is a pure posting delete
      sink.appendBatch(envelope(Seq(
        ev(5, "update", doc("w", "0.1,0.1"), doc("w", "0.1")))), 2L)
      assert(ix.refresh(spark) == 1)
      assert(ix.cells(spark).isEmpty)
    }
  }

  test("replay after a lost cursor advance is idempotent") {
    withIndex { (sink, ix, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a", "0.5,0.5")))), 0L)
      assert(ix.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(2, "delete", doc("a", "0.5,0.5"), null))), 1L)
      assert(ix.refresh(spark) == 1)
      val cf = new java.io.File(s"$root/_graft_cursors/view_ivf")
      new java.io.File(s"$root/_graft_cursors/.view_ivf.crc").delete()
      java.nio.file.Files.write(cf.toPath, "0:0".getBytes)
      assert(ix.refresh(spark) == 1)
      assert(ix.cells(spark).isEmpty)
    }
  }

  test("seed after compact+vacuum indexes BASE-only documents") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a", "0.5,0.5")))), 0L)
      sink.compact(spark)
      sink.vacuum(spark)
      sink.seedCursor(spark, "view_ivf")
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", null, doc("c", "10.5,9.5")))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(hits(ix, Seq(0f, 0f)) == Set("a"), "BASE-only doc must be indexed")
      assert(hits(ix, Seq(10f, 10f)) == Set("c"))
    }
  }

  test("searchTopK: exact re-rank over fetched embeddings matches brute force after churn") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a", "0.5,0.5")),      // cell 0 (deleted below)
        ev(2, "insert", null, doc("b", "1.0,0.0")),      // cell 0 -> moves to 1
        ev(3, "insert", null, doc("c", "9.5,10.5")),     // cell 1
        ev(4, "insert", null, doc("c2", "10.5,9.5")),    // cell 1 — ties c at (10,10)
        ev(5, "insert", null, doc("e", "19.5,0.5")))), 0L) // cell 2
      assert(ix.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(6, "update", doc("b", "1.0,0.0"), doc("b", "10.5,9.0")),
        ev(7, "delete", doc("a", "0.5,0.5"), null))), 1L)
      assert(ix.refresh(spark) == 1)
      // survivors and exact squared-L2 distances to (10,10):
      //   d(c)=0.5  d(c2)=0.5  d(b)=1.25  d(e)=180.5 — a is GONE
      def top(q: Seq[Float], nprobe: Int, k: Int): Seq[(String, Double)] =
        ix.searchTopK(spark, q, nprobe, k).collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(top(Seq(10f, 10f), nprobe = 3, k = 10) ==
        Seq(("c", 0.5), ("c2", 0.5), ("b", 1.25), ("e", 180.5)),
        "full-probe ranking must equal brute force over the surviving corpus")
      // k cuts; the 0.5 tie breaks on id (c < c2)
      assert(top(Seq(10f, 10f), nprobe = 3, k = 2) == Seq(("c", 0.5), ("c2", 0.5)))
      assert(top(Seq(10f, 10f), nprobe = 3, k = 3) ==
        Seq(("c", 0.5), ("c2", 0.5), ("b", 1.25)))
      // nprobe=1 re-ranks only the probed cell's postings
      assert(top(Seq(20f, 0f), nprobe = 1, k = 10) == Seq(("e", 0.5)))
      assert(top(Seq(10f, 10f), nprobe = 1, k = 10) ==
        Seq(("c", 0.5), ("c2", 0.5), ("b", 1.25)), "cell 1's three postings only")
    }
  }

  test("retrained centroids over an existing state refuse loudly; rebuild migrates") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a", "0.5,0.5")),     // cell 0 under Cents
        ev(2, "insert", null, doc("c", "10.5,9.5")))), 0L) // cell 1
      assert(ix.refresh(spark) == 1)
      // offline retraining moves the model; count and dim are unchanged —
      // only the centroid CONTENT hash distinguishes the families. Under
      // the new model 'a' belongs to cell 1 and 'c' to cell 0: an
      // unguarded open would leave both postings under the OLD cells and
      // silently miss them from every retrained-model search.
      val retrained = Seq(Seq(5f, 5f), Seq(0f, 0f), Seq(20f, 0f))
      val ix2 = new MaintainedIvfIndex(sink, "public", "vecs", "ivf",
        idKey = "id", embKey = "emb", centroids = retrained, stateBuckets = 8)
      val eR = intercept[IllegalStateException](ix2.refresh(spark))
      assert(eR.getMessage.contains("different parameters") &&
        eR.getMessage.contains("rebuild"),
        s"refusal must name the rebuild path: ${eR.getMessage}")
      intercept[IllegalStateException](ix2.search(spark, Seq(0f, 0f), 1))
      intercept[IllegalStateException](ix2.cells(spark))
      // the prescribed migration: full re-assignment, fingerprint adopted
      ix2.rebuild(spark)
      assert(hits(ix2, Seq(0f, 0f)) == Set("a"), "cell 1 under the new model")
      assert(hits(ix2, Seq(5f, 5f)) == Set("c"), "cell 0 under the new model")
      // incremental maintenance continues under the new model
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, doc("d", "19.5,0.5")))), 1L)
      assert(ix2.refresh(spark) == 1)
      assert(hits(ix2, Seq(20f, 0f)) == Set("d"))
      // the ORIGINAL instance is now the mismatched one — symmetric guard
      intercept[IllegalStateException](ix.refresh(spark))
      intercept[IllegalStateException](ix.cells(spark))
    }
  }

  test("point lookup follows the engine's float-square tie-break on near-tie embeddings") {
    // Two centroids whose distances to the origin TIE in the engine's
    // arithmetic (float-squared components, double accumulate:
    // fl(x0²)+fl(y0²) == fl(x1²)+fl(y1²) exactly) but differ when the
    // squares are taken in double — cell 1 is truly nearer by ~1.5e-8.
    // The engine breaks its tie to the LOWER cell; a probe assigned in
    // any other arithmetic would resolve the tie to cell 1 and probe the
    // wrong bucket, silently missing the exact-match document at
    // nprobe=1.
    val tieCents = Seq(
      Seq(0.7379646301269531f, 1.04422926902771f),
      Seq(0.7379644513130188f, 1.0442293882369995f))
    val dir = Files.createTempDirectory("lake-ivf-tie").toString
    try {
      val sink = new LakeSink(dir)
      val ix = new MaintainedIvfIndex(sink, "public", "vecs", "ivftie",
        idKey = "id", embKey = "emb", centroids = tieCents, stateBuckets = 8)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("t", "0,0")))), 0L)
      assert(ix.refresh(spark) == 1)
      // the engine assigned the doc to cell 0 (tie -> lower index)
      val cells = ix.cells(spark).collect().map(r => r.getInt(0)).toSeq
      assert(cells == Seq(0), s"engine must tie-break to cell 0, got $cells")
      // and the end-to-end point lookup finds the doc
      assert(hits(ix, Seq(0f, 0f)) == Set("t"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("maintained index equals a from-scratch rebuild after arbitrary churn") {
    val embs = Seq("0.5,0.5", "1.0,0.2", "10.2,9.7", "9.1,10.4", "19.5,0.3", "1.0")
    withIndex { (sink, ix, _) =>
      val rnd = new scala.util.Random(61L)
      val live = scala.collection.mutable.Map.empty[String, String]
      var lsn = 10L
      (0 until 6).foreach { batch =>
        val rows = (0 until 3).map { _ =>
          lsn += 1
          val id = s"v${rnd.nextInt(8)}"
          live.get(id) match {
            case Some(old) if rnd.nextInt(4) == 0 =>
              live.remove(id); ev(lsn, "delete", doc(id, old), null)
            case Some(old) =>
              val e = embs(rnd.nextInt(embs.size))
              live(id) = e; ev(lsn, "update", doc(id, old), doc(id, e))
            case None =>
              val e = embs(rnd.nextInt(embs.size))
              live(id) = e; ev(lsn, "insert", null, doc(id, e))
          }
        }
        sink.appendBatch(envelope(rows), batch.toLong)
        assert(ix.refresh(spark) == 1)
        val dir2 = Files.createTempDirectory("lake-ivf-rebuild").toString
        try {
          val sink2 = new LakeSink(dir2)
          val fresh = mkIndex(sink2)
          sink2.appendBatch(envelope(live.toSeq.zipWithIndex.map {
            case ((id, e), i) => ev(1000L + i, "insert", null, doc(id, e))
          }), 0L)
          fresh.refresh(spark)
          def postings(x: MaintainedIvfIndex): Set[(Int, String)] =
            x.search(spark, Seq(0f, 0f), nprobe = Cents.size).collect()
              .map(r => (r.getInt(1), r.getString(0))).toSet
          assert(postings(ix) == postings(fresh),
            s"batch $batch: maintained != rebuilt (live=$live)")
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir2))
      }
    }
  }
}
