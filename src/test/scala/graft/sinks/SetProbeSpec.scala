package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The SET-ORIENTED probe reads of the maintained-index family
  * ([[MaintainedLshIndex.candidatesForAll]],
  * [[MaintainedIvfIndex.searchTopKAll]],
  * [[MaintainedBm25Index.searchAll]]): one job for N probes must return
  * EXACTLY what the per-probe point APIs return probe by probe, on a
  * churned corpus — and the state read must be probed-bucket-
  * proportional, never probes × state.
  */
class SetProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "docs", T, T, Seq("id"), before, after)

  private def probeFrame(cols: (String, String)*): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          cols.map { case (p, t) => Row(p, t) }).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.StringType))))

  test("LSH candidatesForAll == candidatesFor per probe, on a churned corpus") {
    val dir = Files.createTempDirectory("lake-setlsh").toString
    try {
      val sink = new LakeSink(dir)
      val ix = new MaintainedLshIndex(sink, "public", "docs", "slsh",
        idKey = "id", textKey = "text", stateBuckets = 8)
      val textA = "the quick brown fox jumps over the lazy dog tonight"
      val textB = "completely different words about winter mountain hiking trails today"
      def doc(id: String, t: String) = Map("id" -> id, "text" -> t)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", textA)),
        ev(2, "insert", null, doc("a2", textA)),
        ev(3, "insert", null, doc("b1", textB)))), 0L)
      assert(ix.refresh(spark) == 1)
      // churn: a2 edited away, b2 added
      sink.appendBatch(envelope(Seq(
        ev(4, "update", doc("a2", textA),
          doc("a2", "seven orange submarines quietly measure distant galactic harmonics")),
        ev(5, "insert", null, doc("b2", textB)))), 1L)
      assert(ix.refresh(spark) == 1)
      val probes = Seq(
        "p_a" -> textA,
        "p_b" -> textB,
        "p_short" -> "too few tokens",          // no signatures
        "p_none" -> "zero overlap with anything indexed here at all truly")
      val got = ix.candidatesForAll(spark, probeFrame(probes: _*),
        "pid", "payload").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
      val want = probes.flatMap { case (p, t) =>
        ix.candidatesFor(spark, t).collect()
          .map(r => (p, r.getString(0)) -> r.getInt(1))
      }.toMap
      assert(got == want, s"set vs loop: $got vs $want")
      assert(got.keySet.map(_._1) == Set("p_a", "p_b"),
        "short/no-match probes must contribute no rows")
      assert(got(("p_a", "a1")) == 4) // all bands
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("IVF searchTopKAll == searchTopK per probe, exact distances, on a churned corpus") {
    val dir = Files.createTempDirectory("lake-setivf").toString
    try {
      val sink = new LakeSink(dir)
      val cents = Seq(Seq(0f, 0f), Seq(10f, 0f), Seq(0f, 10f))
      val ix = new MaintainedIvfIndex(sink, "public", "docs", "sivf",
        idKey = "id", embKey = "emb", centroids = cents, stateBuckets = 8)
      def doc(id: String, e: String) = Map("id" -> id, "emb" -> e)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("o1", "1,1")),
        ev(2, "insert", null, doc("o2", "2,0")),
        ev(3, "insert", null, doc("x1", "9,1")),
        ev(4, "insert", null, doc("y1", "1,9")))), 0L)
      assert(ix.refresh(spark) == 1)
      // churn: o2 moves to cell 1's neighborhood, y1 deleted
      sink.appendBatch(envelope(Seq(
        ev(5, "update", doc("o2", "2,0"), doc("o2", "8,0")),
        ev(6, "delete", doc("y1", "1,9"), null))), 1L)
      assert(ix.refresh(spark) == 1)
      val probes = Seq(
        "q_o" -> "0.5,0.5",
        "q_x" -> "9,0",
        "q_bad" -> "1,2,3", // mis-dimensioned: no output rows
        "q_y" -> "0,9")
      val got = ix.searchTopKAll(spark, probeFrame(probes: _*),
        "pid", "payload", nprobe = 2, k = 3).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val want = probes.flatMap { case (p, e) =>
        val q = e.split(",")
        if (q.length != 2) Seq.empty
        else ix.searchTopK(spark, q.toSeq.map(_.toFloat), nprobe = 2, k = 3)
          .collect().map(r => (p, r.getString(0)) -> r.getDouble(1))
      }.toMap
      assert(got == want, s"set vs loop (exact doubles): $got vs $want")
      assert(!got.keySet.map(_._1).contains("q_bad"))
      assert(got.keySet.map(_._1) == Set("q_o", "q_x", "q_y"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("BM25 searchAll == search per probe (incl. the df cap), on a churned corpus") {
    val dir = Files.createTempDirectory("lake-setbm").toString
    try {
      val sink = new LakeSink(dir)
      val ix = new MaintainedBm25Index(sink, "public", "docs", "sbm",
        idKey = "id", textKey = "text", stateBuckets = 8)
      def doc(id: String, t: String) = Map("id" -> id, "text" -> t)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("d1", "the apple orchard grows the apple")),
        ev(2, "insert", null, doc("d2", "the banana grove")),
        ev(3, "insert", null, doc("d3", "the cherry tree blossom")),
        ev(4, "insert", null, doc("d4", "the date palm oasis")))), 0L)
      assert(ix.refresh(spark) == 1)
      // churn: d2 re-texted, d4 deleted, d5 added
      sink.appendBatch(envelope(Seq(
        ev(5, "update", doc("d2", "the banana grove"),
          doc("d2", "banana cherry smoothie")),
        ev(6, "delete", doc("d4", "the date palm oasis"), null),
        ev(7, "insert", null, doc("d5", "apple cherry pie")))), 1L)
      assert(ix.refresh(spark) == 1)
      val probes = Seq(
        "p1" -> "apple cherry",
        "p2" -> "the banana",    // "the": df 2 of 4 docs
        "p3" -> "42 --- !!!",    // no tokens: no rows
        "p4" -> "nonexistent")   // no postings: no rows
      for (cap <- Seq(Long.MaxValue, 2L)) {
        val got = ix.searchAll(spark, probeFrame(probes: _*),
          "pid", "payload", k = 10, dfCap = cap).collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
          .sortBy(_._1)
        val want = probes.flatMap { case (p, q) =>
          ix.search(spark, q, 10, dfCap = cap).collect()
            .map(r => ((p, r.getString(0)), r.getDouble(1)))
        }.sortBy(_._1)
        assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
          s"cap=$cap set vs loop ids: $got vs $want")
        got.zip(want).foreach { case ((gk, gs), (_, ws)) =>
          assert(math.abs(gs - ws) < 1e-9, s"cap=$cap score at $gk: $gs vs $ws")
        }
      }
      // cap=2 keeps "the" (df 2 after churn: d1, d3) — prove the capped
      // run wasn't vacuously identical by capping at 1
      val tight = ix.searchAll(spark, probeFrame("p2" -> "the banana"),
        "pid", "payload", k = 10, dfCap = 1L).collect()
        .map(r => r.getString(1)).toSet
      assert(tight == Set("d2"), s"df cap 1 must drop 'the': $tight")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("LSH verifiedCandidatesForAll == verifiedCandidatesFor per probe (exact Jaccard, thresholds)") {
    val dir = Files.createTempDirectory("lake-setvlsh").toString
    try {
      val sink = new LakeSink(dir)
      val ix = new MaintainedLshIndex(sink, "public", "docs", "svlsh",
        idKey = "id", textKey = "text", stateBuckets = 8)
      val textA = "the quick brown fox jumps over the lazy dog tonight"
      // near-dup of textA: shares most shingles, differs at the tail
      val textN = "the quick brown fox jumps over the lazy dog yesterday"
      def doc(id: String, t: String) = Map("id" -> id, "text" -> t)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", textA)),
        ev(2, "insert", null, doc("n1", textN)))), 0L)
      assert(ix.refresh(spark) == 1)
      // churn so the verified fetch reads post-churn texts
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, doc("a2", textA)))), 1L)
      assert(ix.refresh(spark) == 1)
      val probes = Seq("p_a" -> textA, "p_short" -> "too few tokens")
      for (th <- Seq(0.5, 0.95)) {
        val got = ix.verifiedCandidatesForAll(spark, probeFrame(probes: _*),
          "pid", "payload", threshold = th).collect()
          .map(r => (r.getString(0), r.getString(1)) ->
            (r.getInt(2), r.getDouble(3))).toMap
        val want = probes.flatMap { case (p, t) =>
          ix.verifiedCandidatesFor(spark, t, th).collect()
            .map(r => (p, r.getString(0)) -> (r.getInt(1), r.getDouble(2)))
        }.toMap
        assert(got == want, s"threshold $th: $got vs $want")
      }
      // the 0.95 threshold keeps only the exact dups; 0.5 admits the
      // near-dup with its exact Jaccard
      val tight = ix.verifiedCandidatesForAll(spark,
        probeFrame(probes: _*), "pid", "payload", 0.95).collect()
        .map(r => r.getString(1)).toSet
      assert(tight == Set("a1", "a2"), s"$tight")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("point probes that hit nothing return an empty frame with a hit's schema") {
    val dir = Files.createTempDirectory("lake-setmiss").toString
    try {
      val sink = new LakeSink(dir)
      val text = "the quick brown fox jumps over the lazy dog tonight"
      sink.appendBatch(envelope(Seq(ev(1, "insert", null,
        Map("id" -> "d1", "text" -> text, "emb" -> "1,1")))), 0L)
      val lsh = new MaintainedLshIndex(sink, "public", "docs", "smisslsh",
        idKey = "id", textKey = "text", stateBuckets = 8)
      val bm = new MaintainedBm25Index(sink, "public", "docs", "smissbm",
        idKey = "id", textKey = "text", stateBuckets = 8)
      val ivf = new MaintainedIvfIndex(sink, "public", "docs", "smissivf",
        idKey = "id", embKey = "emb",
        centroids = Seq(Seq(0f, 0f), Seq(10f, 10f)), stateBuckets = 8)
      assert(Seq(lsh.refresh(spark), bm.refresh(spark), ivf.refresh(spark)) ==
        Seq(1, 1, 1))
      def sameShape(what: String, hit: DataFrame, miss: DataFrame): Unit = {
        assert(hit.collect().nonEmpty, s"$what: the hit must hit")
        assert(miss.collect().isEmpty, s"$what: the miss must be empty")
        assert(miss.schema == hit.schema, s"$what: ${miss.schema} vs ${hit.schema}")
      }
      val short = "too few tokens" // no signatures
      sameShape("LSH candidatesFor",
        lsh.candidatesFor(spark, text), lsh.candidatesFor(spark, short))
      sameShape("LSH verifiedCandidatesFor",
        lsh.verifiedCandidatesFor(spark, text),
        lsh.verifiedCandidatesFor(spark, short))
      // a read that cannot hit plans its candidate fold away: its bucket
      // planning pull (if it ran as a job at all) is the last job it
      // starts — no checkpoint of the empty candidates, no fold scan for
      // AQE to cancel, no final job
      def noJobAfterPull(what: String, index: String, read: => DataFrame): Unit = {
        val (rows, sites) = SparkTestBase.jobCallSites(s"smiss-$what")(read.collect())
        assert(rows.isEmpty, what)
        val pull = sites.lastIndexWhere(_.startsWith(s"collect at $index.scala"))
        assert(sites.drop(pull + 1).isEmpty, s"$what: jobs after the planning pull: $sites")
      }
      noJobAfterPull("lsh-point", "MaintainedLshIndex",
        lsh.verifiedCandidatesFor(spark, short))
      noJobAfterPull("lsh-set", "MaintainedLshIndex", lsh.verifiedCandidatesForAll(
        spark, probeFrame("p1" -> short), "pid", "payload"))
      noJobAfterPull("bm25-set", "MaintainedBm25Index", bm.searchAll(
        spark, probeFrame("p1" -> "42 --- !!!"), "pid", "payload", 5))
      noJobAfterPull("ivf-nprobe0", "MaintainedIvfIndex",
        ivf.searchTopK(spark, Seq(1f, 1f), 0, 3))
      sameShape("BM25 search",
        bm.search(spark, "quick fox", 5), bm.search(spark, "42 --- !!!", 5))
      // d1 sits in cell 0; cell 1 holds no posting
      sameShape("IVF search", ivf.search(spark, Seq(1f, 1f), 1),
        ivf.search(spark, Seq(10f, 10f), 1))
      sameShape("IVF searchTopK", ivf.searchTopK(spark, Seq(1f, 1f), 1, 3),
        ivf.searchTopK(spark, Seq(10f, 10f), 1, 3))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("duplicate probe ids: exact duplicates collapse, differing payloads refuse") {
    val dir = Files.createTempDirectory("lake-setdup").toString
    try {
      val sink = new LakeSink(dir)
      val ix = new MaintainedBm25Index(sink, "public", "docs", "sdup",
        idKey = "id", textKey = "text", stateBuckets = 8)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, Map("id" -> "d1", "text" -> "apple pie")),
        ev(2, "insert", null, Map("id" -> "d2", "text" -> "banana split")))), 0L)
      assert(ix.refresh(spark) == 1)
      // an exact re-send of the same probe row is harmless — it must
      // NOT double-count term contributions
      val dup = ix.searchAll(spark,
        probeFrame("p1" -> "apple", "p1" -> "apple", "p2" -> "banana"),
        "pid", "payload", k = 5).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).sortBy(_._1)
      val clean = ix.searchAll(spark,
        probeFrame("p1" -> "apple", "p2" -> "banana"),
        "pid", "payload", k = 5).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).sortBy(_._1)
      assert(dup.toSeq == clean.toSeq, s"$dup vs $clean")
      // one id, two DIFFERENT payloads: results are keyed on the id, so
      // this must refuse loudly instead of merging two garbled rows
      val e = intercept[IllegalArgumentException](ix.searchAll(spark,
        probeFrame("p1" -> "apple", "p1" -> "banana"),
        "pid", "payload", k = 5).collect())
      assert(e.getMessage.contains("differing payloads"), e.getMessage)
      // LSH and IVF enforce the same contract — and collapse exact
      // duplicates the same way (bands_hit must NOT double, re-rank
      // rows must not duplicate)
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, Map("id" -> "t1",
          "text" -> "the quick brown fox jumps over the lazy dog tonight",
          "emb" -> "1,1")))), 1L)
      val lsh = new MaintainedLshIndex(sink, "public", "docs", "sduplsh",
        idKey = "id", textKey = "text", stateBuckets = 8)
      lsh.refresh(spark)
      val probeText = "the quick brown fox jumps over the lazy dog tonight"
      val lshDup = lsh.candidatesForAll(spark,
        probeFrame("p1" -> probeText, "p1" -> probeText),
        "pid", "payload").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(lshDup == Seq(("p1", "t1", 4)),
        s"exact-duplicate probe must not double bands_hit: $lshDup")
      intercept[IllegalArgumentException](lsh.candidatesForAll(spark,
        probeFrame("p1" -> "five tokens of text here",
          "p1" -> "five other tokens right here"), "pid", "payload").collect())
      val cents = Seq(Seq(0f, 0f), Seq(10f, 10f))
      val ivf = new MaintainedIvfIndex(sink, "public", "docs", "sdupivf",
        idKey = "id", embKey = "emb", centroids = cents, stateBuckets = 8)
      ivf.refresh(spark)
      val ivfDup = ivf.searchTopKAll(spark,
        probeFrame("p1" -> "1,2", "p1" -> "1,2"),
        "pid", "payload", nprobe = 1, k = 5).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(ivfDup == Seq(("p1", "t1")),
        s"exact-duplicate probe must not duplicate re-rank rows: $ivfDup")
      intercept[IllegalArgumentException](ivf.searchTopKAll(spark,
        probeFrame("p1" -> "1,1", "p1" -> "9,9"),
        "pid", "payload", nprobe = 1, k = 1).collect())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** The scale pin: N probes against a 2,000-doc corpus must read only
    * the probed terms' buckets of the postings state — resident rows in
    * the scanned slices stay a small fraction of the state, and the
    * result still equals the per-probe loop.
    */
  test("BM25 searchAll state read is probed-bucket-proportional, not probes x state") {
    val dir = Files.createTempDirectory("lake-setbmscale").toString
    try {
      val DOCS = 2000
      val BUCKETS = 256
      def enc(n: Int): String = {
        var x = n; val sb = new StringBuilder
        do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
        sb.toString
      }
      def text(i: Int): String =
        s"qa${enc(i % 499)} qb${enc(i % 491)} qc${enc(i % 487)} qd${enc(i % 479)} " +
          s"qe${enc(i % 467)} qf${enc(i % 463)}"
      val sink = new LakeSink(dir, baseBuckets = 4)
      val ix = new MaintainedBm25Index(sink, "public", "docs", "sbmsc",
        idKey = "id", textKey = "text", stateBuckets = BUCKETS)
      sink.appendBatch(envelope((0 until DOCS).map(i =>
        ev(i.toLong, "insert", null,
          Map("id" -> s"d$i", "text" -> text(i))))), 0L)
      assert(ix.refresh(spark) == 1)
      val key = ix.md.latestKey(spark)
      val probes = Seq(
        "p0" -> s"qa${enc(5)} qb${enc(5)}",
        "p1" -> s"qc${enc(17)}",
        "p2" -> s"qd${enc(400)} qe${enc(123)}")
      // the buckets the set read scans = the probed terms' buckets
      val terms = probes.flatMap(_._2.split(" ")).distinct
      val probed = spark.createDataFrame(terms.map(Tuple1(_))).toDF("t")
        .select(ix.md.stateLog.bucketExpr(Seq(col("t"))))
        .collect().map(_.getInt(0)).toSet
      val resident = ix.md.entriesBucketsAt(spark, key, probed).count()
      val stateRows = DOCS.toLong * 6
      assert(probed.size <= terms.size)
      assert(resident < stateRows / 5,
        s"probed-bucket read must be a small fraction of state: " +
          s"$resident of $stateRows (${probed.size}/$BUCKETS buckets)")
      // and the set output still equals the loop
      val got = ix.searchAll(spark, probeFrame(probes: _*),
        "pid", "payload", k = 5).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).sortBy(_._1)
      val want = probes.flatMap { case (p, q) =>
        ix.search(spark, q, 5).collect()
          .map(r => ((p, r.getString(0)), r.getDouble(1)))
      }.sortBy(_._1)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
      got.zip(want).foreach { case ((gk, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"score at $gk: $gs vs $ws")
      }
      assert(got.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
