package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent
import graft.operators.IncrementalAgg

/** The maintained two-table join: dirty-key recompute, key-changing
  * updates, deletes, truncate fallback, and replay idempotence — each
  * refresh checked against a direct latestState-join recompute.
  */
class MaintainedJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(lsn: Long, op: String, table: String, keys: Seq[String],
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", table, T, T, keys, before, after)

  private def user(id: String, name: String): Map[String, String] =
    Map("id" -> id, "name" -> name)
  private def order(oid: String, uid: String, amt: String): Map[String, String] =
    Map("oid" -> oid, "uid" -> uid, "amt" -> amt)

  private def withJoin(body: (LakeSink, MaintainedJoin) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-mj").toString
    try {
      val sink = new LakeSink(dir)
      val mj = new MaintainedJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "orders_by_user")
      body(sink, mj)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** (oid, user name, amt) triples of the maintained join. */
  private def joinSet(mj: MaintainedJoin): Set[(String, String, String)] =
    mj.read(spark).collect().map { r =>
      val l = r.getMap[String, String](1)
      val rr = r.getMap[String, String](2)
      (rr("oid"), l("name"), rr("amt"))
    }.toSet

  /** Direct recompute: latestState join latestState — the oracle. */
  private def expected(sink: LakeSink): Set[(String, String, String)] = {
    val u = sink.latestState(spark, "public", "u")
      .select(element_at(col("after"), "id").as("jk"),
        element_at(col("after"), "name").as("name"))
    val o = sink.latestState(spark, "public", "o")
      .select(element_at(col("after"), "uid").as("jk"),
        element_at(col("after"), "oid").as("oid"),
        element_at(col("after"), "amt").as("amt"))
    u.join(o, "jk").collect()
      .map(r => (r.getString(2), r.getString(1), r.getString(3))).toSet
  }

  test("inserts, updates, key-changing updates, and deletes maintain the join") {
    withJoin { (sink, mj) =>
      assert(joinSet(mj).isEmpty)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bo")),
        ev(3, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(4, "insert", "o", Seq("oid"), null, order("b", "1", "20")),
        ev(5, "insert", "o", Seq("oid"), null, order("c", "2", "30")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(
        ("a", "alice", "10"), ("b", "alice", "20"), ("c", "bo", "30")))
      assert(joinSet(mj) == expected(sink))

      // rename a user (left update), move order c to user 1 (key-changing
      // right update: both old key 2 and new key 1 are dirty)
      sink.appendBatch(envelope(Seq(
        ev(6, "update", "u", Seq("id"), user("2", "bo"), user("2", "bob")),
        ev(7, "update", "o", Seq("oid"),
          order("c", "2", "30"), order("c", "1", "35")))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(
        ("a", "alice", "10"), ("b", "alice", "20"), ("c", "alice", "35")))
      assert(joinSet(mj) == expected(sink))

      // delete user 1: all their orders drop out of the inner join
      sink.appendBatch(envelope(Seq(
        ev(8, "delete", "u", Seq("id"), user("1", "alice"), null))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj).isEmpty)
      assert(joinSet(mj) == expected(sink))

      // orders are still live; re-inserting the user revives the join
      sink.appendBatch(envelope(Seq(
        ev(9, "insert", "u", Seq("id"), null, user("1", "alina")))), 3L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(
        ("a", "alina", "10"), ("b", "alina", "20"), ("c", "alina", "35")))
    }
  }

  test("a span covering several batches refreshes once, consistently") {
    withJoin { (sink, mj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", "o", Seq("oid"), null, order("x", "1", "5")))), 1L)
      sink.appendBatch(envelope(Seq(
        ev(3, "update", "o", Seq("oid"),
          order("x", "1", "5"), order("x", "1", "7")))), 2L)
      assert(mj.refresh(spark) == 3)
      assert(joinSet(mj) == Set(("x", "ann", "7")))
    }
  }

  test("replay after a lost cursor advance is idempotent") {
    withJoin { (sink, mj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("x", "1", "5")))), 0L)
      assert(mj.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", "o", Seq("oid"), order("x", "1", "5"), null))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj).isEmpty)
      val root = sink.root
      new java.io.File(s"$root/_graft_cursors/.join_orders_by_user.crc").delete()
      java.nio.file.Files.write(
        new java.io.File(s"$root/_graft_cursors/join_orders_by_user").toPath,
        "0:0".getBytes)
      assert(mj.refresh(spark) == 1, "replayed span")
      assert(joinSet(mj).isEmpty, "no double-apply")
      assert(mj.refresh(spark) == 0)
    }
  }

  test("left_outer: null-extended rows appear, fill in, and re-extend on delete") {
    val dir = Files.createTempDirectory("lake-mjo").toString
    try {
      val sink = new LakeSink(dir)
      val mj = new MaintainedJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "lo", joinType = "left_outer")
      def rows: Set[(String, String)] = mj.read(spark).collect().map { r =>
        (r.getMap[String, String](1)("name"),
          Option(r.getMap[String, String](2)).map(_("oid")).orNull)
      }.toSet
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bob")),
        ev(3, "insert", "o", Seq("oid"), null, order("x", "1", "5")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(rows == Set(("ann", "x"), ("bob", null)))
      // bob gets an order: the null-extended row is replaced for that key
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "o", Seq("oid"), null, order("y", "2", "7")))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(rows == Set(("ann", "x"), ("bob", "y")))
      // and loses it again: back to null-extended
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", "o", Seq("oid"), order("y", "2", "7"), null))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(rows == Set(("ann", "x"), ("bob", null)))
      val g = mj.gauges(spark).toMap
      assert(g("join_lo_asof") == 2.0 && g("join_lo_lag_batches") == 0.0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("left_outer: NULL-keyed rows null-extend, follow key updates, and drop for inner") {
    val dir = Files.createTempDirectory("lake-mjn").toString
    try {
      val sink = new LakeSink(dir)
      def mk(jt: String, nm: String) = new MaintainedJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "ref"), im => element_at(im, "uid"),
        nm, joinType = jt)
      val lo = mk("left_outer", "lon")
      val inner = mk("inner", "inn")
      def rows(mj: MaintainedJoin): Set[(String, String)] =
        mj.read(spark).collect().map { r =>
          (r.getMap[String, String](1)("name"),
            Option(r.getMap[String, String](2)).map(_("oid")).orNull)
        }.toSet
      // carol's join key (ref) is NULL: SQL left join null-extends her
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null,
          Map("id" -> "1", "ref" -> "r1", "name" -> "ann")),
        ev(2, "insert", "u", Seq("id"), null,
          Map("id" -> "2", "ref" -> null, "name" -> "carol")),
        ev(3, "insert", "o", Seq("oid"), null, order("x", "r1", "5")))), 0L)
      assert(lo.refresh(spark) == 1 && inner.refresh(spark) == 1)
      assert(rows(lo) == Set(("ann", "x"), ("carol", null)),
        "null-keyed row is null-extended, not dropped")
      assert(rows(inner) == Set(("ann", "x")), "inner keeps equi-matches only")
      // an update NULLS ann's key: she leaves the equi-join and joins the
      // null segment; the reverse for carol
      sink.appendBatch(envelope(Seq(
        ev(4, "update", "u", Seq("id"),
          Map("id" -> "1", "ref" -> "r1", "name" -> "ann"),
          Map("id" -> "1", "ref" -> null, "name" -> "ann")),
        ev(5, "update", "u", Seq("id"),
          Map("id" -> "2", "ref" -> null, "name" -> "carol"),
          Map("id" -> "2", "ref" -> "r1", "name" -> "carol")))), 1L)
      assert(lo.refresh(spark) == 1 && inner.refresh(spark) == 1)
      assert(rows(lo) == Set(("ann", null), ("carol", "x")),
        "rows move between the null segment and the equi-join on key updates")
      assert(rows(inner) == Set(("carol", "x")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Every parquet data file under the join's state dir: path → mtime. */
  private def stateFiles(sink: LakeSink, name: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f) else Seq(f)
      }
    walk(new java.io.File(s"${sink.root}/_graft_joins/$name"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("a refresh rewrites ONLY buckets containing touched keys — untouched slices are byte-identical") {
    val dir = Files.createTempDirectory("lake-mjb").toString
    try {
      val sink = new LakeSink(dir)
      val mj = new MaintainedJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "churn", stateBuckets = 8)
      // 32 users × 1 order each → keys spread over all 8 buckets
      val users = (1 to 32).map(i =>
        ev(i, "insert", "u", Seq("id"), null, user(i.toString, s"name$i")))
      val orders = (1 to 32).map(i =>
        ev(100 + i, "insert", "o", Seq("oid"), null,
          order(s"o$i", i.toString, (i * 10).toString)))
      sink.appendBatch(envelope(users ++ orders), 0L)
      assert(mj.refresh(spark) == 1)
      val before = stateFiles(sink, "churn")
      assert(before.nonEmpty)
      // touch ONE key: only its bucket may be rewritten
      sink.appendBatch(envelope(Seq(
        ev(200, "update", "o", Seq("oid"),
          order("o5", "5", "50"), order("o5", "5", "55")))), 1L)
      assert(mj.refresh(spark) == 1)
      val after = stateFiles(sink, "churn")
      val carried = before.keySet.intersect(after.keySet)
      assert(carried.nonEmpty, "untouched slices must carry forward by reference")
      carried.foreach { p =>
        assert(before(p) == after(p), s"carried slice rewritten: $p")
      }
      // ≥ 7 of 8 buckets' files survive verbatim (only key 5's bucket moved)
      val fresh = after.keySet.diff(before.keySet)
      val freshBuckets = fresh.flatMap(p =>
        "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))
      assert(freshBuckets.size <= 1,
        s"one touched key must rewrite at most one bucket, got $freshBuckets")
      assert(joinSet(mj) == expected(sink), "content still correct")
      // ops gauges carry the refresh's real facts: one span row dirtying
      // one key in one rewritten bucket, 7 carried by reference
      val g = mj.gauges(spark).toMap
      assert(g("""join_span_rows{join="churn"}""") == 1.0)
      assert(g("""join_dirty_keys{join="churn"}""") == 1.0)
      assert(g("""join_buckets_rewritten{join="churn"}""") == 1.0)
      assert(g("""join_buckets_carried{join="churn"}""") == 7.0)
      assert(g("""join_batches_applied_total{join="churn"}""") == 2.0)
      assert(g("""join_refresh_ms{join="churn"}""") > 0.0)
      // GC after one more refresh leaves no unreferenced version debris:
      // every remaining file is referenced by a retained manifest
      sink.appendBatch(envelope(Seq(
        ev(201, "update", "o", Seq("oid"),
          order("o6", "6", "60"), order("o6", "6", "66")))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == expected(sink))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }


  test("a span of only another table's rows carries both states forward manifest-only, in pinned jobs") {
    withJoin { (sink, mj) =>
      val mv = new MaintainedView(sink, new IncrementalAgg(
        group = Seq("uid" -> (im => element_at(im, "uid"))), sums = Nil),
        "public", "o", "orders_per_user")
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")))), 0L)
      // the seeds write state slices — the detector below is not vacuous
      val (_, seedJobs) = SparkTestBase.jobCallSites("carry-seed") {
        (mv.refresh(spark), mj.refresh(spark))
      }
      val stateWrite = "parquet at BucketedStateLog.scala"
      assert(seedJobs.exists(_.startsWith(stateWrite)), s"$seedJobs")
      val (views, joins) = (mv.read(spark).collect().toSet, joinSet(mj))
      // a span holding only a third table's rows: neither delta touches
      // a key, so each refresh commits its version as a carry
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "x", Seq("id"), null, Map("id" -> "9")))), 1L)
      val (mvApplied, mvJobs) =
        SparkTestBase.jobCallSites("carry-mv")(mv.refresh(spark))
      val (mjApplied, mjJobs) =
        SparkTestBase.jobCallSites("carry-mj")(mj.refresh(spark))
      assert(mvApplied == 1 && mjApplied == 1)
      assert(!(mvJobs ++ mjJobs).exists(_.startsWith(stateWrite)),
        s"a carry is manifest-only: $mvJobs $mjJobs")
      assert(mvJobs.size == 3, s"view carry ran ${mvJobs.size} jobs, pinned at 3: $mvJobs")
      assert(mjJobs.size == 4, s"join carry ran ${mjJobs.size} jobs, pinned at 4: $mjJobs")
      assert(mv.read(spark).collect().toSet == views)
      assert(joinSet(mj) == joins)
      assert(mj.gauges(spark).toMap.apply(
        """join_buckets_rewritten{join="orders_by_user"}""") == 0.0)
    }
  }

  test("row-key-restricted recompute matches the full fold through churn, compaction, and deletes") {
    // `leftKeyIsRowKey`: u's join key IS its replica key, so the dirty
    // recompute folds only the touched keys' histories — BASE slices
    // pruned by key hash, tail semi-joined before the fold. Every refresh
    // must still equal the direct latestState-join oracle.
    val dir = Files.createTempDirectory("lake-mjrk").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mj = new MaintainedJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "rk", leftKeyIsRowKey = true)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bo")),
        ev(3, "insert", "u", Seq("id"), null, user("3", "cy")),
        ev(4, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(5, "insert", "o", Seq("oid"), null, order("b", "2", "20")),
        ev(6, "insert", "o", Seq("oid"), null, order("c", "3", "30")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == expected(sink))
      sink.compact(spark) // restricted folds now resolve through BASE
      // touch ONLY user 1 (rename) and user 2 (delete): the restricted
      // fold must read just those keys' buckets, and the result must
      // still carry cy's untouched row and null-extend bo's orphan
      sink.appendBatch(envelope(Seq(
        ev(7, "update", "u", Seq("id"), user("1", "alice"), user("1", "alicia")),
        ev(8, "delete", "u", Seq("id"), user("2", "bo"), null))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("a", "alicia", "10"), ("c", "cy", "30")),
        "rename applied, bo's pair gone, cy's untouched row carried")
      assert(joinSet(mj) == expected(sink))
      // a key-changing order update dirties old AND new custkey
      sink.appendBatch(envelope(Seq(
        ev(9, "update", "o", Seq("oid"), order("c", "3", "30"), order("c", "1", "30")))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == expected(sink))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }


  test("truncate on one side falls back to a full recompute at the boundary") {
    withJoin { (sink, mj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("x", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("y", "1", "6")))), 0L)
      assert(mj.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(4, "truncate", "o", Seq("oid"), null, null),
        ev(5, "insert", "o", Seq("oid"), null, order("z", "1", "9")))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("z", "ann", "9")))
      assert(joinSet(mj) == expected(sink))
    }
  }

  test("an all-empty span with a row-key flag set refreshes without error") {
    // regression: the row-key-shape flags used to be read from the span's
    // aggregate row BEFORE the empty-span null guard — an all-empty span
    // aggregates every column to NULL and Row.getInt(NULL) NPEd inside
    // the poll callback, crash-looping the refresh
    val dir = Files.createTempDirectory("lake-mjes").toString
    try {
      val sink = new LakeSink(dir)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "empty_span", leftKeyIsRowKey = true)
      sink.appendBatch(envelope(Seq.empty), 0L)
      assert(mj.refresh(spark) == 1)
      assert(mj.read(spark).collect().isEmpty)
      // and the cursor advanced: nothing left to poll
      assert(mj.refresh(spark) == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("first refresh after seedCursor on a vacuumed lake rebuilds from BASE") {
    // regression: the seed used to run the dirty-key path with touched
    // keys derived from the SPAN — after seedCursor on a compacted+
    // vacuumed lake the span holds only post-seed batches, so keys
    // living only in BASE were silently omitted from the join forever.
    // The seed now rebuilds from stateAsOf, which reads through BASE.
    withJoin { (sink, mj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")))), 0L)
      sink.compact(spark)
      sink.vacuum(spark) // batch 0's changelog is gone; only BASE has it
      sink.seedCursor(spark, "join_orders_by_user")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "20")))), 1L)
      assert(mj.refresh(spark) == 1)
      // order "a" exists only in BASE — a span-driven seed would miss it
      assert(joinSet(mj) == Set(("a", "alice", "10"), ("b", "alice", "20")))
    }
  }

  test("immutable-FK recompute matches the full fold through churn, compaction, and deletes") {
    // rightKeyImmutable on the fact-like side ("o" joins on uid, which
    // never changes per order): the recompute prunes o's fold input to
    // the touched uids instead of folding the table — results must be
    // indistinguishable from the unrestricted path at every boundary.
    val dir = Files.createTempDirectory("lake-mjimm").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "imm", stateBuckets = 4,
        leftKeyIsRowKey = true, rightKeyImmutable = true,
        rightKeyCol = Some("uid"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bo")),
        ev(3, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(4, "insert", "o", Seq("oid"), null, order("b", "2", "20")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == expected(sink))
      sink.compact(spark) // the immutable filter must keep BASE rows too
      sink.appendBatch(envelope(Seq(
        ev(5, "update", "o", Seq("oid"),
          order("a", "1", "10"), order("a", "1", "11")), // amt only, uid fixed
        ev(6, "insert", "o", Seq("oid"), null, order("c", "1", "30")))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(
        ("a", "alice", "11"), ("b", "bo", "20"), ("c", "alice", "30")))
      assert(joinSet(mj) == expected(sink))
      sink.appendBatch(envelope(Seq(
        ev(7, "delete", "o", Seq("oid"), order("b", "2", "20"), null))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("a", "alice", "11"), ("c", "alice", "30")))
      assert(joinSet(mj) == expected(sink))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("immutable-FK contract violations fail loud: key-changing update, key-less delete image") {
    def freshJoin(dir: String) = {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "immv", stateBuckets = 4, rightKeyImmutable = true,
        rightKeyCol = Some("uid"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")))), 0L)
      assert(mj.refresh(spark) == 1)
      (sink, mj)
    }
    val d1 = Files.createTempDirectory("lake-mjiv1").toString
    try {
      val (sink, mj) = freshJoin(d1)
      // moving order a from user 1 to user 2 changes the declared-immutable key
      sink.appendBatch(envelope(Seq(
        ev(3, "update", "o", Seq("oid"),
          order("a", "1", "10"), order("a", "2", "10")))), 1L)
      val e = intercept[IllegalStateException](mj.refresh(spark))
      assert(e.getMessage.contains("KeyImmutable"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d1))
    val d2 = Files.createTempDirectory("lake-mjiv2").toString
    try {
      val (sink, mj) = freshJoin(d2)
      // a delete whose before image lacks uid: the restricted fold would
      // drop the retraction and resurrect the row
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", "o", Seq("oid"), Map("oid" -> "a"), null))), 1L)
      val e = intercept[IllegalStateException](mj.refresh(spark))
      assert(e.getMessage.contains("KeyImmutable"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d2))
  }

  test("a genuinely NULL immutable key is not a violation: NULL-keyed rows insert and delete cleanly") {
    // An order whose uid is genuinely NULL (column PRESENT in the image,
    // value null — a nullable FK under REPLICA IDENTITY FULL). Its delete
    // extracts a NULL key, which r14's first cut flagged as a contract
    // violation — wedging refresh in a crash-loop on a data shape the
    // join supports (NULL-keyed rows live in the null segment, never the
    // restricted fold). map_contains_key distinguishes it from the
    // truly-dangerous image-lacks-the-column delete above.
    val dir = Files.createTempDirectory("lake-mjnull").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "immn", stateBuckets = 4, rightKeyImmutable = true,
        rightKeyCol = Some("uid"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(3, "insert", "o", Seq("oid"), null, order("n", null, "99")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("a", "alice", "10")))
      // delete the NULL-keyed order: before image CARRIES uid (null value)
      sink.appendBatch(envelope(Seq(
        ev(4, "delete", "o", Seq("oid"), order("n", null, "99"), null),
        ev(5, "insert", "o", Seq("oid"), null, order("b", "1", "20")))), 1L)
      assert(mj.refresh(spark) == 1) // must not throw
      assert(joinSet(mj) == Set(("a", "alice", "10"), ("b", "alice", "20")))
      assert(joinSet(mj) == expected(sink))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a KeyCol that does not match the extractor's column fails loud at refresh") {
    // rightKeyCol declares "oid" (the row key — present in every image)
    // while the extractor reads "uid". Before the misdeclared check,
    // this config passed delete validation vacuously (map_contains_key
    // tested a column the fold never reads), and a delete under an
    // identity lacking uid would be dropped from the restricted fold —
    // the deleted row served forever. Now the mismatch itself trips the
    // contract on the FIRST span carrying the side's rows.
    val dir = Files.createTempDirectory("lake-mjmis").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "immm", stateBuckets = 4, rightKeyImmutable = true,
        rightKeyCol = Some("oid"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")))), 0L)
      val e = intercept[IllegalStateException] { mj.refresh(spark) }
      assert(e.getMessage.contains("KeyCol"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("KeyImmutable without the image column name is rejected at construction") {
    val sink = new LakeSink(Files.createTempDirectory("lake-mjreq").toString)
    val e = intercept[IllegalArgumentException] {
      new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "immr", rightKeyImmutable = true)
    }
    assert(e.getMessage.contains("rightKeyCol"), e.getMessage)
  }

  test("a delete whose extractor diverges from the flagged identity fails loud") {
    // regression: badRowKey used to validate only the AFTER image, so a
    // delete (before only) with an extractor reading the wrong column
    // slipped past the contract check — its dirty key would then be
    // spelled differently from the fold key and the restricted recompute
    // would silently miss it
    val dir = Files.createTempDirectory("lake-mjbd").toString
    try {
      val sink = new LakeSink(dir)
      val mj = new MaintainedJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "name"), // wrong column: identity is "id"
        im => element_at(im, "uid"),
        "bad_del", leftKeyIsRowKey = true)
      sink.appendBatch(envelope(Seq(
        ev(1, "delete", "u", Seq("id"), user("1", "alice"), null))), 0L)
      val e = intercept[IllegalStateException](mj.refresh(spark))
      assert(e.getMessage.contains("leftKeyIsRowKey"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("REPLICA IDENTITY DEFAULT: a feed without before images maintains the splice join") {
    // Under DEFAULT identity an update carries no before image and a
    // delete's before holds only the key. Joined on both sides' identity
    // keys (o's identity here is uid), the splice join maintains the
    // result; the delta join computes retractions from before images and
    // refuses the same lake.
    withJoin { (sink, mj) =>
      val dj = new MaintainedDeltaJoin(sink, ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"), "orders_by_user_dj")
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bo")),
        ev(3, "insert", "o", Seq("uid"), null, order("a", "1", "10")),
        ev(4, "insert", "o", Seq("uid"), null, order("b", "2", "20")))), 0L)
      assert(mj.refresh(spark) == 1)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("a", "alice", "10"), ("b", "bo", "20")))
      assert(joinSet(mj) == expected(sink))

      sink.appendBatch(envelope(Seq(
        ev(5, "update", "u", Seq("id"), null, user("1", "alina")),
        ev(6, "update", "o", Seq("uid"), null, order("b", "2", "25")),
        ev(7, "delete", "u", Seq("id"), Map("id" -> "2"), null),
        ev(8, "insert", "u", Seq("id"), null, user("3", "cy")),
        ev(9, "insert", "o", Seq("uid"), null, order("c", "3", "30")))), 1L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("a", "alina", "10"), ("c", "cy", "30")))
      assert(joinSet(mj) == expected(sink))

      sink.compact(spark)
      sink.appendBatch(envelope(Seq(
        ev(10, "delete", "o", Seq("uid"), Map("uid" -> "1"), null),
        ev(11, "update", "u", Seq("id"), null, user("3", "cyd")))), 2L)
      assert(mj.refresh(spark) == 1)
      assert(joinSet(mj) == Set(("c", "cyd", "30")))
      assert(joinSet(mj) == expected(sink))

      val e = intercept[IllegalStateException](dj.refresh(spark))
      assert(e.getMessage.contains("REPLICA IDENTITY FULL is required"), e.getMessage)
    }
  }
}
