package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The signed-delta maintained inner join — Δout = ΔL⋈R_new + L_new⋈ΔR
  * − ΔL⋈ΔR applied to a pair-refcount state: every refresh checked
  * against a direct latestState-join recompute, including the shapes
  * the algebra must get right with no flags (join-key-changing
  * updates, BOTH sides churning the same key in ONE span, telescoped
  * multi-update spans), plus replay idempotence, truncate/seed
  * rebuilds through BASE, the REPLICA IDENTITY FULL refusal, and the
  * hot-key write pin the whole class exists for.
  */
class MaintainedDeltaJoinSpec extends AnyFunSuite {
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

  private def withJoin(subs: Int = 1, rowKeyFlag: Boolean = false,
      immFlag: Boolean = false)(
      body: (LakeSink, MaintainedDeltaJoin) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-dj").toString
    try {
      val sink = new LakeSink(dir)
      val dj = new MaintainedDeltaJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "dj_orders", stateBuckets = 4, subBuckets = subs,
        leftKeyIsRowKey = rowKeyFlag,
        rightKeyImmutable = immFlag, rightKeyCol = Some("uid"))
      body(sink, dj)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def joinSet(dj: MaintainedDeltaJoin): Set[(String, String, String)] =
    dj.read(spark).collect().map { r =>
      val l = r.getMap[String, String](1)
      val rr = r.getMap[String, String](2)
      (rr("oid"), l("name"), rr("amt"))
    }.toSet

  /** Direct recompute: latestState ⋈ latestState — the oracle. */
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

  test("delta algebra maintains the join through churn, key moves, and same-span both-side churn") {
    withJoin() { (sink, dj) =>
      assert(joinSet(dj).isEmpty)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bo")),
        ev(3, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(4, "insert", "o", Seq("oid"), null, order("b", "1", "20")),
        ev(5, "insert", "o", Seq("oid"), null, order("c", "2", "30")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(
        ("a", "alice", "10"), ("b", "alice", "20"), ("c", "bo", "30")))
      assert(joinSet(dj) == expected(sink))
      assert(dj.refresh(spark) == 0, "replay: nothing new, nothing applied")

      // the no-flag shapes: left image update, order moving users
      // (JOIN-KEY-CHANGING update), and BOTH sides of user 2 churning in
      // the SAME span (the ΔL⋈ΔR cross-term's reason to exist)
      sink.appendBatch(envelope(Seq(
        ev(6, "update", "u", Seq("id"), user("1", "alice"), user("1", "alix")),
        ev(7, "update", "o", Seq("oid"), order("c", "2", "30"),
          order("c", "1", "30")),
        ev(8, "update", "u", Seq("id"), user("2", "bo"), user("2", "beau")),
        ev(9, "insert", "o", Seq("oid"), null, order("d", "2", "40")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(
        ("a", "alix", "10"), ("b", "alix", "20"), ("c", "alix", "30"),
        ("d", "beau", "40")))
      assert(joinSet(dj) == expected(sink))

      // telescoped multi-update of one row inside ONE span, plus deletes
      sink.appendBatch(envelope(Seq(
        ev(10, "update", "o", Seq("oid"), order("d", "2", "40"),
          order("d", "2", "41")),
        ev(11, "update", "o", Seq("oid"), order("d", "2", "41"),
          order("d", "2", "42")),
        ev(12, "delete", "o", Seq("oid"), order("b", "1", "20"), null),
        ev(13, "delete", "u", Seq("id"), user("1", "alix"), null))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("d", "beau", "42")))
      assert(joinSet(dj) == expected(sink))
    }
  }

  test("row-key-restricted fold tier gives the same answers; a wrong flag fails loud") {
    withJoin(rowKeyFlag = true) { (sink, dj) =>
      // leftKey (id) IS u's replica key — the restricted tier serves
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      assert(dj.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")),
        ev(4, "update", "u", Seq("id"), user("1", "ann"), user("1", "anne")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("a", "anne", "5"), ("b", "anne", "6")))
      assert(joinSet(dj) == expected(sink))
      // a span whose u events carry a DIFFERENT identity shape trips the
      // flag validation before any state advances
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "u", Seq("id", "name"), null, user("9", "zed")))), 2L)
      val e = intercept[IllegalStateException] { dj.refresh(spark) }
      assert(e.getMessage.contains("KeyIsRowKey"), e.getMessage)
    }
  }

  test("immutable-tier pruned fold gives the same answers; a key-changing update under the flag refuses") {
    withJoin(immFlag = true) { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "u", Seq("id"), null, user("2", "bob")),
        ev(3, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(4, "insert", "o", Seq("oid"), null, order("b", "2", "6")))), 0L)
      assert(dj.refresh(spark) == 1)
      // a LEFT-side churn routes the right side through the
      // immutable-restricted fold (pruned to the churned jk)
      sink.appendBatch(envelope(Seq(
        ev(5, "update", "u", Seq("id"), user("1", "ann"), user("1", "anne")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("a", "anne", "5"), ("b", "bob", "6")))
      assert(joinSet(dj) == expected(sink))
      // the tier's price: a uid-CHANGING order update violates the
      // declared immutability and refuses (the flagless join handles
      // key moves natively — drop the flag where keys move)
      sink.appendBatch(envelope(Seq(
        ev(6, "update", "o", Seq("oid"), order("b", "2", "6"),
          order("b", "1", "6")))), 2L)
      val e = intercept[IllegalStateException] { dj.refresh(spark) }
      assert(e.getMessage.contains("KeyImmutable"), e.getMessage)
    }
  }

  test("REPLICA IDENTITY FULL is enforced: a before-less update refuses") {
    withJoin() { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")))), 0L)
      assert(dj.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(2, "update", "u", Seq("id"), null, user("1", "anna")))), 1L)
      val e = intercept[IllegalStateException] { dj.refresh(spark) }
      assert(e.getMessage.contains("REPLICA IDENTITY FULL"), e.getMessage)
    }
  }

  test("truncate rebuilds at the boundary; seed reads through BASE after compact+vacuum") {
    withJoin() { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")))), 0L)
      // compact + vacuum BEFORE the first refresh: the consumer must
      // re-bootstrap (seedCursor) and the seed then folds through BASE —
      // no surviving changelog row mentions these rows
      sink.compact(spark)
      sink.vacuum(spark)
      sink.seedCursor(spark, "djoin_dj_orders")
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "o", Seq("oid"), null, order("c", "1", "9")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(
        ("a", "ann", "5"), ("b", "ann", "6"), ("c", "ann", "9")))
      // truncate the orders side mid-stream → rebuild at the boundary
      sink.appendBatch(envelope(Seq(
        Row(10L, 10L, 7L, "truncate", "public", "o", T, T, null, null, null),
        ev(11, "insert", "o", Seq("oid"), null, order("z", "1", "7")))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("z", "ann", "7")))
      assert(joinSet(dj) == expected(sink))
    }
  }

  // ---- OUTER joins: the match-count companion + null-extension algebra ----

  /** Orders-preserved harness: left = o (the fact side, preserved under
    * left_outer), right = u with its replica key as the join key — so
    * flip reads exercise the KEY-RESTRICTED fold tier.
    */
  private def withOuterJoin(joinType: String, subs: Int = 1)(
      body: (LakeSink, MaintainedDeltaJoin) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-djo").toString
    try {
      val sink = new LakeSink(dir)
      val dj = new MaintainedDeltaJoin(sink,
        ("public", "o"), ("public", "u"),
        im => element_at(im, "uid"), im => element_at(im, "id"),
        "dj_outer", joinType = joinType, stateBuckets = 4, subBuckets = subs,
        rightKeyIsRowKey = true)
      body(sink, dj)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** (oid, amt, user name or "∅") for every served row — the outer read. */
  private def outerSet(dj: MaintainedDeltaJoin): Set[(String, String, String)] =
    dj.read(spark).collect().map { r =>
      val l = if (r.isNullAt(1)) null else r.getMap[String, String](1)
      val rr = if (r.isNullAt(2)) null else r.getMap[String, String](2)
      (if (l == null) "∅" else l("oid"),
        if (l == null) "∅" else l("amt"),
        if (rr == null) "∅" else rr("name"))
    }.toSet

  /** Direct recompute: latestState OUTER-joined — the same answer the
    * splice join ([[MaintainedJoin]], itself recompute-pinned by
    * MaintainedJoinSpec) serves for this shape.
    */
  private def expectedOuter(sink: LakeSink, joinType: String)
      : Set[(String, String, String)] = {
    val o = sink.latestState(spark, "public", "o")
      .select(element_at(col("after"), "uid").as("jk"),
        element_at(col("after"), "oid").as("oid"),
        element_at(col("after"), "amt").as("amt"))
    val u = sink.latestState(spark, "public", "u")
      .select(element_at(col("after"), "id").as("jk"),
        element_at(col("after"), "name").as("name"))
    o.join(u, o("jk") === u("jk"), joinType).collect().map { r =>
      (Option(r.getString(1)).getOrElse("∅"),
        Option(r.getString(2)).getOrElse("∅"),
        Option(r.getString(4)).getOrElse("∅")).asInstanceOf[(String, String, String)]
    }.toSet
  }

  test("left_outer: null-extension maintained through 0↔>0 flips both directions, unmatched churn, and NULL join keys") {
    withOuterJoin("left_outer") { (sink, dj) =>
      // seed: order a matched (user 1), b unmatched (no user 2 yet),
      // c has NO uid at all — a NULL join key, permanently preserved
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "20")),
        ev(4, "insert", "o", Seq("oid"), null,
          Map("oid" -> "c", "amt" -> "30")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("a", "10", "alice"), ("b", "20", "∅"), ("c", "30", "∅")))
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))

      // flip 0→>0 (user 2 appears) WITH the preserved side churning the
      // SAME jk in the SAME span (the ΔP − P_new cancellation), a
      // NULL-jk churn, and an insert under a matched jk
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "u", Seq("id"), null, user("2", "beau")),
        ev(6, "update", "o", Seq("oid"), order("b", "2", "20"),
          order("b", "2", "21")),
        ev(7, "update", "o", Seq("oid"),
          Map("oid" -> "c", "amt" -> "30"), Map("oid" -> "c", "amt" -> "31")),
        ev(8, "insert", "o", Seq("oid"), null, order("d", "1", "40")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("a", "10", "alice"), ("b", "21", "beau"), ("c", "31", "∅"),
        ("d", "40", "alice")))
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))

      // flip >0→0 (user 1 deleted: surviving orders a, d null-extend)
      // while an order under the OTHER matched jk deletes in the span
      sink.appendBatch(envelope(Seq(
        ev(9, "delete", "u", Seq("id"), user("1", "alice"), null),
        ev(10, "delete", "o", Seq("oid"), order("b", "2", "21"), null))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("a", "10", "∅"), ("c", "31", "∅"), ("d", "40", "∅")))
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))
      assert(dj.refresh(spark) == 0, "replay: nothing new, nothing applied")

      // churn UNDER a still-unmatched jk: delete one null-extended row,
      // version-swap another — pure unmatched-state maintenance
      sink.appendBatch(envelope(Seq(
        ev(11, "delete", "o", Seq("oid"), order("a", "1", "10"), null),
        ev(12, "update", "o", Seq("oid"), order("d", "1", "40"),
          order("d", "1", "41")))), 3L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(("c", "31", "∅"), ("d", "41", "∅")))
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))
    }
  }

  test("full_outer: both sides' null-extensions maintained; truncate reseeds them") {
    withOuterJoin("full_outer") { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "u", Seq("id"), null, user("9", "zoe")),
        ev(3, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(4, "insert", "o", Seq("oid"), null, order("b", "7", "20")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("a", "10", "ann"), ("b", "20", "∅"), ("∅", "∅", "zoe")))
      assert(outerSet(dj) == expectedOuter(sink, "full_outer"))
      // user 9 gains an order (their RIGHT-side unmatched row retracts),
      // user 1 loses theirs (flips to right-unmatched), order b's user
      // appears (left-unmatched retracts) — all three states move
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "o", Seq("oid"), null, order("z", "9", "30")),
        ev(6, "delete", "o", Seq("oid"), order("a", "1", "10"), null),
        ev(7, "insert", "u", Seq("id"), null, user("7", "kim")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("z", "30", "zoe"), ("∅", "∅", "ann"), ("b", "20", "kim")))
      assert(outerSet(dj) == expectedOuter(sink, "full_outer"))
      // truncate one side: the boundary reseed must rebuild pair AND
      // both companion families
      sink.appendBatch(envelope(Seq(
        Row(20L, 20L, 7L, "truncate", "public", "o", T, T, null, null, null),
        ev(21, "insert", "o", Seq("oid"), null, order("n", "7", "50")))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == Set(
        ("n", "50", "kim"), ("∅", "∅", "ann"), ("∅", "∅", "zoe")))
      assert(outerSet(dj) == expectedOuter(sink, "full_outer"))
    }
  }

  test("join type is fixed per state dir: a committed dir refuses a differently-typed open") {
    val dir = Files.createTempDirectory("lake-djt").toString
    try {
      val sink = new LakeSink(dir)
      def dj(jt: String) = new MaintainedDeltaJoin(sink,
        ("public", "o"), ("public", "u"),
        im => element_at(im, "uid"), im => element_at(im, "id"),
        "dj_t", joinType = jt, stateBuckets = 4)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      val inner = dj("inner")
      assert(inner.refresh(spark) == 1)
      // reopened as left_outer: refresh AND read refuse (an inner dir
      // has no unmatched companions — it would silently serve zero
      // null-extensions)
      val asOuter = dj("left_outer")
      val e1 = intercept[IllegalStateException] { asOuter.refresh(spark) }
      assert(e1.getMessage.contains("'inner'"), e1.getMessage)
      val e2 = intercept[IllegalStateException] { asOuter.read(spark) }
      assert(e2.getMessage.contains("join type"), e2.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("an outer reader overlapping an incomplete span serves the previous fully-committed version, never torn") {
    withOuterJoin("left_outer") { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "20")))), 0L)
      assert(dj.refresh(spark) == 1)
      val set0 = outerSet(dj)
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "u", Seq("id"), null, user("2", "beau")))), 1L)
      assert(dj.refresh(spark) == 1)
      val set1 = outerSet(dj)
      assert(set0 != set1)
      // simulate the live-refresh window (pairs committed for the new
      // span, the unmatched companion not yet): hide the companion's
      // newest manifest — the read must fall back to the previous
      // fully-committed version, not throw and not serve pairs@new with
      // nulls@old
      val key = dj.latestKey(spark).get
      val m = new java.io.File(sink.root,
        s"_graft_djoins/dj_outer/_lnull/_commits/manifest.${IntervalKeys.name(key)}")
      val aside = new java.io.File(m.getParentFile, m.getName + ".hidden")
      assert(m.renameTo(aside))
      try assert(outerSet(dj) == set0,
        "mid-span read must serve the previous coherent version")
      finally assert(aside.renameTo(m))
      assert(outerSet(dj) == set1)
      // NO common version at all (a crash inside the first seed) refuses
      val all = m.getParentFile.listFiles()
        .filter(_.getName.startsWith("manifest."))
      all.foreach(f => assert(f.renameTo(
        new java.io.File(f.getParentFile, f.getName + ".hidden"))))
      try {
        val e = intercept[IllegalStateException] { dj.read(spark) }
        assert(e.getMessage.contains("first seed"), e.getMessage)
      } finally m.getParentFile.listFiles()
        .filter(_.getName.endsWith(".hidden"))
        .foreach(f => assert(f.renameTo(new java.io.File(f.getParentFile,
          f.getName.stripSuffix(".hidden")))))
    }
  }

  test("a crash between the pair and companion commits is repaired by the replayed span") {
    withOuterJoin("left_outer") { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "6")))), 0L)
      assert(dj.refresh(spark) == 1)
      // snapshot the pre-span cursor, land the churn (a >0→0 flip), and
      // refresh normally
      val cursor = new java.io.File(sink.root, "_graft_cursors/djoin_dj_outer")
      val preSpanCursor = java.nio.file.Files.readAllBytes(cursor.toPath)
      sink.appendBatch(envelope(Seq(
        ev(4, "delete", "u", Seq("id"), user("1", "ann"), null),
        ev(5, "insert", "o", Seq("oid"), null, order("c", "2", "7")))), 1L)
      assert(dj.refresh(spark) == 1)
      val healthy = outerSet(dj)
      assert(healthy == expectedOuter(sink, "left_outer"))
      // reconstruct the crash state: the span's PAIR commit landed but
      // neither companion's did, and the cursor never advanced — delete
      // the companions' newest manifests and restore the cursor
      val key = dj.latestKey(spark).get
      def dropCrc(of: java.io.File): Unit = {
        val crc = new java.io.File(of.getParentFile, s".${of.getName}.crc")
        if (crc.exists) assert(crc.delete())
      }
      for (sub <- Seq("_rcounts", "_lnull")) {
        val m = new java.io.File(sink.root,
          s"_graft_djoins/dj_outer/$sub/_commits/manifest.${IntervalKeys.name(key)}")
        assert(m.exists, s"$sub manifest missing")
        assert(m.delete())
        dropCrc(m)
      }
      java.nio.file.Files.write(cursor.toPath, preSpanCursor)
      dropCrc(cursor) // the local FS checksum sidecar no longer matches
      // mid-crash read: the previous fully-committed version serves
      assert(outerSet(dj).nonEmpty)
      // the replayed span completes ONLY the missing commits (the pair
      // state is isCommitted-skipped) and the cursor advances again
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == healthy)
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))
      assert(dj.refresh(spark) == 0)
    }
  }

  test("hot UNMATCHED key: null-extension churn is dirty-slice-bounded, not key-proportional") {
    withOuterJoin("left_outer", subs = 8) { (sink, dj) =>
      val FACTS = 120
      // 120 orders all referencing a user that does not exist — one hot
      // unmatched jk whose rows all hash to one bucket of the lnull log
      sink.appendBatch(envelope(
        (1 to FACTS).map(i => ev(i.toLong, "insert", "o", Seq("oid"), null,
          order(s"o$i", "9", i.toString)))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj).size == FACTS)
      // churn ONE of them
      sink.appendBatch(envelope(Seq(
        ev(1000, "update", "o", Seq("oid"), order("o5", "9", "5"),
          order("o5", "9", "999")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))
      val log = dj.unmatchedLeftLog.get
      val f = log.fs(spark)
      val churnKey = dj.latestKey(spark).get
      val vName = s"v${IntervalKeys.name(churnKey)}"
      val (written, carried) =
        log.entries(f, churnKey).partition(_._2.startsWith(vName))
      assert(carried.nonEmpty, "clean sub-slices of the hot bucket must carry")
      val writtenRows = written.values.toSeq match {
        case Nil => 0L
        case rels => spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("jk",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("lk",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("lh",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("left_after",
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType)),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType))))
          .parquet(rels.map(r => new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(sink.root,
              "_graft_djoins/dj_outer/_lnull"), r).toString): _*).count()
      }
      assert(writtenRows > 0 && writtenRows <= FACTS / 4,
        s"hot unmatched-key churn must rewrite ~1/8 of the bucket, wrote " +
          s"$writtenRows of $FACTS rows")
      // and the FLIP is bounded by the flipping key's rows: the user
      // appears, all 120 move matched — still correct
      sink.appendBatch(envelope(Seq(
        ev(2000, "insert", "u", Seq("id"), null, user("9", "hot")))), 2L)
      assert(dj.refresh(spark) == 1)
      val served = outerSet(dj)
      assert(served.size == FACTS && served.forall(_._3 == "hot"))
      assert(served == expectedOuter(sink, "left_outer"))
      // and back: delete the user, everything null-extends again
      sink.appendBatch(envelope(Seq(
        ev(3000, "delete", "u", Seq("id"), user("9", "hot"), null))), 3L)
      assert(dj.refresh(spark) == 1)
      assert(outerSet(dj) == expectedOuter(sink, "left_outer"))
      assert(outerSet(dj).forall(_._3 == "∅"))
    }
  }

  // ---- composition: the emitted output changelog ----

  /** Orders-preserved left_outer join EMITTING its output delta into a
    * second lake, plus a downstream [[MaintainedView]] aggregating the
    * emitted changelog by user name (null-extended rows under "∅") —
    * the join→aggregate pipeline the emission exists for.
    */
  private def withEmitJoin(joinType: String = "left_outer")(
      body: (LakeSink, LakeSink, MaintainedDeltaJoin, MaintainedView) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-dje").toString
    val outDir = Files.createTempDirectory("lake-dje-out").toString
    try {
      val sink = new LakeSink(dir)
      val out = new LakeSink(outDir)
      val dj = new MaintainedDeltaJoin(sink,
        ("public", "o"), ("public", "u"),
        im => element_at(im, "uid"), im => element_at(im, "id"),
        "dj_emit", joinType = joinType, stateBuckets = 4,
        rightKeyIsRowKey = true, emitTo = Some(out))
      val (emitSchema, emitTable) = dj.emitTable
      val view = new MaintainedView(out,
        new graft.operators.IncrementalAgg(
          group = Seq("who" -> (i =>
            coalesce(element_at(i, "r.name"), lit("∅")))),
          sums = Seq("amt" -> (i =>
            element_at(i, "l.amt").cast("long")))),
        emitSchema, emitTable, "dj_emit_agg", stateBuckets = 4)
      body(sink, out, dj, view)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    }
  }

  /** The downstream view's rows vs a direct aggregate of the join's own
    * served output — the composition oracle.
    */
  private def viewMatchesJoin(dj: MaintainedDeltaJoin, view: MaintainedView): Unit = {
    val got = view.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = dj.read(spark)
      .select(coalesce(element_at(col("right_after"), "name"), lit("∅")).as("who"),
        element_at(col("left_after"), "amt").cast("long").as("amt"))
      .groupBy("who")
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"downstream aggregate diverged: got $got want $want")
  }

  test("emitTo: a downstream maintained aggregate over the emitted changelog tracks the join through churn, flips, and truncate") {
    withEmitJoin() { (sink, out, dj, view) =>
      // seed: matched (a→1), unmatched (b→2 absent), NULL-jk (c)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "alice")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "10")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "20")),
        ev(4, "insert", "o", Seq("oid"), null,
          Map("oid" -> "c", "amt" -> "30")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
      // flip 0→>0 + preserved-side churn + update of a matched row: the
      // emitted batch carries pair inserts, the unmatched retraction,
      // and the −old/+new version swap
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "u", Seq("id"), null, user("2", "beau")),
        ev(6, "update", "o", Seq("oid"), order("a", "1", "10"),
          order("a", "1", "11")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
      // flip >0→0: user 2 deleted — order b's rows move from beau's
      // group into "∅" downstream (the null-extended row ENTERS the
      // aggregate's unmatched segment through the emitted transition)
      sink.appendBatch(envelope(Seq(
        ev(7, "delete", "u", Seq("id"), user("2", "beau"), null))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
      // a span that nets to NOTHING (telescoped insert+delete of one
      // row) emits no batch at all
      val batchesBefore = out.committedBatchIds(spark).size
      sink.appendBatch(envelope(Seq(
        ev(8, "insert", "o", Seq("oid"), null, order("t", "1", "99")),
        ev(9, "delete", "o", Seq("oid"), order("t", "1", "99"), null))), 3L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark).size == batchesBefore,
        "an empty output delta must not emit a batch")
      view.refresh(spark)
      viewMatchesJoin(dj, view)
      // truncate: the rebuild emits truncate + full output; downstream
      // resets through its own truncate handling
      sink.appendBatch(envelope(Seq(
        Row(50L, 50L, 7L, "truncate", "public", "o", T, T, null, null, null),
        ev(51, "insert", "o", Seq("oid"), null, order("z", "1", "70")))), 4L)
      assert(dj.refresh(spark) == 1)
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
      assert(view.read(spark).collect().map(_.getString(0)).toSet == Set("alice"))
    }
  }

  test("emitTo: emission is exactly-once — a crash between the state commits and the output batch completes on replay under the same id") {
    withEmitJoin() { (sink, out, dj, view) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L))
      // a replayed no-op refresh must not re-emit
      assert(dj.refresh(spark) == 0)
      assert(out.committedBatchIds(spark) == Seq(0L))
      val cursor = new java.io.File(sink.root, "_graft_cursors/djoin_dj_emit")
      val preSpanCursor = java.nio.file.Files.readAllBytes(cursor.toPath)
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L, 1L))
      val healthy = outerSet(dj)
      // reconstruct a crash AFTER every state commit and the emit
      // sequence write but BEFORE the output batch landed: delete the
      // emitted batch + its marker, restore the pre-span cursor
      def dropCrc(of: java.io.File): Unit = {
        val crc = new java.io.File(of.getParentFile, s".${of.getName}.crc")
        if (crc.exists) assert(crc.delete())
      }
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(out.root, "changelog/batch_id=1"))
      val marker = new java.io.File(out.root, "_graft_commits/1")
      assert(marker.delete()); dropCrc(marker)
      java.nio.file.Files.write(cursor.toPath, preSpanCursor)
      dropCrc(cursor)
      // the replayed span recomputes the (deterministic) delta and
      // re-lands the SAME output batch id; state commits are
      // isCommitted-skipped
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L, 1L))
      assert(outerSet(dj) == healthy)
      assert(view.refresh(spark) > 0)
      viewMatchesJoin(dj, view)
      assert(dj.refresh(spark) == 0)
      assert(out.committedBatchIds(spark) == Seq(0L, 1L))
      // a REPLAYED delta whose PRIOR batch vanished must upgrade to a
      // full rebuild under the same id (a delta with no base would
      // strand the downstream): crash before the append again, and ALSO
      // lose batch 1 from the emit lake
      val preSpan2 = java.nio.file.Files.readAllBytes(cursor.toPath)
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "o", Seq("oid"), null, order("c", "1", "7")))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L, 1L, 2L))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(out.root, "changelog/batch_id=2"))
      val m2 = new java.io.File(out.root, "_graft_commits/2")
      assert(m2.delete()); dropCrc(m2)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(out.root, "changelog/batch_id=1"))
      val m1 = new java.io.File(out.root, "_graft_commits/1")
      assert(m1.delete()); dropCrc(m1)
      java.nio.file.Files.write(cursor.toPath, preSpan2)
      dropCrc(cursor)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L, 2L))
      assert(out.changelog(spark)
        .filter(col("batch_id") === 2L && col("op") === "truncate")
        .count() == 1,
        "a replayed delta over lost history must upgrade to a full rebuild")
      assert(view.refresh(spark) > 0)
      viewMatchesJoin(dj, view)
    }
  }

  test("emitTo enabled mid-life: the first emission is a full rebuild (the disabled spans' deltas are gone), then deltas resume — and an empty span keeps continuity") {
    val dir = Files.createTempDirectory("lake-djml").toString
    val outDir = Files.createTempDirectory("lake-djml-out").toString
    try {
      val sink = new LakeSink(dir)
      val out = new LakeSink(outDir)
      def mk(emit: Option[LakeSink]) = new MaintainedDeltaJoin(sink,
        ("public", "o"), ("public", "u"),
        im => element_at(im, "uid"), im => element_at(im, "id"),
        "dj_mid", joinType = "left_outer", stateBuckets = 4,
        rightKeyIsRowKey = true, emitTo = emit)
      val silent = mk(None)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      assert(silent.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "6")))), 1L)
      assert(silent.refresh(spark) == 1)
      // enable emission mid-life: the next span must NOT emit just its
      // own delta (the downstream would miss a, b entirely)
      val dj = mk(Some(out))
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "o", Seq("oid"), null, order("c", "1", "7")))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L))
      assert(out.changelog(spark)
        .filter(col("op") === "truncate").count() == 1,
        "the backfill batch must carry the downstream-resetting truncate")
      val (es, et) = dj.emitTable
      val view = new MaintainedView(out,
        new graft.operators.IncrementalAgg(
          group = Seq("who" -> (i =>
            coalesce(element_at(i, "r.name"), lit("∅")))),
          sums = Seq("amt" -> (i => element_at(i, "l.amt").cast("long")))),
        es, et, "dj_mid_agg", stateBuckets = 4)
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
      // an EMPTY span (net-zero churn) records continuity without a batch
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "o", Seq("oid"), null, order("t", "1", "9")),
        ev(6, "delete", "o", Seq("oid"), order("t", "1", "9"), null))), 3L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L))
      // ... and the NEXT churn span emits a plain delta, not a rebuild
      sink.appendBatch(envelope(Seq(
        ev(7, "insert", "o", Seq("oid"), null, order("d", "1", "8")))), 4L)
      assert(dj.refresh(spark) == 1)
      assert(out.committedBatchIds(spark) == Seq(0L, 1L))
      assert(out.changelog(spark)
        .filter(col("batch_id") === 1L && col("op") === "truncate")
        .count() == 0, "a continuous span emits a delta, not a rebuild")
      assert(view.refresh(spark) == 1)
      viewMatchesJoin(dj, view)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    }
  }

  test("the emit lake is single-producer: a second emitting join, or a root with foreign history, refuses") {
    val dir = Files.createTempDirectory("lake-djsp").toString
    val outDir = Files.createTempDirectory("lake-djsp-out").toString
    val out2Dir = Files.createTempDirectory("lake-djsp-out2").toString
    try {
      val sink = new LakeSink(dir)
      val out = new LakeSink(outDir)
      def mk(nm: String, emit: LakeSink) = new MaintainedDeltaJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        nm, stateBuckets = 4, emitTo = Some(emit))
      val a = mk("dj_a", out)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("x", "1", "5")))), 0L)
      assert(a.refresh(spark) == 1)
      assert(out.committedBatchIds(spark).nonEmpty)
      // a SECOND join emitting into the same lake would collide on
      // batch ids and silently lose output — it refuses up front
      val b = mk("dj_b", out)
      val e1 = intercept[IllegalStateException] { b.refresh(spark) }
      assert(e1.getMessage.contains("owned by producer"), e1.getMessage)
      // an emit lake that already holds batches from an UNKNOWN writer
      // (no producer marker) refuses too
      val out2 = new LakeSink(out2Dir)
      out2.appendBatch(envelope(Seq(
        ev(9, "insert", "u", Seq("id"), null, user("9", "zed")))), 0L)
      val c = mk("dj_c", out2)
      val e2 = intercept[IllegalStateException] { c.refresh(spark) }
      assert(e2.getMessage.contains("unknown producer"), e2.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out2Dir))
    }
  }

  test("emission root discipline: swapped roots, flip-flops, lost history, and a rebuilt state dir all refuse or backfill — never a stranding delta") {
    val dir = Files.createTempDirectory("lake-djroot").toString
    val outADir = Files.createTempDirectory("lake-djroot-a").toString
    val outBDir = Files.createTempDirectory("lake-djroot-b").toString
    try {
      val sink = new LakeSink(dir)
      val outA = new LakeSink(outADir)
      val outB = new LakeSink(outBDir)
      def mk(emit: LakeSink) = new MaintainedDeltaJoin(sink,
        ("public", "u"), ("public", "o"),
        im => element_at(im, "id"), im => element_at(im, "uid"),
        "dj_root", stateBuckets = 4, emitTo = Some(emit))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      assert(mk(outA).refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")))), 1L)
      assert(mk(outA).refresh(spark) == 1)
      assert(outA.committedBatchIds(spark) == Seq(0L, 1L))
      // SWAP to a fresh root: refused up front (the recorded batches
      // live in A — a delta into B would strand its consumers)
      val eSwap = intercept[IllegalStateException] { mk(outB).refresh(spark) }
      assert(eSwap.getMessage.contains("live in"), eSwap.getMessage)
      // the named remedy: drop the sequence file → the NEXT span opens
      // the new root with a full truncate+output backfill
      val seq = new java.io.File(sink.root, "_graft_djoins/dj_root/_emit")
      assert(seq.delete())
      val crc = new java.io.File(seq.getParentFile, "._emit.crc")
      if (crc.exists) assert(crc.delete())
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", "o", Seq("oid"), null, order("c", "1", "7")))), 2L)
      assert(mk(outB).refresh(spark) == 1)
      assert(outB.committedBatchIds(spark) == Seq(0L))
      assert(outB.changelog(spark).filter(col("op") === "truncate")
        .count() == 1, "the new root must open with the backfill")
      // FLIP-FLOP back to A: its producer marker still matches, and its
      // stale batch ids would bless a diverged history — refused
      val eBack = intercept[IllegalStateException] { mk(outA).refresh(spark) }
      assert(eBack.getMessage.contains("live in"), eBack.getMessage)
      // LOST HISTORY in B (batches gone, producer marker retained): the
      // next span must upgrade to a full rebuild, never a delta with no
      // base underneath it
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(outB.root, "changelog"))
      val m0 = new java.io.File(outB.root, "_graft_commits/0")
      assert(m0.delete())
      val m0crc = new java.io.File(m0.getParentFile, ".0.crc")
      if (m0crc.exists) assert(m0crc.delete())
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", "o", Seq("oid"), null, order("d", "1", "8")))), 3L)
      assert(mk(outB).refresh(spark) == 1)
      assert(outB.committedBatchIds(spark) == Seq(1L))
      assert(outB.changelog(spark)
        .filter(col("batch_id") === 1L && col("op") === "truncate")
        .count() == 1, "a lake missing the recorded history gets the " +
          "full backfill")
      // REBUILT STATE DIR over a compacted+VACUUMED emit lake: the
      // folded interval would silently swallow restarted ids — refused
      outB.compact(spark)
      outB.vacuum(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(sink.root, "_graft_djoins/dj_root"))
      val eRebuilt = intercept[IllegalStateException] { mk(outB).refresh(spark) }
      assert(eRebuilt.getMessage.contains("retains the old output"),
        eRebuilt.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outADir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outBDir))
    }
  }

  test("keyOf: composite join keys get separator discipline — naive-concat collisions cannot pair, NULL components never match") {
    val dir = Files.createTempDirectory("lake-djk").toString
    try {
      val sink = new LakeSink(dir)
      val dj = new MaintainedDeltaJoin(sink,
        ("public", "l"), ("public", "r"),
        MaintainedDeltaJoin.keyOf("k1", "k2"),
        MaintainedDeltaJoin.keyOf("k1", "k2"),
        "dj_composite", stateBuckets = 4)
      sink.appendBatch(envelope(Seq(
        // ("ab","c") vs ("a","bc"): naive concat("abc") would pair them
        ev(1, "insert", "l", Seq("lid"), null,
          Map("lid" -> "l1", "k1" -> "ab", "k2" -> "c", "v" -> "L1")),
        ev(2, "insert", "r", Seq("rid"), null,
          Map("rid" -> "r1", "k1" -> "a", "k2" -> "bc", "v" -> "R1")),
        // the genuinely equal composite key pairs
        ev(3, "insert", "l", Seq("lid"), null,
          Map("lid" -> "l2", "k1" -> "x", "k2" -> "y", "v" -> "L2")),
        ev(4, "insert", "r", Seq("rid"), null,
          Map("rid" -> "r2", "k1" -> "x", "k2" -> "y", "v" -> "R2")),
        // NULL component: never pairs, even with another NULL component
        ev(5, "insert", "l", Seq("lid"), null,
          Map("lid" -> "l3", "k1" -> "x", "v" -> "L3")),
        ev(6, "insert", "r", Seq("rid"), null,
          Map("rid" -> "r3", "k1" -> "x", "v" -> "R3")))), 0L)
      assert(dj.refresh(spark) == 1)
      val pairs = dj.read(spark).collect().map { r =>
        (r.getMap[String, String](1)("v"), r.getMap[String, String](2)("v"))
      }.toSet
      assert(pairs == Set(("L2", "R2")),
        s"only the equal composite key may pair, got $pairs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("an empty state dir's mistyped marker may be re-stamped by a writer; committed state still refuses") {
    val dir = Files.createTempDirectory("lake-djm").toString
    try {
      val sink = new LakeSink(dir)
      def dj(jt: String, nm: String = "dj_restamp") = new MaintainedDeltaJoin(sink,
        ("public", "o"), ("public", "u"),
        im => element_at(im, "uid"), im => element_at(im, "id"),
        nm, joinType = jt, stateBuckets = 4)
      // a refresh over an EMPTY lake stamps the marker yet commits no
      // state (the poll delivers nothing) — the r19 footgun: the wrong
      // type burned the name forever
      assert(dj("inner").refresh(spark) == 0)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "6")))), 0L)
      // the corrected construction re-stamps and serves
      val outer = dj("left_outer")
      assert(outer.refresh(spark) == 1)
      assert(outerSet(outer) == Set(("a", "5", "ann"), ("b", "6", "∅")))
      // no stale marker tmps survive the stamp
      val debris = new java.io.File(sink.root, "_graft_djoins/dj_restamp")
        .listFiles().filter(f => f.getName.startsWith("_jointype.") &&
          f.getName.endsWith(".tmp"))
      assert(debris.isEmpty, debris.mkString(","))
      // but once state is committed the type is fixed
      val e = intercept[IllegalStateException] { dj("inner").refresh(spark) }
      assert(e.getMessage.contains("'left_outer'"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("hot join key: refresh write and merge input are delta-proportional, sub-slice-bounded") {
    withJoin(subs = 8) { (sink, dj) =>
      val FACTS = 120
      // ONE user with 120 orders — every pair lives in hash(jk)'s bucket
      sink.appendBatch(envelope(
        Seq(ev(0, "insert", "u", Seq("id"), null, user("1", "hot"))) ++
          (1 to FACTS).map(i => ev(i.toLong, "insert", "o", Seq("oid"), null,
            order(s"o$i", "1", i.toString)))), 0L)
      assert(dj.refresh(spark) == 1)
      // churn ONE fact row
      sink.appendBatch(envelope(Seq(
        ev(1000, "update", "o", Seq("oid"), order("o5", "1", "5"),
          order("o5", "1", "999")))), 1L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj).size == FACTS)
      assert(joinSet(dj) == expected(sink))
      // the churn version's own slices hold only the dirty sub-slices'
      // merged pairs — NOT the hot key's 120 pairs
      val states = dj.stateLog
      val f = states.fs(spark)
      val churnKey = dj.latestKey(spark).get
      val vName = s"v${IntervalKeys.name(churnKey)}"
      val (written, carried) =
        states.entries(f, churnKey).partition(_._2.startsWith(vName))
      assert(carried.nonEmpty, "clean sub-slices of the hot bucket must carry")
      val writtenRows = written.values.toSeq match {
        case Nil => 0L
        case rels => spark.read
          .schema(dj.stateSchema)
          .parquet(rels.map(r => new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(sink.root, "_graft_djoins/dj_orders"),
            r).toString): _*).count()
      }
      assert(writtenRows > 0 && writtenRows <= FACTS / 4,
        s"hot-key churn must rewrite ~1/8 of the bucket, wrote " +
          s"$writtenRows of $FACTS pairs")
    }
  }

  /** Rewind the join's cursor to `0:0` — the crash window where the state
    * committed but the cursor advance was lost.
    */
  private def rewindCursor(sink: LakeSink): Unit = {
    // the raw write bypasses Hadoop's checksum sidecar — drop it too
    new java.io.File(s"${sink.root}/_graft_cursors/.djoin_dj_orders.crc").delete()
    java.nio.file.Files.write(
      new java.io.File(s"${sink.root}/_graft_cursors/djoin_dj_orders").toPath,
      "0:0".getBytes)
  }

  private def versions(dj: MaintainedDeltaJoin): Seq[(Long, Long)] =
    dj.stateLog.committed(dj.stateLog.fs(spark))

  test("replay after a lost cursor advance is idempotent and commits no new version") {
    withJoin() { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")))), 0L)
      assert(dj.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(4, "delete", "o", Seq("oid"), order("a", "1", "5"), null))), 1L)
      assert(dj.refresh(spark) == 1)
      val healthy = joinSet(dj)
      assert(healthy == Set(("b", "ann", "6")))
      val committed = versions(dj)
      rewindCursor(sink)
      assert(sink.cursor(spark, "djoin_dj_orders") == 0L)
      // the replayed span must not double-apply the retraction
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == healthy)
      assert(versions(dj) == committed, "a replayed span commits nothing")
      assert(sink.cursor(spark, "djoin_dj_orders") == 1L, "cursor healed")
      assert(dj.refresh(spark) == 0)
    }
  }

  test("an empty committed batch advances the cursor without touching state") {
    withJoin() { (sink, dj) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")))), 0L)
      assert(dj.refresh(spark) == 1)
      val committed = versions(dj)
      sink.appendBatch(envelope(Seq.empty), 1L)
      assert(dj.refresh(spark) == 1, "the empty batch is consumed")
      assert(joinSet(dj) == Set(("a", "ann", "5")))
      assert(versions(dj) == committed, "an empty span commits nothing")
      assert(dj.refresh(spark) == 0, "cursor advanced past the empty batch")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", "o", Seq("oid"), null, order("b", "1", "6")))), 2L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("a", "ann", "5"), ("b", "ann", "6")))
      assert(joinSet(dj) == expected(sink))
    }
  }

  test("a late snapshot batch below the cursor floor reaches the join") {
    withJoin() { (sink, dj) =>
      import spark.implicits._
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", "u", Seq("id"), null, user("1", "ann")),
        ev(2, "insert", "o", Seq("oid"), null, order("a", "1", "5")),
        ev(3, "insert", "o", Seq("oid"), null, order("b", "2", "6")))), 0L)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == Set(("a", "ann", "5")))
      // the user table's snapshot lands as a NEGATIVE batch id, below the
      // cursor's floor: user 2 arrives and pairs with the waiting order
      sink.appendSnapshot("public.u",
        Seq(("2", "bo")).toDF("id", "name"), Seq("id"), 0L, -1L)
      assert(dj.refresh(spark) == 1)
      val withSnapshot = Set(("a", "ann", "5"), ("b", "bo", "6"))
      assert(joinSet(dj) == withSnapshot, "snapshot rows joined the pairs")
      assert(joinSet(dj) == expected(sink))
      // replay the same late span (cursor rewound): must not double-apply
      rewindCursor(sink)
      assert(dj.refresh(spark) == 1)
      assert(joinSet(dj) == withSnapshot, "replayed snapshot span is idempotent")
    }
  }
}
