package graft.sinks

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

import scala.collection.mutable
import scala.util.Random

/** Seeded chaos soak of the lake sink's crash windows: a random op mix of
  * appends, stale replays, half-written batches (crash between parquet
  * write and marker), crashed-compaction leftovers (orphan version dirs,
  * torn manifest temp files, torn cursor temp files), compact, vacuum —
  * with a named-cursor consumer polling throughout and the fold checked
  * against a sequential in-memory replay oracle after every maintenance
  * op. Invariants:
  *
  *  - the consumer sees every committed batch EXACTLY once, in id order,
  *    and never sees an uncommitted (markerless) batch;
  *  - latestState always equals the oracle fold of exactly the committed
  *    events — half-written and stale-replayed content is invisible;
  *  - compact/vacuum/GC never break either invariant, no matter what
  *    crash debris the op mix left on disk.
  */
class LakeChaosSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val T = new java.sql.Timestamp(1700000000000L)

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private def ev(lsn: Long, op: String, key: String, v: String): Row =
    Row(lsn, lsn, 7L, op, "public", "t", T, T, Seq("id"),
      if (op == "delete") Map("id" -> key, "v" -> null) else null,
      if (op == "delete") null else Map("id" -> key, "v" -> v))

  /** Full-image event (REPLICA IDENTITY FULL shape) so the maintained
    * view's retraction arithmetic has the before images it requires.
    * `t` images carry a `ref` foreign key (possibly null) into table `u`
    * so the maintained JOIN soaks alongside the view.
    */
  private def evFull(
      lsn: Long, op: String, key: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "t", T, T, Seq("id"), before, after)

  private def evU(
      lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "u", T, T, Seq("id"), before, after)

  for (seed <- Seq(0xBEEFL, 20260814L, 777L))
    test(s"chaos soak seed=$seed: crash debris never double-delivers or corrupts the fold") {
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory("lake-chaos").toString
      val sink = new LakeSink(dir, baseBuckets = 4)
      // crash debris only ever follows the format stamp (appendBatch
      // stamps a fresh root before its first parquet write)
      Files.write(java.nio.file.Paths.get(dir, LakeSink.FormatFile),
        LakeSink.FormatVersion.getBytes)
      try {
        var lsn = 100L
        var nextId = 0L
        // sequential replay oracle: committed events in commit order
        val oracle = mutable.LinkedHashMap.empty[String, (String, String)]
        val delivered = mutable.ArrayBuffer.empty[Long]
        val committed = mutable.ArrayBuffer.empty[Long]
        var pendingHalf: Option[(Long, Seq[Row])] = None

        // IVM-consistent generation: insert only absent keys, update/delete
        // only present ones WITH their true prior image (REPLICA IDENTITY
        // FULL) — fold semantics are unchanged (it treats insert/update as
        // upserts), but the maintained view's and join's retractions need
        // honesty. `t` rows carry a `ref` FK into `u` (sometimes null —
        // the join's null segment); `u` rows churn too.
        val gen = mutable.Map.empty[String, (String, String)] // id -> (v, ref)
        val uGen = mutable.Map.empty[String, String]          // uid -> name
        // shard is a PURE FUNCTION of the row key — immutable per row by
        // construction (NULL for %5 keys, soaking the fallback), which is
        // exactly the contract the immutable-group view below declares
        def shardOf(key: String): String =
          if (key.toLong % 5 == 0) null else "s" + (key.toLong % 3)
        def imgT(key: String, vr: (String, String)): Map[String, String] =
          Map("id" -> key, "v" -> vr._1, "ref" -> vr._2,
            "shard" -> shardOf(key))
        def randomRows(): Seq[Row] = {
          val tRows = (0 until (1 + rnd.nextInt(5))).map { _ =>
            lsn += 1 + rnd.nextInt(3)
            val key = (1 + rnd.nextInt(12)).toString
            val ref = if (rnd.nextInt(5) == 0) null
              else (1 + rnd.nextInt(4)).toString
            gen.get(key) match {
              case Some(prev) if rnd.nextInt(10) == 0 =>
                gen.remove(key)
                evFull(lsn, "delete", key, imgT(key, prev), null)
              case Some(prev) =>
                val next = (s"v$lsn", ref); gen(key) = next
                evFull(lsn, "update", key, imgT(key, prev), imgT(key, next))
              case None =>
                val next = (s"v$lsn", ref); gen(key) = next
                evFull(lsn, "insert", key, null, imgT(key, next))
            }
          }
          val uRows = if (rnd.nextInt(3) != 0) Seq.empty else {
            lsn += 1
            val uid = (1 + rnd.nextInt(4)).toString
            def uImg(nm: String) = Map("id" -> uid, "name" -> nm)
            uGen.get(uid) match {
              case Some(prev) if rnd.nextInt(6) == 0 =>
                uGen.remove(uid)
                Seq(evU(lsn, "delete", uImg(prev), null))
              case Some(prev) =>
                val nm = s"n$lsn"; uGen(uid) = nm
                Seq(evU(lsn, "update", uImg(prev), uImg(nm)))
              case None =>
                val nm = s"n$lsn"; uGen(uid) = nm
                Seq(evU(lsn, "insert", null, uImg(nm)))
            }
          }
          tRows ++ uRows
        }

        // oracle: t id -> (v, ref); uOracle: uid -> name
        val uOracle = mutable.LinkedHashMap.empty[String, String]
        def applyToOracle(rows: Seq[Row]): Unit = rows.foreach { r =>
          val op = r.getString(3)
          val table = r.getString(5)
          if (op == "delete") {
            val k = r.getMap[String, String](9)("id")
            if (table == "u") uOracle.remove(k) else oracle.remove(k)
          } else {
            val m = r.getMap[String, String](10)
            if (table == "u") uOracle(m("id")) = m("name")
            else oracle(m("id")) = (m("v"), m("ref"))
          }
        }

        def commitBatch(id: Long, rows: Seq[Row]): Unit = {
          sink.appendBatch(envelope(rows), id)
          committed += id
          applyToOracle(rows)
        }

        def drain(): Unit = {
          sink.poll(spark, "soak") { df =>
            val ids = df.select(col("batch_id").cast("long")).distinct()
              .collect().map(_.getLong(0)).sorted
            delivered ++= ids
          }
          ()
        }

        def checkFold(): Unit = {
          val got = sink.latestState(spark, "public", "t")
            .select(col("k"), element_at(col("after"), "v"))
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          assert(got == oracle.view.mapValues(_._1).toMap,
            s"seed=$seed: fold diverged from the sequential oracle " +
              s"(missing=${oracle.keySet -- got.keySet} extra=${got.keySet -- oracle.keySet})")
        }

        // a maintained view polling the same changelog: count/sum/min/max
        // of id per id%3 group, with dirty-group recomputes going through
        // stateAsOf — chaos here soaks IVM and time travel together
        val idEx: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          im => element_at(im, "id").cast("long")
        val mv = new MaintainedView(sink,
          new graft.operators.IncrementalAgg(
            group = Seq("g" -> (im => idEx(im) % 3)),
            sums = Seq("id" -> idEx), mins = Seq("id" -> idEx),
            maxs = Seq("id" -> idEx)),
          "public", "t", "soakview")

        def checkView(): Unit = {
          val pre = sink.cursorInterval(spark, "view_soakview")
          mv.refresh(spark)
          if (rnd.nextInt(3) == 0) {
            // crash window: view state committed, cursor advance lost —
            // rewind the cursor and replay; the view must not double-apply
            val cf = new java.io.File(s"$dir/_graft_cursors/view_soakview")
            new java.io.File(s"$dir/_graft_cursors/.view_soakview.crc").delete()
            if (pre._2 == Long.MinValue) cf.delete()
            else java.nio.file.Files.write(cf.toPath, s"${pre._1}:${pre._2}".getBytes)
            mv.refresh(spark)
          }
          // sums carry the extractor's own type: a long measure sums as LONG
          val got = mv.read(spark).collect().map { r =>
            r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          }.toMap
          val want = oracle.keysIterator.map(_.toLong).toSeq
            .groupBy(_ % 3).map { case (g, ids) =>
              g -> ((ids.size.toLong, ids.sum, ids.min, ids.max))
            }
          assert(got == want,
            s"seed=$seed: maintained view diverged (got=$got want=$want)")
        }

        // a view grouped on an IMMUTABLE NON-KEY attribute: min/max
        // retractions recompute their dirty groups through the
        // GROUP-RESTRICTED fold (stateAsOf restrictToImmutable) under the
        // same crash windows; the NULL shard soaks the whole-fold
        // fallback on the refreshes that dirty it
        val mvi = new MaintainedView(sink,
          new graft.operators.IncrementalAgg(
            group = Seq("shard" -> (im => element_at(im, "shard"))),
            sums = Seq("id" -> idEx), mins = Seq("id" -> idEx),
            maxs = Seq("id" -> idEx)),
          "public", "t", "soakshard", stateBuckets = 4,
          groupIsImmutable = true, groupCol = Some("shard"))

        def checkShardView(): Unit = {
          val pre = sink.cursorInterval(spark, "view_soakshard")
          mvi.refresh(spark)
          if (rnd.nextInt(3) == 0) {
            // crash window: state committed, cursor advance lost
            val cf = new java.io.File(s"$dir/_graft_cursors/view_soakshard")
            new java.io.File(s"$dir/_graft_cursors/.view_soakshard.crc").delete()
            if (pre._2 == Long.MinValue) cf.delete()
            else java.nio.file.Files.write(cf.toPath, s"${pre._1}:${pre._2}".getBytes)
            mvi.refresh(spark)
          }
          val got = mvi.read(spark).collect().map { r =>
            Option(r.getString(0)) ->
              ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          }.toMap
          val want = oracle.keysIterator.map(_.toLong).toSeq
            .groupBy(id => Option(shardOf(id.toString)))
            .map { case (sh, ids) =>
              sh -> ((ids.size.toLong, ids.sum, ids.min, ids.max)) }
          assert(got == want,
            s"seed=$seed: immutable-group view diverged (got=$got want=$want)")
        }

        // a maintained JOIN polling the same changelog: u (users) RIGHT
        // OUTER t on t.ref — the preserved right side null-extends both
        // unmatched refs and NULL refs, so the null segment, dirty-key
        // recompute, and bucketed state splice all soak under the same
        // crash windows as the view, audited against the sequential
        // oracle's join at every boundary
        // u's join key IS its single-column replica key, so the soak also
        // exercises the KEY-RESTRICTED recompute fold under crash windows
        val mj = new MaintainedJoin(sink,
          ("public", "u"), ("public", "t"),
          im => element_at(im, "id"), im => element_at(im, "ref"),
          "soakjoin", joinType = "right_outer", stateBuckets = 4,
          leftKeyIsRowKey = true)

        def checkJoin(): Unit = {
          val preJ = sink.cursorInterval(spark, "join_soakjoin")
          mj.refresh(spark)
          if (rnd.nextInt(3) == 0) {
            // crash window: join state committed, cursor advance lost —
            // rewind and replay; the committed manifest must short-circuit
            val cf = new java.io.File(s"$dir/_graft_cursors/join_soakjoin")
            new java.io.File(s"$dir/_graft_cursors/.join_soakjoin.crc").delete()
            if (preJ == ((0L, Long.MinValue))) cf.delete()
            else java.nio.file.Files.write(cf.toPath,
              s"${preJ._1}:${preJ._2}".getBytes)
            mj.refresh(spark)
          }
          val got = mj.read(spark).collect().map { r =>
            val l = r.getMap[String, String](1)
            val t = r.getMap[String, String](2)
            (if (l == null) null else l("name"), t("id"))
          }.toSet
          val want: Set[(String, String)] = oracle.toSeq.map { case (id, (_, ref)) =>
            (if (ref == null) null else uOracle.getOrElse(ref, null), id)
          }.toSet
          assert(got == want,
            s"seed=$seed: maintained join diverged " +
              s"(missing=${want -- got} extra=${got -- want})")
        }

        // a maintained DISTINCT count polling the same changelog:
        // count(DISTINCT ref) per shard — refcount state, bucketed
        // commits, NULL refs dropped per SQL, NULL shards first-class —
        // soaking under the same crash windows as the other maintainers,
        // audited against the sequential oracle at every boundary
        val mdd = new MaintainedDistinct(sink,
          new graft.operators.IncrementalDistinct(
            group = Seq("shard" -> (im => element_at(im, "shard"))),
            name = "ref",
            value = im => element_at(im, "ref")),
          "public", "t", "soakdist", stateBuckets = 4)

        def checkDistinct(): Unit = {
          val pre = sink.cursorInterval(spark, "view_soakdist")
          mdd.refresh(spark)
          if (rnd.nextInt(3) == 0) {
            // crash window: refcount state committed, cursor advance lost —
            // rewind and replay; a double-applied retraction would either
            // trip the negative-refcount check or drop counts
            val cf = new java.io.File(s"$dir/_graft_cursors/view_soakdist")
            new java.io.File(s"$dir/_graft_cursors/.view_soakdist.crc").delete()
            if (pre == ((0L, Long.MinValue))) cf.delete()
            else java.nio.file.Files.write(cf.toPath,
              s"${pre._1}:${pre._2}".getBytes)
            mdd.refresh(spark)
          }
          val got = mdd.read(spark).collect().map { r =>
            Option(r.getString(0)) -> r.getLong(1) }.toMap
          val want = oracle.toSeq
            .collect { case (id, (_, ref)) if ref != null =>
              (Option(shardOf(id)), ref) }
            .groupBy(_._1)
            .map { case (sh, vs) => sh -> vs.map(_._2).distinct.size.toLong }
          assert(got == want,
            s"seed=$seed: maintained distinct diverged (got=$got want=$want)")
        }

        val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

        var nextSnapId = -1L
        (0 until 60).foreach { step =>
          rnd.nextInt(11) match {
            case 10 => // mid-stream table addition: a late snapshot batch
              // for ANOTHER table in the downward id space — delivery and
              // maintenance must stride it; the "t" fold oracle is untouched
              sink.appendBatch(envelope(Seq(
                Row(50L, 50L, 7L, "insert", "public", "s", T, T, Seq("id"),
                  null, Map("id" -> s"s$nextSnapId", "v" -> "snap")))), nextSnapId)
              committed += nextSnapId; nextSnapId -= 1
            case 0 | 1 | 2 | 3 => // plain committed append — epochs are
              // SEQUENTIAL per stream: a pending half-written epoch always
              // replays (restart) before any later epoch can run
              pendingHalf.foreach { case (id, rows) => commitBatch(id, rows) }
              pendingHalf = None
              commitBatch(nextId, randomRows()); nextId += 1
            case 4 => // stale replay of an already-committed id: must be a no-op
              if (committed.nonEmpty) {
                val id = committed(rnd.nextInt(committed.size))
                sink.appendBatch(envelope(Seq(ev(1L, "insert", "99", "stale"))), id)
              }
            case 5 => // crash between parquet write and marker: half-written
              // batch — a repeat crash re-tears the SAME epoch with the
              // SAME rows (epochs are sequential and a retry re-reads the
              // same slot offsets, so the WAL content cannot change;
              // regenerating fresh rows here would mutate the generator
              // from content that never commits, making the committed
              // changelog reference uncommitted versions — an inconsistent
              // feed the value-sensitive distinct maintainer rejects loud)
              val (id, rows) = pendingHalf.getOrElse {
                nextId += 1; (nextId - 1, randomRows())
              }
              envelope(rows).write.mode("overwrite")
                .parquet(s"$dir/changelog/batch_id=$id")
              pendingHalf = Some((id, rows))
            case 6 => // the foreachBatch retry lands the half-written batch
              pendingHalf.foreach { case (id, rows) => commitBatch(id, rows) }
              pendingHalf = None
            case 7 => // crashed compaction debris + torn small-file temps
              val log = "_base_data/schema=public/table=t"
              val v = s"${sink.foldedLow(spark)}_${sink.watermark(spark) + 1}"
              f.mkdirs(new Path(dir, s"$log/v$v/bucket=0"))
              val junk = f.create(new Path(dir,
                s"$log/v$v/bucket=0/part-junk.parquet"), true)
              junk.write("torn".getBytes); junk.close()
              val tmp = f.create(new Path(dir,
                s"$log/_commits/manifest.$v.tmp"), true)
              tmp.write("torn".getBytes); tmp.close()
              sink.compact(spark)
              checkFold()
            case 8 => // maintenance: compact (+ vacuum once consumers caught up)
              sink.compact(spark)
              drain()
              checkView() // every maintainer's cursor must pass the
              checkShardView() // watermark before vacuum may drop the
              checkJoin()      // folded tail
              checkDistinct()
              sink.vacuum(spark)
              checkFold()
            case 9 => // reader progress + fold/view/join/distinct audit
              drain()
              checkFold()
              checkView()
              checkShardView()
              checkJoin()
              checkDistinct()
          }
        }
        // land any dangling half-written batch, then final audit
        pendingHalf.foreach { case (id, rows) => commitBatch(id, rows) }
        drain()
        checkFold()
        checkView()
        checkShardView()
        checkJoin()
        checkDistinct()
        // epochs deliver in ascending id order (snapshot ids interleave
        // with no intra-span order — the drain helper sorts per span; the
        // stream soak asserts per-trigger order precisely)
        val epochIds = delivered.filter(_ >= 0).toSeq
        assert(epochIds == epochIds.sorted,
          s"seed=$seed: epoch delivery must be in batch-id order")
        assert(delivered.distinct.size == delivered.size,
          s"seed=$seed: a batch was delivered twice: " +
            delivered.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted)
        assert(delivered.toSet == committed.toSet,
          s"seed=$seed: committed and delivered diverge " +
            s"(missing=${committed.toSet -- delivered.toSet} " +
            s"phantom=${delivered.toSet -- committed.toSet})")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }

  test("chaos soak seed=0xFEED: a graft-lake stream consumer sees every batch exactly once") {
    // Same crash windows as the poll soak, but the consumer is a REAL
    // Structured Streaming query over format("graft-lake"), restarted from
    // its checkpoint at every drain — cold-start admission, offset
    // recovery, and the commit-log resolution all go through the engine.
    val rnd = new Random(0xFEEDL)
    val dir = Files.createTempDirectory("lake-chaos-stream").toString
    val ckpt = Files.createTempDirectory("lake-chaos-stream-ckpt").toString
    val sink = new LakeSink(dir, baseBuckets = 4)
    // crash debris only ever follows the format stamp (appendBatch
    // stamps a fresh root before its first parquet write)
    Files.write(java.nio.file.Paths.get(dir, LakeSink.FormatFile),
      LakeSink.FormatVersion.getBytes)
    try {
      var lsn = 100L
      var nextId = 0L
      var nextSnapId = -1L
      val committed = mutable.ArrayBuffer.empty[Long]
      val streamDelivered = mutable.ArrayBuffer.empty[Long]
      var pendingHalf: Option[Long] = None

      def rows(): Seq[Row] = (0 until (1 + rnd.nextInt(4))).map { _ =>
        lsn += 1
        ev(lsn, "insert", (1 + rnd.nextInt(12)).toString, s"v$lsn")
      }

      def streamDrain(): Unit = {
        val q = spark.readStream.format("graft-lake").option("path", dir)
          .option("maxBatchesPerTrigger", "2").load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
            val ids = df.select(col("batch_id")).distinct()
              .collect().map(_.getLong(0)).sorted
            streamDelivered.synchronized { streamDelivered ++= ids }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
      }

      (0 until 40).foreach { _ =>
        rnd.nextInt(9) match {
          case 0 | 1 | 2 | 3 =>
            pendingHalf.foreach { id =>
              sink.appendBatch(envelope(rows()), id); committed += id
            }
            pendingHalf = None
            sink.appendBatch(envelope(rows()), nextId)
            committed += nextId; nextId += 1
          case 4 => // stale replay must be a no-op
            if (committed.nonEmpty)
              sink.appendBatch(envelope(Seq(ev(1L, "insert", "99", "stale"))),
                committed(rnd.nextInt(committed.size)))
          case 8 => // mid-stream table addition: a LATE snapshot batch in
            // the downward id space — possibly below an already-compacted
            // fold floor — must still reach the stream exactly once
            sink.appendBatch(envelope(Seq(
              ev(50L, "insert", s"s$nextSnapId", "snap"))), nextSnapId)
            committed += nextSnapId; nextSnapId -= 1
          case 5 => // half-written: parquet landed, no marker — invisible
            val id = pendingHalf.getOrElse { nextId += 1; nextId - 1 }
            envelope(rows()).write.mode("overwrite")
              .parquet(s"$dir/changelog/batch_id=$id")
            pendingHalf = Some(id)
          case 6 => // maintenance after the consumer caught up
            streamDrain()
            sink.compact(spark)
            sink.vacuum(spark)
          case 7 =>
            streamDrain()
        }
      }
      pendingHalf.foreach { id =>
        sink.appendBatch(envelope(rows()), id); committed += id
      }
      streamDrain()

      val got = streamDelivered.toSeq
      // Each growth direction delivers in order: epochs ascending, late
      // snapshots newest-first (descending ids); the two interleave.
      val epochs = got.filter(_ >= 0)
      val snaps = got.filter(_ < 0)
      assert(epochs == epochs.sorted, "epoch delivery must be in batch-id order")
      assert(snaps == snaps.sorted.reverse,
        "snapshot delivery must be newest-first (interval growth downward)")
      assert(got.distinct.size == got.size,
        s"a batch was streamed twice: " +
          got.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted)
      assert(got.toSet == committed.toSet,
        s"committed and streamed diverge (missing=${committed.toSet -- got.toSet} " +
          s"phantom=${got.toSet -- committed.toSet})")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }
}
