package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent
import graft.operators.IncrementalAgg

/** The lake-composed maintained view: cursor-driven refresh, span
  * telescoping, dirty-group recompute through time travel, and crash-replay
  * idempotence across the state-commit / cursor-advance window.
  */
class MaintainedViewSpec extends AnyFunSuite {
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
    Row(lsn, lsn, 7L, op, "public", "users", T, T, Seq("id"), before, after)

  private def row(id: String, grp: String, v: String): Map[String, String] =
    Map("id" -> id, "grp" -> grp, "v" -> v)

  private val vEx: Column => Column = im => element_at(im, "v").cast("double")
  private def mkAgg = new IncrementalAgg(
    group = Seq("grp" -> (im => element_at(im, "grp"))),
    sums = Seq("v" -> vEx), mins = Seq("v" -> vEx), maxs = Seq("v" -> vEx))

  private def withView(body: (LakeSink, MaintainedView, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-mv").toString
    try {
      val sink = new LakeSink(dir)
      body(sink, new MaintainedView(sink, mkAgg, "public", "users", "by_grp"), dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def viewMap(mv: MaintainedView): Map[String, (Long, Double, Double, Double)] =
    mv.read(spark).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    }.toMap

  test("refresh maintains the aggregate across insert/update/delete spans") {
    withView { (sink, mv, _) =>
      assert(viewMap(mv).isEmpty, "unrefreshed view is empty")
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "1")),
        ev(2, "insert", null, row("2", "a", "5")),
        ev(3, "insert", null, row("3", "b", "7")))), 0L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((2L, 6d, 1d, 5d)), "b" -> ((1L, 7d, 7d, 7d))))
      assert(mv.refresh(spark) == 0, "no new batches, no work")
      // one refresh over TWO batches: an extreme-retracting update (dirty
      // min recompute through stateAsOf) and a group-emptying delete
      sink.appendBatch(envelope(Seq(
        ev(4, "update", row("1", "a", "1"), row("1", "a", "9")))), 1L)
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", row("3", "b", "7"), null))), 2L)
      assert(mv.refresh(spark) == 2)
      assert(viewMap(mv) == Map("a" -> ((2L, 14d, 5d, 9d))))
    }
  }

  test("consecutive updates of one key telescope across a polled span") {
    withView { (sink, mv, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "10")))), 0L)
      sink.appendBatch(envelope(Seq(
        ev(2, "update", row("1", "a", "10"), row("1", "a", "20")))), 1L)
      sink.appendBatch(envelope(Seq(
        ev(3, "update", row("1", "a", "20"), row("1", "a", "30")))), 2L)
      // all three batches in one span: -10+20 and -20+30 telescope to +30
      assert(mv.refresh(spark) == 3)
      assert(viewMap(mv) == Map("a" -> ((1L, 30d, 30d, 30d))))
    }
  }

  test("replay after a lost cursor advance is idempotent and heals") {
    withView { (sink, mv, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "insert", null, row("2", "a", "4")))), 0L)
      assert(mv.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", row("1", "a", "3"), null))), 1L)
      assert(mv.refresh(spark) == 1)
      val healthy = viewMap(mv)
      assert(healthy == Map("a" -> ((1L, 4d, 4d, 4d))))
      // simulate the crash window: state for batch 1 committed, cursor
      // advance lost — rewind the cursor to its pre-refresh value
      val cursorFile = new java.io.File(s"$root/_graft_cursors/view_by_grp")
      // the raw write bypasses Hadoop's checksum sidecar — drop it too
      new java.io.File(s"$root/_graft_cursors/.view_by_grp.crc").delete()
      java.nio.file.Files.write(cursorFile.toPath, "0:0".getBytes)
      assert(sink.cursor(spark, "view_by_grp") == 0L)
      // the replayed span must not double-apply the delete
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == healthy)
      assert(sink.cursor(spark, "view_by_grp") == 1L, "cursor healed")
      assert(mv.refresh(spark) == 0)
    }
  }

  test("the view survives lake compaction and vacuum") {
    withView { (sink, mv, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "2")),
        ev(2, "insert", null, row("2", "b", "6")))), 0L)
      assert(mv.refresh(spark) == 1)
      sink.compact(spark)
      sink.vacuum(spark)
      // post-vacuum batches keep flowing; the view's cursor is past the
      // vacuumed span so poll never trips the gap check
      sink.appendBatch(envelope(Seq(
        ev(3, "update", row("2", "b", "6"), row("2", "b", "8")))), 1L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((1L, 2d, 2d, 2d)), "b" -> ((1L, 8d, 8d, 8d))))
    }
  }

  test("an empty committed batch advances the cursor without touching state") {
    withView { (sink, mv, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "1")))), 0L)
      assert(mv.refresh(spark) == 1)
      // foreachBatch can land a zero-row micro-batch; its marker still
      // commits and the view must stride over it, not NPE on null bounds
      sink.appendBatch(envelope(Seq.empty), 1L)
      assert(mv.refresh(spark) == 1, "the empty batch is consumed")
      assert(viewMap(mv) == Map("a" -> ((1L, 1d, 1d, 1d))))
      assert(mv.refresh(spark) == 0, "cursor advanced past the empty batch")
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", null, row("2", "a", "2")))), 2L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map("a" -> ((2L, 3d, 1d, 2d))))
    }
  }

  test("a late snapshot batch below the cursor floor reaches the view") {
    withView { (sink, mv, _) =>
      import spark.implicits._
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "1")),
        ev(2, "insert", null, row("2", "b", "7")))), 0L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((1L, 1d, 1d, 1d)), "b" -> ((1L, 7d, 7d, 7d))))
      // the view's own table is added mid-stream style: its snapshot lands
      // as a NEGATIVE batch id, below the cursor's floor — the two-sided
      // poll must still deliver it and the interval-keyed state apply it
      sink.appendSnapshot("public.users",
        Seq(("9", "a", "4.0"), ("10", "c", "2.0")).toDF("id", "grp", "v"),
        Seq("id"), 0L, -1L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((2L, 5d, 1d, 4d)),
        "b" -> ((1L, 7d, 7d, 7d)),
        "c" -> ((1L, 2d, 2d, 2d))),
        "snapshot rows joined the aggregate")
      // replay the same late span (cursor rewound): must not double-apply
      val cf = new java.io.File(s"${sink.root}/_graft_cursors/view_by_grp")
      new java.io.File(s"${sink.root}/_graft_cursors/.view_by_grp.crc").delete()
      java.nio.file.Files.write(cf.toPath, "0:0".getBytes)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((2L, 5d, 1d, 4d)),
        "b" -> ((1L, 7d, 7d, 7d)),
        "c" -> ((1L, 2d, 2d, 2d))),
        "replayed snapshot span is idempotent")
    }
  }

  /** Every parquet data file under the view's state dir: path → mtime. */
  private def stateFiles(sink: LakeSink): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f) else Seq(f)
      }
    walk(new java.io.File(s"${sink.root}/_graft_views/by_grp"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("a refresh rewrites ONLY buckets containing touched groups — untouched slices carry forward") {
    val dir = Files.createTempDirectory("lake-mvb").toString
    try {
      val sink = new LakeSink(dir)
      val mv = new MaintainedView(sink, mkAgg, "public", "users", "by_grp",
        stateBuckets = 8)
      // 32 groups spread over all 8 buckets
      sink.appendBatch(envelope((1 to 32).map(i =>
        ev(i, "insert", null, row(i.toString, s"g$i", i.toString)))), 0L)
      assert(mv.refresh(spark) == 1)
      val before = stateFiles(sink)
      assert(before.nonEmpty)
      // touch ONE group
      sink.appendBatch(envelope(Seq(
        ev(100, "insert", null, row("100", "g5", "50")))), 1L)
      assert(mv.refresh(spark) == 1)
      val after = stateFiles(sink)
      val carried = before.keySet.intersect(after.keySet)
      assert(carried.nonEmpty, "untouched slices must carry forward by reference")
      carried.foreach(p => assert(before(p) == after(p), s"carried slice rewritten: $p"))
      val freshBuckets = after.keySet.diff(before.keySet).flatMap(p =>
        "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))
      assert(freshBuckets.size <= 1,
        s"one touched group must rewrite at most one bucket, got $freshBuckets")
      assert(viewMap(mv)("g5") == ((2L, 55d, 5d, 50d)))
      // ops gauges carry the refresh's real facts: one span row touching
      // one group in one rewritten bucket, 7 carried by reference
      val g = mv.gauges(spark).toMap
      assert(g("""view_span_rows{view="by_grp"}""") == 1.0)
      assert(g("""view_dirty_keys{view="by_grp"}""") == 1.0)
      assert(g("""view_buckets_rewritten{view="by_grp"}""") == 1.0)
      assert(g("""view_buckets_carried{view="by_grp"}""") == 7.0)
      assert(g("""view_batches_applied_total{view="by_grp"}""") == 2.0)
      assert(g("""view_refresh_ms{view="by_grp"}""") > 0.0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }



  test("groupIsRowKey: a per-key view maintains through the restricted fold") {
    // group col == replica key ("id", extracted verbatim): dirty groups
    // fetch via the key-restricted lake fold — BASE bucket-pruned — not
    // a whole-table fold. Updates retract the stored max (dirty path),
    // deletes remove the group, untouched keys carry forward.
    val dir = Files.createTempDirectory("lake-mvrk").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val vEx2: Column => Column = im => element_at(im, "v").cast("double")
      val perKey = new IncrementalAgg(
        group = Seq("id" -> (im => element_at(im, "id"))),
        sums = Seq("v" -> vEx2), maxs = Seq("v" -> vEx2))
      val mv = new MaintainedView(sink, perKey, "public", "users", "by_id",
        stateBuckets = 4, groupIsRowKey = true)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "insert", null, row("2", "a", "7")),
        ev(3, "insert", null, row("3", "b", "9")))), 0L)
      assert(mv.refresh(spark) == 1)
      sink.compact(spark) // restricted fetches now resolve through BASE
      sink.appendBatch(envelope(Seq(
        ev(4, "update", row("1", "a", "3"), row("1", "a", "5")), // max retracts
        ev(5, "delete", row("2", "a", "7"), null))), 1L)
      assert(mv.refresh(spark) == 1)
      val got = mv.read(spark).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      assert(got == Map(
        "1" -> ((1L, 5d, 5d)), "3" -> ((1L, 9d, 9d))),
        s"per-key view after churn: $got")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("groupIsRowKey: an extractor whose value diverges from the identity column fails loud") {
    // the group is NAMED "id" (so key_names == [group col] passes) but
    // the extractor reads grp — dirtyKeys would carry grp values that
    // the key-restricted fold (keyed on verbatim id strings) can never
    // match, silently returning nothing for genuinely dirty groups.
    // badShape's value check (badImage analog of MaintainedJoin's
    // badRowKey) must trip on the first span instead.
    val dir = Files.createTempDirectory("lake-mvbx").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val wrong = new IncrementalAgg(
        group = Seq("id" -> (im => element_at(im, "grp"))),
        sums = Seq("v" -> vEx), mins = Seq("v" -> vEx))
      val mv = new MaintainedView(sink, wrong, "public", "users", "bx",
        stateBuckets = 4, groupIsRowKey = true)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")))), 0L)
      val e = intercept[IllegalStateException] { mv.refresh(spark) }
      assert(e.getMessage.contains("groupIsRowKey"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("groupIsImmutable: dirty groups recompute through the group-restricted fold, through BASE") {
    // grp is immutable per row: min/max-retraction dirty groups prune
    // the fold INPUT to the dirty group values (stateAsOf
    // restrictToImmutable) instead of folding the whole table — the
    // compact+vacuum before the churn makes BASE rows load-bearing for
    // the restricted read.
    val dir = Files.createTempDirectory("lake-mvgi").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mv = new MaintainedView(sink, mkAgg, "public", "users", "gi",
        stateBuckets = 4, groupIsImmutable = true, groupCol = Some("grp"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "1")),
        ev(2, "insert", null, row("2", "a", "5")),
        ev(3, "insert", null, row("3", "b", "7")),
        ev(4, "insert", null, row("4", "b", "2")))), 0L)
      assert(mv.refresh(spark) == 1)
      sink.compact(spark); sink.vacuum(spark)
      // delete group a's min → dirty → restricted recompute (BASE + tail)
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", row("1", "a", "1"), null))), 1L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((1L, 5d, 5d, 5d)), "b" -> ((2L, 9d, 2d, 7d))))
      // update retracting group a's min again, same restricted path
      sink.appendBatch(envelope(Seq(
        ev(6, "update", row("2", "a", "5"), row("2", "a", "9")))), 2L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map(
        "a" -> ((1L, 9d, 9d, 9d)), "b" -> ((2L, 9d, 2d, 7d))))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("groupIsImmutable: a NULL dirty group falls back to the unrestricted fold") {
    val dir = Files.createTempDirectory("lake-mvgn").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val mv = new MaintainedView(sink, mkAgg, "public", "users", "gin",
        stateBuckets = 4, groupIsImmutable = true, groupCol = Some("grp"))
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", null, "3")),
        ev(2, "insert", null, row("2", "a", "5")))), 0L)
      assert(mv.refresh(spark) == 1)
      // deleting the NULL group's min dirties the NULL group — it cannot
      // ride the keyed restriction, so this refresh must take the
      // whole-fold fallback and still converge
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", row("1", null, "3"), null))), 1L)
      assert(mv.refresh(spark) == 1)
      assert(viewMap(mv) == Map("a" -> ((1L, 5d, 5d, 5d))))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("groupIsImmutable violations fail loud: group-changing update, column-less delete, misdeclared groupCol") {
    def mk(name: String, gcol: String = "grp") = {
      val dir = Files.createTempDirectory("lake-mvgv").toString
      val sink = new LakeSink(dir, baseBuckets = 4)
      (dir, sink, new MaintainedView(sink, mkAgg, "public", "users", name,
        stateBuckets = 4, groupIsImmutable = true, groupCol = Some(gcol)))
    }
    // group-changing update: would let a group recompute resurrect the
    // pre-move version inside the old group
    val (d1, s1, v1) = mk("gv1")
    try {
      s1.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "update", row("1", "a", "3"), row("1", "b", "3")))), 0L)
      val e = intercept[IllegalStateException] { v1.refresh(spark) }
      assert(e.getMessage.contains("groupIsImmutable"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d1))
    // delete whose image LACKS the grp column (identity without it) —
    // the restricted fold would silently drop the delete
    val (d2, s2, v2) = mk("gv2")
    try {
      s2.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "delete", Map("id" -> "1", "v" -> "3"), null))), 0L)
      val e = intercept[IllegalStateException] { v2.refresh(spark) }
      assert(e.getMessage.contains("groupIsImmutable"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d2))
    // present-with-NULL delete image is BENIGN (nullable group under
    // REPLICA IDENTITY FULL)
    val (d3, s3, v3) = mk("gv3")
    try {
      s3.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", null, "3")),
        ev(2, "delete", row("1", null, "3"), null))), 0L)
      assert(v3.refresh(spark) == 1) // must not throw
      assert(viewMap(v3).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d3))
    // update whose AFTER image lacks the grp column (unchanged-TOAST
    // omission under REPLICA IDENTITY DEFAULT — no before image either):
    // the restricted fold would silently drop the version and serve the
    // stale older image, so the span validation fails loud (ADVICE r14)
    val (d6, s6, v6) = mk("gv6")
    try {
      s6.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "update", null, Map("id" -> "1", "v" -> "4")))), 0L)
      val e = intercept[IllegalStateException] { v6.refresh(spark) }
      assert(e.getMessage.contains("groupIsImmutable"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d6))
    // misdeclared groupCol: extractor reads grp, declaration says v —
    // the delete check would be vacuous, so the mismatch itself throws
    val (d4, s4, v4) = mk("gv4", gcol = "v")
    try {
      s4.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")))), 0L)
      val e = intercept[IllegalStateException] { v4.refresh(spark) }
      assert(e.getMessage.contains("groupCol"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d4))
    // construction without groupCol is rejected
    val d5 = Files.createTempDirectory("lake-mvgr").toString
    try {
      val e = intercept[IllegalArgumentException] {
        new MaintainedView(new LakeSink(d5), mkAgg, "public", "users", "gv5",
          groupIsImmutable = true)
      }
      assert(e.getMessage.contains("groupCol"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d5))
  }


  test("first refresh after seedCursor on a vacuumed lake rebuilds from BASE") {
    // regression: the seed used to apply span DELTAS against empty state —
    // after seedCursor on a compacted+vacuumed lake the span holds only
    // post-seed batches, so groups living only in BASE never got a state
    // row. The seed now recomputes from the fold, which reads BASE.
    withView { (sink, mv, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "3")),
        ev(2, "insert", null, row("2", "b", "7")))), 0L)
      sink.compact(spark)
      sink.vacuum(spark) // batch 0's changelog is gone; only BASE has it
      sink.seedCursor(spark, "view_by_grp")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, row("3", "a", "5")))), 1L)
      assert(mv.refresh(spark) == 1)
      // group "b" exists only in BASE — a span-delta seed would miss it
      assert(viewMap(mv) == Map(
        "a" -> ((2L, 8d, 3d, 5d)), "b" -> ((1L, 7d, 7d, 7d))))
    }
  }

  test("groupIsRowKey: NULL key_names (REPLICA IDENTITY NOTHING) fails loud") {
    // regression: badShape was built from size(key_names) === 1, which is
    // NULL (not false) for NULL key_names — the NULL rode through
    // when(...).otherwise(0) as 0, REPLICA IDENTITY NOTHING events passed
    // the groupIsRowKey contract check, and their synthetic-keyed rows
    // silently vanished from dirty-group recomputes
    val dir = Files.createTempDirectory("lake-mvnk").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val perKey = new IncrementalAgg(
        group = Seq("id" -> (im => element_at(im, "id"))),
        sums = Seq("v" -> vEx))
      val mv = new MaintainedView(sink, perKey, "public", "users", "by_id_nk",
        stateBuckets = 4, groupIsRowKey = true)
      sink.appendBatch(envelope(Seq(
        Row(1L, 1L, 7L, "insert", "public", "users", T, T,
          null, null, row("1", "a", "3")))), 0L)
      val e = intercept[IllegalStateException](mv.refresh(spark))
      assert(e.getMessage.contains("groupIsRowKey"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
