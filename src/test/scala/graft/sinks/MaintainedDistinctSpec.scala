package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent
import graft.operators.IncrementalDistinct

/** The lake-composed maintained `count(DISTINCT …)`: cursor-driven refresh
  * over the refcount state, crash-replay idempotence, seed-through-BASE
  * after compaction, truncate mid-span, pure carry-forward spans, and the
  * bucket-restricted rewrite — the [[MaintainedViewSpec]] discipline
  * applied to [[MaintainedDistinct]] (shipped untested in r15).
  */
class MaintainedDistinctSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(
      lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String],
      table: String = "users"): Row =
    Row(lsn, lsn, 7L, op, "public", table, T, T, Seq("id"), before, after)

  private def row(id: String, grp: String, w: String): Map[String, String] =
    Map("id" -> id, "grp" -> grp, "w" -> w)

  private def mkDist = new IncrementalDistinct(
    group = Seq("grp" -> (im => element_at(im, "grp"))),
    name = "w",
    value = im => element_at(im, "w"))

  private def withDistinct(body: (LakeSink, MaintainedDistinct, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-md").toString
    try {
      val sink = new LakeSink(dir)
      body(sink, new MaintainedDistinct(sink, mkDist, "public", "users", "nd_grp"), dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def viewMap(md: MaintainedDistinct): Map[Option[String], Long] =
    md.read(spark).collect().map { r =>
      Option(r.getString(0)) -> r.getLong(1)
    }.toMap

  test("refresh maintains the distinct count across insert/update/delete spans") {
    withDistinct { (sink, md, _) =>
      assert(viewMap(md).isEmpty, "unrefreshed view is empty")
      // two rows SHARE (a, x): the refcount's reason to exist
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "a", "x")),
        ev(3, "insert", null, row("3", "a", "y")),
        ev(4, "insert", null, row("4", "b", "z")))), 0L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 2L, Some("b") -> 1L))
      assert(md.refresh(spark) == 0, "no new batches, no work")
      // deleting ONE of the two (a, x) rows must NOT drop the count
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", row("1", "a", "x"), null))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 2L, Some("b") -> 1L))
      // one refresh over TWO batches: the second (a, x) row leaves, a
      // value-moving update splits y -> z inside group a
      sink.appendBatch(envelope(Seq(
        ev(6, "delete", row("2", "a", "x"), null))), 2L)
      sink.appendBatch(envelope(Seq(
        ev(7, "update", row("3", "a", "y"), row("3", "a", "z")))), 3L)
      assert(md.refresh(spark) == 2)
      assert(viewMap(md) == Map(Some("a") -> 1L, Some("b") -> 1L))
    }
  }

  test("readTopK serves the exact frequency ranking; evictions surface the next-heaviest") {
    withDistinct { (sink, md, _) =>
      // group a: x in 3 rows, y in 2, z in 1
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "a", "x")),
        ev(3, "insert", null, row("3", "a", "x")),
        ev(4, "insert", null, row("4", "a", "y")),
        ev(5, "insert", null, row("5", "a", "y")),
        ev(6, "insert", null, row("6", "a", "z")))), 0L)
      assert(md.refresh(spark) == 1)
      def top2 = md.readTopK(spark, 2).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
      assert(top2 == Set(("a", "x", 3L, 1), ("a", "y", 2L, 2)))
      // evict the heavy hitter: x drops to 1 — y takes rank 1 and the
      // x/z tie at freq 1 resolves value-asc (the hard retraction case
      // sketch-based top-k cannot serve exactly)
      sink.appendBatch(envelope(Seq(
        ev(7, "delete", row("1", "a", "x"), null),
        ev(8, "delete", row("2", "a", "x"), null))), 1L)
      assert(md.refresh(spark) == 1)
      assert(top2 == Set(("a", "y", 2L, 1), ("a", "x", 1L, 2)))
    }
  }

  test("NULL values never count; NULL groups count as their own group") {
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", null)),
        ev(2, "insert", null, row("2", null, "q")),
        ev(3, "insert", null, row("3", null, "q")))), 0L)
      assert(md.refresh(spark) == 1)
      // group a holds only NULL-valued rows -> absent, per SQL
      assert(viewMap(md) == Map(None -> 1L))
      // the NULL-valued row gains a value -> group a appears
      sink.appendBatch(envelope(Seq(
        ev(4, "update", row("1", "a", null), row("1", "a", "v")))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 1L, None -> 1L))
    }
  }

  test("replay after a lost cursor advance is idempotent and heals") {
    withDistinct { (sink, md, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "a", "x")))), 0L)
      assert(md.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", row("1", "a", "x"), null))), 1L)
      assert(md.refresh(spark) == 1)
      val healthy = viewMap(md)
      assert(healthy == Map(Some("a") -> 1L))
      // crash window: refcount state for batch 1 committed, cursor advance
      // lost — rewind the cursor; a double-applied delete would either trip
      // the negative-refcount check or drop the count to zero
      val cursorFile = new java.io.File(s"$root/_graft_cursors/view_nd_grp")
      new java.io.File(s"$root/_graft_cursors/.view_nd_grp.crc").delete()
      java.nio.file.Files.write(cursorFile.toPath, "0:0".getBytes)
      assert(sink.cursor(spark, "view_nd_grp") == 0L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == healthy)
      assert(sink.cursor(spark, "view_nd_grp") == 1L, "cursor healed")
      assert(md.refresh(spark) == 0)
    }
  }

  test("the view survives lake compaction and vacuum") {
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "b", "y")))), 0L)
      assert(md.refresh(spark) == 1)
      sink.compact(spark)
      sink.vacuum(spark)
      sink.appendBatch(envelope(Seq(
        ev(3, "update", row("2", "b", "y"), row("2", "b", "y2")))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 1L, Some("b") -> 1L))
    }
  }

  test("first refresh after seedCursor on a vacuumed lake seeds from BASE") {
    // the SEED span holds only post-seed batches; groups living only in
    // BASE must still get refcount rows (the seed recomputes through
    // stateAsOf, which reads BASE)
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "b", "y")))), 0L)
      sink.compact(spark)
      sink.vacuum(spark) // batch 0's changelog is gone; only BASE has it
      sink.seedCursor(spark, "view_nd_grp")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, row("3", "a", "x2")))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 2L, Some("b") -> 1L),
        "BASE-only group b must survive the seed")
      // and the seeded state keeps maintaining incrementally: deleting one
      // of group a's rows decrements the refcount the seed created
      sink.appendBatch(envelope(Seq(
        ev(4, "delete", row("1", "a", "x"), null))), 2L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 1L, Some("b") -> 1L))
    }
  }

  test("truncate mid-span resets and recomputes from the span-end state") {
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")),
        ev(2, "insert", null, row("2", "b", "y")))), 0L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 1L, Some("b") -> 1L))
      // truncate then repopulate, all inside one refresh span
      sink.appendBatch(envelope(Seq(
        ev(3, "truncate", null, null),
        ev(4, "insert", null, row("9", "c", "z")))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("c") -> 1L))
    }
  }

  test("an empty committed batch advances the cursor without touching state") {
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")))), 0L)
      assert(md.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq.empty), 1L)
      assert(md.refresh(spark) == 1, "the empty batch is consumed")
      assert(viewMap(md) == Map(Some("a") -> 1L))
      assert(md.refresh(spark) == 0, "cursor advanced past the empty batch")
    }
  }

  test("a span with rows only for ANOTHER table is a pure carry-forward") {
    withDistinct { (sink, md, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, row("1", "a", "x")))), 0L)
      assert(md.refresh(spark) == 1)
      // batch 1 holds only `other` rows: the delta is empty, the commit
      // carries every bucket forward by reference (Set.empty + prevKey)
      sink.appendBatch(envelope(Seq(
        ev(2, "insert", null, row("7", "zz", "zz"), table = "other"))), 1L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 1L))
      // and the carried state keeps maintaining
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, row("2", "a", "y")))), 2L)
      assert(md.refresh(spark) == 1)
      assert(viewMap(md) == Map(Some("a") -> 2L))
    }
  }

  /** Every parquet data file under the maintainer's state dir: path → mtime. */
  private def stateFiles(sink: LakeSink, name: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f) else Seq(f)
      }
    walk(new java.io.File(s"${sink.root}/_graft_views/$name"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("a refresh rewrites ONLY buckets containing touched groups — untouched slices carry forward") {
    val dir = Files.createTempDirectory("lake-mdb").toString
    try {
      val sink = new LakeSink(dir)
      val md = new MaintainedDistinct(sink, mkDist, "public", "users", "nd_b",
        stateBuckets = 8)
      // 32 groups spread over all 8 buckets, 2 values each
      sink.appendBatch(envelope((1 to 32).flatMap(i => Seq(
        ev(i * 2L, "insert", null, row(s"${i}a", s"g$i", s"v${i}a")),
        ev(i * 2L + 1, "insert", null, row(s"${i}b", s"g$i", s"v${i}b"))))), 0L)
      assert(md.refresh(spark) == 1)
      val before = stateFiles(sink, "nd_b")
      assert(before.nonEmpty)
      // touch ONE group
      sink.appendBatch(envelope(Seq(
        ev(100, "insert", null, row("100", "g5", "v-new")))), 1L)
      assert(md.refresh(spark) == 1)
      val after = stateFiles(sink, "nd_b")
      val carried = before.keySet.intersect(after.keySet)
      assert(carried.nonEmpty, "untouched slices must carry forward by reference")
      carried.foreach(p => assert(before(p) == after(p), s"carried slice rewritten: $p"))
      val freshBuckets = after.keySet.diff(before.keySet).flatMap(p =>
        "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))
      assert(freshBuckets.size <= 1,
        s"one touched group must rewrite at most one bucket, got $freshBuckets")
      val got = viewMap(md)
      assert(got(Some("g5")) == 3L)
      assert(got(Some("g6")) == 2L)
      // ops gauges carry the refresh's real facts: one touched group =
      // one delta pair landing in one rewritten bucket, 7 carried, one
      // span row, and cumulative batches applied across both refreshes
      val g = md.gauges(spark).toMap
      assert(g("""distinct_span_rows{distinct="nd_b"}""") == 1.0)
      assert(g("""distinct_dirty_keys{distinct="nd_b"}""") == 1.0)
      assert(g("""distinct_buckets_rewritten{distinct="nd_b"}""") == 1.0)
      assert(g("""distinct_buckets_carried{distinct="nd_b"}""") == 7.0)
      assert(g("""distinct_span_batches{distinct="nd_b"}""") == 1.0)
      assert(g("""distinct_batches_applied_total{distinct="nd_b"}""") == 2.0)
      assert(g("""distinct_refresh_ms{distinct="nd_b"}""") > 0.0)
      assert(g("view_nd_b_asof") == 1.0)
      assert(g("view_nd_b_lag_batches") == 0.0)
      // the skew gauge: served-version slice bytes, max >= median > 0,
      // labeled like the rest of the family so one panel plots them all
      assert(g("""distinct_bucket_max_bytes{distinct="nd_b"}""") >=
        g("""distinct_bucket_p50_bytes{distinct="nd_b"}"""))
      assert(g("""distinct_bucket_p50_bytes{distinct="nd_b"}""") > 0.0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
