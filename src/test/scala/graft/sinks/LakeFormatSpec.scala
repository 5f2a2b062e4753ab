package graft.sinks

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent
import graft.operators.IncrementalAgg

/** The lake's one on-disk format: the first write to a fresh root stamps
  * `_graft_format`, a root holding lake data under any other marker (or
  * none) refuses on first use naming the root, reads never write, and
  * the corruption current code cannot produce fails loud.
  */
class LakeFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val T = new java.sql.Timestamp(1700000000000L)

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private def ev(lsn: Long, key: String, v: String): Row =
    Row(lsn, lsn, 7L, "insert", "public", "t", T, T, Seq("id"), null,
      Map("id" -> key, "v" -> v))

  private def withRoot(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-format").toString
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(dir: String): Option[String] = {
    val f = new java.io.File(dir, LakeSink.FormatFile)
    if (f.exists) Some(new String(Files.readAllBytes(f.toPath), "UTF-8")) else None
  }

  /** Replace (or with `None`, remove) the marker, as an older layout or an
    * operator would leave it.
    */
  private def setMarker(dir: String, content: Option[String]): Unit = {
    new java.io.File(dir, LakeSink.FormatFile).delete()
    new java.io.File(dir, s".${LakeSink.FormatFile}.crc").delete()
    content.foreach(c => Files.write(new java.io.File(dir, LakeSink.FormatFile).toPath,
      c.getBytes("UTF-8")))
  }

  private def refusesNaming(dir: String)(body: => Any): IllegalStateException = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(s"lake root $dir") && e.getMessage.contains("rebuild"),
      e.getMessage)
    e
  }

  test("a fresh root stamps the format marker on its first write") {
    withRoot { dir =>
      val reader = new LakeSink(dir)
      assert(reader.committedBatchIds(spark).isEmpty) // opened before the write
      new LakeSink(dir).appendBatch(envelope(Seq(ev(1, "1", "a"))), 0L)
      assert(marker(dir).contains(LakeSink.FormatVersion))
      // the earlier reader did not memoize the unmarked root: it now
      // validates the stamped marker and serves
      assert(reader.latestState(spark, "public", "t").count() == 1)
    }
  }

  test("an unmarked root holding a changelog refuses appends, reads, polls and refreshes") {
    withRoot { dir =>
      new LakeSink(dir).appendBatch(envelope(Seq(ev(1, "1", "a"))), 0L)
      setMarker(dir, None)
      refusesNaming(dir)(new LakeSink(dir).appendBatch(envelope(Seq(ev(2, "2", "b"))), 1L))
      refusesNaming(dir)(new LakeSink(dir).latestState(spark, "public", "t"))
      refusesNaming(dir)(new LakeSink(dir).poll(spark, "c") { _ => () })
      val mv = new MaintainedView(new LakeSink(dir),
        new IncrementalAgg(group = Seq("v" -> (im => element_at(im, "v"))), sums = Nil),
        "public", "t", "by_v")
      refusesNaming(dir)(mv.refresh(spark))
      assert(marker(dir).isEmpty, "a refusal must not stamp the root")
      assert(!new java.io.File(dir, "changelog/batch_id=1").exists)
    }
  }

  test("a marker with another format value refuses") {
    // "graft-lake 1" kept BASE in its own manifest format under
    // _graft_commits; a compacted and vacuumed root of it would otherwise
    // read as never compacted, its vacuumed history silently gone
    Seq("graft-lake 0", "graft-lake 1").foreach { other =>
      withRoot { dir =>
        new LakeSink(dir).appendBatch(envelope(Seq(ev(1, "1", "a"))), 0L)
        setMarker(dir, Some(other))
        val e = refusesNaming(dir)(new LakeSink(dir).committedBatchIds(spark))
        assert(e.getMessage.contains(other), e.getMessage)
        // even a root with no lake data is not re-stamped over a foreign marker
        withRoot { empty =>
          setMarker(empty, Some(other))
          refusesNaming(empty)(new LakeSink(empty).appendBatch(
            envelope(Seq(ev(1, "1", "a"))), 0L))
          assert(marker(empty).contains(other))
        }
      }
    }
  }

  test("reads of an empty root create no file") {
    withRoot { dir =>
      val sink = new LakeSink(dir)
      assert(sink.latestState(spark, "public", "t").count() == 0)
      assert(sink.poll(spark, "c") { _ => () } == 0)
      assert(sink.cursorInterval(spark, "c") == ((0L, Long.MinValue)))
      assert(sink.readRelation(spark, "public", "t").isEmpty)
      assert(sink.gauges(spark).toMap.apply("committed_batches") == 0.0)
      sink.compact(spark)
      sink.vacuum(spark)
      assert(new java.io.File(dir).list().isEmpty,
        s"reads wrote: ${new java.io.File(dir).list().toSeq}")
    }
  }

  test("a vacuum high mark without a low mark refuses as corrupt") {
    withRoot { dir =>
      val sink = new LakeSink(dir, baseBuckets = 4)
      sink.appendBatch(envelope(Seq(ev(1, "1", "a"))), 0L)
      sink.appendBatch(envelope(Seq(ev(2, "2", "b"))), 1L)
      sink.compact(spark)
      sink.vacuum(spark)
      sink.seedCursor(spark, "c") // caught up: only the low mark can refuse
      fs(dir).delete(new Path(dir, "_graft_commits/_vacuumed_low"), false)
      def corrupt(body: => Any): Unit = {
        val e = intercept[IllegalStateException](body)
        assert(e.getMessage.contains("corrupt") && e.getMessage.contains("_vacuumed_low"),
          e.getMessage)
      }
      corrupt(sink.vacuumLowWater(spark))
      corrupt(sink.poll(spark, "c") { _ => () })
      corrupt(sink.stateAsOf(spark, "public", "t", asOf = 1L))
      corrupt(sink.seedCursor(spark, "d"))
      // latest state needs no vacuum extent: BASE covers the history
      assert(sink.latestState(spark, "public", "t").count() == 2)
    }
  }

  test("a garbled line in a BASE table-log manifest refuses as corrupt") {
    withRoot { dir =>
      val sink = new LakeSink(dir)
      sink.appendBatch(envelope(Seq(ev(1, "1", "a"))), 0L)
      sink.compact(spark)
      val mp = new java.io.File(dir, "_base_data/schema=public/table=t/_commits/manifest.0_0")
      val lines = new String(Files.readAllBytes(mp.toPath), "UTF-8").split("\n")
      assert(lines.nonEmpty)
      Files.write(mp.toPath, (lines.head.replace("\t", " ") +: lines.tail)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      new java.io.File(mp.getParent, s".${mp.getName}.crc").delete()
      val e = intercept[IllegalStateException](sink.latestState(spark, "public", "t"))
      assert(e.getMessage.contains("corrupted state manifest"), e.getMessage)
    }
  }
}
