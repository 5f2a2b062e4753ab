package graft.sinks

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** [[LakeSink.sharedFolds]]: concurrent seeders of one pinned interval
  * share one fold, and a fold never crosses sessions.
  */
class SharedFoldsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val T = new java.sql.Timestamp(1700000000000L)

  private def withLake(body: LakeSink => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-shared-folds").toString
    try {
      val sink = new LakeSink(dir)
      val rows = (1 to 20).map(i => Row(i.toLong, i.toLong, 7L, "insert", "public", "t",
        T, T, Seq("id"), null, Map("id" -> s"${i % 7}", "v" -> s"v$i")))
      sink.appendBatch(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        ChangeEvent.schema), 0L)
      body(sink)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(r => s"${r.getAs[String]("k")}=${r.getAs[Map[String, String]]("after")}").toSet

  test("two threads seeding one interval inside one scope share a single fold") {
    withLake { sink =>
      val pool = Executors.newFixedThreadPool(2)
      try sink.sharedFolds {
        val start = new CountDownLatch(1)
        val seeds = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            sink.stateAsOf(spark, "public", "t", asOf = 0L)
          }
        }))
        start.countDown()
        val Seq(a, b) = seeds.map(_.get(120, TimeUnit.SECONDS))
        assert(a eq b, "both seeders must be served the one memoized fold")
        assert(rows(a) == rows(b) && rows(a).size == 7)
        assert(rows(a) == rows(sink.stateAsOf(spark, "public", "t", asOf = 0L,
          restrictToKeys = Some(spark.range(7).selectExpr("cast(id as string) as k")))))
      } finally pool.shutdownNow()
    }
  }

  test("a second session never receives the first session's fold") {
    withLake { sink =>
      val other = spark.newSession()
      sink.sharedFolds {
        val mine = sink.stateAsOf(spark, "public", "t", asOf = 0L)
        val theirs = sink.stateAsOf(other, "public", "t", asOf = 0L)
        assert(!(mine eq theirs))
        assert(mine.sparkSession eq spark)
        assert(theirs.sparkSession eq other)
        assert(rows(mine) == rows(theirs))
        // each session's fold is memoized on its own
        assert(sink.stateAsOf(other, "public", "t", asOf = 0L) eq theirs)
      }
    }
  }
}
