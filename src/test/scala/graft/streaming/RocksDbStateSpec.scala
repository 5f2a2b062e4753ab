package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase

/** The 100-TB state path: [[StateBackends.rocksDb]] swaps the streaming
  * state store from the heap-resident HDFS provider to RocksDB. Provider
  * choice must be invisible to operator semantics — the dedup stream emits
  * byte-identical flags either way — and the spec also proves RocksDB
  * actually ran (its custom state metrics appear in the query progress),
  * not just that the conf was set.
  */
class RocksDbStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val base = "the quick brown fox jumps over the lazy dog beside a very quiet river bank " +
    "while morning light settles gently on the tall wet grass near the old stone bridge"
  private val nearDup = base + " today"
  private val distinct = "entirely different words compose this second document about compilers " +
    "register allocation garbage collection and the finer points of query planning in " +
    "distributed analytical engines running on very large clusters"

  /** Drive the dedup stream over two micro-batches (so state genuinely
    * persists and reloads across a batch boundary) and return the emitted
    * flags plus every state-operator custom-metric name observed.
    */
  private def runDedup(s: SparkSession, name: String): (Set[(Long, Long, Int, Double)], Set[String]) = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingDedup.nearDupFlags(s, docs, minEstJaccard = 0.5)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData((1L, base))
      q.processAllAvailable()
      mem.addData((2L, distinct), (3L, nearDup))
      q.processAllAvailable()
      val metricNames = q.recentProgress.toSet.flatMap {
        (p: org.apache.spark.sql.streaming.StreamingQueryProgress) =>
          p.stateOperators.flatMap(op =>
            scala.jdk.CollectionConverters.MapHasAsScala(op.customMetrics).asScala.keys)
      }
      val flags = s.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      (flags, metricNames)
    } finally q.stop()
  }

  test("RocksDB provider: identical flags to the default provider, and really engaged") {
    val rocks = StateBackends.rocksDb(spark.newSession())
    assert(rocks.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))

    val (defaultFlags, defaultMetrics) = runDedup(spark.newSession(), "dedup_hdfs_state")
    val (rocksFlags, rocksMetrics) = runDedup(rocks, "dedup_rocks_state")

    assert(defaultFlags.nonEmpty, "the planted near-dup must flag")
    assert(defaultFlags.forall { case (d, of, _, est) => d == 3L && of == 1L && est >= 0.5 })
    assert(rocksFlags == defaultFlags,
      s"provider choice changed operator output: $rocksFlags vs $defaultFlags")

    assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb state metrics in progress — provider did not engage: $rocksMetrics")
    assert(!defaultMetrics.exists(_.toLowerCase.contains("rocksdb")),
      "control run unexpectedly used rocksdb")
  }
}
