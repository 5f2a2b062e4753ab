package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** Regression lock for the `events.ts` physical-type normalization: the
  * testdata generator has shipped `ts` as TIMESTAMP(NANOS) (read as a raw
  * LONG under `nanosAsLong=true`), TIMESTAMP(MICROS) isAdjustedToUTC=false
  * (read as TIMESTAMP_NTZ), and plain TIMESTAMP across generations, and a
  * generation flip silently broke EVERY events query for a full round
  * (round-9 bench: 82 × `DATATYPE_MISMATCH` on the legacy `ts div 1000`).
  * [[Tables.events]] must hand every downstream operator one stable
  * µs TimestampType column with identical instants for all three.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // 2024-01-02T03:04:05.678901 UTC, as epoch microseconds.
  private val Micros = 1704164645678901L

  private def withEvents(df: org.apache.spark.sql.DataFrame)(check: Long => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try {
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val ev = Tables.events(spark, dir.toString)
      assert(ev.schema("ts").dataType == TimestampType,
        s"events.ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
      check(ev.select(unix_micros(col("ts"))).head().getLong(0))
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("legacy nanos-as-long generation normalizes to µs timestamps") {
    withEvents(spark.range(1).select(
      col("id").as("event_id"), lit(Micros * 1000L).as("ts")))(m =>
      assert(m == Micros))
  }

  test("TIMESTAMP_NTZ (micros, isAdjustedToUTC=false) generation normalizes") {
    withEvents(spark.range(1).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Micros)).cast(TimestampNTZType).as("ts")))(m =>
      assert(m == Micros))
  }

  test("plain TimestampType generation passes through unchanged") {
    withEvents(spark.range(1).select(
      col("id").as("event_id"), timestamp_micros(lit(Micros)).as("ts")))(m =>
      assert(m == Micros))
  }

  test("fanOut rejects a malformed or non-positive targetPartitionBytes, naming the key") {
    val key = Tables.TargetPartitionBytesKey
    val prior = spark.conf.getOption(key)
    val df = spark.range(1000).toDF("id")
    try {
      Seq("abc", "1.5", "", "0", "-4096").foreach { bad =>
        spark.conf.set(key, bad)
        val ex = intercept[IllegalArgumentException](Tables.fanWidth(df))
        assert(ex.getMessage.contains(key) && ex.getMessage.contains(s"'$bad'"),
          s"message must name the key and the value: ${ex.getMessage}")
      }
      spark.conf.set(key, "1")
      assert(Tables.fanWidth(df) == spark.sparkContext.defaultParallelism,
        "a 1-byte target widens to the session's parallelism")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
