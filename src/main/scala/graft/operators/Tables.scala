package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the testdata star schema (TESTDATA.md). */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Pin a column to its canonical logical type with a cast that is a
    * no-op against today's files (SimplifyCasts erases it from the plan, so
    * pushdown/pruning are untouched) but holds the type steady if a future
    * testdata generation flips the physical encoding — the round-9 lesson
    * (events.ts became TIMESTAMP_NTZ and every imperative
    * `getLong`/`getAs[LocalDateTime]` row accessor downstream broke for a
    * full round). Applied to exactly the columns the mapPartitions wire
    * encoders read positionally.
    */
  private def pin(df: DataFrame, types: (String, String)*): DataFrame =
    types.foldLeft(df) { case (acc, (c, t)) =>
      // tolerate reduced-schema fixtures (specs write minimal tables)
      if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast(t)) else acc
    }

  /** Fan a narrow scan out before CPU-heavy per-row work. The test corpus
    * is single-row-group parquet (one file, one row group per table —
    * TESTDATA.md), which parquet cannot split: every scan plans ONE task,
    * so map-side work (wire encode/decode, shingling, tokenization, regex
    * scans) serializes on one core however many the session has. This is
    * the optimization guide's "unsplittable input" case (§2.5):
    * repartition right after the read. No-op when the scan already carries
    * comparable parallelism (a real multi-file table at 100 TB), so the
    * extra exchange exists only where the input could not parallelize
    * anyway; round-robin keeps sizes even, and Spark's
    * sort-before-repartition (on by default) keeps the placement
    * deterministic under task retries. Apply AFTER projecting the needed
    * columns so the exchange carries only what the consumer reads.
    *
    * The width is SIZE-AWARE (r21 verdict #1): `defaultParallelism` alone
    * turned a 5 k-row table into 32 partitions of ~150 rows, and the
    * per-task overhead made the 32-core bench slower than the 8-core run
    * on every consumer of the persisted fan-out artifacts. Width =
    * `min(defaultParallelism, ceil(estimatedBytes / targetBytes))`, so
    * tiny inputs get a few tasks, big unsplittable inputs still get the
    * full parallelism, and the persisted artifacts built behind this call
    * (shingle/trigram caches, LSH signatures, PQ codes) inherit a
    * size-appropriate partition count instead of 32 near-empty ones. The
    * target is per-task INPUT bytes for a CPU-heavy kernel, not the
    * guide's 128 MB shuffle-partition target: fanOut's contract is
    * "CPU-heavy per-row work follows", where ~256 KB of input is already
    * ~0.1-1 s of task work (shingling, wire codecs measure 1-10 MB/s per
    * core here) — two orders of magnitude above the per-task overhead.
    * Overridable per session via `spark.graft.fanout.targetPartitionBytes`
    * for kernels whose cost-per-byte is wildly different.
    */
  def fanOut(df: DataFrame, costFactor: Int = 1): DataFrame = {
    val want = fanWidth(df, costFactor)
    if (df.rdd.getNumPartitions * 2 >= want) df else df.repartition(want)
  }

  /** Session conf overriding fanOut's per-task input-byte target. */
  private[graft] val TargetPartitionBytesKey = "spark.graft.fanout.targetPartitionBytes"

  /** The size-derived fan-out width for `df` (see [[fanOut]]): bounded by
    * the session's parallelism, floored at 1, derived from the optimizer's
    * size estimate so no job runs. `costFactor` scales the estimate for
    * kernels whose CPU-per-byte is far above the wire-codec class the
    * default target is calibrated for (e.g. shingling re-hashes every
    * 8-gram of every document: ~an order of magnitude more work per input
    * byte). Exposed so builders of PERSISTED artifacts can coalesce a
    * frame computed at training width down to the width its readers
    * should pay for.
    */
  private[graft] def fanWidth(df: DataFrame, costFactor: Int = 1): Int = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val target = spark.conf.getOption(TargetPartitionBytesKey).fold(256L * 1024) { raw =>
      raw.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$TargetPartitionBytesKey must be a positive integer (bytes), got '$raw'"))
    }
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes * costFactor
    ((bytes + target - 1) / target).min(cores).max(1).toInt
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame =
    pin(apply(s, d, "orders"),
      "o_orderkey" -> "long", "o_custkey" -> "long", "o_totalprice" -> "double")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** events.parquet's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (read as raw-nanos LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or plain TIMESTAMP.
    * Normalize all three to a µs TimestampType column so downstream
    * operators see one stable type. Lossless in every case: the nanos
    * generator emitted whole microseconds (epoch_ns % 1000 == 0 across all
    * SFs), and every session here pins spark.sql.session.timeZone=UTC, so
    * the NTZ→LTZ cast preserves the stored micros bit-for-bit — ordering
    * and tie semantics match DuckDB reading the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = pin(apply(s, d, "events"),
      "event_id" -> "long", "user_id" -> "long", "value" -> "double")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy nanos-as-long read
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    pin(apply(s, d, "documents"), "doc_id" -> "long", "n_chars" -> "long")
  def embeddings(s: SparkSession, d: String): DataFrame =
    pin(apply(s, d, "embeddings"),
      "vec_id" -> "long", "embedding" -> "array<float>")
}
