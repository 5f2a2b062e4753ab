package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** CHURN-PROPORTIONALITY pin for the maintained LSH index's refresh —
  * the 100-TB pitch is "don't re-shingle a petabyte nightly because
  * 0.1% of documents churned", and [[MaintainedDistinctScaleSpec]]'s
  * technique makes that measurable on the merge's own shuffle: a
  * 10,000-document corpus (≈40,000 (band, sig, doc) state rows over 512
  * buckets) churned by 10 documents must feed the bucketed `stepMerge`
  * only the touched buckets' state rows.
  *
  * The LSH state's group key (band, sig) hashes UNIFORMLY, so the
  * bucket restriction's effectiveness depends on `stateBuckets` being
  * sized well above churn×bands keys per refresh — with ~56 touched
  * keys over 512 buckets the merge reads ~11% of the state; the same
  * churn over the default 16 buckets would touch every bucket and read
  * it all. That sizing rule is the spec's documented scale lesson (and
  * why the 100-TB deployment sets buckets so that state/buckets stays
  * bounded): merge input ≈ touchedKeys × (state/buckets), i.e.
  * churn×bands-proportional at a constant bucket payload — never
  * corpus-proportional.
  */
class MaintainedLshIndexScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "docs", T, T, Seq("id"), before, after)
  private def doc(id: String, text: String): Map[String, String] =
    Map("id" -> id, "text" -> text)

  private val DOCS = 10000
  private val BANDS = 4
  private val BUCKETS = 512
  private val CHURN = 10 // 0.1% — the pitch's nightly-churn shape

  // 9 tokens → 5 distinct 5-shingles per doc; the varying components make
  // most signatures unique (collision buckets stay small, so the state is
  // ≈ DOCS × BANDS rows spread uniformly over the (band, sig) hash space)
  private def text(i: Int): String =
    s"alpha b${i % 997} c${i % 891} d${i % 83} e${i % 79} f${i % 731} " +
      "tail token stream"

  /** Shuffle records written by the merge's exchanges — identified by
    * their (band, sig, v)-HashPartitioning, so unrelated exchanges never
    * inflate the measurement (AQE-proof; same technique as
    * [[MaintainedDistinctScaleSpec.mergeInputRows]]).
    */
  private def mergeInputRows(df: DataFrame): Long = {
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    val merges = flatten(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeLike
        if (e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "v"))
          case _ => false
        }) => e
    }
    assert(merges.nonEmpty, "expected the merge's (band, sig, v)-partitioned shuffle")
    merges.map(_.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum
  }

  test("10,000-doc index: refresh merge input is churn×bands-proportional, not corpus-proportional") {
    val dir = Files.createTempDirectory("lake-lshscale").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val ix = new MaintainedLshIndex(sink, "public", "docs", "lshscale",
        idKey = "id", textKey = "text", bands = BANDS, stateBuckets = BUCKETS)

      val t0 = System.nanoTime
      sink.appendBatch(envelope((0 until DOCS).map(i =>
        ev(i.toLong, "insert", null, doc(s"d$i", text(i))))), 0L)
      assert(ix.refresh(spark) == 1)
      val seedMs = (System.nanoTime - t0) / 1e6

      // churn: 0.1% of documents — half edited to fresh texts, half deleted.
      // The edit replaces the one token every 5-shingle covers (the 5th),
      // so the new text shares no shingle with the old one
      val churnRows = (0 until CHURN).map { j =>
        val i = j * (DOCS / CHURN) + 7
        if (j % 2 == 0)
          ev(100000L + j, "update", doc(s"d$i", text(i)),
            doc(s"d$i", text(i).replace(s" e${i % 79} ", s" edited$j ")))
        else ev(100000L + j, "delete", doc(s"d$i", text(i)), null)
      }
      sink.appendBatch(envelope(churnRows), 1L)
      val t1 = System.nanoTime
      assert(ix.refresh(spark) == 1)
      val churnMs = (System.nanoTime - t1) / 1e6

      // correctness sanity on the churned state: an edited doc's OLD text
      // no longer probes to it
      val probeOld = ix.candidatesFor(spark, text(7)).collect()
        .map(_.getString(0)).toSet
      assert(!probeOld.contains("d7"),
        s"edited doc must have retracted its old signatures: $probeOld")

      // the scale property, measured on the exact construction
      // MaintainedDistinct.refresh runs (delta → touched buckets →
      // readBuckets-restricted state side of stepMerge) vs the same merge
      // against the FULL state
      val states = ix.md.stateLog
      val f = states.fs(spark)
      val stateSchema = ix.dist.init(spark).schema
      val prevKey = states.committed(f).head // the batch-0 version
      val d = ix.dist.delta(ix.explodeBands(envelope(churnRows)))
        .localCheckpoint()
      val perBucket = d
        .select(states.bucketExpr(ix.dist.groupCols.map(col)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val deltaKeys = d.count()
      // edits touch ≤ 2×bands keys (old + new sigs), deletes ≤ bands
      assert(deltaKeys <= CHURN.toLong * 2 * BANDS,
        s"delta must be churn×bands-bounded, got $deltaKeys")
      assert(perBucket.size <= deltaKeys,
        s"touched buckets exceed delta keys: ${perBucket.size}")

      val restricted = mergeInputRows(ix.dist.stepMerge(
        states.readBuckets(spark, prevKey, Some(perBucket), stateSchema), d))
      val unrestricted = mergeInputRows(ix.dist.stepMerge(
        states.read(spark, prevKey, stateSchema), d))
      val stateRows = DOCS.toLong * BANDS
      // merge input ≈ touchedBuckets × (state/buckets) + delta — allow 2×
      // slack for hash non-uniformity
      val bound = 2L * perBucket.size * (stateRows / BUCKETS) + 2 * deltaKeys
      assert(restricted <= bound,
        s"restricted merge input should be ~touched-bucket rows " +
          s"(bound $bound), got $restricted")
      assert(unrestricted >= stateRows,
        s"unrestricted merge input should be corpus-proportional, got $unrestricted")
      val ratio = unrestricted.toDouble / restricted
      info(f"merge input: restricted=$restricted unrestricted=$unrestricted " +
        f"reduction=$ratio%.1fx (touched ${perBucket.size}/$BUCKETS buckets, " +
        f"$deltaKeys delta keys); seed=${seedMs}%.0f ms churn-refresh=${churnMs}%.0f ms")
      assert(ratio > 5,
        s"bucket restriction must cut merge input >5x at 0.1%% churn / " +
          s"$BUCKETS buckets (got $ratio)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
