package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** CHURN-PROPORTIONALITY pin for the maintained BM25 index's refresh —
  * [[MaintainedLshIndexScaleSpec]]'s technique on the tf-posting state:
  * a 10,000-document corpus (~80,000 (term, doc) postings over 512
  * buckets) churned by 3 documents must feed the bucketed merge only
  * the touched buckets' rows. Delta keys per churned doc are its
  * before+after term sets (~2×|doc|), so the bucket-sizing rule is the
  * LSH one with `bands` replaced by document length: stateBuckets must
  * sit well above churn × 2·|doc| for the restriction to bite.
  *
  * The honest caveat the corpus here avoids and real corpora have: a
  * STOP WORD posting in every document makes its term bucket
  * corpus-sized, and any churned doc containing it drags that whole
  * bucket into the merge — at 100 TB, cap or drop stop-word postings
  * upstream (the batch pipeline's df-cap plays the same role) or
  * accept hot-bucket reads proportional to the stop term's df.
  */
class MaintainedBm25IndexScaleSpec extends AnyFunSuite {
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
  private val BUCKETS = 512
  private val CHURN = 3

  /** Letters-only base-26 encoding — the tokenizer splits on `[^a-z]+`,
    * so NUMERIC suffixes would be stripped and every doc would collapse
    * onto 8 corpus-wide stop terms (exactly the hot-term case the class
    * doc warns about — a first draft of this spec did precisely that and
    * measured a corpus-sized "restricted" read).
    */
  private def enc(n: Int): String = {
    var x = n; val sb = new StringBuilder
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  // 8 mostly-unique terms per doc (long-tail vocabulary — see the
  // stop-word caveat above)
  private def text(i: Int): String =
    s"qa${enc(i % 997)} qb${enc(i % 991)} qc${enc(i % 983)} qd${enc(i % 977)} " +
      s"qe${enc(i % 971)} qf${enc(i % 967)} qg${enc(i % 953)} qh${enc(i % 947)}"

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
    assert(merges.nonEmpty, "expected the merge's (term, v)-partitioned shuffle")
    merges.map(_.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum
  }

  test("10,000-doc BM25 index: refresh merge input is churn-proportional, not corpus-proportional") {
    val dir = Files.createTempDirectory("lake-bmscale").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val ix = new MaintainedBm25Index(sink, "public", "docs", "bmscale",
        idKey = "id", textKey = "text", stateBuckets = BUCKETS)
      sink.appendBatch(envelope((0 until DOCS).map(i =>
        ev(i.toLong, "insert", null, doc(s"d$i", text(i))))), 0L)
      assert(ix.refresh(spark) == 1)

      // churn: 3 docs — 2 edits to fresh texts, 1 delete
      val churnRows = (0 until CHURN).map { j =>
        val i = j * (DOCS / CHURN) + 5
        if (j < 2)
          ev(100000L + j, "update", doc(s"d$i", text(i)),
            doc(s"d$i", text(i + 1)))
        else ev(100000L + j, "delete", doc(s"d$i", text(i)), null)
      }
      sink.appendBatch(envelope(churnRows), 1L)
      assert(ix.refresh(spark) == 1)
      // correctness sanity: the deleted doc's terms no longer post to it
      val delId = s"d${2 * (DOCS / CHURN) + 5}"
      assert(ix.postings(spark).filter(col("id") === delId).isEmpty)

      val states = ix.md.stateLog
      val f = states.fs(spark)
      val stateSchema = ix.dist.init(spark).schema
      val prevKey = states.committed(f).head // the batch-0 version
      val d = ix.dist.delta(ix.explodeTerms(envelope(churnRows)))
        .localCheckpoint()
      val touched = d
        .select(states.bucketExpr(ix.dist.groupCols.map(col)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val deltaKeys = d.count()
      assert(deltaKeys <= CHURN.toLong * 2 * 8,
        s"delta must be churn×doclen-bounded, got $deltaKeys")

      val restricted = mergeInputRows(ix.dist.stepMerge(
        states.readBuckets(spark, prevKey, Some(touched), stateSchema), d))
      val unrestricted = mergeInputRows(ix.dist.stepMerge(
        states.read(spark, prevKey, stateSchema), d))
      val stateRows = DOCS.toLong * 8
      val bound = 2L * touched.size * (stateRows / BUCKETS) + 2 * deltaKeys
      assert(restricted <= bound,
        s"restricted merge input should be ~touched-bucket rows " +
          s"(bound $bound), got $restricted")
      assert(unrestricted >= stateRows,
        s"unrestricted merge input should be corpus-proportional, got $unrestricted")
      val ratio = unrestricted.toDouble / restricted
      info(f"merge input: restricted=$restricted unrestricted=$unrestricted " +
        f"reduction=$ratio%.1fx (touched ${touched.size}/$BUCKETS buckets, " +
        f"$deltaKeys delta keys)")
      assert(ratio > 5,
        s"bucket restriction must cut merge input >5x at $CHURN-doc churn / " +
          s"$BUCKETS buckets (got $ratio)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Rows the scans of files under `stateDir` returned while `body` ran,
    * summed over every query it executed (eager checkpoints included):
    * each reports its executed plan to a QueryExecutionListener, and a
    * marker query drains the listener bus before the sum is read.
    */
  private def rowsReadUnder(stateDir: String)(body: => Unit): Long = {
    val marker = s"drain-${java.util.UUID.randomUUID}"
    val rows = new java.util.concurrent.atomic.AtomicLong
    val drained = new java.util.concurrent.CountDownLatch(1)
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(marker)) drained.countDown()
        else rows.addAndGet(flatten(qe.executedPlan).collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.forall(_.toString.contains(stateDir)) =>
            f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker query")
      rows.get
    } finally spark.listenerManager.unregister(listener)
  }

  /** The stop-term READ bound (r17 verdict's named scale-killer): a term
    * in every document makes its posting list corpus-sized and entirely
    * resident in ONE state bucket — the df cap must drop it BEFORE that
    * bucket is read, leaving the read candidate-proportional, while the
    * scores stay EXACTLY the stop-term-less query's.
    */
  test("10,000-doc BM25 index: df cap keeps a stop-term query's state read candidate-proportional") {
    val dir = Files.createTempDirectory("lake-bmstop").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      val ix = new MaintainedBm25Index(sink, "public", "docs", "bmstop",
        idKey = "id", textKey = "text", stateBuckets = BUCKETS)
      // every document carries the planted stop term "the"
      sink.appendBatch(envelope((0 until DOCS).map(i =>
        ev(i.toLong, "insert", null, doc(s"d$i", s"the ${text(i)}")))), 0L)
      assert(ix.refresh(spark) == 1)

      val probe = s"the qa${enc(5 % 997)}" // stop term + one tail term
      // read cost = rows RESIDENT in the postings buckets the real search
      // scans (bucket pruning is directory-level — pushed filters don't
      // change which slices are fetched). The df gate drops "the"
      // (df = DOCS) before any postings read; the tail term survives.
      def searchRead(dfCap: Long): Long = rowsReadUnder("/_graft_views/bmstop/") {
        ix.search(spark, probe, 5, dfCap = dfCap).collect()
      }
      val capped = searchRead(1000L)
      val uncapped = searchRead(Long.MaxValue)
      assert(uncapped >= DOCS.toLong,
        s"the stop term's bucket must be corpus-sized, got $uncapped")
      // the tail term's bucket holds ~ (9 unique-ish terms × DOCS)/BUCKETS
      // rows; the point is the CORPUS-SIZED posting list is gone
      val bound = 4L * DOCS * 9 / BUCKETS
      assert(capped <= bound,
        s"capped read must be bucket-sized, got $capped (bound $bound)")
      val ratio = uncapped.toDouble / capped
      info(f"state read: capped=$capped uncapped=$uncapped " +
        f"reduction=$ratio%.1fx")
      assert(ratio > 5,
        s"df cap must cut the stop-term read >5x (got $ratio)")

      // exactness: the capped search == the stop-term-less search,
      // score for score
      val got = ix.search(spark, probe, 5, dfCap = 1000L).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val want = ix.search(spark, s"qa${enc(5 % 997)}", 5).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == want,
        "capped search must equal the query minus the stop term exactly")
      assert(got.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** The stop-term WRITE bound (the df-cap's write-side counterpart):
    * a stop term in every document means every churned doc touches the
    * stop term's bucket, so an unsliced refresh REWRITES that
    * corpus-sized bucket no matter how small the churn. `subBuckets`
    * splits the bucket by doc id: the same churn rewrites only the
    * churned docs' sub-slices, and the two geometries' postings stay
    * identical.
    */
  test("10,000-doc BM25 index: sub-slicing bounds the stop-term bucket's rewrite") {
    val dir = Files.createTempDirectory("lake-bmsub").toString
    try {
      val sink = new LakeSink(dir, baseBuckets = 4)
      def mk(nm: String, subs: Int) = new MaintainedBm25Index(sink,
        "public", "docs", nm, idKey = "id", textKey = "text",
        stateBuckets = BUCKETS, subBuckets = subs)
      val ix1 = mk("bmw1", 1)
      val ix8 = mk("bmw8", 8)
      // every document carries the planted stop term
      sink.appendBatch(envelope((0 until DOCS).map(i =>
        ev(i.toLong, "insert", null, doc(s"d$i", s"the ${text(i)}")))), 0L)
      assert(ix1.refresh(spark) == 1 && ix8.refresh(spark) == 1)
      // churn 2 docs: one DELETE (retracts its ("the", doc) posting — an
      // unchanged-tf update would telescope the stop term out of the
      // delta and never touch its bucket, which is the maintainer doing
      // the right thing already) and one update changing tail terms plus
      // the stop term's tf (doubled), so both events drag the stop
      // term's corpus-sized bucket into the refresh
      sink.appendBatch(envelope(Seq(
        ev(100000L, "delete", doc("d5", s"the ${text(5)}"), null),
        ev(100001L, "update",
          doc(s"d${DOCS / 2 + 5}", s"the ${text(DOCS / 2 + 5)}"),
          doc(s"d${DOCS / 2 + 5}", s"the the ${text(DOCS / 2 + 6)}")))), 1L)
      assert(ix1.refresh(spark) == 1 && ix8.refresh(spark) == 1)

      def writtenRows(ix: MaintainedBm25Index, nm: String): Long = {
        val states = ix.md.stateLog
        val f = states.fs(spark)
        val key = states.committed(f).last // the churn version
        val vName = s"v${IntervalKeys.name(key)}"
        val rels = states.entries(f, key).values.filter(_.startsWith(vName)).toSeq
        if (rels.isEmpty) 0L
        else spark.read.schema(ix.dist.init(spark).schema)
          .parquet(rels.map(r => new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(sink.root, s"_graft_views/$nm"),
            r).toString): _*).count()
      }
      val w1 = writtenRows(ix1, "bmw1")
      val w8 = writtenRows(ix8, "bmw8")
      // the unsliced rewrite carries the whole corpus-sized stop bucket
      assert(w1 >= DOCS.toLong,
        s"unsliced churn rewrite must include the stop bucket, got $w1")
      val ratio = w1.toDouble / w8
      info(f"churn rewrite: subs=1 wrote $w1, subs=8 wrote $w8 " +
        f"(reduction $ratio%.1fx)")
      assert(ratio > 2.5,
        s"sub-slicing must cut the stop-bucket rewrite >2.5x (got $ratio)")
      // identical contents across geometries
      assert(ix1.postings(spark).except(ix8.postings(spark)).isEmpty &&
        ix8.postings(spark).except(ix1.postings(spark)).isEmpty,
        "sub-sliced postings diverged from the unsliced geometry")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
