package ingestbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.IncrementalAgg
import graft.sinks.{LakeSink, MaintainedView}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, out: File, nproc: Int, mainEntryMs: Long)

/** What one run reports: the contract's JSON line plus notes for stderr. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var correct = true
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(n: Long, why: String): Unit = {
    failed += n; correct = false
    System.err.println(s"ingestbench: FAILED: $why")
  }
  def note(s: String): Unit = System.err.println(s"ingestbench: $s")
  private var lastMark = System.nanoTime
  /** Note how long the phase that just ended took. */
  def mark(phase: String): Unit = {
    val now = System.nanoTime
    note(f"$phase took ${(now - lastMark) / 1e9}%.1f s")
    lastMark = now
  }
}

object Harness {
  /** A set-up handle with nothing to close. */
  val nothing: AutoCloseable = () => ()

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.nproc}]")
      .appName("ingestbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dir(o: Opts, name: String): String = {
    val d = new File(o.work, name)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getPath
  }

  /** The maintained view every workload refreshes: count and exact sum of
    * `o_totalprice` per `o_orderpriority` (self-maintainable: no dirty
    * group recompute, so refresh cost is the per-span fixed cost).
    */
  def priceView(lake: LakeSink): MaintainedView = new MaintainedView(lake,
    new IncrementalAgg(
      group = Seq("o_orderpriority" -> (im => element_at(im, "o_orderpriority"))),
      sums = Seq("price" -> (im => element_at(im, "o_totalprice").cast("decimal(15,2)")))),
    "public", "orders", "by_priority")

  /** Expected view rows from a set of live orders: priority → (n, sum). */
  def expectedView(rows: Rows, orders: mutable.LongMap[Int]): Map[String, (Long, BigDecimal)] = {
    val acc = mutable.HashMap.empty[String, (Long, BigDecimal)]
    orders.foreach { case (k, v) =>
      val im = rows.order(k, v)
      val (n, s) = acc.getOrElse(im(5), (0L, BigDecimal(0)))
      acc(im(5)) = (n + 1, s + BigDecimal(im(3)))
    }
    acc.toMap
  }

  def viewRows(spark: SparkSession, view: MaintainedView): Map[String, (Long, BigDecimal)] =
    view.read(spark).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))
    }.toMap

  /** Start a pgcdc stream over the loopback walsender. The traced run
    * swaps in [[TracedPgCdcProvider]], which times the source's calls.
    */
  def stream(o: Opts, spark: SparkSession, port: Int, checkpoint: String,
      extra: Map[String, String], trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val fmt = if (o.trace) classOf[TracedPgCdcProvider].getName else "pgcdc"
    spark.readStream.format(fmt)
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("slot", "bench").option("publication", "bench")
      .option("keyOverrides", Schema.KeyOverrides)
      .option("reconnectBackoffMs", "50")
      .options(extra)
      .load()
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** The JIT compiles the warm-up's hot code on background threads: wait
    * (at most 10 s) until it has compiled nothing for half a second, so the
    * measured phase neither shares the CPU with the compiler nor runs
    * code still waiting to be compiled.
    */
  private def awaitCompiler(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime + 10000000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime
    while (System.nanoTime - quietSince < 500000000L && System.nanoTime < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime }
    }
  }

  /** Process start to ready: the JVM's start, a SparkSession, the
    * workload's warm-up (and the compiler settling after it) and the
    * sink/stream open. Input generation, which
    * happens between JVM start and this call, is excluded. Returns the
    * open session and sink and the set-up time in seconds.
    */
  def setUp[T <: AutoCloseable](o: Opts, warmUp: SparkSession => Unit)(
      open: SparkSession => T): (SparkSession, T, Double) = {
    val jvmS = (o.mainEntryMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime
    val spark = session(o)
    val t1 = System.nanoTime
    warmUp(spark)
    val tw = System.nanoTime
    awaitCompiler()
    val t2 = System.nanoTime
    val h = open(spark)
    val s = jvmS + (System.nanoTime - t0) / 1e9
    System.err.println(f"ingestbench: set-up $s%.2f s (JVM $jvmS%.2f, session ${(t1 - t0) / 1e9}%.2f, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2f incl. compiler settling ${(t2 - tw) / 1e9}%.2f, " +
      f"open ${(System.nanoTime - t2) / 1e9}%.2f)")
    (spark, h, s)
  }

  /** Materialize every latest-state row of `tables`, typed (the read
    * users pay), in seconds.
    */
  def stateRead(spark: SparkSession, lake: LakeSink, tables: Seq[Schema.Table]): Double = {
    val t0 = System.nanoTime
    tables.foreach { t =>
      Tracer.span("sinks", "latestStateTyped") {
        lake.latestStateTyped(spark, "public", t.name)
          .write.format("noop").mode("overwrite").save()
      }
    }
    (System.nanoTime - t0) / 1e9
  }

  /** The median of `reads` state reads, in seconds, after one untimed
    * read: a lake's first read lists its files and opens them cold, and
    * ran 20-50 % slower than the ones after it.
    */
  def stateReads(spark: SparkSession, lake: LakeSink, tables: Seq[Schema.Table],
      reads: Int): Double = {
    stateRead(spark, lake, tables)
    val s = Seq.fill(reads)(stateRead(spark, lake, tables))
    System.err.println(s"ingestbench: state reads ${s.map(x => f"$x%.2f").mkString(", ")} s")
    Stats.median(s)
  }

  /** Lake-side [[Digest]] of one table's latest state. */
  def lakeDigest(spark: SparkSession, lake: LakeSink, t: Schema.Table): Digest = {
    val h: Column = xxhash64(concat_ws("\u0001",
      t.names.map(c => coalesce(element_at(col("after"), c), lit("\u0002"))): _*))
    val r = lake.latestState(spark, "public", t.name).select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Fail loudly if this JVM's hash disagrees with Spark's `xxhash64`. */
  def checkHash(spark: SparkSession): Unit = {
    val v = Array("1", "xé", null)
    val s = spark.range(1).select(xxhash64(concat_ws("\u0001",
      v.map(x => if (x == null) lit("\u0002") else lit(x)): _*))).head().getLong(0)
    require(s == Digest.hash(v), "driver-side digest disagrees with Spark's xxhash64")
  }

  /** Number of parquet files under a lake's changelog. */
  def parquetFiles(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(root, "changelog")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** Stop a query and wait until its progress covers every landed batch. */
  def stop(q: StreamingQuery, progress: Progress, landed: ConcurrentHashMap[Long, _]): Unit = {
    q.stop()
    val deadline = System.nanoTime + 5000000000L
    def covered = landed.keySet.asScala.forall(id => progress.all.exists(_.id == id))
    while (!covered && System.nanoTime < deadline) Thread.sleep(20)
  }
}

/** The set-ups' warm-ups, so the measured phase runs on loaded classes
  * and compiled code: the WAL workload streams a small WAL with every
  * change shape (insert, full-image update, delete, unchanged-TOAST
  * update, a streamed transaction) into a scratch lake with the view;
  * the snapshot workload loads a small wire snapshot. Both end with a
  * typed state read.
  */
object WarmUp {
  /** The catch-up backlog's shape at about a fifth of its size; the
    * streamed transaction still spills, past a lower threshold.
    */
  val WarmUpSizes = CatchupInput.Sizes(orders = 1000, updates = 800, docs = 100,
    streamed = 3000, deletes = 200, rounds = 2)
  /** Spill threshold of the warm-up stream, below its streamed transaction. */
  val WarmUpSpillThreshold = 2048

  def stream(o: Opts, rows: Rows)(spark: SparkSession): Unit = {
    // about 10 k events, so the per-event decode and write paths compile
    val (w, _) = CatchupInput.build(rows, o.seed ^ 0x3A3AL, WarmUpSizes)
    val server = new Loopback(Some(new BacklogFeed(w, Schema.All.size)), _ => None)
    try {
      val lake = new LakeSink(Harness.dir(o, "warmup-lake"))
      lake.writeRelations(spark, Schema.All.map(_.relation))
      val view = Harness.priceView(lake)
      val progress = new Progress
      spark.streams.addListener(progress)
      // several batches: the view's first refresh seeds it, later ones
      // apply deltas — the path every steady batch takes
      val q = Harness.stream(o, spark, server.port, Harness.dir(o, "warmup-ckpt"),
          Map("maxTxnsPerTrigger" -> "12",
            "spillThresholdEvents" -> WarmUpSpillThreshold.toString)) { (df, id) =>
        lake.appendBatch(df, id)
        view.refresh(spark)
      }
      val t0 = System.nanoTime
      val deadline = t0 + 60000000000L
      while (progress.delivered.get < w.txnEnds.size && q.isActive && System.nanoTime < deadline)
        Thread.sleep(10)
      q.stop()
      spark.streams.removeListener(progress)
      require(progress.delivered.get == w.txnEnds.size,
        s"warm-up stream delivered ${progress.delivered.get} of ${w.txnEnds.size} transactions" +
          q.exception.map(e => s": ${e.getMessage}").getOrElse(""))
      System.err.println(f"ingestbench: warm-up stream ${(System.nanoTime - t0) / 1e9}%.2f s " +
        s"in ${progress.all.size} batches")
      Harness.stateRead(spark, lake, Seq(Schema.Orders))
    } finally server.close()
  }

  def snapshot(o: Opts, rows: Rows)(spark: SparkSession): Unit = {
    val snap = new SnapshotServer(rows, orders = 3000)
    try {
      val l = SnapshotLoad.loadOnce(spark, snap, Harness.dir(o, "warmup-snap"))
      Harness.stateRead(spark, new LakeSink(l.root), Seq(Schema.Orders))
    } finally snap.close()
  }
}

/** Short encoders for the generator's change messages. */
object Dml {
  import graft.pgproto.{MessageEncoder => M}
  def ins(t: Schema.Table, v: Array[String], x: Long = -1): Array[Byte] =
    M.insert(t.oid, Tuples.of(v), x)
  def upd(t: Schema.Table, now: Array[String], old: Array[String]): Array[Byte] =
    M.update(t.oid, Tuples.of(now), Tuples.of(old), 'O'.toByte)
  def del(t: Schema.Table, old: Array[String]): Array[Byte] =
    M.delete(t.oid, Tuples.of(old), 'O'.toByte)
  /** Document update that leaves `text` as unchanged-TOAST ('u'). */
  def toast(now: Array[String], old: Array[String]): Array[Byte] =
    M.update(Schema.Documents.oid, Tuples.toastText(now), Tuples.of(old), 'O'.toByte)
}
