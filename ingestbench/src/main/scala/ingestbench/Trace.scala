package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.CdcOffset

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * on the same thread (0 = none); times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    thread: String, start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder, written out once at exit. Disabled (the
  * untraced runs) it records nothing and adds no work around the calls.
  */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          Thread.currentThread().getName, t0, t1, attrs))
      }
    }

  /** Record an interval measured elsewhere (task times, progress phases). */
  def record(layer: String, name: String, thread: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty, parent: Long = 0L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, layer, name, thread, start, end, attrs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Spark's load-independent counters for one workload, from the public
  * listener API: jobs, stages, tasks, executor CPU, shuffle, spill, GC,
  * and the pgcdc source's DSv2 task metrics. Stages are classified by
  * their RDD lineage: `source` stages read the pgcdc micro-batch scan,
  * `snapshot` stages read the chunked wire snapshot.
  */
final class Counters extends SparkListener {
  import Counters.TaskRec
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong; val gcMs = new AtomicLong
  val sourceCpuNs = new AtomicLong
  val outputBytes = new AtomicLong
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val taskRecs = new ConcurrentLinkedQueue[TaskRec]()
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private val jobTimesMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val epochOffsetMs = System.currentTimeMillis - System.nanoTime / 1000000L
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobTimesMs.add(e.time); ()
  }
  /** Jobs started inside any of `spans` (their times are nanoTime). */
  def jobsWithin(spans: Seq[Span]): Long = {
    val ws = spans.map(s => (s.start / 1000000L + epochOffsetMs, s.end / 1000000L + epochOffsetMs + 1))
    jobTimesMs.asScala.count(t => ws.exists { case (a, b) => t >= a && t <= b }).toLong
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val names = e.stageInfo.rddInfos.map(_.name)
    val kind =
      if (names.exists(_.contains("DataSourceRDD"))) "source"
      else if (names.exists(_.contains("ParallelCollectionRDD"))) "snapshot"
      else "other"
    stageKind.put(e.stageInfo.stageId, kind)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val kind = stageKind.getOrDefault(e.stageId, "other")
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      if (kind == "source") sourceCpuNs.addAndGet(m.executorCpuTime)
      taskRecs.add(TaskRec(kind, m.executorRunTime))
    }
    e.taskInfo.accumulables.foreach { a =>
      for (name <- a.name; u <- a.update) u match {
        case n: java.lang.Long =>
          acc.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n); ()
        case _ => ()
      }
    }
  }
  def accumulated(name: String): Long = Option(acc.get(name)).map(_.get).getOrElse(0L)

  /** Listener events arrive asynchronously: wait until the totals stop
    * moving before reading them.
    */
  def settle(): Unit = {
    var last = -1L; var stableSince = System.nanoTime
    val deadline = System.nanoTime + 5000000000L
    while (System.nanoTime < deadline && System.nanoTime - stableSince < 300000000L) {
      val now = tasks.get + jobs.get + stages.get
      if (now != last) { last = now; stableSince = System.nanoTime }
      Thread.sleep(20)
    }
  }
}

object Counters {
  final case class TaskRec(kind: String, runMs: Long)
}

/** Every micro-batch's progress: the batch's end offset maps it to the
  * generator's transactions (`CdcOffset.seq` counts delivered
  * transactions), and its phase durations time the driver.
  */
final class Progress extends StreamingQueryListener {
  import Progress.Batch
  private val batches = new ConcurrentLinkedQueue[Batch]()
  val delivered = new AtomicLong(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    p.sources.headOption.foreach { s =>
      if (s.endOffset != null && s.startOffset != s.endOffset) {
        val end = CdcOffset.fromJson(s.endOffset).seq
        val start = Option(s.startOffset).map(CdcOffset.fromJson(_).seq).getOrElse(0L)
        batches.add(Batch(p.batchId, start, end, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          Option(s.metrics).map(_.asScala.toMap).getOrElse(Map.empty)))
        delivered.accumulateAndGet(end, math.max)
      }
    }
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)
}

object Progress {
  final case class Batch(id: Long, startSeq: Long, endSeq: Long, triggerMs: Long,
      durations: Map[String, Long], source: Map[String, String])
}

/** Small statistics helpers. */
object Stats {
  /** Linear-interpolated quantile, as `numpy.percentile` computes it. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Per-layer self time along a workload's blocking path, written as the
  * traced run's table: each layer's self time, its share of the wall
  * time, its span count, and the tracing overhead against the latest
  * untraced run of the same workload and seed.
  */
object LayerTable {
  final case class Row(layer: String, selfS: Double, spans: Long)

  def render(workload: String, sections: Seq[(String, Double, Seq[Row])],
      traced: Map[String, Double], untraced: Option[Map[String, Double]]): String = {
    val sb = new StringBuilder
    sections.foreach { case (name, wallS, rows) =>
      sb ++= s"# $workload $name: self time along the blocking path, wall ${fmt(wallS)} s\n"
      sb ++= "layer\tself_s\tshare\tspans\n"
      rows.sortBy(-_.selfS).foreach { r =>
        sb ++= s"${r.layer}\t${fmt(r.selfS)}\t${fmt(share(r.selfS, wallS))}\t${r.spans}\n"
      }
      val sum = rows.map(_.selfS).sum
      sb ++= s"sum\t${fmt(sum)}\t${fmt(share(sum, wallS))}\t-\n"
      rows.sortBy(-_.selfS).headOption.foreach(r => sb ++= s"blocking layer: ${r.layer}\n\n")
    }
    sb ++= "# end-to-end, traced vs untraced (same workload and seed): tracing overhead\n"
    sb ++= "metric\ttraced\tuntraced\toverhead\n"
    traced.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val u = untraced.flatMap(_.get(k))
      sb ++= s"$k\t${fmt(v)}\t${u.map(fmt).getOrElse("n/a")}\t" +
        s"${u.map(x => fmt(v - x)).getOrElse("n/a")}\n"
    }
    sb.result()
  }
  private def share(x: Double, wall: Double): Double = if (wall > 0) x / wall else 0.0
  private def fmt(d: Double): String = f"$d%.4f"
}
