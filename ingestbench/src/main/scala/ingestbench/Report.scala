package ingestbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.cdc.ChangeEvent
import graft.sinks.LakeSink
import graft.streaming.{CdcOffset, PgCdcMicroBatchStream, PgCdcReaderFactory}

/** Metric names and units, in the order BENCHMARK.json lists them. */
object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_per_s" -> "1/s", "cpu_s_per_m" -> "s",
    "lake_visible_p50_ms" -> "ms", "lake_visible_p99_ms" -> "ms",
    "view_visible_p50_ms" -> "ms", "view_visible_p99_ms" -> "ms", "state_read_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.txns_per_trigger_p50" -> "count",
    "streaming.backlog_txns_max" -> "count", "streaming.cdc_latency_ms_p50" -> "ms",
    "streaming.group_mbps" -> "MB/s",
    "cdc.decode_eps" -> "1/s", "cdc.decode_task_cpu_s" -> "s", "cdc.events_decoded" -> "count",
    "cdc.spilled_events" -> "count", "cdc.typed_view_eps" -> "1/s",
    "sinks.append_ms_p50" -> "ms", "sinks.append_ms_p99" -> "ms", "sinks.append_calls" -> "count",
    "sinks.files_written" -> "count", "sinks.bytes_per_event" -> "B",
    "sinks.refresh_ms_p50" -> "ms", "sinks.refresh_ms_p99" -> "ms", "sinks.refresh_jobs" -> "count",
    "sinks.fold_s" -> "s", "sinks.snapshot_append_s" -> "s",
    "snapshot.plan_ms" -> "ms", "snapshot.chunks" -> "count", "snapshot.wire_mb" -> "MB",
    "snapshot.chunk_ms_p50" -> "ms", "snapshot.chunk_ms_p99" -> "ms",
    "snapshot.read_rows_per_s" -> "1/s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s",
    "gen.frames" -> "count", "gen.wire_mb" -> "MB", "gen.late_p99_ms" -> "ms")

  /** Every per-layer metric at 0: a layer that does no work on a workload
    * (the WAL layers during a snapshot load, the snapshot layer during a
    * stream) reports 0 for it.
    */
  def layerDefaults(): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.from(PerLayer.map(_._1 -> 0.0))

  def sparkCounters(c: Counters): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.get.toDouble, "spark.stages" -> c.stages.get.toDouble,
    "spark.tasks" -> c.tasks.get.toDouble, "spark.task_cpu_s" -> c.cpuNs.get / 1e9,
    "spark.shuffle_bytes" -> c.shuffleBytes.get.toDouble,
    "spark.spill_bytes" -> c.spillBytes.get.toDouble, "spark.gc_s" -> c.gcMs.get / 1e3)

  def responseP99(l: Loopback): Double =
    Stats.quantile(l.responseNs.asScala.toSeq.map(_.doubleValue / 1e6), 0.99)

  private def outDir(o: Opts): File = {
    val d = new File(o.out, o.workload); d.mkdirs(); d
  }

  /** The untraced run's metrics are the result; every run's end-to-end
    * numbers are also kept so a traced run can report its overhead.
    */
  def endToEnd(o: Opts, res: Result, e2e: Map[String, Double]): Unit = {
    val line = EndToEnd.map { case (n, _) => s""""$n":${e2e(n)}""" }.mkString("{", ",", "}")
    val kind = if (o.trace) "traced" else "untraced"
    Files.write(new File(outDir(o), s"${kind}_seed${o.seed}.json").toPath, line.getBytes(UTF_8))
    if (!o.trace) EndToEnd.foreach { case (n, u) => res.put(n, e2e(n), u) }
  }

  /** Spark's counters of the measured phase, kept for every run. */
  def counters(o: Opts, c: Counters): Unit = {
    val line = sparkCounters(c).toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val kind = if (o.trace) "traced" else "untraced"
    Files.write(new File(outDir(o), s"counters_${kind}_seed${o.seed}.json").toPath,
      line.getBytes(UTF_8))
  }

  def layers(o: Opts, res: Result, m: collection.Map[String, Double]): Unit =
    if (o.trace) PerLayer.foreach { case (n, u) => res.put(n, m(n), u) }

  /** Write the span file and the per-layer table of a traced run. */
  def table(o: Opts, sections: Seq[(String, Double, Seq[LayerTable.Row])],
      traced: Map[String, Double]): Unit = {
    val d = outDir(o)
    val untracedFile = new File(d, s"untraced_seed${o.seed}.json")
    val untraced =
      if (!untracedFile.exists) None
      else Some("\"([a-z0-9_]+)\":(-?[0-9.Ee+-]+)".r
        .findAllMatchIn(new String(Files.readAllBytes(untracedFile.toPath), UTF_8))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    val text = LayerTable.render(o.workload, sections, traced, untraced)
    Files.write(new File(d, s"layers_seed${o.seed}.tsv").toPath, text.getBytes(UTF_8))
    val spans = Tracer.all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""thread":"${s.thread.replace("\"", "'")}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""attrs":{$attrs}}"""
    }
    Files.write(new File(d, s"spans_seed${o.seed}.jsonl").toPath,
      spans.mkString("", "\n", "\n").getBytes(UTF_8))
    System.err.print(text)
  }
}

/** The traced run's layer-alone passes: each drives one layer's public
  * functions over the workload's own input, with nothing else running.
  */
object LayerPasses {
  /** `streaming` alone: the socket read, header-peek grouping and
    * planning of `PgCdcMicroBatchStream`, driven by hand over a backlog.
    * Returns MB/s of frames grouped and the planned partitions.
    */
  def group(w: WalWriter, relations: Int): (Double, Seq[InputPartition]) = {
    val server = new Loopback(Some(new BacklogFeed(w, relations)), _ => None)
    val s = new PgCdcMicroBatchStream(new CaseInsensitiveStringMap(Map(
      "host" -> "127.0.0.1", "port" -> server.port.toString, "slot" -> "bench",
      "publication" -> "bench", "keyOverrides" -> Schema.KeyOverrides,
      "spillThresholdEvents" -> CatchupInput.SpillThreshold.toString).asJava))
    try {
      val parts = mutable.ArrayBuffer.empty[InputPartition]
      var start = s.initialOffset().asInstanceOf[CdcOffset]
      val limit = ReadLimit.allAvailable()
      val t0 = System.nanoTime
      val deadline = t0 + 120000000000L
      while (start.seq < w.txnEnds.size && System.nanoTime < deadline) {
        val end = Tracer.span("streaming", "latestOffset")(s.latestOffset(start, limit))
          .asInstanceOf[CdcOffset]
        if (end.seq > start.seq) {
          parts ++= Tracer.span("streaming", "planInputPartitions")(s.planInputPartitions(start, end))
          Tracer.span("streaming", "commit")(s.commit(end))
          start = end
        } else Thread.sleep(1)
      }
      require(start.seq == w.txnEnds.size, s"group pass delivered ${start.seq} of ${w.txnEnds.size}")
      (w.bytes / ((System.nanoTime - t0) / 1e9) / 1e6, parts.toSeq)
    } finally { s.stop(); server.close() }
  }

  /** `cdc` alone: decode planned partitions through `PgCdcReaderFactory`
    * on `threads` threads. Returns events decoded per second.
    */
  def decode(parts: Seq[InputPartition], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val next = new AtomicInteger(0)
    val events = new AtomicLong(0L)
    val t0 = System.nanoTime
    val work: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < parts.size) {
        val r = PgCdcReaderFactory.createReader(parts(i))
        var n = 0L
        try while (r.next()) { r.get(); n += 1 } finally r.close()
        events.addAndGet(n)
        i = next.getAndIncrement()
      }
    }
    (0 until threads).map(_ => pool.submit(work)).foreach(_.get())
    val s = (System.nanoTime - t0) / 1e9
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
    Tracer.record("cdc", "decodePass", Thread.currentThread().getName, t0, System.nanoTime)
    events.get / s
  }

  /** `ChangeEvent.typedView` over the lake's persisted changelog, one
    * view per table. Returns change events viewed per second.
    */
  def typedView(spark: SparkSession, lake: LakeSink, tables: Seq[Schema.Table]): Double = {
    val ev = lake.changelog(spark).persist()
    try {
      val n = ev.count()
      val t0 = System.nanoTime
      tables.foreach { t =>
        Tracer.span("cdc", "typedView")(ChangeEvent.typedView(ev, t.relation))
          .write.format("noop").mode("overwrite").save()
      }
      n / ((System.nanoTime - t0) / 1e9)
    } finally ev.unpersist()
  }

  /** `snapshot` alone: `viaWire` chunk reads written to noop, no sink. */
  def snapshotRead(spark: SparkSession, snap: SnapshotServer, tables: Seq[Schema.Table]): Double = {
    val t0 = System.nanoTime
    tables.foreach(t => SnapshotLoad.read(spark, snap, t).write.format("noop").mode("overwrite").save())
    tables.map(snap.count).sum / ((System.nanoTime - t0) / 1e9)
  }
}
