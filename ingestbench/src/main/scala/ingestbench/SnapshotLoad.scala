package ingestbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pgproto.PgWire
import graft.sinks.LakeSink
import graft.snapshot.{ChunkPlanner, SnapshotConfig, SnapshotReader}

/** The source tables of an initial load, served over the wire: `orders`
  * (integer primary key: `integer_range` chunks) and `lineitem`
  * (composite key: `ctid_block` chunks over 60-row pages). Rows are
  * encoded once up front, so answering a chunk is a copy.
  */
final class SnapshotServer(rows: Rows, val orders: Int) extends AutoCloseable {
  val RowsPerPage = 60
  private def payload(v: Array[String]): Array[Byte] = PgWire.dataRowPayload(Tuples.of(v))
  private val orderRows: Array[Array[Byte]] =
    Array.tabulate(orders)(i => payload(rows.order(i + 1L, 0)))
  val lineKeys: Array[Long] =
    (1L to orders.toLong).iterator.flatMap(k => (1 to rows.linesOf(k)).map(l => k * 8 + l)).toArray
  private val lineRows: Array[Array[Byte]] = lineKeys.map(k => payload(rows.lineitem(k, 0)))
  val orderKeySum: Long = orders.toLong * (orders + 1L) / 2
  val lineKeySum: Long = lineKeys.sum
  def count(t: Schema.Table): Long = if (t == Schema.Orders) orders.toLong else lineKeys.length.toLong

  private val IntRange = """>= (-?\d+) AND \S+ (<=|<) (-?\d+)""".r.unanchored
  private val CtidFrom = """ctid >= '\((\d+),0\)'::tid""".r.unanchored
  private val CtidTo = """ctid < '\((\d+),0\)'::tid""".r.unanchored

  private def answer(sql: String): Option[Answer] =
    if (sql.contains("\"orders\"")) sql match {
      case IntRange(lo, op, hi) =>
        val last = if (op == "<=") hi.toLong else hi.toLong - 1
        val from = math.max(1L, lo.toLong).toInt - 1
        val until = math.max(from.toLong, math.min(orders.toLong, last)).toInt
        Some(Answer(Schema.Orders.names, orderRows, from, until))
      case _ => None
    } else if (sql.contains("\"lineitem\"")) {
      val from = CtidFrom.findFirstMatchIn(sql).map(_.group(1).toLong * RowsPerPage)
      val until = CtidTo.findFirstMatchIn(sql).map(_.group(1).toLong * RowsPerPage)
        .getOrElse(lineKeys.length.toLong)
      from.map(f => Answer(Schema.Lineitem.names, lineRows,
        math.min(f, lineKeys.length.toLong).toInt, math.min(until, lineKeys.length.toLong).toInt))
    } else None

  val server = new Loopback(None, answer)
  def port: Int = server.port

  def stats(t: Schema.Table): ChunkPlanner.TableStats =
    if (t == Schema.Orders)
      ChunkPlanner.TableStats(orders.toLong, Some("o_orderkey"), 1L, orders.toLong)
    else {
      val n = lineKeys.length.toLong
      ChunkPlanner.TableStats(n, None,
        relPages = (n + RowsPerPage - 1) / RowsPerPage, relTuples = n.toDouble)
    }

  def close(): Unit = server.close()
}

/** `snapshot_load`: the initial load of `lineitem` then `orders` through
  * `SnapshotReader.viaWire` into `LakeSink.appendSnapshot`, then the
  * maintained view's first refresh. Loads repeat into fresh lake roots
  * until the run's seconds are spent.
  */
object SnapshotLoad {
  /** The reference's default snapshot chunk size. */
  val ChunkSize = 8000L
  val Tables = Seq(Schema.Lineitem, Schema.Orders)

  final case class Load(root: String, t0: Long, commits: Seq[(Schema.Table, Long)], tView: Long,
      rows: Long, cpuNs: Long, chunks: Int, selects: Long)

  def read(spark: SparkSession, snap: SnapshotServer, t: Schema.Table) =
    Tracer.span("snapshot", "viaWire")(SnapshotReader.viaWire(
      spark, "127.0.0.1", snap.port, "bench", "bench", None, "public", t.name, t.columns,
      snap.stats(t), SnapshotConfig(chunkSize = ChunkSize),
      exportedSnapshotId = Some("00000003-0000001B-1")))

  def loadOnce(spark: SparkSession, snap: SnapshotServer, root: String): Load = {
    val lake = new LakeSink(root)
    lake.writeRelations(spark, Tables.map(_.relation))
    val view = Harness.priceView(lake)
    val sel0 = snap.server.selects.get
    val cpu0 = Stats.cpuNs()
    val t0 = System.nanoTime
    var chunks = 0
    val commits = Tables.zipWithIndex.map { case (t, j) =>
      chunks += Tracer.span("snapshot", "ChunkPlanner.plan")(
        ChunkPlanner.plan(snap.stats(t), ChunkSize)).size
      val df = read(spark, snap, t)
      Tracer.span("sinks", "appendSnapshot")(
        lake.appendSnapshot(t.qualified, df, t.key, 0L, -(j + 1L)))
      t -> System.nanoTime
    }
    Tracer.span("sinks", "refresh")(view.refresh(spark))
    val tView = System.nanoTime
    Load(root, t0, commits, tView, Tables.map(snap.count).sum, Stats.cpuNs() - cpu0, chunks,
      snap.server.selects.get - sel0)
  }

  /** Count, distinct key count and key sum of each landed table, the view
    * against a recompute, and one SELECT per planned chunk (no retries).
    */
  def audit(spark: SparkSession, rows: Rows, snap: SnapshotServer, l: Load, res: Result): Unit = {
    val lake = new LakeSink(l.root)
    Tables.foreach { t =>
      val key =
        if (t == Schema.Orders) element_at(col("after"), "o_orderkey").cast("long")
        else element_at(col("after"), "l_orderkey").cast("long") * 8 +
          element_at(col("after"), "l_linenumber").cast("long")
      val r = lake.changelog(spark).filter(col("table") === t.name)
        .select(key.as("k")).agg(count(lit(1)), countDistinct(col("k")), sum(col("k"))).head()
      val n = snap.count(t)
      val ks = if (t == Schema.Orders) snap.orderKeySum else snap.lineKeySum
      val bad = math.abs(r.getLong(0) - n) + math.abs(r.getLong(1) - n) +
        (if (r.isNullAt(2) || r.getLong(2) != ks) 1 else 0)
      if (bad != 0)
        res.fail(bad, s"snapshot of ${t.name}: count ${r.getLong(0)} distinct ${r.getLong(1)} " +
          s"key sum ${if (r.isNullAt(2)) "null" else r.getLong(2)}, expected $n/$n/$ks")
    }
    val want = Harness.expectedView(rows, mutable.LongMap.from((1L to snap.orders).map(_ -> 0)))
    val got = Harness.viewRows(spark, Harness.priceView(lake))
    if (got != want) res.fail(1, s"view after snapshot: $got, expected $want")
    if (l.selects != l.chunks) res.fail(math.abs(l.selects - l.chunks),
      s"${l.selects} chunk SELECTs for ${l.chunks} planned chunks (retries)")
  }

  def run(o: Opts, res: Result): Unit = {
    val rows = new Rows(o.seed)
    val snap = new SnapshotServer(rows, Schema.Sf01Orders)
    res.mark("generate")
    try {
      val (spark, _, setupS) = Harness.setUp(o, WarmUp.snapshot(o, rows))(_ => Harness.nothing)
      res.mark("set-up")
      Harness.checkHash(spark)
      Tracer.enabled = o.trace
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val loads = mutable.ArrayBuffer.empty[Load]
      val t0 = System.nanoTime
      val sent0 = snap.server.bytesSent.get
      // another load only if it would still end inside the run's seconds
      def fits = loads.isEmpty ||
        System.nanoTime - t0 + (loads.last.tView - loads.last.t0) <= o.seconds * 1000000000L
      while (fits)
        loads += loadOnce(spark, snap, Harness.dir(o, s"snap-lake-${loads.size}"))
      res.mark("measure")
      counters.settle()
      Report.counters(o, counters)
      val wireBytes = snap.server.bytesSent.get - sent0
      loads.foreach(l => audit(spark, rows, snap, l, res))
      res.mark("audit")
      res.attempted = loads.map(_.rows).sum

      // per-row visibility: a table's rows become visible at its commit
      def ms(ns: Long) = ns / 1e6
      val lakeVis = loads.flatMap(l => l.commits.map { case (t, at) => (ms(at - l.t0), snap.count(t)) })
      val viewVis = loads.map(l => (ms(l.tView - l.t0), l.rows))
      val perLoad = loads.map(l => l.rows / ((l.commits.last._2 - l.t0) / 1e9))
      // one table's read takes ~1.3 s, mostly per-job cost that varies
      // from read to read: five reads steady its median
      val stateS = Harness.stateReads(spark, new LakeSink(loads.last.root), Seq(Schema.Orders), 5)
      res.mark("state read")
      res.note(f"snapshot_load: ${loads.size} loads of ${loads.head.rows} rows, " +
        f"${Stats.median(perLoad.toSeq)}%.0f rows/s")
      val e2e = Map(
        "setup_s" -> setupS,
        "ingest_per_s" -> Stats.median(perLoad.toSeq),
        "cpu_s_per_m" -> loads.map(_.cpuNs).sum / 1e9 / (res.attempted / 1e6),
        "lake_visible_p50_ms" -> Weighted.quantile(lakeVis.toSeq, 0.5),
        "lake_visible_p99_ms" -> Weighted.quantile(lakeVis.toSeq, 0.99),
        "view_visible_p50_ms" -> Weighted.quantile(viewVis.toSeq, 0.5),
        "view_visible_p99_ms" -> Weighted.quantile(viewVis.toSeq, 0.99),
        "state_read_s" -> stateS)
      Report.endToEnd(o, res, e2e)
      if (o.trace) {
        val readRate = LayerPasses.snapshotRead(spark, snap, Tables)
        val typedEps = LayerPasses.typedView(spark, new LakeSink(loads.last.root), Tables)
        // the loads' spans only, not the layer-alone passes after them
        val spans = Tracer.all.filter(s => s.start >= loads.head.t0 && s.end <= loads.last.tView)
        val snapTasks = counters.taskRecs.toArray(Array.empty[Counters.TaskRec]).toSeq
          .filter(_.kind == "snapshot")
        val chunksPerTask = loads.map(_.chunks).sum.toDouble / math.max(1, snapTasks.size)
        val chunkMs = snapTasks.map(_.runMs / chunksPerTask)
        val appends = spans.filter(_.name == "appendSnapshot")
        val refreshes = spans.filter(s => s.name == "refresh")
        val m = Report.layerDefaults()
        m ++= Report.sparkCounters(counters)
        m ++= Map(
          "cdc.typed_view_eps" -> typedEps,
          "sinks.append_ms_p50" -> Stats.median(appends.map(_.dur / 1e6)),
          "sinks.append_ms_p99" -> Stats.quantile(appends.map(_.dur / 1e6), 0.99),
          "sinks.append_calls" -> appends.size.toDouble,
          "sinks.files_written" -> loads.map(l => Harness.parquetFiles(spark, l.root)).sum.toDouble,
          "sinks.bytes_per_event" -> counters.outputBytes.get.toDouble / res.attempted,
          "sinks.refresh_ms_p50" -> Stats.median(refreshes.map(_.dur / 1e6)),
          "sinks.refresh_ms_p99" -> Stats.quantile(refreshes.map(_.dur / 1e6), 0.99),
          "sinks.refresh_jobs" -> counters.jobsWithin(refreshes).toDouble / math.max(1, refreshes.size),
          "sinks.fold_s" -> stateS,
          "sinks.snapshot_append_s" -> appends.map(_.dur / 1e9).sum,
          "snapshot.plan_ms" -> spans.filter(_.name == "ChunkPlanner.plan").map(_.dur / 1e6).sum,
          "snapshot.chunks" -> loads.map(_.chunks).sum.toDouble,
          "snapshot.wire_mb" -> wireBytes / 1e6,
          "snapshot.chunk_ms_p50" -> Stats.median(chunkMs),
          "snapshot.chunk_ms_p99" -> Stats.quantile(chunkMs, 0.99),
          "snapshot.read_rows_per_s" -> readRate,
          "gen.frames" -> loads.map(_.selects).sum.toDouble,
          "gen.wire_mb" -> wireBytes / 1e6,
          "gen.late_p99_ms" -> Report.responseP99(snap.server))
        Report.layers(o, res, m)
        // blocking path: the load thread's plan/read/append/refresh calls
        val readS = loads.map(_.rows).sum / math.max(readRate, 1.0)
        val appendS = appends.map(_.dur / 1e9).sum
        val readShare = math.min(readS, appendS)
        val wall = loads.map(l => (l.tView - l.t0) / 1e9).sum
        val snapSelf = spans.filter(s => s.layer == "snapshot" && s.parent == 0)
          .map(_.dur / 1e9).sum + readShare
        val sinkSelf = appendS - readShare + refreshes.map(_.dur / 1e9).sum
        Report.table(o, Seq(("loads", wall, Seq(
          LayerTable.Row("snapshot", snapSelf, spans.count(_.layer == "snapshot").toLong),
          LayerTable.Row("sinks", sinkSelf, (appends.size + refreshes.size).toLong),
          LayerTable.Row("harness", math.max(0.0, wall - snapSelf - sinkSelf), 0L)))), e2e)
      }
      spark.stop()
    } finally snap.close()
  }
}

/** Quantiles of (value, weight) samples: every row of a table shares its
  * commit's latency.
  */
object Weighted {
  def quantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= math.ceil(q * total) }.map(_._1).getOrElse(0.0)
  }
}
