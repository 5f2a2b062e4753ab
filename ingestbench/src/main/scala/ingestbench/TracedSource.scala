package ingestbench

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.cdc.ChangeEvent
import graft.streaming.{GraftMetrics, PgCdcMicroBatchStream, PgCdcReaderFactory}

/** The pgcdc source with a span around every call into its public
  * functions — the traced run's stand-in for `format("pgcdc")`. The
  * driver side (`latestOffset`, which reads the socket and groups frames,
  * `planInputPartitions`, `commit`) is the `streaming` layer; the executor
  * reader (`PgCdcReaderFactory`, the transaction assembler) is `cdc`,
  * timed per partition as the time spent inside `next`/`get`.
  */
class TracedPgCdcProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new Table with SupportsRead {
    override def name(): String = "pgcdc-traced"
    override def schema(): StructType = ChangeEvent.schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
      new Scan {
        override def readSchema(): StructType = ChangeEvent.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TracedStream(new PgCdcMicroBatchStream(options))
        override def supportedCustomMetrics(): Array[CustomMetric] = GraftMetrics.supported
      }
  }
}

final class TracedStream(inner: PgCdcMicroBatchStream)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    Tracer.span("streaming", "latestOffset")(inner.latestOffset(start, limit))
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Tracer.span("streaming", "planInputPartitions")(inner.planInputPartitions(start, end))
  override def createReaderFactory(): PartitionReaderFactory = TracedReaderFactory
  override def commit(end: Offset): Unit = Tracer.span("streaming", "commit")(inner.commit(end))
  override def prepareForTriggerAvailableNow(): Unit = inner.prepareForTriggerAvailableNow()
  override def metrics(latest: java.util.Optional[Offset]): util.Map[String, String] =
    inner.metrics(latest)
  override def stop(): Unit = inner.stop()
}

object TracedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val t0 = System.nanoTime
    val r = PgCdcReaderFactory.createReader(p)
    new PartitionReader[InternalRow] {
      private var busy = System.nanoTime - t0
      private var events = 0L
      override def next(): Boolean = {
        val s = System.nanoTime
        val has = r.next()
        busy += System.nanoTime - s
        if (has) events += 1
        has
      }
      override def get(): InternalRow = {
        val s = System.nanoTime
        val row = r.get()
        busy += System.nanoTime - s
        row
      }
      override def currentMetricsValues(): Array[CustomTaskMetric] = r.currentMetricsValues()
      override def close(): Unit = {
        r.close()
        Tracer.record("cdc", "decode", Thread.currentThread().getName, t0, System.nanoTime,
          Map("busy_ns" -> busy.toDouble, "events" -> events.toDouble))
      }
    }
  }
}
