package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression, SafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.StructType

import graft.sinks.LakeSink

/** DataSource V2 micro-batch stream over the lake changelog — the engine
  * face of [[LakeSink]]'s commit log (see [[LakeReadSourceProvider]] for
  * the option surface). Replaces the former DSv1 `Source`: offsets are
  * plain [[LakeOffset]]s end to end (no `SerializedOffset` games), and
  * `planInputPartitions` prunes to exactly the new batch ids' parquet
  * files ([[LakeSink.batchDataFiles]]) — one [[FilePartition]] per data
  * file, its `batch_id` riding as the partition value, read
  * executor-side by Spark's own parquet reader
  * ([[ChangelogReaderFactory]]; no driver data movement, no
  * `private[sql]` streaming-frame constructor).
  *
  * Admission (`latestOffset(start, limit)`) is the same two-sided
  * interval logic the DSv1 source carried: epochs admit oldest-first
  * above the interval, late snapshot batches newest-first below it, so
  * the admitted set stays contiguous under any per-trigger cap; vacuum
  * safety is enforced at admission where "delivered" and "deleted" can
  * be told apart (the engine legitimately replays the last committed
  * span through `planInputPartitions` on restart — missing ids there
  * contribute no rows).
  */
final class LakeMicroBatchStream(
    root: String, tables: Seq[String], maxBatchesPerTrigger: Option[Int],
    typedRel: Option[graft.pgproto.Messages.Relation])
    extends MicroBatchStream with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val spark = SparkSession.active
  private val sink = new LakeSink(root)

  // Ids already admitted but possibly not yet committed downstream —
  // admission must be monotone across triggers.
  @volatile private var planned: LakeOffset = LakeOffset.empty
  // Vacuum low-water mark acknowledged as innocent (see LakeOffset.vl);
  // MaxValue until first contact (fresh query or a pre-vl checkpoint,
  // both amnestied at the next admission).
  @volatile private var ackedVl: Long = Long.MaxValue
  // Trigger.AvailableNow ceiling: ids committed after prepare() wait for
  // the next run.
  @volatile private var availableNowTarget: Option[LakeOffset] = None

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = {
    val ids = sink.committedBatchIds(spark)
    availableNowTarget = Some(
      if (ids.isEmpty) planned
      else LakeOffset(
        math.min(planned.neg, math.min(ids.min, 0L)),
        math.max(planned.pos, ids.max)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-lake implements SupportsAdmissionControl")

  /** `start` is the checkpointed offset, so a capped plan can never land
    * behind what a previous instance delivered.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    if (start != null) merge(LakeOffset.fromJson(start.json))
    advance().orNull
  }

  private def advance(): Option[LakeOffset] = synchronized {
    val all = sink.committedBatchIds(spark)
    val committed = availableNowTarget match {
      case Some(t) => all.filter(id => id >= t.neg && id <= t.pos)
      case None => all
    }
    // Vacuum safety, enforced at ADMISSION (not while planning partitions —
    // the engine legitimately replays the last committed span on every
    // restart, and that replay may cross already-vacuumed history). By now
    // `planned` holds the truly-delivered interval (seeded from the
    // checkpoint via latestOffset's start / planInputPartitions / commit),
    // so a vacuum high-water mark beyond it means UNDELIVERED batches were
    // deleted — unrecoverable. A consumer with no history yet (planned
    // empty) is exempt: nothing was promised to it, it may legally start
    // from the surviving tail.
    val vh = sink.vacuumHighWater(spark)
    if (planned != LakeOffset.empty && vh > planned.pos)
      throw new IllegalStateException(
        s"graft-lake stream is at ${planned.json} but vacuum has deleted " +
          s"batches through $vh — the gap is unrecoverable; re-bootstrap " +
          "the consumer from latestState and a fresh checkpoint")
    // Negative side: vacuum reaching BELOW both the delivered floor and
    // the acknowledged mark means a late snapshot batch was deleted
    // before this consumer ever saw it. History vacuumed before first
    // contact is amnestied (nothing was promised yet).
    val curVl = sink.vacuumLowWater(spark)
    // Amnesty is keyed on EMPTY delivery history, not on ackedVl being
    // unset: a running consumer that saw no vacuum at first contact
    // (ackedVl still MaxValue) must still treat the first vacuum that
    // reaches below its floor as a gap, not as pre-birth history.
    if (planned == LakeOffset.empty) ackedVl = curVl
    else if (curVl < ackedVl) {
      if (curVl < planned.neg)
        throw new IllegalStateException(
          s"graft-lake stream floor is ${planned.neg} but vacuum has " +
            s"deleted snapshot batches down to $curVl — an undelivered " +
            "snapshot batch is gone; re-bootstrap the consumer from " +
            "latestState and a fresh checkpoint")
      ackedVl = curVl
    }
    if (committed.isEmpty && planned == LakeOffset.empty) return None
    val fresh = committed.filter(id => id < planned.neg || id > planned.pos)
    if (fresh.isEmpty) {
      if (planned == LakeOffset.empty) None
      else Some(planned.copy(vl = ackedVl))
    } else {
      // Downward growth admits newest-first, upward oldest-first, so the
      // admitted set stays a contiguous interval under any per-trigger cap.
      val ordered = fresh.filter(_ < planned.neg).sorted.reverse ++
        fresh.filter(_ > planned.pos).sorted
      val admitted = maxBatchesPerTrigger.fold(ordered)(ordered.take)
      planned = LakeOffset(
        math.min(planned.neg, admitted.min), math.max(planned.pos, admitted.max))
      Some(planned.copy(vl = ackedVl))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = if (start == null) LakeOffset.empty else LakeOffset.fromJson(start.json)
    val e = LakeOffset.fromJson(end.json)
    // Restart path: the checkpoint may be ahead of this fresh instance —
    // the engine replays the last committed span through here before the
    // first admission, which also seeds `planned` with the true delivered
    // interval. Missing (vacuumed) ids in a replayed span contribute no
    // files; gap DETECTION lives in the admission path.
    merge(e)
    sink.committedBatchIds(spark)
      .filter(id => id >= e.neg && id <= e.pos)
      .filter(id => id < s.neg || id > s.pos)
      .flatMap(id => sink.batchDataFiles(spark, id).map(st =>
        PartitionedFile(InternalRow(id), SparkPath.fromFileStatus(st), 0, st.getLen,
          modificationTime = st.getModificationTime, fileSize = st.getLen)))
      .zipWithIndex.map { case (file, i) => FilePartition(i, Array(file)) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // The typed projection is ANALYZED once on the driver (same column
    // set as LakeReadSource.typedProject, resolved + timezone-bound) and
    // shipped to executors as bound catalyst expressions — the reader
    // evaluates them per row, so the stream's rows leave the executor
    // already typed with zero driver involvement.
    val typedExprs: Option[Seq[Expression]] = typedRel.map { rel =>
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LakeReadSource.changelogSchema)
      val plan = PlanBridge.analyzed(
        empty.select(LakeReadSource.typedColumnsFor(rel): _*))
      val p = plan.collectFirst { case pr: Project => pr }.getOrElse(
        throw new IllegalStateException("typed projection did not analyze to a Project"))
      val input: AttributeSeq = p.child.output
      // widen to Expression before binding: a bound AttributeReference
      // becomes a BoundReference, which is not a NamedExpression
      p.projectList.map(e =>
        BindReferences.bindReference(e: Expression, input, allowFailures = false))
    }
    // With a typed feed the table filter is implied by the relation.
    val tableFilter = typedRel match {
      case Some(rel) => Seq(s"${rel.namespace}.${rel.name}")
      case None => tables
    }
    // Spark's parquet reader over the envelope, `batch_id` appended from
    // each file's partition value (it sets up and broadcasts its own
    // Hadoop conf, so it gets a copy)
    val schema = LakeReadSource.changelogSchema
    val data = StructType(schema.filterNot(_.name == "batch_id"))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, data, StructType(Seq(schema("batch_id"))), data, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sparkContext.hadoopConfiguration))
    new ChangelogReaderFactory(read, tableFilter.toSet, typedExprs)
  }

  override def commit(end: Offset): Unit = merge(LakeOffset.fromJson(end.json))

  private def merge(o: LakeOffset): Unit = synchronized {
    planned = LakeOffset(math.min(planned.neg, o.neg), math.max(planned.pos, o.pos))
    ackedVl = math.min(ackedVl, o.vl)
  }

  override def initialOffset(): Offset = LakeOffset.empty
  override def deserializeOffset(json: String): Offset = LakeOffset.fromJson(json)
  override def stop(): Unit = ()

  /** StreamingQueryProgress `sources[i].metrics` gauges, mirroring the
    * pgcdc source's family: the delivered interval plus the commit-log
    * backlog outside it. One commit-log listing per progress event —
    * driver-side metadata only, same cost class as [[LakeSink.gauges]].
    */
  override def metrics(
      latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val p = planned
    m.put("deliveredFloor", p.neg.toString)
    m.put("deliveredCeiling", p.pos.toString)
    m.put("backlogBatches",
      sink.committedBatchIds(spark)
        .count(id => id < p.neg || id > p.pos).toString)
    m
  }
}

/** Executor side of the stream: Spark's parquet reader (`read`, one
  * envelope row plus `batch_id` per event) with the table filter applied
  * row-local and — for a typed feed — the bound typed projection
  * evaluated, so rows leave the executor already typed.
  */
private[sources] final class ChangelogReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    tables: Set[String],
    typedExprs: Option[Seq[Expression]]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val files = partition.asInstanceOf[FilePartition].files.iterator
      private var rows: Iterator[InternalRow] = Iterator.empty
      // SafeProjection (codegen with interpreted fallback): the output rows
      // may carry maps/arrays the engine reads generically
      private val projection = typedExprs.map(SafeProjection.create)
      private var cur: InternalRow = _

      override def next(): Boolean = {
        while (true) {
          if (rows.hasNext) {
            val row = rows.next()
            // envelope ordinals 4, 5 = schema, table
            if (tables.isEmpty ||
                tables.contains(s"${row.getUTF8String(4)}.${row.getUTF8String(5)}")) {
              cur = projection.fold(row)(_ (row))
              return true
            }
          } else if (files.hasNext) rows = read(files.next())
          else return false
        }
        false
      }

      override def get(): InternalRow = cur

      // a file read to its end closes itself; this covers an abandoned one
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
}
