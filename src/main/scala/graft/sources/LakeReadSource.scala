package graft.sources

import java.util

import scala.util.matching.Regex

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Sink => SinkV1}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.LakeSink

/** `format("graft-lake")` — the Spark-native READ face of [[LakeSink]]'s
  * lake root, so downstream jobs consume the landed CDC log through
  * `spark.read` / `spark.readStream` instead of calling sink methods.
  * The reference's consumption surface is a push callback
  * (`pq/replication/stream.go:33-38`); on the lake the same feed becomes
  * a first-class Spark source with Spark-managed progress:
  *
  * Batch (`spark.read.format("graft-lake").option("path", root)`):
  *  - `.option("table", "public.users")` — latest folded state per
  *    replica-identity key ([[LakeSink.latestState]]); add
  *    `.option("typed", "true")` for the relation-schema projection
  *    ([[LakeSink.latestStateTyped]]), `.option("asOfBatch", n)` for
  *    time travel ([[LakeSink.stateAsOf]]) — combinable with `typed`
  *    since relation schemas are versioned by batch id.
  *  - no `table` — the committed changelog (all tables, envelope rows +
  *    `batch_id`); `.option("fromBatch", n)` reads only batches after n.
  *
  * Streaming (`spark.readStream.format("graft-lake").option("path", root)`):
  * tails the committed changelog exactly once as a DataSource V2
  * micro-batch stream ([[LakeMicroBatchStream]]) — offsets checkpointed
  * by Structured Streaming itself (no named cursors — [[LakeSink.poll]]
  * is the pull-based alternative), partition planning pruned to exactly
  * the new batch ids' files, which Spark's own parquet reader decodes.
  * Options: `tables` (comma-separated `schema.table` filter, applied
  * row by row as each file is read),
  * `maxBatchesPerTrigger` (admission cap per micro-batch), and
  * `table` + `typed=true` for a TYPED change feed of one table — the
  * same projection as the live registry's typed views, schema resolved
  * from the persisted relation ([[LakeSink.writeRelations]]) at query
  * (re)start.
  *
  * Offsets are the two ends of the CONTIGUOUS id interval delivered so
  * far: stream epochs count up from 0 while snapshot batches count down
  * from -1 ([[LakeSink.appendSnapshot]]), so `[neg, pos]` covers both
  * growth directions and a mid-stream table addition's late snapshot
  * batch still gets delivered. Vacuum safety matches [[LakeSink.poll]]:
  * a restart whose next undelivered batch was vacuumed throws rather
  * than silently skipping (re-bootstrap from `latestState`).
  *
  * 100-TB shape: planning I/O is one commit-log listing plus the new
  * batches' file listings per trigger; data moves only executor-side,
  * straight from the batch parquet files (one input partition each),
  * pruned to exactly the new ids.
  */
final class LakeReadSourceProvider
    extends RelationProvider with StreamSinkProvider with TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def opt(parameters: Map[String, String], key: String): Option[String] = {
    val lower = key.toLowerCase(java.util.Locale.ROOT)
    parameters.collectFirst {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == lower => v
    }
  }

  private def rootOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException(
        "graft-lake requires .option(\"path\", <lake root>)"))

  /** A typo'd option silently falling back to a default is worse than an
    * error — reject anything outside the path's known set (plus the
    * engine-routed write options that ride along in `parameters`).
    */
  private val StreamOptions = Set("tables", "table", "typed", "maxbatchespertrigger")
  private val BatchOptions = Set("table", "typed", "asofbatch", "frombatch")
  private val SinkOptions = Set("basebuckets")

  private def checkOptions(
      parameters: Map[String, String], allowed: Set[String], path: String): Unit = {
    val engine = Set("checkpointlocation", "queryname", "path")
    val unknown = parameters.keySet
      .map(_.toLowerCase(java.util.Locale.ROOT)) -- allowed -- engine
    require(unknown.isEmpty,
      s"unknown graft-lake $path option(s): ${unknown.mkString(", ")} — " +
        s"supported: ${allowed.toSeq.sorted.mkString(", ")}")
  }

  // ---- batch (DSv1 relation; the DSv2 table declares no BATCH_READ, so
  // spark.read falls back here) ---------------------------------------------

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    checkOptions(parameters, BatchOptions, "batch read")
    val spark = sqlContext.sparkSession
    val sink = new LakeSink(rootOf(parameters))
    def frame(): DataFrame = opt(parameters, "table") match {
      case Some(qualified) =>
        val Array(sch, tbl) = qualified.split("\\.", 2)
        val asOf = opt(parameters, "asofbatch").map(_.toLong)
        val typed = opt(parameters, "typed").exists(_.toBoolean)
        (asOf, typed) match {
          case (Some(b), false) => sink.stateAsOf(spark, sch, tbl, b)
          case (None, true) => sink.latestStateTyped(spark, sch, tbl)
          case (None, false) => sink.latestState(spark, sch, tbl)
          // relation schemas are VERSIONED by batch id, so a typed
          // historical view projects through the schema of its own era
          case (Some(b), true) => sink.stateAsOfTyped(spark, sch, tbl, b)
        }
      case None =>
        val from = opt(parameters, "frombatch").map(_.toLong).getOrElse(Long.MinValue)
        sink.changelog(spark, from)
    }
    val planned = frame()
    val outer = sqlContext
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = outer
      override val schema: StructType = planned.schema
      // InternalRow pass-through: with needConversion=false Spark consumes
      // the physical rows directly — `.rdd` would deserialize every row to
      // an external Row only for Spark to convert it straight back.
      override def needConversion: Boolean = false
      // Re-plan per scan so repeated queries over one relation object see
      // the current manifest/commit log, like re-reading a file path does.
      override def buildScan(): RDD[Row] =
        StreamBridge.toRdd(frame()).asInstanceOf[RDD[Row]]
    }
  }

  // ---- streaming source (DSv2) ---------------------------------------------

  /** Typed streaming (`table` + `typed=true`): the persisted relation
    * schema, resolved latest-wins at query (re)start.
    */
  private def typedRelOf(
      spark: SparkSession, parameters: Map[String, String]): Option[graft.pgproto.Messages.Relation] =
    if (!opt(parameters, "typed").exists(_.toBoolean)) None
    else {
      val qualified = opt(parameters, "table").getOrElse(
        throw new IllegalArgumentException(
          "typed streaming requires .option(\"table\", \"schema.table\")"))
      val Array(sch, tbl) = qualified.split("\\.", 2)
      Some(new LakeSink(rootOf(parameters)).readRelation(spark, sch, tbl).getOrElse(
        throw new IllegalStateException(
          s"no persisted relation schema for $qualified — call writeRelations first")))
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // spark.read, spark.readStream AND writeStream all route through
    // here (batch falls back to the v1 relation only after the table
    // reports no BATCH_READ; DataStreamWriter resolves the provider's
    // table — and so its schema — BEFORE falling back to the v1 sink)
    // and the engine gives no direction signal, so validate against the
    // union of every path's options — each path re-checks its own strict
    // set where it materializes (createRelation at load(), streamOf at
    // query start, createSink at start(); the asymmetries are a
    // wrong-direction option, which surfaces at start()/load() instead
    // of here)
    val parameters = scala.jdk.CollectionConverters.MapHasAsScala(options).asScala.toMap
    checkOptions(parameters, StreamOptions ++ BatchOptions ++ SinkOptions, "")
    rootOf(parameters)
    // batch-only options mean the inferred (streaming) schema is about to
    // be discarded by the v1 fallback — don't resolve a typed projection
    // against options the stream path would reject
    if (parameters.keySet.map(_.toLowerCase(java.util.Locale.ROOT))
        .exists(k => k == "asofbatch" || k == "frombatch"))
      LakeReadSource.changelogSchema
    else typedRelOf(SparkSession.active, parameters) match {
      case Some(rel) => LakeReadSource.typedSchema(SparkSession.active, rel)
      case None => LakeReadSource.changelogSchema
    }
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val parameters = scala.jdk.CollectionConverters.MapHasAsScala(properties).asScala.toMap
    new LakeTable(schema, rootOf(parameters), parameters, this)
  }

  private[sources] def streamOf(
      parameters: Map[String, String]): LakeMicroBatchStream = {
    checkOptions(parameters, StreamOptions, "stream")
    val tables = (opt(parameters, "tables").toSeq ++ opt(parameters, "table").toSeq)
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new LakeMicroBatchStream(
      rootOf(parameters), tables,
      opt(parameters, "maxbatchespertrigger").map(_.toInt),
      typedRelOf(SparkSession.active, parameters))
  }

  // ---- streaming sink --------------------------------------------------

  /** `envelope.writeStream.format("graft-lake")` — the sink face of the
    * same root: each micro-batch lands through [[LakeSink.appendBatch]]'s
    * marker protocol (epoch ids = batch ids, replay idempotent), replacing
    * the `foreachBatch(lake.appendBatch _)` wiring with a plain format
    * string. Append-only: the changelog is an event log, update/complete
    * modes have no meaning over it.
    */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): SinkV1 = {
    require(outputMode == OutputMode.Append(),
      s"graft-lake sink is append-only (the changelog is an event log), got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-lake lays out the changelog itself; partitionBy is not supported")
    checkOptions(parameters, SinkOptions, "sink")
    val root = rootOf(parameters)
    val sink = new LakeSink(root,
      opt(parameters, "basebuckets").map(_.toInt).getOrElse(16))
    new SinkV1 {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // validate names AND types (case-insensitively, like resolution):
        // one mistyped landed batch would poison every subsequent
        // fixed-schema read of the whole lake
        val have = data.schema.fields
          .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
        val problems = LakeReadSource.changelogSchema.fields
          .filterNot(_.name == "batch_id").flatMap { f =>
            have.get(f.name) match {
              case None => Some(s"missing column ${f.name}")
              // catalogString ignores nullability flags, which legitimately
              // vary with how the frame was constructed
              case Some(dt) if dt.catalogString != f.dataType.catalogString =>
                Some(s"${f.name} is ${dt.simpleString}, expected ${f.dataType.simpleString}")
              case _ => None
            }
          }
        require(problems.isEmpty,
          s"graft-lake sink expects the CDC envelope; ${problems.mkString("; ")}")
        // the engine hands a streaming-flagged frame; re-wrap its rows as
        // a batch frame so appendBatch's ordinary write is permitted
        val batch = StreamBridge.batchDataFrame(
          data.sparkSession, StreamBridge.toRdd(data), data.schema)
        sink.appendBatch(batch, batchId)
      }
      override def name(): String = s"graft-lake[$root]"
      override def toString: String = name()
    }
  }
}

/** DSv2 table for the STREAMING face only: no BATCH_READ capability, so
  * `spark.read` falls back to the v1 relation (which serves the folded
  * state / time travel / changelog shapes a Scan cannot express as one
  * fixed schema).
  */
final class LakeTable(
    schema0: StructType, root: String, parameters: Map[String, String],
    provider: LakeReadSourceProvider) extends Table with SupportsRead {

  override def name(): String = s"graft-lake[$root]"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema0
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          provider.streamOf(parameters)
      }
    }
}

/** Contiguous delivered-id interval `[neg, pos]` over the lake's two-sided
  * batch-id space (snapshots ≤ -1, stream epochs ≥ 0). `LakeOffset(0, -1)`
  * is the empty interval. `vl` rides along as the vacuum low-water mark
  * this consumer has ACKNOWLEDGED as innocent (deleted-but-delivered or
  * pre-birth) — checkpointing it is what lets a restart tell a gap that
  * opened while the query was down from history vacuumed before it ever
  * existed. Long.MaxValue = nothing acknowledged yet.
  */
final case class LakeOffset(neg: Long, pos: Long, vl: Long = Long.MaxValue)
    extends OffsetV2 {
  override def json: String =
    if (vl == Long.MaxValue) s"""{"neg":$neg,"pos":$pos}"""
    else s"""{"neg":$neg,"pos":$pos,"vl":$vl}"""
}

object LakeOffset {
  val empty: LakeOffset = LakeOffset(0L, -1L)
  private val Pattern: Regex =
    """\{"neg":(-?\d+),"pos":(-?\d+)(?:,"vl":(-?\d+))?\}""".r

  def fromJson(s: String): LakeOffset = s match {
    case Pattern(n, p, v) =>
      LakeOffset(n.toLong, p.toLong,
        Option(v).map(_.toLong).getOrElse(Long.MaxValue))
    case other => throw new IllegalArgumentException(s"not a LakeOffset: $other")
  }
}

object LakeReadSource {
  /** Envelope + the lake's `batch_id` partition column, all-nullable (the
    * parquet round trip erases the envelope's tighter nullability).
    */
  val changelogSchema: StructType = StructType(
    graft.cdc.ChangeEvent.schema.fields.map(_.copy(nullable = true)) :+
      org.apache.spark.sql.types.StructField("batch_id", LongType, nullable = true))

  /** The typed feed's column set over changelog rows: the same projection
    * as the live registry's typed views ([[graft.cdc.ChangeEvent.typedView]]
    * — delete rows carry their `before` image, everything else `after`),
    * plus `batch_id`. Shared by [[typedProject]] (DataFrame face) and the
    * DSv2 partition readers (bound-expression face).
    */
  def typedColumnsFor(rel: graft.pgproto.Messages.Relation): Seq[Column] = {
    val image = org.apache.spark.sql.functions
      .when(col("op") === "delete", col("before")).otherwise(col("after"))
    Seq(col("lsn"), col("commit_lsn"), col("xid"), col("op"),
      col("commit_time")) ++
      graft.types.PgTypes.typedColumns(rel, image) :+ col("batch_id")
  }

  /** Typed change feed as a DataFrame transform (batch-side use). */
  def typedProject(envelope: DataFrame, rel: graft.pgproto.Messages.Relation): DataFrame =
    envelope
      .filter(col("schema") === rel.namespace && col("table") === rel.name)
      .select(typedColumnsFor(rel): _*)

  /** The typed feed's schema, derived from the projection itself so it can
    * never drift from what [[typedProject]] produces.
    */
  def typedSchema(spark: SparkSession, rel: graft.pgproto.Messages.Relation): StructType =
    typedProject(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], changelogSchema), rel).schema
}
