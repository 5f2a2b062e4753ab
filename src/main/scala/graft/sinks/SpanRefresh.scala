package graft.sinks

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The span loop every maintainer refresh runs, written once: read the
  * cursor, [[LakeSink.poll]] the newly committed batches as ONE span, scan
  * the span once for its bounds, truncate flag, row count and the
  * maintainer's contract flags, then seed or apply a delta under the
  * span's applied-interval key. A maintainer supplies only what differs —
  * its table predicate, contracts, replay predicate, marker checks, and
  * the seed and delta bodies.
  *
  * Crash protocol, stated once for every maintainer:
  *  - COMMIT BEFORE CURSOR ADVANCE. A span's state versions commit (atomic
  *    manifest rename) inside the poll callback, and poll advances the
  *    cursor only after the callback returns. A crash between the two
  *    re-delivers the same span.
  *  - REPLAY SKIP. Versions are keyed by the applied interval — the
  *    cursor interval widened by the span's bounds, the same key for a
  *    re-delivered span. [[pending]] finds its versions committed and the
  *    span writes nothing: rewriting a committed version would tear a
  *    concurrent read. Poll then re-advances the cursor.
  *  - GC HORIZON. Once a span has applied, versions inside the pre-span
  *    cursor interval are unreachable except the maximal one (the
  *    replay-prev a replay of this span reads). Every non-empty span
  *    drops the rest from every log the maintainer owns
  *    ([[BucketedStateLog.gcWithin]]).
  *
  * A span of only EMPTY batches has null bounds: nothing applies, no
  * contract can fail, and poll advances the cursor past it.
  *
  * @tparam W what [[pending]] found still to write for a span (Unit for
  *           a [[OneLogRefresh]])
  */
private[sinks] abstract class SpanRefresh[W](
    lake: LakeSink, kind: String, cursorPrefix: String, name: String,
    primary: BucketedStateLog) {

  final val cursorName: String = s"${cursorPrefix}_$name"
  final val ops = new MaintainerOps(kind, name)

  /** Events of the maintained table(s): the truncate flag and the span's
    * row count read only these.
    */
  protected def onTable: Column

  /** The maintainer's ENABLED contract checks as (flag name, violation,
    * refusal): a span carrying any violating row refuses with the message,
    * in this order, before anything commits.
    */
  protected def contracts: Seq[(String, Column, String)] = Nil

  /** Extra named flags the delta body reads through [[RefreshSpan.flag]]. */
  protected def flags: Seq[(String, Column)] = Nil

  /** Every log the maintainer owns — all garbage-collected per span. */
  protected def logs: Seq[BucketedStateLog] = Seq(primary)

  /** Marker checks before the poll: they refuse even when the cursor is
    * already current.
    */
  protected def beforePoll(spark: SparkSession, f: FileSystem): Unit = ()

  /** Marker checks per delivered span, before its scan. */
  protected def beforeSpan(f: FileSystem): Unit = ()

  /** The replay predicate: what the span at `key` still has to write, or
    * None when a crash replay finds it all committed.
    */
  protected def pending(spark: SparkSession, f: FileSystem,
      key: (Long, Long)): Option[W]

  /** Slices a seed rewrites, for the span gauges. */
  protected def seedSlices: Int = primary.buckets

  /** Full recompute at the span's key — the first span (no replay-prev:
    * a lake compacted and vacuumed before the first refresh holds rows
    * no surviving changelog row mentions, so only a fold through BASE
    * sees them) and every span carrying a truncate.
    */
  protected def seed(span: RefreshSpan, work: W): Unit

  /** Apply the span's delta on top of `span.prevKey`; records its own
    * span gauges.
    */
  protected def delta(span: RefreshSpan, work: W): Unit

  /** Apply every newly committed lake batch (a late snapshot batch below
    * the cursor's floor included), bounded to `within` when set. Returns
    * the number of batches applied (0 = already current).
    */
  final def refresh(spark: SparkSession, within: Option[(Long, Long)]): Int = {
    val t0 = System.nanoTime
    val n = refreshSpans(spark, within)
    ops.recordRefresh((System.nanoTime - t0) / 1e6, n)
    n
  }

  private def refreshSpans(spark: SparkSession,
      within: Option[(Long, Long)]): Int = {
    beforePoll(spark, primary.fs(spark))
    val from = lake.cursorInterval(spark, cursorName)
    lake.poll(spark, cursorName, within) { frame =>
      val f = primary.fs(spark)
      beforeSpan(f)
      def flag(c: Column) = max(when(c, 1).otherwise(0))
      val checks = contracts
      // partition-column inference can type small batch_id values as
      // int; one pass over the span carries every bound and flag
      val bounds = frame.agg(
        min(col("batch_id").cast("long")).as("lo"),
        (Seq(max(col("batch_id").cast("long")).as("hi"),
          flag(onTable && col("op") === "truncate").as("truncate"),
          sum(when(onTable, 1L).otherwise(0L)).as("rows")) ++
          checks.map { case (n, c, _) => flag(c).as(n) } ++
          flags.map { case (n, c) => flag(c).as(n) }): _*).head()
      if (!bounds.isNullAt(0)) {
        checks.foreach { case (n, _, refusal) =>
          if (bounds.getAs[Int](n) == 1) throw new IllegalStateException(refusal)
        }
        val key = (math.min(from._1, bounds.getAs[Long]("lo")),
          math.max(from._2, bounds.getAs[Long]("hi")))
        pending(spark, f, key).foreach { work =>
          val span = new RefreshSpan(spark, f, frame, from, key,
            primary.latestWithin(f, from), bounds, ops)
          if (bounds.getAs[Int]("truncate") == 1 || span.prevKey.isEmpty) {
            seed(span, work)
            ops.recordSpan(span.rows, span.rows, seedSlices, 0)
          } else delta(span, work)
        }
        logs.foreach(_.gcWithin(f, from))
      }
    }
  }

  /** The version a full rebuild recommits: the UNION of the latest
    * committed version and the cursor's applied interval. Normally they
    * coincide; after a crashed rebuild lost the newest manifest, the
    * surviving version is an older replay-prev while the cursor already
    * covers the wider span — recommitting at the survivor's key would
    * silently drop the batches between them (poll never re-delivers
    * inside the cursor). None before the first refresh.
    */
  final def rebuildTarget(spark: SparkSession, f: FileSystem): Option[(Long, Long)] = {
    val latest = primary.latest(f)
    val from = lake.cursorInterval(spark, cursorName)
    val cursorKey = if (from._2 == Long.MinValue) None else Some(from)
    (latest, cursorKey) match {
      case (Some(k), Some(c)) => Some((math.min(k._1, c._1), math.max(k._2, c._2)))
      case (k, c) => k.orElse(c)
    }
  }

  /** `<cursor>_asof` (when `asOf`) and `<cursor>_lag_batches`, then
    * `extra` over the latest version and the labeled ops series —
    * driver-side metadata listings only.
    */
  final def gauges(spark: SparkSession, asOf: Boolean = true)(
      extra: Option[(Long, Long)] => Seq[(String, Double)] = _ => Nil)
      : Seq[(String, Double)] = {
    val latest = if (asOf) primary.latest(primary.fs(spark)) else None
    val (neg, pos) = lake.cursorInterval(spark, cursorName)
    val lag = lake.committedBatchIds(spark).count(id => id < neg || id > pos)
    (if (asOf) Seq(s"${cursorName}_asof" -> latest.map(_._2).getOrElse(-1L).toDouble)
     else Nil) ++
      Seq(s"${cursorName}_lag_batches" -> lag.toDouble) ++ extra(latest) ++
      ops.gauges
  }
}

/** The common case: one state log, whose committed version at the span's
  * key is the span's replay marker.
  */
private[sinks] abstract class OneLogRefresh(
    lake: LakeSink, kind: String, cursorPrefix: String, name: String,
    primary: BucketedStateLog)
    extends SpanRefresh[Unit](lake, kind, cursorPrefix, name, primary) {
  protected final def pending(spark: SparkSession, f: FileSystem,
      key: (Long, Long)): Option[Unit] =
    Option.unless(primary.isCommitted(f, key))(())
}

/** One delivered span whose versions still have to be written. */
private[sinks] final class RefreshSpan(
    val spark: SparkSession, val f: FileSystem, val frame: DataFrame,
    /** The cursor interval before the span. */
    val from: (Long, Long),
    /** The applied interval after it: the key every version commits under. */
    val key: (Long, Long),
    /** The replay-prev: the newest primary version inside `from`. */
    val prevKey: Option[(Long, Long)],
    bounds: Row, ops: MaintainerOps) {

  /** Events of the maintained table(s) in the span. */
  val rows: Long = bounds.getAs[Long]("rows")

  /** A named flag from [[SpanRefresh.flags]]: some span row matched it. */
  def flag(name: String): Boolean = bounds.getAs[Int](name) == 1

  /** Record this span's gauges: delta cardinality and the rewrite split. */
  def record(dirty: Long, rewritten: Int, carried: Int): Unit =
    ops.recordSpan(rows, dirty, rewritten, carried)

  /** Publish `log`'s version at [[key]] as a pure carry-forward of `prev`
    * ([[BucketedStateLog.carry]], manifest only): the span had rows but
    * its delta touched none of this state.
    */
  def carryForward(log: BucketedStateLog,
      prev: (Long, Long) = prevKey.get): Unit =
    log.carry(f, Some(prev), key)
}
