package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

/** CDC → data-lake parquet sink: lands the pgcdc envelope as an
  * append-only parquet CHANGELOG with exactly-once batch commits, folds it
  * into per-key latest state on read, and compacts the log into a BASE
  * table so the fold only ever scans a bounded tail.
  *
  * The reference ships callback and pg-apply sinks (`example/postgresql/
  * main.go:43-51`); a training-data pipeline additionally needs the CDC
  * feed ON THE LAKE, where every downstream batch job (dedup, curation,
  * packing) can read it. This is that sink, built from Spark/Hadoop
  * primitives only — a deliberately small transaction log in the style
  * file formats like Delta/Iceberg standardized:
  *
  *  - `changelog/` — each micro-batch lands in its OWN Hive-style
  *    `batch_id` partition directory ([[batchDir]]; one atomic unit per
  *    foreachBatch call).
  *  - `_graft_commits/<n>` — zero-byte marker, created only AFTER the
  *    batch's parquet is fully written. Readers resolve the log as
  *    "batch dirs ∩ markers", so a half-written batch (crash mid-append)
  *    is invisible until the foreachBatch RETRY overwrites the same dir
  *    and then drops the marker — Structured Streaming re-delivers the
  *    same epoch id, making replay idempotent (exactly-once commits over
  *    an at-least-once channel, same story as the reference's
  *    ack-after-apply listener).
  *  - `_base_data/schema=<s>/table=<t>/` — BASE: one [[BucketedStateLog]]
  *    per table holding its folded state, hash-bucketed on the fold key
  *    `k`, with versions keyed by the folded interval `(foldedLow,
  *    watermark)`. A compaction rewrites ONLY the buckets whose keys
  *    appear in the tail; untouched buckets carry forward by manifest
  *    reference, byte-identical.
  *  - `_base_data/_lake/` — the lake's commit point: a log with no slices
  *    whose version K is published only after every table log holds K,
  *    so a reader sees either the previous BASE or the complete new one.
  *    Its `_geometry` marker fixes the lake's bucket count. The newest
  *    `retainManifests` lake keys stay readable; slices only older keys
  *    reference are garbage-collected (a superseded slice survives one
  *    compaction for in-flight readers).
  *
  * Single-writer per root: batch ids are the streaming query's epoch ids,
  * so one lake root belongs to one writing query (its checkpoint already
  * guarantees a single active instance). Readers and the compact/vacuum
  * maintenance job may run concurrently with the writer — the immutable
  * manifest swap and the commit-log resolution keep every reader on a
  * consistent view.
  *
  * 100-TB shape: append is a straight executor-parallel parquet write (no
  * driver data movement; the only driver I/O is one marker create). The
  * latest-state fold shuffles once on the replica-identity key; with
  * periodic [[compact]] runs the fold input is BASE (pre-folded, one row
  * per key) plus the post-watermark tail — bounded by churn since the last
  * compaction, not by stream lifetime. Compaction cost is churn-
  * proportional too: a 10 TB table with one updated row rewrites one
  * bucket (~1/buckets of the table), not the table. Readers never list
  * more than the commit-log directory (one small file per batch, vacuumed
  * with its batch).
  */
final class LakeSink(
    val root: String, baseBuckets: Int = 16,
    retainManifests: Int = 2) extends Serializable {

  import LakeSink._

  require(baseBuckets > 0, s"baseBuckets must be positive, got $baseBuckets")
  require(retainManifests >= 2,
    s"retainManifests must be >= 2 (current + in-flight readers' previous), " +
      s"got $retainManifests")

  /** The root's filesystem, behind the FORMAT CHECK every lake operation
    * (and every maintainer, through [[poll]]/[[cursorInterval]]) passes:
    * `_graft_format` must read [[FormatVersion]], or be absent from a root
    * holding no lake entries yet (fresh — the first write stamps it; reads
    * never write). Any other root was written in another on-disk format
    * and refuses, naming the root. Memoized only after a match — one
    * marker read per instance, never one per batch — so a reader opened
    * before the first write validates the marker that write stamps.
    */
  private def fs(spark: SparkSession): FileSystem = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!formatChecked) readSmallFile(f, new Path(root, FormatFile)) match {
      case Some(FormatVersion) => formatChecked = true
      case found =>
        if (found.nonEmpty || (f.exists(new Path(root)) &&
            f.listStatus(new Path(root)).exists(st => LakeEntries(st.getPath.getName))))
          throw new IllegalStateException(
            s"lake root $root " + found.fold(s"holds lake data but no $FormatFile marker")(
              v => s"is marked '$v'") + s" — it was written in another on-disk " +
              s"format than '$FormatVersion'; rebuild the lake under a fresh root")
    }
    f
  }

  @volatile private var formatChecked = false

  /** Stamp the format marker before the first write to a fresh root
    * (writer-unique temp file, fresh publish and read-back — two first
    * writers racing cannot delete each other's marker).
    */
  private def stampFormat(f: FileSystem): Unit =
    if (!formatChecked) {
      val got = BucketedStateLog.stampMarker(f, new Path(root), FormatFile,
        FormatVersion, fresh = true)
      if (got != FormatVersion) throw new IllegalStateException(
        s"lake root $root is marked '$got', not '$FormatVersion'")
      formatChecked = true
    }

  private def commitDir = new Path(root, "_graft_commits")
  private def changelogDir = new Path(root, "changelog")
  /** The one spelling of the changelog layout: batch `id`'s directory. */
  private def batchDir(id: Long) = new Path(changelogDir, s"batch_id=$id")
  private def vacuumedFile = new Path(commitDir, "_vacuumed")
  private def vacuumedLowFile = new Path(commitDir, "_vacuumed_low")
  private def baseDataDir = new Path(root, "_base_data")
  private def tableRel(sch: String, tbl: String) = s"_base_data/schema=$sch/table=$tbl"

  /** The lake's commit point (see the class doc); `n` matters only to
    * the publish, which checks it against the committed geometry.
    */
  private def lakeLog(n: Int) =
    new BucketedStateLog(new Path(baseDataDir, "_lake"), n, Seq("k"))

  /** The folded interval `(foldedLow, watermark)`: the lake log's latest
    * key, None before the first compaction.
    */
  private def foldedInterval(f: FileSystem): Option[(Long, Long)] =
    lakeLog(baseBuckets).latest(f)

  /** BASE's bucket count: the lake log's `_geometry` marker, which the
    * first compaction stamps from `baseBuckets` — a reader opened with
    * another `baseBuckets` still reads the committed geometry. Memoized
    * once a marker is found.
    */
  private def buckets(f: FileSystem): Int = {
    if (committedBuckets == 0)
      BucketedStateLog.bucketsOf(f, new Path(baseDataDir, "_lake"))
        .foreach(committedBuckets = _)
    if (committedBuckets == 0) baseBuckets else committedBuckets
  }

  @volatile private var committedBuckets = 0

  @transient private lazy val tableLogs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), BucketedStateLog]()

  /** One table's BASE log. */
  private def tableLog(f: FileSystem, sch: String, tbl: String): BucketedStateLog = {
    val n = buckets(f)
    tableLogs.computeIfAbsent((sch, tbl),
      _ => new BucketedStateLog(new Path(root, tableRel(sch, tbl)), n, Seq("k")))
  }

  /** (schema, table) of every BASE table log. */
  private def baseTables(f: FileSystem): Seq[(String, String)] =
    Option(f.globStatus(new Path(baseDataDir, "schema=*/table=*"))).toSeq.flatten
      .map(st => (st.getPath.getParent.getName.stripPrefix("schema="),
        st.getPath.getName.stripPrefix("table=")))

  /** `writeStream.foreachBatch(sink.appendBatch _)` target: land one
    * micro-batch of the envelope, exactly once. A replayed batch id whose
    * marker exists is a no-op; one whose marker is missing (crash between
    * write and mark) overwrites its own directory and commits.
    */
  def appendBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark)
    val marker = new Path(commitDir, batchId.toString)
    if (f.exists(marker)) return // committed by a previous attempt
    // A vacuumed batch's marker is gone but its content lives in BASE; a
    // replay from a stale checkpoint must not re-land it as new data.
    // The folded set is the interval [minFolded, watermark] — a LATE
    // snapshot batch (id below every previously folded id, e.g. a
    // mid-stream table addition after a compaction) is genuinely new and
    // must land, not be mistaken for a replay.
    if (foldedInterval(f).exists { case (lo, wm) => batchId >= lo && batchId <= wm }) return
    // The batch's per-table TRUNCATE positions ride the write job as an
    // observed metric (no second scan) and land as marker CONTENT: every
    // fold needs "latest truncate at-or-below my read point", and reading
    // it from the marker replaces a per-fold Spark job (maxTruncate) with
    // a driver-side small-file read. Set size is bounded by the batch's
    // truncate events (table-level DDL — rare, one row per table per
    // txn). Crash semantics are unchanged: the marker's EXISTENCE is the
    // commit, its content is best-effort metadata — a reader that cannot
    // parse it (the empty marker of an unframable table name, below)
    // falls back to the scan ([[markerTruncates]] returns None).
    stampFormat(f)
    val obs = org.apache.spark.sql.Observation()
    batch.observe(obs, collect_set(when(col("op") === "truncate",
        struct(col("schema"), col("table"), col("commit_lsn"), col("lsn"))))
        .as("tr"))
      .write.mode("overwrite")
      .parquet(batchDir(batchId).toString)
    val truncLines = obs.get("tr") match {
      case rows: Seq[_] =>
        rows.collect { case r: org.apache.spark.sql.Row =>
          ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))
        }.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case ((sch, tbl), positions) =>
            val (cl, l) = positions.map(_._2).max
            s"$sch\t$tbl\t$cl\t$l"
          }
      case _ => Seq.empty
    }
    f.mkdirs(commitDir)
    // The marker is written ATOMICALLY (temp + rename, r21 advice): a
    // create-then-write marker could be seen existing-but-empty or torn
    // mid-number by a concurrent reader — an empty read memoizes the
    // scan-fallback forever, and a torn one could parse a WRONG truncate
    // position. Rename makes the marker appear with its full content;
    // existence semantics (the commit signal) are unchanged, and the
    // ".tmp" sibling never parses as a batch id. Names containing the
    // TAB/NEWLINE delimiters cannot be framed unambiguously — such a
    // batch writes an empty marker so every reader takes the
    // maxTruncate scan fallback instead of attributing a phantom
    // position to the wrong table.
    val framable =
      truncLines.forall(l => l.count(_ == '\t') == 3 && !l.contains('\n'))
    val content =
      if (framable) (TruncMetaMagic +: truncLines).mkString("\n") else ""
    writeStringAtomic(f, marker, content)
    // a cleared-then-reused batch id (clearSnapshot + re-export) must not
    // serve the previous marker's memoized metadata. (Reuse safety across
    // OTHER live instances rests on clearSnapshot being a re-bootstrap-
    // class operation — see [[Maintainer.refreshCoherent]]'s scaladoc —
    // and on snapshot envelopes carrying no truncate rows, so a stale
    // memoized None/parse cannot change any fold's supersession point.)
    markerMeta.remove(batchId)
    ()
  }

  /** Per-(batch, this sink) memo of parsed marker metadata — markers are
    * immutable once written (vacuum only deletes them), so the memo can
    * never serve stale content; bounded defensively for very long-lived
    * processes.
    */
  private val markerMeta =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[Seq[(String, String, Long, Long)]]]()

  /** Max truncate position for one table across committed batches `ids`,
    * from the batch markers' metadata. `None` = at least one marker lacks
    * parseable metadata (the empty marker of an unframable table name) —
    * the caller must fall back to the [[maxTruncate]] scan. `Some(opt)` =
    * authoritative.
    */
  private def markerTruncates(f: FileSystem, ids: Seq[Long],
      schemaName: String, table: String): Option[Option[(Long, Long)]] = {
    if (markerMeta.size > 65536) markerMeta.clear()
    val metas = ids.map { id =>
      markerMeta.computeIfAbsent(id, _ => {
        val p = new Path(commitDir, id.toString)
        try {
          val in = f.open(p)
          val s =
            try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          val lines = s.split("\n", -1).toSeq
          if (lines.headOption.map(_.trim).contains(TruncMetaMagic)) {
            val parsed = lines.tail.filter(_.nonEmpty).map { l =>
              l.split("\t") match {
                case Array(sch, tbl, cl, ln) =>
                  (for { c <- cl.toLongOption; x <- ln.toLongOption }
                    yield (sch, tbl, c, x)).orNull
                case _ => null
              }
            }
            if (parsed.contains(null)) None else Some(parsed)
          } else None
        } catch { case _: java.io.IOException => None }
      })
    }
    if (metas.contains(None)) None
    else Some(metas.flatten.flatten
      .collect { case (sch, tbl, cl, l) if sch == schemaName && tbl == table =>
        (cl, l) }
      .maxOption)
  }

  /** True when `batchId` is durably part of this lake: its commit marker
    * exists, or compaction already folded it into BASE (vacuum may have
    * dropped the marker afterwards). O(1) metadata probes — per-span
    * callers ([[graft.sinks.MaintainedDeltaJoin]]'s emission guard) must
    * not pay a whole commit-dir listing per poll.
    */
  def batchLanded(spark: SparkSession, batchId: Long): Boolean = {
    val f = fs(spark)
    f.exists(new Path(commitDir, batchId.toString)) ||
      foldedInterval(f).exists { case (lo, wm) => batchId >= lo && batchId <= wm }
  }

  /** Batch ids with a commit marker (sorted). */
  def committedBatchIds(spark: SparkSession): Seq[Long] = {
    val f = fs(spark)
    if (!f.exists(commitDir)) Seq.empty
    else f.listStatus(commitDir).toSeq
      .flatMap(st => st.getPath.getName.toLongOption)
      .sorted
  }

  /** Batch `id`'s parquet data files (empty when its directory is gone) —
    * the stream's partition planning reads the changelog through this.
    */
  private[graft] def batchDataFiles(spark: SparkSession, id: Long): Seq[FileStatus] = {
    val f = fs(spark)
    val dir = batchDir(id)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Highest batch id folded into BASE (Long.MinValue before the first
    * compaction — NOT -1, which is a legal snapshot batch id).
    */
  def watermark(spark: SparkSession): Long =
    foldedInterval(fs(spark)).fold(Long.MinValue)(_._2)

  /** Lowest batch id folded into BASE (Long.MinValue before the first
    * compaction). The folded set is exactly `[foldedLow, watermark]`;
    * committed ids OUTSIDE that interval are the fold's changelog tail.
    */
  def foldedLow(spark: SparkSession): Long =
    foldedInterval(fs(spark)).fold(Long.MinValue)(_._1)

  /** Current BASE slice map: (schema, table, bucket) → data directory
    * path relative to the lake root. Introspection for operators and the
    * churn-proportionality specs; the paths are immutable once published.
    */
  def baseEntries(spark: SparkSession): Map[(String, String, Int), String] = {
    val f = fs(spark)
    foldedInterval(f).toSeq.flatMap { key =>
      baseTables(f).flatMap { case (sch, tbl) =>
        val log = tableLog(f, sch, tbl)
        if (!log.isCommitted(f, key)) Nil
        else log.entries(f, key).map { case ((b, _), rel) =>
          (sch, tbl, b) -> s"${tableRel(sch, tbl)}/$rel" }
      }
    }.toMap
  }

  /** The committed changelog (optionally only batches AFTER `fromBatch`).
    * Uncommitted / half-written batch directories are filtered out by the
    * commit log, not by file inspection.
    */
  def changelog(spark: SparkSession, fromBatch: Long = Long.MinValue): DataFrame =
    changelogOf(spark, committedBatchIds(spark).filter(_ > fromBatch))

  /** The committed changelog OUTSIDE the id interval `[lo, hi]` — the fold
    * tail relative to a folded/delivered interval in the two-sided id
    * space (late snapshot batches sit below `lo`, new epochs above `hi`).
    */
  def changelogOutside(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    changelogOf(spark, committedBatchIds(spark).filter(id => id < lo || id > hi))

  private def changelogOf(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.cdc.ChangeEvent.schema.add("batch_id", "long"))
    else
      // Explicit schema: without it, partition-column inference types
      // `batch_id` int-or-long depending on the ids present.
      spark.read
        .option("basePath", changelogDir.toString)
        .schema(graft.cdc.ChangeEvent.schema.add("batch_id", "long"))
        .parquet(ids.map(batchDir(_).toString): _*)
  }

  /** Envelope rows keyed for the fold: (schema, table, op, commit_lsn,
    * lsn, k, after). Keyless rows (REPLICA IDENTITY NOTHING relations ship
    * `key_names` null — and a defensive empty array is treated the same)
    * get a synthetic per-row key from their WAL position, so an
    * append-only table folds to ALL its rows — its actual latest state —
    * instead of every row silently collapsing into one key.
    */
  private def keyedEvents(df: DataFrame): DataFrame =
    df.filter(col("op").isin("insert", "update", "delete", "truncate"))
      .withColumn("img",
        when(col("op") === "delete", col("before")).otherwise(col("after")))
      .select(col("schema"), col("table"), col("op"),
        col("commit_lsn"), col("lsn"),
        coalesce(
          when(size(col("key_names")) > 0,
            array_join(transform(col("key_names"),
              k => coalesce(element_at(col("img"), k), lit(""))), KeySep)),
          concat(lit("wal" + KeySep), col("commit_lsn"), lit("/"), col("lsn"))).as("k"),
        col("after"))

  /** Fold keyed rows (op, commit_lsn, lsn, k, after) to the winning image
    * per key. `truncAt` — the position of the latest truncate, if any —
    * supersedes every row at-or-before it in commit order.
    */
  private def foldImages(all: DataFrame, truncAt: Option[(Long, Long)]): DataFrame = {
    val live = truncAt match {
      case Some((cl, l)) =>
        all.filter(struct(col("commit_lsn"), col("lsn")) >
          struct(lit(cl), lit(l)))
      case None => all
    }
    // Measured note (optimization round): a groupBy(k).max_by(...) fold
    // plans as SortAggregate here (the winner's op/after value is not a
    // mutable aggregation-buffer type), i.e. two sorts instead of the
    // window's one — the window stays.
    val w = Window.partitionBy("k")
      .orderBy(col("commit_lsn").desc, col("lsn").desc)
    live.filter(col("op") =!= "truncate")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("k"), col("after"), col("commit_lsn"), col("lsn"))
  }

  /** Position of the latest truncate in `keyed`, if any (one-row scalar
    * aggregate, same bounded pull as PgApplySink).
    */
  private def maxTruncate(keyed: DataFrame): Option[(Long, Long)] =
    keyed.filter(col("op") === "truncate")
      .agg(max(struct(col("commit_lsn"), col("lsn")))).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else
        Some((r.getStruct(0).getLong(0), r.getStruct(0).getLong(1))))

  /** One table's BASE at lake key `key` as fold input, restricted to the
    * buckets `only` picks. None when there is no key, when the table log
    * lacks it (the table had no rows in its batches) or when no wanted
    * slice is non-empty.
    */
  private def baseAt(spark: SparkSession, f: FileSystem, key: Option[(Long, Long)],
      schemaName: String, table: String,
      only: BucketedStateLog => Option[Set[Int]]): Option[DataFrame] =
    key.flatMap { k =>
      val log = tableLog(f, schemaName, table)
      if (!log.isCommitted(f, k)) None
      else {
        val want = only(log)
        if (!log.entries(f, k).keys.exists(bs => want.forall(_.contains(bs._1)))) None
        else Some(log.readBuckets(spark, k, want, ImageSchema)
          .select(lit("insert").as("op"), col("commit_lsn"), col("lsn"),
            col("k"), col("after")))
      }
    }

  /** Latest state per replica-identity key for one table: BASE (if any)
    * unioned with the post-watermark tail, truncate-aware, folded to the
    * winning image per key. Returns the envelope image columns
    * (`key`, `after`, `commit_lsn`, `lsn`) — project through
    * [[graft.types.PgTypes.typedColumns]] for a typed frame.
    */
  def latestState(spark: SparkSession, schemaName: String, table: String): DataFrame = {
    val f = fs(spark)
    val m = foldedInterval(f)
    val (lo, wm) = m.getOrElse((Long.MinValue, Long.MinValue))
    // ONE commit-log listing serves both the tail read and the marker
    // metadata (r21 advice): two listings let a truncate-bearing batch
    // committing in between put its truncate position into truncAt while
    // its rows are absent from the tail — the fold would wipe prior rows
    // without the replacements, a state that never existed.
    val tailIds = committedBatchIds(spark).filter(id => id < lo || id > wm)
    val tail = keyedEvents(changelogOf(spark, tailIds)
        .filter(col("schema") === schemaName && col("table") === table))
      .drop("schema", "table")
    // BASE holds no truncate rows (they fold away), so the tail alone
    // determines the supersession point — read from the batch markers'
    // metadata (no Spark job); empty markers fall back to the scan.
    val truncAt = markerTruncates(f, tailIds, schemaName, table)
      .getOrElse(maxTruncate(tail))
    val all = baseAt(spark, f, m, schemaName, table, _ => None)
      .map(_.unionByName(tail)).getOrElse(tail)
    foldImages(all, truncAt)
  }

  /** TIME TRAVEL: latest state per key for one table AS OF batch `asOf`
    * (inclusive) — the table exactly as [[latestState]] would have
    * returned it right after that batch committed. Snapshot batches
    * (negative ids) are part of history like any other batch.
    *
    * Resolution: fold from BASE at the newest RETAINED lake key whose
    * watermark is ≤ `asOf` (GC keeps the newest `retainManifests` keys)
    * plus the changelog batches in `(watermark, asOf]`; with no
    * qualifying key the fold rebuilds from the raw changelog. Either way
    * the result is only available while the needed history is retained —
    * if [[vacuum]] has deleted batches past the chosen fold point this
    * throws rather than silently returning a state with holes. Retention
    * is therefore operator-controlled: delay `vacuum` (and `compact`) as
    * far back as time-travel reads must reach.
    *
    * Scale shape: identical to [[latestState]] — one shuffle on the fold
    * key over base + bounded tail; `asOf` only tightens the tail's
    * batch-id predicate (partition-pruned on `batch_id`).
    */
  def stateAsOf(
      spark: SparkSession, schemaName: String, table: String,
      asOf: Long, floor: Long = Long.MinValue,
      restrictToKeys: Option[DataFrame] = None,
      /** Prune the fold INPUT by a declared-IMMUTABLE image column: the
        * extractor runs over each event's image (before for deletes,
        * after otherwise) and only rows whose value is in the `k` frame
        * feed the fold — shuffle and fold work become proportional to the
        * restriction, not the table (the scan itself still reads BASE:
        * the slices are bucketed on the ROW key, which a non-key column
        * cannot prune).
        *
        * SOUND ONLY under the immutability contract: the extracted value
        * never changes across a row's versions (NULL→value is tolerated —
        * the NULL-imaged versions are superseded by the kept newer ones)
        * and is present in delete images (REPLICA IDENTITY FULL, or the
        * column part of the identity). A value→value or value→NULL
        * transition, or a delete image lacking the column, could
        * resurrect a stale version — maintainers validate the contract
        * per span and fail loud ([[MaintainedJoin]] `*KeyImmutable`);
        * like the row-key flags, history already folded into BASE cannot
        * be re-validated.
        */
      restrictToImmutable: Option[(Column => Column, DataFrame)] = None): DataFrame = {
    // Inside a [[sharedFolds]] scope, UNRESTRICTED folds of one pinned
    // interval are computed once and served persisted: a pinned
    // (asOf, floor) fold is content-deterministic (append-only log,
    // immutable manifests), so N independent consumers seeding over the
    // same span — the five-maintainer group folds the SAME interval five
    // times otherwise (r21 verdict #5... the group-refresh ask) — share
    // one shuffle instead of five. Restricted folds stay uncached (their
    // key frames differ per caller). The fold runs in the holder's lazy
    // val, never inside the map's bin lock: a second seeder of the same
    // interval waits on that holder alone, and other keys proceed.
    if (foldScopeDepth.get > 0 && restrictToKeys.isEmpty &&
        restrictToImmutable.isEmpty) {
      val fresh = new SharedFold(stateAsOfUncached(spark, schemaName, table,
        asOf, floor, None, None))
      val held = foldCache.putIfAbsent((spark, schemaName, table, asOf, floor), fresh)
      (if (held == null) fresh else held).df
    } else stateAsOfUncached(spark, schemaName, table, asOf, floor,
      restrictToKeys, restrictToImmutable)
  }

  /** One memoized fold: built, persisted and materialized by the first
    * reader of `df` (a failed build leaves it unbuilt for the next reader).
    */
  private final class SharedFold(build: => DataFrame) {
    lazy val df: DataFrame = {
      val d = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize once; concurrent seeders then read blocks
      built = true
      d
    }
    @volatile var built = false
  }

  /** Scoped memo for [[sharedFolds]] — unrestricted pinned-interval folds
    * only, keyed by session too (a frame never crosses sessions); cleared
    * (and unpersisted) when the outermost scope exits.
    */
  private val foldCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, Long, Long), SharedFold]()
  private val foldScopeDepth = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` with unrestricted [[stateAsOf]] folds memoized per pinned
    * interval — the GROUP-REFRESH seam: several maintainers seeding over
    * one lake span (each folds the same `[floor, asOf]`) share one
    * materialized fold instead of shuffling the table once per consumer.
    * Bounded because the scope releases every cached fold on exit (persist
    * keeps lineage, so a block lost mid-scope recomputes). Reentrant, and
    * shared by every thread using this instance while any scope is open.
    *
    * QUIESCENCE CONTRACT: a pinned interval's fold is content-deterministic
    * only while no batch lands INSIDE it, so for the life of the scope the
    * writer must not commit an id within any pinned `[floor, asOf]` (pin
    * from [[committedHull]], whose ids are all committed already — new
    * epochs land above it, late snapshots below it), and [[clearSnapshot]]
    * must not run. Compaction and vacuum are fine: they never change what
    * a retained interval folds to.
    */
  def sharedFolds[T](body: => T): T = {
    foldScopeDepth.incrementAndGet()
    try body
    finally if (foldScopeDepth.decrementAndGet() == 0) {
      foldCache.values.forEach(h => if (h.built) h.df.unpersist(false))
      foldCache.clear()
    }
  }

  private def stateAsOfUncached(
      spark: SparkSession, schemaName: String, table: String,
      asOf: Long, floor: Long,
      restrictToKeys: Option[DataFrame],
      restrictToImmutable: Option[(Column => Column, DataFrame)]): DataFrame = {
    require(restrictToKeys.isEmpty || restrictToImmutable.isEmpty,
      "restrictToKeys and restrictToImmutable are mutually exclusive")
    val f = fs(spark)
    // `floor` additionally bounds the read from BELOW in the two-sided id
    // space (maintained views pin their recompute to exactly the interval
    // they have applied, so a concurrently landing late snapshot batch
    // cannot tear a dirty-group rebuild). Lake keys whose fold dips under
    // the floor are skipped — older keys have equal-or-higher floors.
    val m = lakeLog(baseBuckets).latestWithin(f, (floor, asOf))
    val (lo, wm) = m.getOrElse((Long.MinValue, Long.MinValue))
    // Retention check — PRECISE: the fold needs the ids in (wm, asOf]
    // above the chosen base and [floor, min(lo-1, asOf)] below it, and an
    // id can only be MISSING-because-deleted if it lies inside the vacuum
    // marks [vl, vh] (vacuum records the extremes of everything it ever
    // dropped) yet is absent from the commit log. Intersecting the
    // required ranges with the marks before counting makes the check
    // independent of how ids were allocated (no density assumption) and
    // lets a retention vacuum that only ate base-covered ids pass, while
    // one that ate a needed id refuses rather than folding holes.
    val committed = committedBatchIds(spark)
    val vl = vacuumLowWater(spark)
    val vh = vacuumHighWater(spark)
    def deletedWithin(from: Long, to: Long): Boolean = {
      val f2 = math.max(from, vl)
      val t2 = math.min(to, vh)
      f2 <= t2 && committed.count(id => id >= f2 && id <= t2) < t2 - f2 + 1
    }
    val posMissing = deletedWithin(math.max(wm + 1, 0L), asOf)
    // Below-base requirement: the ids in [floor, min(-1, asOf, lo-1)]
    // ("no lake key chosen" rebuilds from the raw changelog, so it needs
    // every negative id at-or-below asOf).
    val negMissing = deletedWithin(floor,
      m.fold(math.min(-1L, asOf))(k => Seq(-1L, asOf, k._1 - 1).min))
    if (posMissing || negMissing)
      throw new IllegalStateException(
        s"state as of batch $asOf needs changelog batches outside the " +
          s"chosen base fold [$lo, $wm] that vacuum has deleted — that " +
          "history is no longer retained (retain more manifests or vacuum " +
          "with keepLast)")
    // ONE commit-log listing (the `committed` pull the retention check
    // already took) serves both the tail read and the marker metadata —
    // same read-atomicity reasoning as [[latestState]]: a truncate-bearing
    // batch committing between two listings must not contribute its
    // truncate position without its rows.
    val tailIds = committed.filter(id =>
      (id < lo || id > wm) && id <= asOf && id >= floor)
    val env = changelogOf(spark, tailIds)
      .filter(col("schema") === schemaName && col("table") === table)
    val tail0 = keyedEvents(env).drop("schema", "table")
    // truncate detection stays on the UNRESTRICTED tail: truncates carry
    // no key, and must supersede restricted rows too (restricted frames
    // may drop truncate rows freely — foldImages only reads them through
    // the `truncAt` position computed here). Marker metadata first (no
    // Spark job), scan fallback for empty markers.
    val truncAt = markerTruncates(f, tailIds, schemaName, table)
      .getOrElse(maxTruncate(tail0))
    // `restrictToKeys` (a single-column `k` frame spelled like the fold
    // key) prunes the fold to those keys' histories. SOUND ONLY for
    // restriction on the replica-identity key itself — the fold groups by
    // exactly `k`, so a key's whole history stays or goes together; a
    // predicate over any OTHER column could drop the newest version of a
    // key while keeping an older one and resurrect stale state. For a
    // declared-immutable non-key column, `restrictToImmutable` restores
    // the stays-or-goes-together property (see the parameter contract)
    // and filters the ENVELOPE (delete keys live in `before`, which
    // keyedEvents' output no longer carries).
    val tail = (restrictToKeys, restrictToImmutable) match {
      case (Some(ks), _) => tail0.join(broadcast(ks), Seq("k"), "left_semi")
      case (_, Some((ex, ks))) =>
        val img = when(col("op") === "delete", col("before")).otherwise(col("after"))
        keyedEvents(env.join(broadcast(ks.select(col("k").as("_imm"))),
            ex(img).cast("string") <=> col("_imm"), "left_semi"))
          .drop("schema", "table")
      case _ => tail0
    }
    // a key restriction prunes BASE to the slices its keys hash into
    // (bounded planning pull: ≤ buckets distinct values) — a restricted
    // fold over a billion-key base reads ~|touched buckets|/buckets of it
    val base = baseAt(spark, f, m, schemaName, table, log => restrictToKeys.map(
        _.select(log.bucketCol(col("k"))).distinct().collect().map(_.getInt(0)).toSet))
      .map(b => (restrictToKeys, restrictToImmutable) match {
        case (Some(ks), _) => b.join(broadcast(ks), Seq("k"), "left_semi")
        // BASE rows are folded inserts: the image is `after`
        case (_, Some((ex, ks))) => b.join(broadcast(ks.select(col("k").as("_imm"))),
          ex(col("after")).cast("string") <=> col("_imm"), "left_semi")
        case _ => b
      })
    val all = base.map(_.unionByName(tail)).getOrElse(tail)
    foldImages(all, truncAt)
  }

  /** Land one table's initial-snapshot frame as envelope rows, so the lake
    * holds snapshot + CDC as ONE log (`GraftConnector.start(snapshotSink =
    * lake.appendSnapshot(_, _, keys, lsn, id))`). Rows become `insert`
    * events stamped at the snapshot's consistent-point LSN — the stream
    * starts at the handoff LSN at-or-after it, so later CDC events win the
    * fold per key. `batchId` must be NEGATIVE (the snapshot id space, below
    * every stream epoch); redelivery inside the snapshot-invalidation
    * retry reuses the id and is idempotent like any other batch.
    *
    * Typed values render to the text forms the CDC envelope carries
    * (booleans as t/f — key equality across snapshot and stream rows is
    * what the fold depends on).
    *
    * Keyless tables (REPLICA IDENTITY NOTHING; `keyNames` empty) ship
    * `key_names` null and a UNIQUE per-row `lsn` (consistent-point base +
    * a per-row offset), so the fold's synthetic WAL-position key keeps
    * every snapshot row — the same append-only semantics keyless CDC rows
    * get. The `commit_lsn` stays at the consistent point, which alone
    * decides ordering against stream events and truncates.
    */
  def appendSnapshot(
      table: String, frame: DataFrame,
      keyNames: Seq[String], lsn: Long, batchId: Long): Unit = {
    require(batchId < 0, s"snapshot batch ids are negative, got $batchId")
    val Array(sch, tbl) = table.split("\\.", 2)
    val textCols = frame.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case org.apache.spark.sql.types.BooleanType =>
          when(c, "t").otherwise("f")
        case _ => c.cast("string")
      }
      struct(lit(f.name), s)
    }
    val keyless = keyNames.isEmpty
    val keyNamesCol: Column =
      if (keyless) lit(null).cast("array<string>") else typedLit(keyNames)
    val lsnCol: Column =
      if (keyless) lit(lsn) + monotonically_increasing_id() else lit(lsn)
    val envelope = frame.select(
      lsnCol.as("lsn"), lit(lsn).as("commit_lsn"), lit(0L).as("xid"),
      lit("insert").as("op"), lit(sch).as("schema"), lit(tbl).as("table"),
      timestamp_micros(lit(0L)).as("message_time"),
      timestamp_micros(lit(0L)).as("commit_time"),
      keyNamesCol.as("key_names"),
      lit(null).cast("map<string,string>").as("before"),
      map_from_entries(array(textCols: _*)).as("after"))
    appendBatch(envelope, batchId)
  }

  /** Drop every snapshot batch (negative ids) and its marker — the
    * snapshot-INVALIDATION path: when the orchestrator's export is
    * invalidated mid-delivery and retried, the NEW export must re-land
    * from scratch, and [[appendSnapshot]]'s idempotence would otherwise
    * skip tables the aborted export already committed (stale image rows
    * under the fresh export's LSN). Call at the start of each export
    * attempt. Refuses after compaction has folded snapshot batches into
    * BASE — at that point the old image is no longer separable and the
    * lake must be re-rooted (matching the orchestrator's clean re-export
    * semantics, which never compacts mid-snapshot).
    */
  def clearSnapshot(spark: SparkSession): Unit = {
    val f = fs(spark)
    val snapIds = committedBatchIds(spark).filter(_ < 0)
    // "compacted" means INSIDE the folded interval — a late snapshot
    // batch below the fold floor is unfolded and fully separable, and a
    // lake whose only compactions predate every snapshot id refuses
    // nothing it doesn't have to.
    val wm = watermark(spark)
    val lo = foldedLow(spark)
    if (snapIds.exists(id => id >= lo && id <= wm))
      throw new IllegalStateException(
        "snapshot batches were already compacted into base — cannot clear a " +
          "delivered snapshot; use a fresh lake root for the re-export")
    snapIds.foreach { id =>
      f.delete(batchDir(id), true)
      f.delete(new Path(commitDir, id.toString), false)
    }
  }

  /** Retry-aware `snapshotSink` closure for
    * `GraftConnector.start(snapshotSink = lake.connectorSnapshotSink(...))`:
    * lands every table of each export attempt in the negative-id space;
    * seeing `firstTable` again means a FRESH export attempt (the
    * orchestrator's snapshot-invalidation retry restarts delivery from the
    * first configured table), so the previous attempt's batches clear
    * before the new image lands. Snapshot rows are stamped at LSN 0 —
    * strictly below every stream event, which is all the fold's ordering
    * needs (the stream starts at the handoff LSN, always > 0).
    */
  def connectorSnapshotSink(
      spark: SparkSession,
      firstTable: String,
      keyColsOf: String => Seq[String]): (String, DataFrame) => Unit = {
    // Ids continue BELOW everything the lake has ever seen (committed,
    // already folded, or already VACUUMED — a vacuumed snapshot id has no
    // marker left, but reusing it would sit inside consumers' delivered
    // intervals and be silently absorbed; vacuum only drops folded ids,
    // so the fold floor covers them) — a later connector run delivering a
    // mid-stream table addition must not reuse an id appendBatch would
    // silently drop as a replay of the first export.
    def floor(): Long = {
      val folded = Some(foldedLow(spark)).filter(_ != Long.MinValue)
      (committedBatchIds(spark).filter(_ < 0) ++ folded)
        .minOption.getOrElse(0L).min(0L)
    }
    var snapId = floor()
    (table, frame) => {
      if (table == firstTable) { clearSnapshot(spark); snapId = floor() }
      snapId -= 1
      appendSnapshot(table, frame, keyColsOf(table), 0L, snapId)
    }
  }

  /** Persist relation schemas next to the log, VERSIONED by the batch id
    * from which they are in force, so BATCH consumers can type the
    * text-map images without a running stream — and typed TIME TRAVEL
    * resolves each read through the schema of its own era, not
    * latest-wins. Feed it from [[graft.streaming.PgCdcRelations]]'s
    * registry, or any decoded 'R' messages: on a mid-stream DDL, call
    * again with the changed relation and the first batch id carrying the
    * new shape.
    *
    * Layout: `_graft_schema/era=<validFromBatch>/` per boundary
    * (replaying the same boundary overwrites idempotently).
    */
  def writeRelations(spark: SparkSession, rels: Seq[graft.pgproto.Messages.Relation],
      validFromBatch: Long = Long.MinValue): Unit = {
    import spark.implicits._
    stampFormat(fs(spark))
    rels.flatMap { r =>
      r.columns.toSeq.zipWithIndex.map { case (c, i) =>
        (r.namespace, r.name, r.oid, r.replicaIdentity.toInt,
          i, c.name, c.typeOid, c.typeModifier, c.flags)
      }
    }.toDF("namespace", "name", "oid", "replica_identity",
        "col_idx", "col_name", "type_oid", "type_modifier", "flags")
      .coalesce(1)
      .write.mode("overwrite").parquet(
        new Path(root, s"_graft_schema/era=$validFromBatch").toString)
  }

  /** Read back one table's persisted relation schema as in force AT
    * `asOf` (default: the newest): the newest era at-or-below `asOf`
    * that records the table — or, for reads that predate every recorded
    * era (prehistory), the earliest known one, the best available guess.
    * None if no era records the table at all.
    */
  def readRelation(
      spark: SparkSession, namespace: String, name: String,
      asOf: Long = Long.MaxValue): Option[graft.pgproto.Messages.Relation] = {
    val f = fs(spark)
    val p = new Path(root, "_graft_schema")
    if (!f.exists(p)) return None
    val eras: Seq[(Long, String)] = f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("era="))
      .flatMap(st => st.getPath.getName.stripPrefix("era=").toLongOption
        .map(_ -> st.getPath.toString))
      .sortBy(_._1)
    def rowsOf(dir: String) = spark.read.parquet(dir)
      .filter(col("namespace") === namespace && col("name") === name)
      .orderBy("col_idx").collect()
    // Resolve LAZILY, newest-first at-or-below asOf, stopping at the
    // first era that records the table (each probe is one bounded
    // columns-for-one-table pull) — a long DDL history costs one or two
    // era reads per typed read, not one per era. Prehistory fallback:
    // the EARLIEST recorded era above asOf.
    val below = eras.filter(_._1 <= asOf).reverseIterator
      .map(e => rowsOf(e._2)).find(_.nonEmpty)
    val rows = below.orElse(
        eras.filter(_._1 > asOf).iterator
          .map(e => rowsOf(e._2)).find(_.nonEmpty))
      .getOrElse(return None)
    Some(graft.pgproto.Messages.Relation(
      0L, rows.head.getAs[Long]("oid"), namespace, name,
      rows.head.getAs[Int]("replica_identity").toByte,
      rows.map(r => graft.pgproto.Messages.RelationColumn(
        r.getAs[String]("col_name"), r.getAs[Long]("type_oid"),
        r.getAs[Int]("type_modifier"), r.getAs[Int]("flags"))).toArray))
  }

  /** [[latestState]] projected through the persisted relation schema:
    * typed columns (the same pure-Catalyst casts as the live typed views)
    * plus the (commit_lsn, lsn) version stamp. Throws if [[writeRelations]]
    * never recorded the table.
    */
  def latestStateTyped(spark: SparkSession, schemaName: String, table: String): DataFrame = {
    val rel = readRelation(spark, schemaName, table).getOrElse(
      throw new IllegalStateException(
        s"no persisted relation schema for $schemaName.$table — call writeRelations first"))
    latestState(spark, schemaName, table)
      .select(graft.types.PgTypes.typedColumns(rel, col("after")) :+
        col("commit_lsn") :+ col("lsn"): _*)
  }

  /** [[stateAsOf]] projected through the relation schema IN FORCE at that
    * batch boundary — typed time travel across mid-stream DDL: a read
    * before a column add has no phantom null column, and a read before a
    * column TYPE change casts through the old type, never the new one.
    */
  def stateAsOfTyped(
      spark: SparkSession, schemaName: String, table: String,
      asOf: Long, floor: Long = Long.MinValue): DataFrame = {
    val rel = readRelation(spark, schemaName, table, asOf).getOrElse(
      throw new IllegalStateException(
        s"no persisted relation schema for $schemaName.$table — call writeRelations first"))
    stateAsOf(spark, schemaName, table, asOf, floor)
      .select(graft.types.PgTypes.typedColumns(rel, col("after")) :+
        col("commit_lsn") :+ col("lsn"): _*)
  }

  /** Fold the committed tail into BASE and advance the folded interval —
    * CHURN-PROPORTIONALLY. Only buckets whose keys appear in the tail are
    * re-folded and rewritten (a truncate touches all of its table's
    * buckets); every other slice carries into the table log's new version
    * by reference, its files untouched. The lake log publishes the new
    * key only after every table log holds it, so a concurrent reader sees
    * either the old or the new BASE in full (plus a tail that covers the
    * difference — the fold is idempotent under that overlap because newer
    * (commit_lsn, lsn) always wins). A compaction that died before that
    * publish is redone by the next one, which skips every table log
    * already holding its key. Slices only lake keys older than the newest
    * `retainManifests` reference are then garbage-collected.
    *
    * Planning collects are bounded: one (tables × buckets)-row touched-
    * bucket summary, plus per-table output-directory listings.
    */
  def compact(spark: SparkSession): Unit = {
    val f = fs(spark)
    // ONE commit-log listing gives both the new interval and the tail: a
    // batch landing between two listings would be folded but left
    // outside the recorded interval
    val ids = committedBatchIds(spark)
    if (ids.isEmpty) return
    val old = foldedInterval(f)
    val (lo, wm) = old.getOrElse((Long.MaxValue, Long.MinValue))
    // new work on EITHER side of the folded interval: epochs above the
    // watermark, or a late snapshot batch below the fold floor
    if (ids.max <= wm && ids.min >= lo) return
    val key = (math.min(ids.min, lo), math.max(ids.max, wm))
    val lake = lakeLog(buckets(f))
    // a fresh lake fixes its geometry before any table log is written
    if (old.isEmpty) lake.writeGeometry(f)
    val tail = keyedEvents(changelogOf(spark, ids.filter(id => id < lo || id > wm)))
    // Touched buckets + truncate position per table: ≤ tables × (buckets+2)
    // cells — planning-scale, bounded by the schema, not the data.
    val perTable = tail.groupBy(col("schema"), col("table"))
      .agg(
        collect_set(when(col("op") =!= "truncate", lake.bucketCol(col("k")))).as("bks"),
        max(col("op") === "truncate").as("has_trunc"),
        max(when(col("op") === "truncate",
          struct(col("commit_lsn"), col("lsn")))).as("trunc_at"))
      .collect()

    perTable.foreach { r =>
      val (sch, tbl) = (r.getString(0), r.getString(1))
      val log = tableLog(f, sch, tbl)
      if (!log.isCommitted(f, key)) {
        val touched: Set[Int] =
          if (r.getBoolean(3)) (0 until lake.buckets).toSet
          else r.getSeq[Int](2).toSet
        val truncAt =
          if (r.isNullAt(4)) None
          else Some((r.getStruct(4).getLong(0), r.getStruct(4).getLong(1)))
        val prev = old.filter(log.isCommitted(f, _))
        val tailT = tail
          .filter(col("schema") === sch && col("table") === tbl &&
            col("op") =!= "truncate")
          .filter(log.bucketCol(col("k")).isin(touched.toSeq: _*))
          .select("op", "commit_lsn", "lsn", "k", "after")
        val all = baseAt(spark, f, prev, sch, tbl, _ => Some(touched))
          .map(_.unionByName(tailT)).getOrElse(tailT)
        // buckets that fold to empty write no slice — a missing slice
        // reads as an empty one
        log.commit(f, foldImages(all, truncAt), touched, prev, key)
      }
    }
    val logs = baseTables(f).map { case (sch, tbl) => tableLog(f, sch, tbl) }
    logs.filterNot(_.isCommitted(f, key))
      .foreach(log => log.carry(f, old.filter(log.isCommitted(f, _)), key))
    lake.carry(f, old, key)
    // each retained lake key is a TIME-TRAVEL anchor — stateAsOf resolves
    // from the newest one at-or-below the target, so retainManifests ×
    // compaction cadence (with vacuum's keepLast) is the lake's history
    // depth; every slice a retained key references survives
    lake.committed(f).takeRight(retainManifests).headOption
      .foreach(oldest => (lake +: logs).foreach(_.gcWithin(f, oldest)))
  }

  /** Incremental changelog consumption with a durable named cursor — the
    * pull-based face of the log for downstream batch jobs (dedup-on-
    * arrival, curation, packing) that want "every committed batch exactly
    * once" without running a continuous stream. `poll` hands the consumer
    * everything committed past its cursor and advances the cursor only
    * AFTER the callback returns — a crash mid-callback re-delivers the
    * same span (at-least-once; pair with an idempotent consumer for
    * exactly-once, the same contract foreachBatch gives the sink side).
    *
    * Vacuum safety: a consumer whose cursor lies below a batch id that
    * [[vacuum]] actually deleted has MISSED data — that is detected and
    * thrown (the consumer must re-bootstrap from [[latestState]]), never
    * silently skipped. Compaction alone never trips it: until vacuum
    * runs, the full changelog is still present and a new consumer may
    * legitimately read all of it. Run [[vacuum]] on the producer side
    * only after every registered consumer's cursor has passed the
    * watermark.
    */
  def cursor(spark: SparkSession, name: String): Long =
    cursorInterval(spark, name)._2

  /** The full two-sided cursor: the id interval `[neg, pos]` this consumer
    * has been delivered ((0, Long.MinValue) = nothing yet). The id space
    * grows BOTH ways — epochs up from 0, snapshot batches down from -1 —
    * so a single max-id cursor would silently skip a late snapshot batch
    * (a mid-stream table addition) forever.
    */
  def cursorInterval(spark: SparkSession, name: String): (Long, Long) =
    readCursor(spark, name)._1

  /** Cursor interval and the ACKNOWLEDGED vacuum low mark. The
    * acknowledged mark is the same construction the streaming
    * source's `LakeOffset.vl` carries: the vacuum low extent this
    * consumer has accepted as innocent (delivered-or-seeded history).
    * Long.MaxValue = nothing acknowledged — poll then refuses ANY vacuum
    * below the floor.
    */
  private def readCursor(spark: SparkSession, name: String): ((Long, Long), Long) = {
    val p = new Path(new Path(root, "_graft_cursors"), name)
    readSmallFile(fs(spark), p) match {
      case None => ((0L, Long.MinValue), Long.MaxValue)
      case Some(s) => s.split(":") match {
        case Array(a, b) => ((a.toLong, b.toLong), Long.MaxValue)
        case Array(a, b, v) => ((a.toLong, b.toLong), v.toLong)
        case _ => throw new IllegalStateException(s"unreadable cursor $p: '$s'")
      }
    }
  }

  private def writeCursor(
      spark: SparkSession, name: String, neg: Long, pos: Long,
      ackedVl: Long = Long.MaxValue): Unit = {
    val f = fs(spark)
    stampFormat(f)
    f.mkdirs(new Path(root, "_graft_cursors"))
    writeStringAtomic(f, new Path(new Path(root, "_graft_cursors"), name),
      if (ackedVl == Long.MaxValue) s"$neg:$pos" else s"$neg:$pos:$ackedVl")
  }

  /** The packaged RE-BOOTSTRAP every vacuum-gap refusal points at: pin a
    * NEW (or stranded) consumer at the lake's current end and return the
    * pin. Seed its downstream state from `stateAsOf(pin._2)` (or
    * [[latestState]]) per table — that fold is readable regardless of how
    * much changelog vacuum has deleted, because it resolves through BASE —
    * then [[poll]] delivers only batches landing after the pin. Epochs or
    * late snapshots committed between the pin and the seed read are
    * double-applied on the next poll, which is why seeded consumers must
    * be idempotent appliers (upsert/delete semantics, e.g.
    * [[PgApplySink]]) — the same at-least-once contract poll already has.
    */
  def seedCursor(spark: SparkSession, name: String): (Long, Long) = {
    val ids = committedBatchIds(spark)
    val m = foldedInterval(fs(spark)) // one read serves both bounds
    // the floor covers every surviving and every folded id (vacuum only
    // ever drops folded ids, so the fold floor also covers its extent)
    val neg = (ids ++ m.map(_._1)).minOption.getOrElse(0L).min(0L)
    val pos = math.max(ids.maxOption.getOrElse(Long.MinValue),
      m.fold(Long.MinValue)(_._2))
    // acknowledge the CURRENT vacuum extent as innocent: the seed read
    // (stateAsOf/latestState through BASE) covers everything it deleted
    writeCursor(spark, name, neg, pos, ackedVl = vacuumLowWater(spark))
    (neg, pos)
  }

  /** Deliver all committed batches OUTSIDE `name`'s cursor interval to
    * `fn` — new epochs above it and late snapshot batches below it — then
    * advance the cursor both ways. Returns the number of NEW batches
    * delivered (0 = up to date, `fn` not invoked).
    *
    * `within`, when set, restricts delivery to batch ids INSIDE the given
    * closed interval — the coherence barrier [[committedHull]] pins: N
    * consumers polled under ONE pinned bound each end having applied
    * exactly the batches committed at the pin, whatever lands while they
    * run (see [[Maintainer.refreshCoherent]]). Excluded batches are NOT
    * absorbed into the advanced cursor — a later unbounded poll delivers
    * them — and a bound that WOULD strand an undelivered batch inside the
    * advanced interval (a bound pinned below this consumer's undelivered
    * backlog) refuses loudly instead of losing it.
    */
  def poll(spark: SparkSession, name: String,
      within: Option[(Long, Long)] = None)(fn: DataFrame => Unit): Int = {
    // an inverted bound (committedHull of an empty lake: (0, MinValue))
    // is legitimately empty — it delivers nothing rather than refusing
    val ((neg, pos), acked) = readCursor(spark, name)
    val vh = vacuumHighWater(spark)
    if (pos < vh)
      throw new IllegalStateException(
        s"lake consumer '$name' cursor $pos is below the vacuum high-water " +
          s"mark $vh — the batches in between were deleted; re-bootstrap " +
          "from latestState")
    // Low side: refuse only a vacuum extent BELOW the floor that the
    // consumer has not acknowledged — [[seedCursor]] acknowledges the
    // extent its seed read covered, the same contract as the streaming
    // source's checkpointed `vl` (an unacknowledged extent always
    // refuses).
    val vl = vacuumLowWater(spark)
    if (vl < neg && vl < acked)
      throw new IllegalStateException(
        s"lake consumer '$name' floor $neg is above the vacuum low-water " +
          s"mark $vl — a snapshot batch beneath it was " +
          "deleted before delivery; re-bootstrap from latestState")
    // a vacuum that stayed inside delivered history is innocent — extend
    // the acknowledgment so gauges/debugging reflect it
    val newAcked = if (vl < acked) vl else acked
    val outside = committedBatchIds(spark).filter(id => id < neg || id > pos)
    val ids = within.fold(outside)(b =>
      outside.filter(id => id >= b._1 && id <= b._2))
    if (ids.isEmpty) {
      if (newAcked != acked) writeCursor(spark, name, neg, pos, newAcked)
      return 0
    }
    val (nneg, npos) = (math.min(neg, ids.min), math.max(pos, ids.max))
    // absorption guard (bounded polls only — unbounded ids == outside by
    // construction): a committed, UNDELIVERED id the bound excluded must
    // stay outside the advanced interval, or this poll would mark it
    // delivered without ever delivering it. Trips only when the caller
    // pinned a bound below this consumer's backlog — committedHull covers
    // every committed id, so barrier refreshes never trip it.
    val delivered = ids.toSet
    val absorbed =
      if (within.isEmpty) Nil
      else outside.filter(id =>
        !delivered.contains(id) && id >= nneg && id <= npos)
    if (absorbed.nonEmpty)
      throw new IllegalArgumentException(
        s"poll bound ${within.get} for consumer '$name' excludes committed " +
          s"batch(es) ${absorbed.sorted.mkString(",")} that the advanced " +
          s"cursor [$nneg,$npos] would absorb as delivered — pin the bound " +
          "from committedHull (it must cover the consumer's undelivered " +
          "backlog, not just the new tail)")
    // deliver exactly the ids the cursor will advance over — one commit-log
    // listing serves both, so a batch landing between listing and delivery
    // can neither ride the span unadvanced nor skew the bounded barrier
    fn(changelogOf(spark, ids))
    writeCursor(spark, name, nneg, npos, newAcked)
    ids.size
  }

  /** The closed hull of every currently committed batch id (floored at 0,
    * the virgin-cursor origin, so it always covers a fresh consumer) —
    * THE bound to pin once and pass to several maintainers'
    * `refresh(within = Some(bound))`: each then applies exactly the
    * batches committed at the pin, none landing after it, so their states
    * come out batch-identical (see [[Maintainer.refreshCoherent]]).
    * (0, Long.MinValue) when nothing is committed — an empty bound no
    * bounded poll delivers under.
    */
  def committedHull(spark: SparkSession): (Long, Long) = {
    val ids = committedBatchIds(spark)
    (math.min(0L, ids.minOption.getOrElse(0L)),
      ids.maxOption.getOrElse(Long.MinValue))
  }

  /** Highest batch id [[vacuum]] has ever deleted (Long.MinValue if none —
    * compaction alone leaves the changelog intact and moves this nowhere).
    */
  def vacuumHighWater(spark: SparkSession): Long =
    readLongFile(fs(spark), vacuumedFile, Long.MinValue)

  /** Lowest batch id [[vacuum]] has ever deleted (Long.MaxValue if none).
    * The negative-side counterpart of [[vacuumHighWater]]: a consumer
    * whose delivered floor lies ABOVE it may have missed a vacuumed
    * snapshot batch.
    *
    * A high mark without a low one is CORRUPT, not "nothing dropped low":
    * [[vacuum]] writes the low mark first, so the low extent of what was
    * deleted is unknown, and reading it as MaxValue would let
    * [[stateAsOf]] fold state with holes — refuse instead.
    */
  def vacuumLowWater(spark: SparkSession): Long = {
    val f = fs(spark)
    val low = readLongFile(f, vacuumedLowFile, Long.MaxValue)
    if (low == Long.MaxValue && f.exists(vacuumedFile))
      throw new IllegalStateException(
        s"lake root $root is corrupt: $vacuumedFile exists without " +
          s"$vacuumedLowFile, so the extent of vacuumed history is unknown " +
          s"— if $vacuumedLowFile.tmp exists, a vacuum crashed while " +
          "replacing the mark (rename it into place); otherwise rebuild the lake")
    low
  }

  /** Scrapeable gauges for [[graft.streaming.GraftMetricsServer]]'s
    * `graft_lake_*` family: wire `lakeGauges = Some(() =>
    * lake.gauges(spark))`. One commit-log listing per scrape — driver-side
    * metadata only. Batch counts are CURRENT-STATE gauges (they shrink on
    * vacuum/clearSnapshot), deliberately not `_total`-suffixed so the
    * server renders them as gauges — a shrinking counter would corrupt
    * `rate()`/`increase()`.
    */
  def gauges(spark: SparkSession): Seq[(String, Double)] = {
    val ids = committedBatchIds(spark)
    val f = fs(spark)
    val (lo, wm) = foldedInterval(f).getOrElse((Long.MinValue, Long.MinValue))
    // vacuum-safety signal: a FULL [[vacuum]] would delete exactly the
    // committed ids inside the folded interval — a registered consumer is
    // at risk iff one of those ids lies OUTSIDE its cursor (undelivered),
    // which would strand it (poll throws its re-bootstrap error).
    // Deliberately models keepLast = 0 (the worst case): a retention
    // vacuum strands fewer, so the gauge errs toward alerting. Per scrape
    // this costs the commit-log listing plus one cursor-dir listing and
    // one small read per consumer.
    val wouldDrop = ids.filter(id => id >= lo && id <= wm)
    val cursorDir = new Path(root, "_graft_cursors")
    val cursors =
      if (!f.exists(cursorDir)) Seq.empty[(Long, Long)]
      else f.listStatus(cursorDir).toSeq
        .map(_.getPath.getName)
        .filterNot(n => n.endsWith(".tmp") || n.startsWith(".")) // checksum siblings
        .flatMap(n => readSmallFile(f, new Path(cursorDir, n)))
        .map(_.split(":") match {
          case Array(a, b) => (a.toLong, b.toLong)
          case Array(a, b, _) => (a.toLong, b.toLong) // acked mark rides along
          case _ => (0L, Long.MinValue)
        })
    val atRisk = cursors.count { case (neg, pos) =>
      wouldDrop.exists(id => id < neg || id > pos)
    }
    Seq(
      "committed_batches" -> ids.size.toDouble,
      "snapshot_batches" -> ids.count(_ < 0).toDouble,
      "last_batch_id" -> ids.filter(_ >= 0).lastOption.getOrElse(-1L).toDouble,
      "watermark" -> (if (wm == Long.MinValue) -1.0 else wm.toDouble),
      "consumers" -> cursors.size.toDouble,
      "consumers_at_risk_on_vacuum" -> atRisk.toDouble)
  }

  /** Drop changelog batches already folded into BASE — exactly the ids in
    * `[foldedLow, watermark]` — markers included, and advance the vacuum
    * high- and low-water marks. Safe any time after [[compact]]: readers
    * resolve state as BASE + the outside-the-interval tail and never look
    * inside it. A LATE snapshot batch below the fold floor is NOT folded
    * yet and survives until the next compaction absorbs it.
    */
  def vacuum(spark: SparkSession): Unit = vacuum(spark, keepLast = 0)

  /** [[vacuum]] with RETENTION: keep the newest `keepLast` folded batches
    * PER GROWTH DIRECTION — the `keepLast` highest epochs and the
    * `keepLast` lowest (most recently landed) snapshot batches — in the
    * changelog even though BASE already covers them. They are the replay
    * window for consumers that have not caught up, and together with the
    * retained lake keys the lake's TIME-TRAVEL depth: [[stateAsOf]]
    * resolves from the newest retained key at-or-below the target
    * plus the surviving tail, so size `retainManifests` × compaction
    * cadence to the history you need (`keepLast` alone cannot reach below
    * the oldest retained key's watermark). One caveat on the
    * snapshot side: an OLDER anchor's tail includes every snapshot batch
    * below its fold floor, so once retention drops a snapshot, anchors
    * that predate it refuse (precisely — [[stateAsOf]] checks the actual
    * ids) even though newer anchors still serve. Size `keepLast` past the
    * snapshots landed since the oldest anchor you need. `keepLast = 0` is
    * the plain "drop everything folded" vacuum.
    */
  def vacuum(spark: SparkSession, keepLast: Int): Unit = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val wm = watermark(spark)
    val lo = foldedLow(spark)
    val f = fs(spark)
    val folded = committedBatchIds(spark).filter(id => id >= lo && id <= wm)
    // snapshot ids DECREASE over time, so ascending order lists the newest
    // snapshots first: keep the head of the negatives and the tail of the
    // epochs (a plain dropRight would delete a just-landed table
    // addition's snapshot before week-old epochs)
    val dropped = folded.filter(_ < 0).drop(keepLast) ++
      folded.filter(_ >= 0).dropRight(keepLast)
    if (dropped.nonEmpty) {
      // Marks FIRST, from the PLANNED drop set, deletes after — and low
      // before high. A crash anywhere in this sequence then reads as a
      // conservative over-statement (marks cover ids still present, which
      // the retention check verifies against the commit log and passes;
      // poll at worst refuses and re-bootstraps) — never as a deletion the
      // marks don't record, which readers would silently skip.
      val newLow = math.min(dropped.min, vacuumLowWater(spark))
      writeLongAtomic(f, vacuumedLowFile, newLow)
      val newHigh = math.max(dropped.max, vacuumHighWater(spark))
      writeLongAtomic(f, vacuumedFile, newHigh)
      dropped.foreach { id =>
        f.delete(batchDir(id), true)
        f.delete(new Path(commitDir, id.toString), false)
      }
    }
  }

  // ---- atomic small-file plumbing ----------------------------------------

  /** Atomic overwrite of a small long-valued file: temp + rename (the
    * delete-before-rename window is covered on the read side, which
    * retries while the temp file exists).
    */
  private def writeLongAtomic(f: FileSystem, p: Path, v: Long): Unit =
    writeStringAtomic(f, p, v.toString)

  private def writeStringAtomic(f: FileSystem, p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // checked rename: a false return after the delete would leave NO
    // cursor file — readCursor would see the fresh-cursor sentinel and
    // the next poll would re-deliver (and double-apply) every batch
    BucketedStateLog.publishReplace(f, tmp, p)
  }

  /** Read a small state file written by [[writeStringAtomic]], tolerating
    * a concurrent swap like [[readLongFile]] (absent-with-temp-sibling or
    * empty reads retry briefly). None = genuinely absent.
    */
  private def readSmallFile(f: FileSystem, p: Path): Option[String] = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    var attempt = 0
    while (true) {
      if (!f.exists(p)) {
        if (!f.exists(tmp) || attempt >= 10) return None
      } else {
        val in = f.open(p)
        val s =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        if (s.nonEmpty) return Some(s)
        if (attempt >= 10) return None // torn write with nothing recoverable
      }
      attempt += 1
      Thread.sleep(10)
    }
    None // unreachable
  }

  /** Read a small long-valued file written by [[writeLongAtomic]] —
    * [[readSmallFile]]'s swap tolerance plus the numeric parse.
    */
  private def readLongFile(f: FileSystem, p: Path, default: Long): Long =
    readSmallFile(f, p) match {
      case None => default
      case Some(s) => s.toLongOption.getOrElse(
        throw new IllegalStateException(s"unreadable lake state file $p: '$s'"))
    }
}

object LakeSink {
  /** Key columns are joined with NUL (never appears in pg identifiers or
    * text-format values of key types) into one shuffle-friendly string.
    */
  private[sinks] val KeySep = "\u0000"

  /** The lake's one on-disk format, named in `<root>/_graft_format`. */
  private[sinks] val FormatFile = "_graft_format"
  private[sinks] val FormatVersion = "graft-lake 2"

  /** Root entries only the lake itself writes (maintainers may stamp
    * their own dirs and markers under the root before its first write).
    */
  private val LakeEntries =
    Set("changelog", "_graft_commits", "_base_data", "_graft_cursors", "_graft_schema")

  /** First line of a batch commit marker that carries truncate metadata
    * (see [[LakeSink.appendBatch]]) — the empty marker of an unframable
    * table name reads as "unknown", falling back to the scan.
    */
  private[sinks] val TruncMetaMagic = "t1"

  /** Folded-image slice schema — read with it explicitly so empty slices
    * and empty folds never trip schema inference.
    */
  private[sinks] val ImageSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("after", MapType(StringType, StringType)),
    StructField("commit_lsn", LongType),
    StructField("lsn", LongType)))
}
