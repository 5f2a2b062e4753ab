package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `[neg, pos]` interval-key protocol of maintained state versions:
  * one spelling, one containment order, one replay-prev rule.
  *
  * Versions are keyed by the consumer's CURSOR INTERVAL after the span —
  * the two-sided `[neg, pos]` batch-id range applied so far (epochs count
  * up from 0, snapshot batches down from -1). Intervals only ever grow,
  * so version order is containment order: the latest state is the maximal
  * interval, and the replay-prev for a span is the maximal version
  * contained in the pre-span cursor.
  */
private[sinks] object IntervalKeys {

  def name(key: (Long, Long)): String = s"${key._1}_${key._2}"

  def parse(name: String): Option[(Long, Long)] =
    name.split("_") match {
      case Array(a, b) => for (n <- a.toLongOption; p <- b.toLongOption) yield (n, p)
      case _ => None
    }

  /** Intervals only grow, so containment order IS `(pos, -neg)`. */
  def sorted(keys: Seq[(Long, Long)]): Seq[(Long, Long)] =
    keys.sortBy { case (n, p) => (p, -n) }

  /** The maximal key contained in `from` — the replay-prev. */
  def within(sortedKeys: Seq[(Long, Long)], from: (Long, Long)): Option[(Long, Long)] =
    sortedKeys.filter { case (n, p) => n >= from._1 && p <= from._2 }.lastOption
}

/** Marker-committed bucketed state: versions whose rows are
  * HASH-BUCKETED on a key, so committing a new
  * version rewrites only the buckets the refresh touched — untouched
  * buckets carry into the new version by manifest reference, their files
  * byte-identical. It stores every maintainer's state and the lake's
  * BASE ([[LakeSink]] keeps one log per table plus a slice-less log as
  * its commit point): without it a maintained join over a 10 TB state
  * would rewrite 10 TB per refresh regardless of churn.
  *
  * Layout under `dir`:
  *  - `v<neg>_<pos>/bucket=<b>/` — immutable parquet slices written by
  *    the version that (re)computed bucket `b` (with [[subs]] > 1, one
  *    further level `sub=<s>/` and the slice unit is the sub dir).
  *  - `_commits/manifest.<neg>_<pos>` — the version's manifest: one
  *    `bucket \t relative-slice-path` line per NON-EMPTY bucket
  *    (`bucket:sub \t path` with [[subs]] > 1), written to a temp name
  *    and renamed into place (atomic), so the manifest's existence IS
  *    the commit marker and a reader never sees it torn.
  *
  * SUB-SLICING ([[subs]] > 1): a refcount state can hold a HOT GROUP —
  * a stop term's posting list, a dense IVF cell — whose single bucket is
  * touched by ~every refresh and whose rewrite is O(that bucket)
  * regardless of churn. Sub-slicing splits each bucket's rows by a
  * second hash over [[subCols]] (the VALUE columns — the hot group's
  * rows spread across all `subs` slices) and lets [[commitSlices]]
  * rewrite only the DIRTY (bucket, sub) slices while clean siblings
  * carry by reference: both the merge input and the write become
  * ~1/subs of the hot bucket. Bucket-level reads (point lookups, probe
  * pruning) are unchanged — they read all of a bucket's sub-slices.
  * GEOMETRY IS FIXED for the life of a state dir, exactly like
  * [[buckets]] — fingerprinted maintainers encode it and refuse a
  * mismatched open; `subs = 1` keeps the single-level slice layout and
  * manifest encoding.
  *
  * Versions are keyed by [[IntervalKeys]] (containment order; replay-prev
  * = maximal version inside the pre-span cursor). A replayed span whose
  * manifest exists skips the
  * rewrite; a crash mid-write leaves an unreferenced `v.../` directory
  * that the next GC sweeps.
  */
private[sinks] final class BucketedStateLog(
    dir: Path, val buckets: Int, keyCols: Seq[String] = Seq("jk"),
    val subs: Int = 1, subCols: Seq[String] = Nil) {

  require(buckets > 0, s"buckets must be positive, got $buckets")
  require(keyCols.nonEmpty, "at least one key column")
  require(subs >= 1, s"subs must be >= 1, got $subs")
  require(subs == 1 || subCols.nonEmpty,
    "sub-slicing needs subCols (the value columns the second hash splits on)")
  // "bucket"/"sub" are RESERVED: commitSlices adds them as partition
  // columns, so a state column of either name would be silently
  // overwritten before the write and stripped from the data files —
  // every read would then return null for it
  require(!(keyCols ++ subCols).exists(c => c == "bucket" || c == "sub"),
    s"state columns named 'bucket'/'sub' collide with the slice " +
      s"partition columns: keyCols=$keyCols subCols=$subCols")

  private def commitsDir = new Path(dir, "_commits")
  private val ManifestPrefix = "manifest."

  private def nameOf(key: (Long, Long)): String = IntervalKeys.name(key)

  def fs(spark: SparkSession): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The bucket a key tuple (or a NULL key — `hash(null)` is the constant
    * seed, one deterministic bucket) lands in, as a Column over the key
    * columns in declaration order.
    */
  def bucketExpr(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    pmod(hash(cols: _*), lit(buckets))

  /** Single-key convenience of [[bucketExpr]]. */
  def bucketCol(jk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bucketExpr(Seq(jk))

  /** The sub-slice a state row lands in within its bucket — the second
    * hash over the declared [[subCols]], as a Column over frames that
    * carry them (the state itself, and a delta whose value columns match).
    * Constant 0 at `subs = 1`.
    */
  def subExpr: org.apache.spark.sql.Column =
    if (subs == 1) lit(0) else pmod(hash(subCols.map(col): _*), lit(subs))

  /** The bucket NULL-keyed rows land in. */
  lazy val nullBucket: Int = {
    // hash(null) is Murmur3's seed (42) — compute it the engine's way
    // rather than hard-coding, so a seed change can't silently split the
    // null segment across buckets
    val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        null, org.apache.spark.sql.types.StringType))).eval(null)
    math.floorMod(h.asInstanceOf[Int], buckets)
  }

  /** Committed versions in containment order (latest = last). */
  def committed(f: FileSystem): Seq[(Long, Long)] =
    if (!f.exists(commitsDir)) Seq.empty
    else IntervalKeys.sorted(f.listStatus(commitsDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && !n.endsWith(".tmp"))
      .flatMap(n => IntervalKeys.parse(n.stripPrefix(ManifestPrefix))))

  def latest(f: FileSystem): Option[(Long, Long)] = committed(f).lastOption

  def latestWithin(f: FileSystem, from: (Long, Long)): Option[(Long, Long)] =
    IntervalKeys.within(committed(f), from)

  def isCommitted(f: FileSystem, key: (Long, Long)): Boolean =
    f.exists(new Path(commitsDir, ManifestPrefix + nameOf(key)))

  /** (bucket, sub) → slice path relative to `dir` for one committed
    * version. The single-level encoding (`b \t rel`, written at
    * `subs = 1`) parses as sub 0.
    */
  def entries(f: FileSystem, key: (Long, Long)): Map[(Int, Int), String] = {
    val in = f.open(new Path(commitsDir, ManifestPrefix + nameOf(key)))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    def corrupt(line: String): Nothing = throw new IllegalStateException(
      s"corrupted state manifest ${ManifestPrefix + nameOf(key)} under " +
        s"$commitsDir: line '$line' is not 'bucket\\tpath' or " +
        "'bucket:sub\\tpath' — the state dir needs a rebuild/reseed " +
        "(restore the manifest from a backup, or full-rewrite the state)")
    text.split("\n").filter(_.nonEmpty).map { l =>
      l.split("\t", 2) match {
        case Array(bs, rel) =>
          bs.split(":") match {
            case Array(b) =>
              (b.toIntOption.getOrElse(corrupt(l)), 0) -> rel
            case Array(b, s) =>
              (b.toIntOption.getOrElse(corrupt(l)),
                s.toIntOption.getOrElse(corrupt(l))) -> rel
            case _ => corrupt(l)
          }
        case _ => corrupt(l)
      }
    }.toMap
  }

  private def sliceDirs(key: (Long, Long), only: Option[Set[Int]],
      f: FileSystem): Seq[String] =
    entries(f, key).toSeq.sortBy(_._1)
      .collect { case ((b, _), rel) if only.forall(_.contains(b)) =>
        new Path(dir, rel).toString }

  /** One committed version's full state (pass `schema` so an all-empty
    * version — zero non-empty buckets — reads as an empty frame, never a
    * schema-inference failure).
    */
  def read(spark: SparkSession, key: (Long, Long),
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readBuckets(spark, key, None, schema)

  /** A version's state restricted to a bucket subset — the refresh reads
    * ONLY the touched buckets' slices, never the whole state.
    */
  def readBuckets(spark: SparkSession, key: (Long, Long),
      only: Option[Set[Int]],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    checkGeometryRead(fs(spark))
    val dirs = sliceDirs(key, only, fs(spark))
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** A version's state restricted to a (bucket, sub) slice subset — the
    * sub-sliced refresh's merge input: ONLY the dirty slices' rows, not
    * even the hot bucket's clean siblings.
    */
  def readSlices(spark: SparkSession, key: (Long, Long),
      only: Set[(Int, Int)],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val f = fs(spark)
    checkGeometryRead(f)
    val dirs = entries(f, key).toSeq.sortBy(_._1)
      .collect { case (bs, rel) if only.contains(bs) =>
        new Path(dir, rel).toString }
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Commit one version: write `touchedState` (must contain ONLY rows of
    * `touchedBuckets`) hash-sliced under this version's directory, carry
    * every other bucket forward from `prevKey`'s manifest by reference,
    * and publish the manifest atomically. `prevKey = None` (or
    * `touchedBuckets` covering everything) is a full rewrite.
    */
  def commit(f: FileSystem, touchedState: DataFrame,
      touchedBuckets: Set[Int], prevKey: Option[(Long, Long)],
      key: (Long, Long),
      /** Distinguishes the slice directory of an in-place REWRITE of an
        * already-committed version ([[graft.sinks.MaintainedDistinct
        * .rebuild]] passes a unique tag): the live version's referenced
        * slices must never be deleted out from under its manifest — the
        * manifest replace is the atomic cut-over, and an orphaned
        * half-written tagged directory is swept by the next [[gcWithin]].
        */
      dirTag: String = ""): Unit =
    commitSlices(f, touchedState,
      touchedBuckets.flatMap(b => (0 until subs).map(b -> _)),
      prevKey, key, dirTag)

  /** [[commit]] at (bucket, sub) granularity: write `touchedState` (must
    * contain ONLY rows of `dirty` slices) hash-sliced under this
    * version's directory, carry every other slice — a hot bucket's clean
    * sub-slices included — forward from `prevKey`'s manifest by
    * reference, and publish the manifest atomically.
    */
  def commitSlices(f: FileSystem, touchedState: DataFrame,
      dirty: Set[(Int, Int)], prevKey: Option[(Long, Long)],
      key: (Long, Long), dirTag: String = ""): Unit = {
    // the reserved-name guard on the FULL state schema (the constructor
    // require covers only keyCols/subCols — a payload or aggregate
    // column named bucket/sub would be silently overwritten below and
    // stripped from the data files, nulling it on every read)
    require(!touchedState.columns.exists(c => c == "bucket" || c == "sub"),
      s"state schema ${touchedState.columns.toSeq} carries a column named " +
        "'bucket'/'sub' — these are the slice partition columns; rename " +
        "it upstream")
    // geometry guard: an INCREMENTAL commit under different
    // buckets/subs than the committed state would scramble carried
    // refs (bucketExpr/subExpr no longer match the slices they prune) —
    // silent row loss, the exact corruption the fingerprinted
    // maintainers already refuse. Full rewrites (prevKey = None) don't
    // read prior layout — they ARE the migration, and update the marker.
    if (prevKey.isEmpty) writeGeometry(f) else checkGeometry(f)
    val vName = s"v${nameOf(key)}$dirTag"
    val vDir = new Path(dir, vName)
    f.delete(vDir, true) // crashed prior attempt at this version
    val sliced = touchedState
      .withColumn("bucket", bucketExpr(keyCols.map(col)))
    if (subs == 1)
      sliced.write.partitionBy("bucket").parquet(vDir.toString)
    else
      sliced.withColumn("sub", subExpr)
        .write.partitionBy("bucket", "sub").parquet(vDir.toString)
    val written: Map[(Int, Int), String] =
      if (!f.exists(vDir)) Map.empty
      else f.listStatus(vDir).toSeq.filter(_.isDirectory)
        .flatMap { st =>
          val bName = st.getPath.getName
          bName.stripPrefix("bucket=").toIntOption.toSeq.flatMap { b =>
            if (subs == 1) Seq((b, 0) -> s"$vName/$bName")
            else f.listStatus(st.getPath).toSeq.filter(_.isDirectory)
              .flatMap(ss => ss.getPath.getName.stripPrefix("sub=").toIntOption
                .map(s => (b, s) -> s"$vName/$bName/${ss.getPath.getName}"))
          }
        }.toMap
    val carried = prevKey.map(entries(f, _)).getOrElse(Map.empty)
      .filterNot { case (bs, _) => dirty.contains(bs) }
    writeManifest(f, key, carried ++ written)
  }

  /** Publish `key` as a pure carry-forward of `prevKey`: its manifest
    * references every one of `prevKey`'s slices and no slice is written —
    * [[commit]] of an empty delta, without a Spark job or a version dir.
    * `prevKey = None` publishes an empty version (a full rewrite to
    * nothing, which stamps the geometry like any full rewrite).
    */
  def carry(f: FileSystem, prevKey: Option[(Long, Long)], key: (Long, Long)): Unit = {
    if (prevKey.isEmpty) writeGeometry(f) else checkGeometry(f)
    writeManifest(f, key, prevKey.map(entries(f, _)).getOrElse(Map.empty))
  }

  /** `buckets:subs` marker — the dir's committed layout, stamped by the
    * first (full-rewrite) commit before any manifest exists. Geometry is
    * fixed for the life of a state dir: the marker is replaced by full
    * rewrites (they re-slice everything) and merely validated by
    * incremental commits. A crash in the marker replace leaves it absent
    * next to committed versions — every incremental commit then refuses
    * until the full rewrite is re-run, loud not silent.
    */
  private def geometryPath = new Path(dir, BucketedStateLog.GeometryFile)

  private def readGeometry(f: FileSystem): Option[String] =
    BucketedStateLog.readMarker(f, geometryPath)

  private[sinks] def writeGeometry(f: FileSystem): Unit = {
    val want = s"$buckets:$subs"
    // skip the replace when the marker already matches: every routine
    // re-seed/retrain/recode at unchanged geometry would otherwise
    // re-open the delete+rename lost-marker window for nothing
    if (readGeometry(f).contains(want)) return
    f.mkdirs(dir)
    val tmp = new Path(dir, "_geometry.tmp")
    val out = f.create(tmp, true)
    try out.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    BucketedStateLog.publishReplace(f, tmp, geometryPath)
  }

  /** Read-side geometry guard, memoized per instance (one marker read
    * for the instance's lifetime): a READER configured with the wrong
    * buckets/subs prunes point reads to the WRONG slices — silently
    * incomplete results, the same corruption class the write-side check
    * refuses. Readers never write the marker (a read must not mutate
    * the state dir). A marker-less dir (empty, or a crashed marker
    * replace) stays unmemoized, so a reader opened before the first seed
    * validates against the marker that seed stamps.
    */
  @volatile private var geomReadChecked = false
  private def checkGeometryRead(f: FileSystem): Unit = {
    if (geomReadChecked) return
    readGeometry(f) match {
      case Some(got) =>
        val want = s"$buckets:$subs"
        if (got != want) throw new IllegalStateException(
          s"state dir $dir was committed under geometry $got (buckets:subs) " +
            s"but this reader is configured $want — point reads would prune " +
            "the wrong slices; open it with the committed geometry")
        // memoize ONLY on a successful match: memoizing on absence would
        // let a reader instantiated before the dir was seeded keep
        // serving unvalidated after another process stamps a different
        // geometry
        geomReadChecked = true
      case None =>
        // lost marker: refuse the PROVABLE mismatch — 'b:s'-encoded
        // manifests are written only by sub-sliced geometries, so a
        // subs=1 instance over them is misconfigured whatever the
        // marker's fate was
        latest(f).foreach { latestKey =>
          if (subs == 1 && manifestHasSubEncoding(f, latestKey))
            throw new IllegalStateException(
              s"state dir $dir holds sub-sliced manifests but this " +
                "reader is configured subs=1 (its _geometry marker is " +
                "missing — a crashed marker replace) — open it with " +
                "the sub-sliced geometry, or re-run the full rewrite " +
                "that was migrating it")
        }
    }
  }

  private def checkGeometry(f: FileSystem): Unit = {
    val want = s"$buckets:$subs"
    readGeometry(f) match {
      case Some(got) => if (got != want) throw new IllegalStateException(
        s"state dir $dir holds versions committed under geometry $got " +
          s"(buckets:subs) but this writer is configured $want — geometry " +
          "is fixed for the life of a state dir; migrate by full rewrite: " +
          "a fingerprinted maintainer's rebuild(), or for parameterless " +
          "ones delete the state dir (keep the lake cursor) so the next " +
          "refresh re-seeds through BASE under the new geometry")
      case None if latest(f).nonEmpty =>
        // the first commit stamps the marker before any manifest exists,
        // so committed versions without it mean a crashed marker replace:
        // the carried refs' geometry is unknown — re-encoding them under
        // this writer's could collide (b,s) keys and silently drop slices
        throw new IllegalStateException(
          s"state dir $dir has committed versions but its _geometry marker " +
            "is missing (a crashed marker replace) — re-run the full " +
            "rewrite (rebuild) that was migrating it, or for parameterless " +
            "maintainers delete the state dir (keep the lake cursor) so the " +
            "next refresh re-seeds through BASE")
      case None => writeGeometry(f)
    }
  }

  /** True when a committed manifest uses the `b:s` sub-sliced key
    * encoding — raw-line detection, deliberately NOT via [[entries]]
    * (parsing normalizes `b:0` and single-level `b` to the same key, which is
    * exactly the distinction a lost-marker check needs).
    */
  private def manifestHasSubEncoding(f: FileSystem, key: (Long, Long)): Boolean = {
    val in = f.open(new Path(commitsDir, ManifestPrefix + nameOf(key)))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    text.split("\n").filter(_.nonEmpty).exists(_.split("\t", 2)(0).contains(":"))
  }

  private def writeManifest(f: FileSystem, key: (Long, Long),
      m: Map[(Int, Int), String]): Unit = {
    f.mkdirs(commitsDir)
    val dst = new Path(commitsDir, ManifestPrefix + nameOf(key))
    val tmp = new Path(commitsDir, ManifestPrefix + nameOf(key) + ".tmp")
    val sb = new StringBuilder
    m.toSeq.sortBy(_._1).foreach { case ((b, s), rel) =>
      // subs == 1 writes the single-level encoding
      sb.append(if (subs == 1) s"$b" else s"$b:$s")
        .append('\t').append(rel).append('\n')
    }
    val out = f.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Overwrite (delete+rename) happens ONLY on a rebuild's in-place
    // recommit of an existing version; a crash between the delete and
    // the rename loses the manifest, which the rebuild protocol makes
    // LOUD, not silent: the in-progress fingerprint marker written
    // before this refuses every reader/refresher until a re-run
    // completes, and rebuild itself falls back to the cursor's applied
    // interval when the latest version vanished. (FileContext's
    // "atomic" OVERWRITE rename is delete-then-rename on file:// too,
    // and throws on stores with no AbstractFileSystem binding — it
    // would buy portability problems, not atomicity.)
    BucketedStateLog.publishReplace(f, tmp, dst)
  }

  /** Modification time of one committed version's manifest — the cheap
    * cross-process freshness token the skew-gauge memo keys on: an
    * in-place rebuild recommit rewrites the manifest under the SAME
    * version key, bumping this. -1 when the manifest vanished (gc
    * race), which also forces a recompute.
    */
  def manifestMtime(f: FileSystem, key: (Long, Long)): Long =
    try f.getFileStatus(
      new Path(commitsDir, ManifestPrefix + nameOf(key))).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }

  /** (max, median) bytes across one committed version's non-empty bucket
    * slices — driver-side listings only (one listStatus per referenced
    * slice dir): the ops-visible SKEW gauge that makes a hot bucket (a
    * stop term's posting list, a skewed hash family) visible on the
    * dashboard before it becomes a read stall. (0, 0) when the version
    * references no slices; a slice racing gc is dropped from the sample
    * (a zero sentinel would deflate the median for that scrape).
    */
  def bucketSizeStats(f: FileSystem, key: (Long, Long)): (Long, Long) = {
    // the manifest itself can vanish under a rebuild's in-place recommit
    // (the same window manifestMtime tolerates) — a metrics scrape must
    // degrade to (0, 0), never crash the ops endpoint
    val refs =
      try entries(f, key).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    // PER-BUCKET sizes (sub-slices of one bucket sum together): the gauge
    // answers "how hot is the hottest bucket", which is the read/rewrite
    // unit point lookups and un-sub-sliced refreshes pay
    val sizes = refs.groupBy(_._1._1).values.toSeq.flatMap { slices =>
      val parts = slices.flatMap { case (_, rel) =>
        // a slice racing gc is DROPPED from the sample, not counted as
        // 0 — a zero sentinel would deflate the median and inflate
        // apparent skew for that scrape
        try Some(f.listStatus(new Path(dir, rel)).filter(_.isFile)
          .map(_.getLen).sum)
        catch { case _: java.io.FileNotFoundException => None }
      }
      if (parts.size == slices.size) Some(parts.sum) else None
    }.sorted
    // LOWER median for even samples: the upper element would bias p50
    // toward max at small bucket counts (2 buckets of 1 MB and 100 MB
    // would read max == p50 — exactly the skew the gauge exists to show)
    if (sizes.isEmpty) (0L, 0L) else (sizes.last, sizes((sizes.size - 1) / 2))
  }

  /** Drop versions strictly inside the replay horizon except the maximal
    * one (the replay-prev), then sweep every slice directory no retained
    * manifest references — including crashed-commit orphans.
    */
  def gcWithin(f: FileSystem, from: (Long, Long)): Unit = {
    val all = committed(f)
    val within = all.filter { case (n, p) => n >= from._1 && p <= from._2 }
    val drop = within.dropRight(1).toSet
    drop.foreach { k =>
      f.delete(new Path(commitsDir, ManifestPrefix + nameOf(k)), false)
    }
    // crashed-commit debris: a writeManifest that died between create(tmp)
    // and rename leaves a .tmp that would otherwise accumulate forever
    if (f.exists(commitsDir))
      f.listStatus(commitsDir).toSeq
        .filter(st => st.getPath.getName.startsWith(ManifestPrefix) &&
          st.getPath.getName.endsWith(".tmp"))
        .foreach(st => f.delete(st.getPath, false))
    val keepRefs = (all.filterNot(drop.contains))
      .flatMap(k => entries(f, k).values).toSet
    if (!f.exists(dir)) return
    f.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .foreach { vd =>
        val slices = f.listStatus(vd.getPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        var kept = false
        slices.foreach { s =>
          // the reference unit is the bucket dir (subs = 1) or each
          // sub dir within it — detected from LAYOUT, not this
          // instance's geometry, so a gc sweeping mixed-era debris
          // (crashed writes from before/after a rebuild-migration)
          // deletes at the granularity each dir was actually written.
          // A bucket-level-referenced dir was written by a subs=1
          // commit and holds no sub dirs — short-circuit before the
          // per-dir listing (one LIST per slice per gc on an object
          // store is real money at subs=1, every existing deployment)
          if (keepRefs.contains(s"${vd.getPath.getName}/${s.getPath.getName}")) {
            kept = true
          } else {
          val subDirs = f.listStatus(s.getPath).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("sub="))
          if (subDirs.isEmpty) {
            // bucket-level ref already known absent (the short-circuit
            // above) and no sub units inside — pure debris
            f.delete(s.getPath, true)
          } else {
            var keptSub = false
            subDirs.foreach { ss =>
              val rel = s"${vd.getPath.getName}/${s.getPath.getName}/" +
                ss.getPath.getName
              if (!keepRefs.contains(rel)) f.delete(ss.getPath, true)
              else keptSub = true
            }
            if (!keptSub) f.delete(s.getPath, true) else kept = true
          }
          }
        }
        // with no kept slices, everything left in the version dir is
        // debris — including a crashed write's _temporary/ staging dir
        // (a killed tagged rebuild never retries the same dir name, so
        // a subdirectory-presence guard would leak it forever). The
        // GRACE PERIOD below is BEST-EFFORT courtesy only — it defers
        // the dir sweep while staging subdirectories are fresh, but a
        // gc racing a live writer can still delete just-published
        // unreferenced slices (the loop above), and deep-tree writes do
        // not refresh a top-level _temporary's mtime on every store.
        // The actual safety contract is unchanged: one writer per state
        // dir (refresh loop quiesced during rebuild), same as every
        // maintainer operation here.
        if (!kept) {
          val rest = f.listStatus(vd.getPath).toSeq.filter(_.isDirectory)
          val cutoff = System.currentTimeMillis - BucketedStateLog.stagingGraceMs
          if (rest.isEmpty || rest.forall(_.getModificationTime < cutoff)) {
            // a NON-empty sweep is worth a line: under the single-writer
            // contract these are crashed-write leftovers, but an operator
            // seeing this fire while a >grace-period write was live has
            // just learned the contract was violated
            if (rest.nonEmpty)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                "gc sweeping unreferenced version dir {} with {} aged " +
                  "staging subdir(s) older than {} ms — expected only for " +
                  "crashed writes; a live >grace-period writer to this " +
                  "state dir would violate the single-writer contract " +
                  "(grace is tunable via -Dgraft.staging.grace.ms)",
                vd.getPath, rest.size.toString,
                BucketedStateLog.stagingGraceMs.toString)
            f.delete(vd.getPath, true)
          }
        }
      }
  }
}

private[sinks] object BucketedStateLog {
  /** How old an unreferenced version dir's leftover subdirectories (e.g.
    * a parquet write's `_temporary/`) must be before [[BucketedStateLog
    * .gcWithin]] sweeps the dir: young staging dirs may belong to a LIVE
    * write racing the gc; crashed ones age past this and get collected.
    * Tunable per deployment (`-Dgraft.staging.grace.ms=...`) — raise it
    * where a legitimate single commit/rebuild write can exceed an hour;
    * the sweep logs when it collects a non-empty dir either way.
    */
  val StagingGraceMs: Long = 60L * 60 * 1000

  // Parsed ONCE per JVM (the knob is a launch-time -D property): any
  // present-but-invalid value — unparseable ("2h") or non-positive
  // (grace 0 would let gc delete a LIVE write's staging dirs, the exact
  // hazard the window exists to prevent) — is rejected with ONE warning,
  // not honored and not silently swallowed per gc sweep.
  private[sinks] lazy val stagingGraceMs: Long =
    sys.props.get("graft.staging.grace.ms") match {
      case Some(raw) => raw.toLongOption.filter(_ > 0).getOrElse {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "ignoring graft.staging.grace.ms='{}' (must be a positive " +
            "long of milliseconds — a zero grace would let gc sweep a " +
            "live write's staging dirs); using the default {} ms",
          raw, StagingGraceMs.toString)
        StagingGraceMs
      }
      case None => StagingGraceMs
    }

  /** Publish `tmp` at `dst` (replacing any existing file), THROWING when
    * rename reports failure by RETURNING FALSE — Hadoop signals several
    * failure modes that way, and silently continuing after the delete
    * would lose the published file (manifest / cursor / fingerprint)
    * with no error. The shared checked primitive for every small-file
    * publish site in the sink layer. The delete+rename crash window
    * (neither file present) remains; each call site's protocol makes it
    * loud or recoverable — see the writeManifest comment.
    */
  def publishReplace(f: FileSystem, tmp: Path, dst: Path): Unit = {
    if (f.exists(dst)) f.delete(dst, false)
    publishFresh(f, tmp, dst)
  }

  /** Checked rename to a destination that must NOT exist — the strictly
    * safer variant for generation-filed publishes ([[graft.sinks
    * .MaintainedDistinct]]'s fingerprint): no delete precedes the rename,
    * so there is never a window with no file present, and two racing
    * writers cannot delete each other's just-published generation — the
    * loser's rename onto the existing name fails LOUDLY instead.
    */
  def publishFresh(f: FileSystem, tmp: Path, dst: Path): Unit =
    if (!f.rename(tmp, dst))
      throw new IllegalStateException(
        s"failed to publish $dst (rename returned false); " +
          "the temp file and any existing versions are left in place — " +
          "safe to re-run")

  /** The ONE marker-stamp stanza every small type/model/producer marker
    * shares: a WRITER-UNIQUE tmp (a shared tmp name lets a racing writer
    * truncate/replace the bytes another is mid-renaming), the chosen
    * publish mode (`fresh` refuses an existing destination but swallows
    * only the destination-exists loss — a rename failing with NO marker
    * published rethrows verbatim; non-fresh replaces), an UNCONDITIONAL
    * read-back (whatever rename semantics the store has, the caller
    * proceeds only if the marker that actually LANDED carries the
    * content it compares `got` against), and a sweep of this marker's
    * crashed-writer tmp debris. Returns the landed content — callers
    * raise their own domain-named mismatch errors.
    */
  def stampMarker(f: FileSystem, dir: Path, markerName: String,
      content: String, fresh: Boolean): String = {
    f.mkdirs(dir)
    val marker = new Path(dir, markerName)
    val tmp = new Path(dir, s"$markerName.${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fresh)
      try publishFresh(f, tmp, marker)
      catch {
        case e: IllegalStateException =>
          f.delete(tmp, false)
          if (!f.exists(marker)) throw e
      }
    else publishReplace(f, tmp, marker)
    val in = f.open(marker)
    val got =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    sweepMarkerTmps(f, dir, markerName)
    got
  }

  /** The bucket count of the state dir `dir`, from its `_geometry`
    * marker; None while no full rewrite has stamped one.
    */
  def bucketsOf(f: FileSystem, dir: Path): Option[Int] =
    readMarker(f, new Path(dir, GeometryFile)).flatMap(_.split(":")(0).toIntOption)

  private val GeometryFile = "_geometry"

  /** A small marker file's trimmed UTF-8 content; None when absent. */
  def readMarker(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }

  /** A state dir's fixed-for-life marker (a model, a join type): the one
    * validation protocol over [[stampMarker]], memoized per instance once
    * it has passed. A dir with committed versions must carry the
    * `expected` marker; a mismatched one refuses with `mismatch(stored)`
    * and a missing one with `unmarked`. A WRITER stamps a missing marker,
    * and may re-stamp a mismatched one while no version is committed (a
    * refresh over an empty lake stamps before any span applies, and the
    * wrong construction must not burn the name forever). A matching
    * writer open sweeps crashed-writer tmp debris. A reader over an
    * unstamped empty dir validates nothing; the next refresh stamps.
    */
  final class Marker(dir: Path, markerName: String, expected: String,
      mismatch: String => String, unmarked: => String) {
    @volatile private var checked = false

    def check(f: FileSystem, writer: Boolean, committed: => Boolean): Unit = {
      if (checked) return
      val existing = readMarker(f, new Path(dir, markerName))
      // the read-back names whatever actually landed: two concurrent first
      // writers are a single-writer-contract violation, and the loser
      // refuses loudly in all but the validate-then-overwritten interleaving
      def stamp(fresh: Boolean): Unit = {
        val got = stampMarker(f, dir, markerName, expected, fresh)
        if (got != expected) throw new IllegalStateException(mismatch(got))
      }
      existing match {
        case Some(m) if m != expected =>
          if (writer && !committed) stamp(fresh = false)
          else throw new IllegalStateException(mismatch(m))
        case Some(_) => if (writer) sweepMarkerTmps(f, dir, markerName)
        case None if committed => throw new IllegalStateException(unmarked)
        case None if writer => stamp(fresh = true)
        case None => return
      }
      checked = true
    }
  }

  /** Delete a marker's crashed-writer `<markerName>.<uuid>.tmp` debris —
    * shared by [[stampMarker]] and the no-stamp validation paths.
    */
  def sweepMarkerTmps(f: FileSystem, dir: Path, markerName: String): Unit =
    if (f.exists(dir))
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(markerName + ".") && n.endsWith(".tmp"))
          f.delete(st.getPath, false)
      }
}
