package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IncrementalDistinct

/** A continuously-maintained per-group `count(DISTINCT value)` over one
  * lake table — [[MaintainedView]]'s composition applied to
  * [[IncrementalDistinct]]'s refcount state. Dashboards over CDC lakes
  * routinely need distinct counts (active users per segment, distinct
  * SKUs per warehouse), which the scalar count/sum/min/max state of
  * [[graft.operators.IncrementalAgg]] cannot maintain under retraction;
  * this maintainer keeps the per-(group, value) refcounts durable and
  * serves the distinct count group-cardinality at read time.
  *
  * Same persistence story as the other maintainers: refcount rows live
  * in a [[BucketedStateLog]] hash-bucketed on the GROUP key under a
  * versioned manifest, a refresh reads and rewrites only the buckets
  * whose groups the span's delta touched, and the crash protocol is the
  * shared one of [[SpanRefresh]]. Refcounts need no
  * dirty-group recompute (the merge is exact arithmetic), so the only
  * full-rebuild triggers are `truncate` and the SEED refresh (the first
  * span after a compacted lake holds groups only in BASE, so the seed
  * recomputes from `stateAsOf` like [[MaintainedView]]'s).
  *
  * Compose with a [[MaintainedView]] over the same table for a combined
  * dashboard frame: both advance independent named cursors on the same
  * committed batches, so their reads agree at every shared boundary.
  *
  * Prerequisite (same as [[IncrementalDistinct]]): tables with
  * updates/deletes need REPLICA IDENTITY FULL so retractions carry the
  * counted value.
  */
final class MaintainedDistinct(
    lake: LakeSink, dist: IncrementalDistinct,
    schemaName: String, table: String, name: String,
    stateBuckets: Int = 16,
    /** Envelope→envelope pre-transform applied before the refcount delta
      * (and, wrapped as an insert-envelope, before seed/truncate
      * recomputes): the seam derived-state maintainers ride — e.g.
      * [[MaintainedLshIndex]] explodes each document event into one row
      * per LSH band with images reduced to {id, band, sig}. Must be
      * DETERMINISTIC per image (a retraction recomputes the same derived
      * rows its insert produced) and must preserve the op/before/after
      * envelope shape. Identity for plain distinct counts.
      */
    transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity,
    /** Parameter/model fingerprint of the `transform` (e.g. an IVF
      * index's centroid hash, an LSH index's bands/shingleN/seed
      * family). Persisted beside the state manifest at first refresh;
      * a later open whose fingerprint differs REFUSES to serve or
      * advance the state — without the guard, new events would post
      * under the new model while existing state rows sit under the old,
      * silently mixing two assignment families in one index (lookups
      * miss documents with no error until the first retraction of an
      * old row trips the refcount check). [[rebuild]] is the prescribed
      * migration: a full seed-style recompute that adopts the new
      * fingerprint. `None` (plain distinct counts, parameterless
      * transforms) skips the guard entirely.
      */
    fingerprint: Option[String] = None,
    /** Sub-slices per bucket (see [[BucketedStateLog]]'s SUB-SLICING):
      * splits each bucket's rows by a second hash over the VALUE column,
      * so a refresh touching a HOT GROUP (a stop term's posting list, a
      * dense IVF cell) reads and rewrites only the dirty ~1/subBuckets
      * of its bucket instead of the whole corpus-sized bucket.
      * Bucket-level point reads are unchanged. Geometry is fixed for the
      * life of the state dir, like `stateBuckets` — fingerprinted
      * maintainers encode it (mismatched opens refuse, `rebuild`
      * migrates); 1 = the pre-sub layout, byte-identical.
      */
    subBuckets: Int = 1) extends Maintainer {

  private val stateDir = new Path(lake.root, s"_graft_views/$name")
  private val states = new BucketedStateLog(stateDir, stateBuckets,
    dist.groupCols, subBuckets, Seq("v"))

  override def stateId: String = s"${lake.root}#${loop.cursorName}"
  // ((version key, manifest mtime), (max, p50) slice bytes) of the last
  // skew-gauge scrape — the mtime token invalidates across processes
  // and in-place rebuild recommits alike
  @volatile private var skewMemo:
    Option[(((Long, Long), Long), (Long, Long))] = None

  // The fingerprint is GENERATION-FILED, never overwritten in place:
  // `_fingerprint` is generation 0, updates write `_fingerprint.g<n+1>`
  // via tmp + rename-to-a-fresh-name (the destination never exists, so
  // no delete-then-rename window where NO fingerprint is present — a
  // vanished fingerprint would let the next opener silently adopt its
  // own params over foreign-model state). Readers take the highest
  // generation; older generations are best-effort-deleted only AFTER
  // the new one is in place (a crash leaves both, newest wins).
  private def fpGenPath(n: Long) =
    new Path(stateDir, if (n == 0) "_fingerprint" else s"_fingerprint.g$n")

  private def fpNames(f: org.apache.hadoop.fs.FileSystem): Seq[String] =
    if (!f.exists(stateDir)) Seq.empty
    else f.listStatus(stateDir).toSeq.map(_.getPath.getName)

  private def fpGens(names: Seq[String]): Seq[Long] = names.collect {
    case "_fingerprint" => 0L
    case n if n.startsWith("_fingerprint.g") =>
      n.stripPrefix("_fingerprint.g").toLongOption.getOrElse(-1L)
  }.filter(_ >= 0).sorted

  private def fpGenerations(f: org.apache.hadoop.fs.FileSystem): Seq[Long] =
    fpGens(fpNames(f))

  private def readFp(f: org.apache.hadoop.fs.FileSystem): Option[String] = {
    // tolerate the cross-process race where a concurrent writeFp deletes
    // the generation we listed between our list and open — re-list and
    // read the newer one (same tolerant-retry shape as readSmallFile)
    @annotation.tailrec
    def attempt(retries: Int): Option[String] =
      fpGenerations(f).lastOption match {
        case None => None
        case Some(n) =>
          val read =
            try {
              val in = f.open(fpGenPath(n))
              try Some(new String(in.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8))
              finally in.close()
            } catch {
              case _: java.io.FileNotFoundException if retries > 0 => None
            }
          read match {
            case Some(s) => Some(s)
            case None => attempt(retries - 1)
          }
      }
    attempt(3)
  }

  private def writeFp(f: org.apache.hadoop.fs.FileSystem, fp: String): Unit = {
    f.mkdirs(stateDir)
    val names = fpNames(f) // ONE listing serves generations and tmp sweep
    val gens = fpGens(names)
    val next = gens.lastOption.getOrElse(-1L) + 1
    val tmp = new Path(stateDir, s"_fingerprint.g$next.tmp")
    // sweep tmp debris from crashed prior writes (fresh generation names
    // mean a crashed tmp is never reused, so it would accumulate forever)
    names.filter(n => n.startsWith("_fingerprint.") && n.endsWith(".tmp") &&
        n != tmp.getName)
      .foreach(n => f.delete(new Path(stateDir, n), false))
    val out = f.create(tmp, true)
    try out.write(fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FRESH-destination checked publish (no delete precedes the rename):
    // a silently failed rename followed by the deletes below would leave
    // NO fingerprint — the next opener would adopt its own params over
    // foreign-model state; and a racing writer that computed the same
    // generation number fails loudly instead of deleting ours
    BucketedStateLog.publishFresh(f, tmp, fpGenPath(next))
    gens.foreach(n => f.delete(fpGenPath(n), false)) // superseded
  }

  /** Refuse a mismatched open. `adoptIfAbsent` (the refresh path) writes
    * the fingerprint on FIRST contact — and only on a genuinely fresh
    * state dir (no committed versions): a committed-but-fingerprintless
    * dir (its guard file removed) was built under UNKNOWN parameters, and
    * silently stamping the current instance's fingerprint over it would
    * be exactly the mixed-assignment-family corruption the guard exists
    * to refuse (an opener with CHANGED bands/centroids would bless
    * old-model state as its own). Read paths leave an absent file absent
    * (they must not write).
    */
  private def checkFp(f: org.apache.hadoop.fs.FileSystem,
      adoptIfAbsent: Boolean): Unit = fingerprint.foreach { fp =>
    readFp(f) match {
      case Some(stored) if stored != fp =>
        throw new IllegalStateException(
          s"maintained state '$name' was built under different parameters " +
            s"(stored fingerprint: $stored; this instance: $fp) — serving " +
            "or advancing it would silently mix two assignment families " +
            "in one index (new rows posted under the new model, existing " +
            "state under the old: point lookups silently miss documents). " +
            "Rebuild under the new parameters with rebuild(spark) — a " +
            "full seed-style recompute that adopts the new fingerprint — " +
            "or construct with the original parameters.")
      case Some(_) => ()
      case None =>
        if (states.latest(f).nonEmpty)
          throw new IllegalStateException(
            s"maintained state '$name' has committed versions but no " +
              "parameter fingerprint (the guard file was removed), so the " +
              "parameters it was built under are unknown. Adopting this " +
              s"instance's fingerprint ($fp) silently could bless " +
              "foreign-model state — rebuild(spark), a full recompute " +
              "under this instance's parameters.")
        else if (adoptIfAbsent) writeFp(f, fp)
    }
  }

  private def stateSchema(spark: SparkSession) = dist.init(spark).schema

  private val loop = new OneLogRefresh(lake, "distinct", "view", name, states) {
    private val isTable = col("schema") === schemaName && col("table") === table

    protected def onTable: Column = isTable

    override protected def beforePoll(spark: SparkSession, f: FileSystem): Unit =
      checkFp(f, adoptIfAbsent = true)

    // re-check per span, right before any commit: narrows (cannot fully
    // close — the maintainer contract is single-writer per cursor, like
    // every refresh here) the window where a refresh that passed the
    // entry check races a concurrent rebuild's fingerprint adoption and
    // merges old-model deltas into the rebuilt state
    override protected def beforeSpan(f: FileSystem): Unit =
      checkFp(f, adoptIfAbsent = false)

    // the transform sees the current rows as an insert-envelope so one
    // transform covers both the delta and the recompute paths
    protected def seed(span: RefreshSpan, work: Unit): Unit =
      states.commit(span.f, dist.recomputeAll(currentAsOf(span.spark, span.key)),
        (0 until stateBuckets).toSet, None, span.key)

    protected def delta(span: RefreshSpan, work: Unit): Unit = {
      val spark = span.spark
      // LAZY: the per-slice planning collect right below is the
      // materializing action (eager spent a dedicated job)
      val d = dist.delta(transform(span.frame.filter(isTable)))
        .localCheckpoint(eager = false)
      // bounded planning pull: ≤ stateBuckets × subBuckets rows —
      // per-(bucket, sub) counts give the dirty slice set AND the
      // delta's (group, value) cardinality (the dirty-keys gauge) in one
      // job. The delta's v column routes through the SAME subExpr the
      // state write uses, so a (group, value) row's slice agrees on both
      // sides by construction.
      val perSlice = d
        .groupBy(states.bucketExpr(dist.groupCols.map(col)).as("b"),
          states.subExpr.as("s"))
        .count().collect()
      val dirty = perSlice.map(r => (r.getInt(0), r.getInt(1))).toSet
      val deltaPairs = perSlice.map(_.getLong(2)).sum
      if (dirty.isEmpty) {
        span.carryForward(states)
        span.record(0, 0, stateBuckets)
      } else {
        // merge input = the DIRTY slices only: a hot bucket's clean
        // sub-slices neither feed the merge nor get rewritten
        val prevTouched =
          states.readSlices(spark, span.prevKey.get, dirty, stateSchema(spark))
        states.commitSlices(span.f, dist.stepMerge(prevTouched, d), dirty,
          span.prevKey, span.key)
        // SLICE counts, not bucket counts: at subBuckets = 1 they
        // coincide; above it the rewritten/carried series shows the
        // sub-slice economics the feature delivers — a whole-bucket
        // count would hide the very reduction these gauges exist to
        // surface
        span.record(deltaPairs, dirty.size, stateBuckets * subBuckets - dirty.size)
      }
    }
  }

  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = loop.refresh(spark, within)

  /** Full recompute of the state from the source table as of the applied
    * interval, committed as a full rewrite under the SAME version key,
    * ADOPTING the configured fingerprint — the prescribed migration after
    * changing the transform's parameters/model (retrained IVF centroids,
    * changed LSH bands) over an existing state dir. Cost is one
    * seed-style fold of the table — the same work the first refresh did —
    * and the cursor is untouched, so subsequent refreshes continue
    * incrementally under the new parameters.
    *
    * Run it with the maintainer's refresh loop QUIESCED — the same
    * single-writer-per-cursor assumption every refresh already carries: a
    * refresh in flight in another process when the rebuild starts could
    * commit an old-model span after the new fingerprint is adopted (the
    * per-span re-check narrows but cannot close that window without
    * filesystem-level locking).
    */
  def rebuild(spark: SparkSession,
      /** Companion-state migration executed INSIDE the fingerprint-marker
        * window (after the marker is written, before the new fingerprint
        * is adopted): a composite index whose derived state spans several
        * maintainers ([[MaintainedBm25Index]]'s corpus-stats view) hooks
        * its other halves here, so a crash anywhere in the composite
        * migration still leaves every instance refusing loudly and the
        * whole rebuild re-runnable.
        */
      alsoRebuild: SparkSession => Unit = _ => ()): Unit = {
    // Parameterless maintainers have nothing to migrate — and no
    // fingerprint marker to make a crashed in-place recommit refuse
    // loudly, so allowing rebuild for them would trade a non-existent
    // need for a silent manifest-loss window.
    require(fingerprint.nonEmpty,
      s"rebuild('$name') is the parameter-migration path; this maintainer " +
        "has no parameter fingerprint — its state follows the changelog " +
        "and has nothing to migrate")
    val f = states.fs(spark)
    val target = loop.rebuildTarget(spark, f)
    target match {
      case None => fingerprint.foreach(writeFp(f, _))
      case Some(key) =>
        // Two-phase fingerprint: the in-progress marker matches NEITHER
        // the old nor the new params, so a crash anywhere inside the
        // rebuild leaves EVERY instance refusing loudly (and this method
        // re-runnable) — adopting before the commit would let the new
        // family advance old-model state after a crash; adopting only
        // after (the naive order) would let the OLD family advance
        // new-model state.
        fingerprint.foreach(fp => writeFp(f, s"rebuilding->$fp"))
        alsoRebuild(spark) // companion states migrate inside the marker
        // The recompute commits under a UNIQUELY-TAGGED slice directory:
        // the live version's referenced slices are never deleted out
        // from under its manifest (readers keep working mid-rebuild),
        // the manifest replace is the atomic cut-over, and a crashed
        // half-written tagged directory is unreferenced debris the next
        // gc sweeps.
        states.commit(f, dist.recomputeAll(currentAsOf(spark, key)),
          (0 until stateBuckets).toSet, None, key,
          dirTag = s".r${java.lang.Long.toHexString(System.nanoTime)}")
        fingerprint.foreach(writeFp(f, _))
    }
  }

  /** The table's image rows as of the applied interval `key`, wrapped as
    * an insert-envelope through `transform` — the recompute source the
    * seed/truncate/[[rebuild]] paths share (pinned to exactly the applied
    * interval: same tear-avoidance as MaintainedView.refresh).
    */
  private def currentAsOf(spark: SparkSession, key: (Long, Long),
      srcFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val cur0 = lake.stateAsOf(spark, schemaName, table, key._2, key._1)
      .select(col("after"))
    val cur = srcFilter.fold(cur0)(cur0.filter)
    transform(cur.select(
      lit("insert").as("op"),
      lit(null).cast(cur.schema("after").dataType).as("before"),
      col("after"))).select(col("after"))
  }

  /** The current view: group columns plus `nd_<measure>` — group
    * cardinality, no fold, no scan of the table.
    */
  def read(spark: SparkSession): DataFrame = {
    val f = states.fs(spark)
    checkFp(f, adoptIfAbsent = false)
    states.latest(f) match {
      case Some(k) => dist.view(states.read(spark, k, stateSchema(spark)))
      case None => dist.view(dist.init(spark))
    }
  }

  /** The raw refcount state rows (group cols, `v`, `rc`) of the latest
    * committed version — the seam derived readers build on
    * ([[MaintainedLshIndex.candidatePairs]] pairs doc ids within a
    * bucket's rows).
    */
  private[sinks] def entries(spark: SparkSession): DataFrame =
    entriesAt(spark, latestKey(spark))

  /** The latest committed state version key (the applied interval), or
    * None before the first refresh. Multi-read operations (a candidate
    * lookup plus the corpus fetch that verifies it) resolve this ONCE and
    * thread it through `*At` reads — re-resolving per read would let a
    * refresh committing in between serve candidates from one interval
    * and payloads from another.
    */
  private[sinks] def latestKey(spark: SparkSession): Option[(Long, Long)] = {
    val f = states.fs(spark)
    checkFp(f, adoptIfAbsent = false)
    states.latest(f)
  }

  /** [[entries]] pinned to an explicit version key from [[latestKey]]. */
  private[sinks] def entriesAt(spark: SparkSession,
      key: Option[(Long, Long)]): DataFrame = key match {
    case Some(k) => states.read(spark, k, stateSchema(spark))
    case None => dist.init(spark)
  }

  /** [[entriesAt]] restricted to a bucket subset — probe readers plan
    * their keys' buckets in the engine ([[BucketedStateLog.bucketExpr]]
    * over the probe frame, a bounded distinct pull) and never scan the
    * state.
    */
  private[sinks] def entriesBucketsAt(spark: SparkSession,
      key: Option[(Long, Long)], only: Set[Int]): DataFrame = key match {
    case Some(k) => states.readBuckets(spark, k, Some(only), stateSchema(spark))
    case None => dist.init(spark)
  }

  /** The state log's bucket geometry, for probe readers' bucket
    * planning ([[BucketedStateLog.bucketExpr]]).
    */
  private[sinks] def stateLog: BucketedStateLog = states

  /** FAIL-LOUD maintenance-equivalence check: the maintained state must
    * equal a seed-style recompute of the source as of the applied
    * interval, row for row. Intended for gated query builds
    * ([[graft.operators.LakeQueries]] runs it on the maintained LSH
    * index, whose xxhash64 signatures have no cross-engine oracle) so
    * incremental drift turns the DRIVER's oracle red, not just a spec.
    * Cost is one recompute fold plus two anti-joins — call it where a
    * correctness gate justifies the work, not per refresh.
    */
  def verifyAgainstRebuild(spark: SparkSession,
      /** Optional DETERMINISTIC sample restriction, built FROM the
        * version key being verified (so a residue derived from the key
        * can never race a refresh committing between key resolution and
        * the check): returns a pair of predicates selecting the SAME
        * documents on both sides — the first over the recompute
        * source's `after` image (applied BEFORE the transform — the
        * recompute then derives/tokenizes only the sampled docs, which
        * is where the cost lives), the second over the state rows'
        * counted value `v`. Sound when the transform derives each doc's
        * state rows from that doc alone (true for every index in the
        * family — signatures, cells, and postings are per-document
        * functions) and the two predicates agree (e.g. both hash the
        * doc id). Drift OUTSIDE the sample escapes this check by
        * construction — pair a sampled in-build gate with full-state
        * oracle columns, as q_mv does.
        */
      restrictFor: ((Long, Long)) => Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)] = _ => None): Long = {
    val f = states.fs(spark)
    checkFp(f, adoptIfAbsent = false)
    states.latest(f).map { key =>
      val restrict = restrictFor(key)
      // LAZY: both exceptAll branches below run in ONE action — the first
      // task to need a partition computes and caches it (the checkpoint's
      // MEMORY_AND_DISK level registers at mark time), the other reads;
      // the eager form spent a dedicated whole-recompute job first
      val want = dist.recomputeAll(
        currentAsOf(spark, key, restrict.map(_._1))).localCheckpoint(eager = false)
      val got0 = states.read(spark, key, stateSchema(spark))
      val got = restrict.fold(got0)(r => got0.filter(r._2))
      // both directions of the symmetric difference in ONE action,
      // with the compared-row count riding along (the caller's
      // non-vacuity check — a sampled gate that compared zero rows
      // proves nothing)
      val counted = got.select(lit("compared").as("side"))
        .unionAll(got.exceptAll(want).select(lit("extra").as("side")))
        .unionAll(want.exceptAll(got).select(lit("missing").as("side")))
        .groupBy("side").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val diff = counted - "compared"
      if (diff.nonEmpty)
        throw new IllegalStateException(
          s"maintained state '$name' diverged from a from-scratch " +
            s"recompute of interval $key: ${diff.getOrElse("extra", 0L)} " +
            s"extra and ${diff.getOrElse("missing", 0L)} missing state " +
            "rows — incremental maintenance drifted")
      counted.getOrElse("compared", 0L)
    }.getOrElse(0L)
  }

  /** The source table's image rows (`after` map column) AS OF the given
    * state version key (from [[latestKey]] — the SAME key the caller's
    * candidate read used, so the fetch cannot tear against a refresh
    * committing in between), optionally restricted to a set of
    * replica-identity keys (a single-column `k` frame) — the seam the
    * index verification reads use to fetch candidate documents' payloads:
    * the restricted fold reads only those keys' bucket slices of the lake
    * ([[LakeSink.stateAsOf]] `restrictToKeys`), churn-proportional, never
    * a table scan. Empty for `None` (before the first refresh).
    */
  private[sinks] def corpusAsOf(spark: SparkSession,
      key: Option[(Long, Long)],
      restrictToKeys: Option[DataFrame] = None): DataFrame = key match {
    case Some(k) =>
      lake.stateAsOf(spark, schemaName, table, k._2, k._1, restrictToKeys)
        .select(col("after"))
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("after",
            graft.cdc.ChangeEvent.schema("after").dataType))))
  }

  /** Top-k most frequent values per group, served from the SAME refcount
    * state — exact under retraction (see [[IncrementalDistinct.viewTopK]]).
    */
  def readTopK(spark: SparkSession, k: Int): DataFrame = {
    val f = states.fs(spark)
    checkFp(f, adoptIfAbsent = false)
    states.latest(f) match {
      case Some(key) => dist.viewTopK(states.read(spark, key, stateSchema(spark)), k)
      case None => dist.viewTopK(dist.init(spark), k)
    }
  }

  /** Ops gauges for the `graft_lake_*` family — same shape as
    * [[MaintainedView.gauges]]. Driver-side metadata listings only.
    */
  def gauges(spark: SparkSession): Seq[(String, Double)] =
    loop.gauges(spark) { asOf =>
      val f = states.fs(spark)
      // bucket-size skew: max vs median slice bytes of the served version
      // — a hot bucket (stop-term posting list, skewed hash) shows up
      // here long before it becomes a read stall. Memoized on (version
      // key, manifest mtime): steady-state scrapes cost ONE
      // getFileStatus instead of a listing per slice, while a rebuild's
      // in-place recommit (same key, rewritten manifest) invalidates the
      // memo in EVERY process at its next scrape — at most one in-flight
      // scrape can store numbers raced by a recommit, and the mtime
      // mismatch flushes them on the scrape after.
      val (mx, p50) = asOf.map { k =>
        val token = (k, states.manifestMtime(f, k))
        skewMemo match {
          case Some((`token`, cached)) if token._2 != -1L => cached
          case _ =>
            val s = states.bucketSizeStats(f, k)
            // a vanished manifest (mtime -1, gc/recommit race) is NOT
            // memoized — storing (key, -1) would serve the raced numbers
            // for as long as the manifest stays missing, instead of the
            // recompute the race rule promises
            if (token._2 != -1L) skewMemo = Some((token, s))
            s
        }
      }.getOrElse((0L, 0L))
      // labeled (name-stable) so ONE dashboard panel plots every
      // distinct-state maintainer's skew without knowing its name
      Seq(loop.ops.labeled("bucket_max_bytes", mx.toDouble),
        loop.ops.labeled("bucket_p50_bytes", p50.toDouble))
    }
}
