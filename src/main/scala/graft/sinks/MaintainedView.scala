package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg

/** A continuously-maintained aggregate VIEW over one lake table — the
  * composition of the lake's pull API with incremental view maintenance:
  * [[refresh]] polls every newly committed changelog batch through the
  * lake's durable named cursor, advances an [[IncrementalAgg]] state by
  * ONE delta step over the whole polled span (signed deltas telescope
  * across consecutive updates of a key, so a span is as good as a batch),
  * and persists the new state next to the lake data. Downstream dashboards
  * read [[read]] — group-cardinality parquet — instead of refolding the
  * table.
  *
  * State persistence is CHURN-PROPORTIONAL, like [[MaintainedJoin]]'s:
  * rows live in a [[BucketedStateLog]] hash-bucketed on the group key,
  * and a refresh reads and rewrites only the buckets containing groups
  * the span's delta touched — every other bucket carries into the new
  * version by manifest reference. The merge itself is bucket-restricted
  * too: [[IncrementalAgg.stepMerge]] runs over the touched buckets' rows
  * against the precomputed delta, so a refresh over a billion-group view
  * with one churned group reads ~1/buckets of the state, not the state.
  *
  * Consistency: the dirty-group recompute source is `stateAsOf(span end)`,
  * NOT `latestState` — the writer may land new batches while a refresh
  * runs, and folding those into recomputed groups while clean groups lag
  * would tear the view. Time travel pins every group to the same batch
  * boundary.
  *
  * Crash safety: state versions commit by atomic manifest rename BEFORE
  * the lake cursor advances. A crash between the two re-delivers the
  * same span, which finds its version already committed and skips the
  * rewrite — idempotent, same at-least-once → exactly-once story as the
  * changelog itself. Versions older than the cursor are garbage-collected
  * at the next refresh.
  *
  * Prerequisite (same as [[IncrementalAgg]]): tables with updates/deletes
  * need REPLICA IDENTITY FULL so retractions carry their full old image.
  */
final class MaintainedView(
    lake: LakeSink, agg: IncrementalAgg,
    schemaName: String, table: String, name: String,
    stateBuckets: Int = 16,
    /** Set when the view's single group column IS the table's
      * single-column replica-identity key, extracted verbatim (a per-key
      * "latest value" view): the dirty-group recompute then uses the
      * KEY-RESTRICTED lake fold — touched BASE buckets + a semi-joined
      * tail — instead of folding the whole table for a handful of dirty
      * groups. Enforced at refresh like [[MaintainedJoin]]'s row-key
      * flags (a multi-column identity errors loudly); a NULL dirty group
      * key falls back to the unrestricted fold for that refresh.
      */
    groupIsRowKey: Boolean = false,
    /** Set when the view's single group column is IMMUTABLE per row —
      * never changes across a row's versions (NULL→value is fine), and
      * delete images carry the COLUMN (REPLICA IDENTITY FULL, or the
      * column in the identity; present-with-NULL is fine) — e.g. a
      * grouping by region, shard, or any attribute fixed at insert. The
      * dirty-group recompute then prunes the fold INPUT by the dirty
      * group values (`stateAsOf(restrictToImmutable)`) instead of
      * folding the whole table: for a non-row-key grouping this is the
      * difference between churn-proportional and table-proportional
      * refresh at scale. Requires [[groupCol]]; the contract is
      * validated per span and fails loud, exactly like
      * [[MaintainedJoin]]'s `*KeyImmutable` (a group-changing update or
      * a column-less delete image could resurrect stale versions inside
      * a group recompute). Ignored when [[groupIsRowKey]] is set — the
      * key restriction is strictly stronger (it also prunes BASE
      * buckets). A NULL dirty group falls back to the unrestricted fold
      * for that refresh.
      */
    groupIsImmutable: Boolean = false,
    /** The image-map entry the group extractor reads — REQUIRED with
      * [[groupIsImmutable]] (delete validation needs the name to tell a
      * genuinely NULL group — present, value NULL; benign — from an
      * image LACKING the column, which the restricted fold would
      * silently drop). The extractor MUST be a direct read of this
      * column (a cast is fine — the restriction routes dirty keys and
      * fold rows through the SAME extractor, so canonicalizing casts
      * agree); transforming extractors are rejected by the span
      * validation BY DESIGN — a transform mapping a missing column to a
      * non-NULL group defeats the delete-safety check (see
      * [[MaintainedJoin]]'s keyCol contract).
      */
    groupCol: Option[String] = None,
    /** Envelope→envelope pre-transform applied before the delta (and,
      * wrapped as an insert-envelope, before seed/truncate/[[rebuild]]
      * recomputes) — the same seam as [[MaintainedDistinct]]'s
      * `transform`: derived-state views ride it
      * ([[MaintainedBm25Index]]'s per-term document-frequency view
      * explodes each document event into one row per DISTINCT term, so
      * the per-term count IS df). Must be deterministic per image and
      * preserve the op/before/after envelope shape; truncates must pass
      * through. Incompatible with [[groupIsRowKey]]/[[groupIsImmutable]]
      * (their span validation and restricted folds read RAW table
      * images).
      */
    transform: Option[DataFrame => DataFrame] = None) extends Maintainer {

  require(!groupIsRowKey || agg.groupCols.size == 1,
    "groupIsRowKey requires exactly one group column (the replica key)")
  require(transform.isEmpty || (!groupIsRowKey && !groupIsImmutable),
    "transform is incompatible with groupIsRowKey/groupIsImmutable — " +
      "the restricted folds and span validation read raw table images")
  require(!groupIsImmutable || agg.groupCols.size == 1,
    "groupIsImmutable requires exactly one group column")
  require(!groupIsImmutable || groupIsRowKey || groupCol.nonEmpty,
    "groupIsImmutable requires groupCol (the image-map column name) so " +
      "delete validation can tell a NULL group value from a missing column")

  private val stateDir = new Path(lake.root, s"_graft_views/$name")
  private val states = new BucketedStateLog(stateDir, stateBuckets, agg.groupCols)
  private val ops = new MaintainerOps("view", name)
  private def cursorName = s"view_$name"

  override def stateId: String = s"${lake.root}#$cursorName"

  private def stateSchema(spark: SparkSession) = agg.init(spark).schema

  /** Apply every newly committed lake batch to the view (including a LATE
    * snapshot batch below the cursor's floor — a mid-stream table
    * addition). Returns the number of batches applied (0 = already
    * current).
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = {
    val t0 = System.nanoTime
    val n = refreshSpans(spark, within)
    ops.recordRefresh((System.nanoTime - t0) / 1e6, n)
    n
  }

  private def refreshSpans(spark: SparkSession,
      within: Option[(Long, Long)]): Int = {
    val from = lake.cursorInterval(spark, cursorName)
    lake.poll(spark, cursorName, within) { span =>
      val f = states.fs(spark)
      // partition-column inference can type small batch_id values as int;
      // bounds + the truncate + row-key-shape flags ride one span pass
      val isTable = col("schema") === schemaName && col("table") === table
      val gc = agg.groupCols.head
      val ge = agg.groupExprs.head
      // groupIsRowKey contract: key_names must be exactly [group col] —
      // evaluated per row only when the flag is set (lit(false) folds
      // the expression away for ordinary views). NULL key_names (REPLICA
      // IDENTITY NOTHING) must flag too: size(NULL)===1 is NULL, and a
      // NULL riding through when(...,1).otherwise(0) reads as 0 — the
      // shape violation would silently pass and the synthetic-keyed rows
      // would vanish from dirty-group recomputes. The extractor is also
      // VALUE-checked against the identity column wherever an image is
      // present (MaintainedJoin.badRowKey's badImage analog): a group
      // NAMED for the key but extracted from another column would hand
      // dirtyKeys the wrong values and the key-restricted fold would
      // silently return nothing for genuinely dirty groups
      val badShape =
        if (!groupIsRowKey) lit(false)
        else {
          def badImage(im: String) = col(im).isNotNull &&
            !(ge(col(im)) <=> element_at(col(im), element_at(col("key_names"), 1)))
          isTable && col("op").isin("insert", "update", "delete") && (
            col("key_names").isNull || size(col("key_names")) =!= 1 ||
              !(element_at(col("key_names"), 1) <=> gc) ||
              badImage("after") || badImage("before"))
        }
      // groupIsImmutable contract — the violations (misdeclared groupCol,
      // column-less delete image, group-changing update) are spelled
      // ONCE in [[ImmutableContract.violation]], shared with the join's
      // *KeyImmutable flags
      val badImmutable =
        if (!groupIsImmutable || groupIsRowKey) lit(false)
        else ImmutableContract.violation(isTable, ge, groupCol.get)
      val bounds = span
        .agg(min(col("batch_id").cast("long")), max(col("batch_id").cast("long")),
          max(when(isTable && col("op") === "truncate", 1).otherwise(0)),
          max(when(badShape, 1).otherwise(0)),
          max(when(badImmutable, 1).otherwise(0)),
          // span rows for THIS table — rides the same one-pass aggregate
          // (ops gauge; never an extra scan)
          sum(when(isTable, 1L).otherwise(0L)))
        .head()
      if (groupIsRowKey && !bounds.isNullAt(0) && bounds.getInt(3) == 1)
        throw new IllegalStateException(
          s"groupIsRowKey is set but $schemaName.$table events carry " +
            s"key_names other than ['$gc'] (e.g. a multi-column or FULL " +
            "identity), or a group extractor whose value differs from " +
            "that identity column — the restricted fold keys on the " +
            "replica identity, so the flag requires key_names == the " +
            "group column, extracted verbatim")
      if (groupIsImmutable && !groupIsRowKey && !bounds.isNullAt(0) &&
          bounds.getInt(4) == 1)
        throw new IllegalStateException(
          s"groupIsImmutable is set but a $schemaName.$table span carries " +
            "an event violating the contract — a group-changing update, a " +
            "delete or update whose image lacks the group COLUMN (REPLICA " +
            "IDENTITY FULL, or the column in the identity, is required; " +
            "unchanged-TOAST omission is not tolerated; a present " +
            "column with a NULL value is fine), or a declared groupCol " +
            "that does not match what the group extractor reads — the " +
            "group-restricted fold could resurrect stale versions")
      // a span of only EMPTY batches (zero rows) has null bounds: no
      // deltas to apply — just let poll advance the cursor past them
      if (!bounds.isNullAt(0)) {
        val spanRows = bounds.getLong(5)
        val key = (math.min(from._1, bounds.getLong(0)),
          math.max(from._2, bounds.getLong(1)))
        // replay where only the cursor advance was lost: the state for
        // this span is already committed — rewriting it would tear a
        // concurrent read; just let poll re-advance the cursor
        if (!states.isCommitted(f, key)) {
          val prevKey = states.latestWithin(f, from)
          val events = applyTransform(span.filter(
            col("schema") === schemaName && col("table") === table))
          // recompute source pinned to exactly the applied interval: asOf
          // bounds the top, the floor keeps a concurrently landing late
          // snapshot (not in this span) out of the dirty-group rebuild
          def current = currentImages(spark, key)
          val hasTruncate = bounds.getInt(2) == 1
          // SEED (no prior state) recomputes from the fold rather than
          // applying span deltas: a lake compacted+vacuumed before the
          // first refresh holds groups only in BASE — no surviving
          // changelog row mentions them, so a span-delta seed would
          // silently omit those groups forever; recomputeAll(current)
          // reads through BASE. (Same reasoning as MaintainedJoin's
          // seed rebuild.)
          if (hasTruncate || prevKey.isEmpty) {
            // rebuild from the boundary, all buckets rewritten
            states.commit(f, agg.recomputeAll(current),
              (0 until stateBuckets).toSet, None, key)
            ops.recordSpan(spanRows, spanRows, stateBuckets, 0)
          } else {
            // LAZY: the per-bucket planning collect right below is the
            // materializing action (eager spent a dedicated job)
            val d = agg.delta(events).localCheckpoint(eager = false)
            // bounded planning pull: ≤ stateBuckets rows — per-bucket
            // counts give the touched set AND the delta's group
            // cardinality (the dirty-keys gauge) in the one job the
            // touched probe always ran
            val perBucket = d
              .groupBy(states.bucketExpr(agg.groupCols.map(col)).as("b"))
              .count().collect()
            val touched = perBucket.map(_.getInt(0)).toSet
            val deltaGroups = perBucket.map(_.getLong(1)).sum
            if (touched.isEmpty) {
              // span had rows but no DML for THIS table: state unchanged —
              // publish the new version as pure carry-forward
              states.commit(f, stateEmpty(spark), Set.empty, prevKey, key)
              ops.recordSpan(spanRows, 0, 0, stateBuckets)
            } else {
              // ONLY the touched buckets' rows feed the merge — the
              // delta's groups are all inside them by construction
              val prevTouched = prevKey
                .map(states.readBuckets(spark, _, Some(touched), stateSchema(spark)))
                .getOrElse(agg.init(spark))
              // RESTRICTED dirty-group recompute, one callback for both
              // flags: per-key views (groupIsRowKey — the group IS the
              // replica key, extracted verbatim, so ge(after) equals the
              // fold key) fetch dirty keys via the KEY-restricted fold
              // (BASE bucket-pruned); immutable non-key groupings prune
              // the fold INPUT by the dirty group values instead of
              // folding the table. Dirty keys and fold rows route
              // through the SAME extractor, so a canonicalizing cast
              // (e.g. "05" → 5) agrees on both sides of the semi-join.
              val next =
                if (groupIsRowKey || groupIsImmutable)
                  agg.stepMergeWith(prevTouched, d, dirtyKeys => {
                    val hasNull = !dirtyKeys.filter(col(gc).isNull).isEmpty
                    if (hasNull)
                      // a NULL dirty group can't ride either restriction
                      // (NULL never <=>-matches a key frame value) —
                      // whole fold, semi-joined by the extractor
                      current.join(
                        broadcast(dirtyKeys.withColumnRenamed(gc, "_dk")),
                        ge(col("after")) <=> col("_dk"), "left_semi")
                    else {
                      val ks = dirtyKeys.select(col(gc).cast("string").as("k"))
                      (if (groupIsRowKey)
                        lake.stateAsOf(spark, schemaName, table, key._2, key._1,
                          restrictToKeys = Some(ks))
                      else
                        lake.stateAsOf(spark, schemaName, table, key._2, key._1,
                          restrictToImmutable = Some((ge, ks))))
                        .select(col("after"))
                    }
                  })
                else agg.stepMerge(prevTouched, d, current)
              states.commit(f, next, touched, prevKey, key)
              ops.recordSpan(spanRows, deltaGroups,
                touched.size, stateBuckets - touched.size)
            }
          }
        }
        // previous states inside the replay horizon are unreachable now
        states.gcWithin(f, from)
      }
    }
  }

  private def stateEmpty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema(spark))

  private def applyTransform(env: DataFrame): DataFrame =
    transform.fold(env)(t => t(env))

  /** The table's image rows as of the applied interval `key`, routed
    * through `transform` wrapped as an insert-envelope — the recompute
    * source seed/truncate/[[rebuild]] and the dirty-group fallback share
    * (same shape as [[MaintainedDistinct]]'s `currentAsOf`; identity
    * when no transform is configured).
    */
  private def currentImages(spark: SparkSession, key: (Long, Long)): DataFrame = {
    val cur = lake.stateAsOf(spark, schemaName, table, key._2, key._1)
      .select(col("after"))
    transform match {
      case None => cur
      case Some(t) => t(cur.select(
        lit("insert").as("op"),
        lit(null).cast(cur.schema("after").dataType).as("before"),
        col("after"))).select(col("after"))
    }
  }

  /** Full recompute of the view state from the source as of the applied
    * interval, committed as a full rewrite under a uniquely-tagged slice
    * dir — the companion-state half of a composite index migration
    * ([[MaintainedBm25Index.rebuild]] runs this INSIDE its postings
    * maintainer's fingerprint-marker window, which is what makes the
    * composite crash-safe; this view carries no fingerprint of its own,
    * so it is deliberately not public). Targets the union of the latest
    * version and the cursor interval, like [[MaintainedDistinct
    * .rebuild]]. No-op before the first refresh.
    */
  private[sinks] def rebuild(spark: SparkSession): Unit = {
    val f = states.fs(spark)
    val latest = states.latest(f)
    val from = lake.cursorInterval(spark, cursorName)
    val cursorKey = if (from._2 == Long.MinValue) None else Some(from)
    val target = (latest, cursorKey) match {
      case (Some(k), Some(c)) =>
        Some((math.min(k._1, c._1), math.max(k._2, c._2)))
      case (k, c) => k.orElse(c)
    }
    target.foreach { key =>
      states.commit(f, agg.recomputeAll(currentImages(spark, key)),
        (0 until stateBuckets).toSet, None, key,
        dirTag = s".r${java.lang.Long.toHexString(System.nanoTime)}")
    }
  }

  /** The newest committed state version whose applied interval lies
    * WITHIN `from` — the pinned-read seam composite indexes use to keep
    * companion-view reads coherent with their primary state's version
    * ([[MaintainedBm25Index]] threads its POSTINGS key here so N/avgdl
    * and df can never come from a later interval than the postings a
    * search scored; the companion refreshes after the primary, so its
    * versions always lie within the primary's interval).
    */
  private[sinks] def latestKeyWithin(spark: SparkSession,
      from: (Long, Long)): Option[(Long, Long)] =
    states.latestWithin(states.fs(spark), from)

  /** The newest committed state version regardless of interval —
    * composite readers fall back to this when NO version lies within
    * their primary key (the companion ran AHEAD: a batch committed
    * between the primary's refresh and this view's, and this view's
    * only version covers it) — serving the slightly-newer companion is
    * the pre-pinning semantics and strictly better than serving
    * nothing.
    */
  private[sinks] def latestKeyAny(spark: SparkSession): Option[(Long, Long)] =
    states.latest(states.fs(spark))

  /** [[read]] pinned to an explicit version key from [[latestKeyWithin]]
    * (empty view shape for `None`).
    */
  private[sinks] def readAt(spark: SparkSession,
      key: Option[(Long, Long)]): DataFrame = key match {
    case Some(k) => agg.view(states.read(spark, k, stateSchema(spark)))
    case None => agg.view(agg.init(spark))
  }

  /** [[readAt]] restricted to a bucket subset — point readers that know
    * their group keys ([[BucketedStateLog.bucketOf]] via [[stateLog]])
    * prune to those keys' buckets and never scan the state.
    */
  private[sinks] def readBucketsAt(spark: SparkSession,
      key: Option[(Long, Long)], only: Set[Int]): DataFrame = key match {
    case Some(k) =>
      agg.view(states.readBuckets(spark, k, Some(only), stateSchema(spark)))
    case None => agg.view(agg.init(spark))
  }

  /** The state log's bucket geometry, for [[BucketedStateLog.bucketOf]]
    * callers (group-key → bucket, driver-side).
    */
  private[sinks] def stateLog: BucketedStateLog = states

  /** The current view: group columns, `n`, `sum_<m>`, `min_<m>`,
    * `max_<m>` — group-cardinality, no fold, no scan of the table.
    */
  def read(spark: SparkSession): DataFrame =
    readAt(spark, states.latest(states.fs(spark)))

  /** Ops gauges for the `graft_lake_*` family — concatenate with the
    * sink's: `lakeGauges = Some(() => lake.gauges(spark) ++
    * view.gauges(spark))`. Driver-side metadata listings only.
    */
  def gauges(spark: SparkSession): Seq[(String, Double)] = {
    val asOf = states.latest(states.fs(spark))
    val (neg, pos) = lake.cursorInterval(spark, cursorName)
    val lag = lake.committedBatchIds(spark).count(id => id < neg || id > pos)
    Seq(
      s"view_${name}_asof" -> asOf.map(_._2).getOrElse(-1L).toDouble,
      s"view_${name}_lag_batches" -> lag.toDouble) ++ ops.gauges
  }
}
