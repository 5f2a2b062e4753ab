package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Crash safety is the shared span protocol of [[SpanRefresh]].
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

  private def stateSchema(spark: SparkSession) = agg.init(spark).schema

  private val loop = new OneLogRefresh(lake, "view", "view", name, states) {
    private val isTable = col("schema") === schemaName && col("table") === table
    private def gc = agg.groupCols.head
    private def ge = agg.groupExprs.head

    protected def onTable: Column = isTable

    // groupIsRowKey contract: key_names must be exactly [group col] —
    // the join flags' row-key contract, spelled ONCE in
    // [[RowKeyContract.violation]] (single-column identity incl. the
    // NULL key_names of REPLICA IDENTITY NOTHING, extractor VALUE-checked
    // against it wherever an image is present), plus the view's own check
    // that the identity column IS the group column. A group NAMED for the
    // key but extracted from another column would hand dirtyKeys the
    // wrong values and the key-restricted fold would silently return
    // nothing for genuinely dirty groups. The groupIsImmutable
    // violations (misdeclared groupCol, column-less delete image,
    // group-changing update) are spelled ONCE in
    // [[ImmutableContract.violation]], shared with the join's
    // *KeyImmutable flags.
    override protected def contracts: Seq[(String, Column, String)] =
      if (groupIsRowKey)
        Seq(("badShape", RowKeyContract.violation(isTable, ge) ||
          (isTable && col("op").isin("insert", "update", "delete") &&
            !(element_at(col("key_names"), 1) <=> gc)),
          s"groupIsRowKey is set but $schemaName.$table events carry " +
            s"key_names other than ['$gc'] (e.g. a multi-column or FULL " +
            "identity), or a group extractor whose value differs from " +
            "that identity column — the restricted fold keys on the " +
            "replica identity, so the flag requires key_names == the " +
            "group column, extracted verbatim"))
      else if (groupIsImmutable)
        Seq(("badImmutable", ImmutableContract.violation(isTable, ge, groupCol.get),
          s"groupIsImmutable is set but a $schemaName.$table span carries " +
            "an event violating the contract — a group-changing update, a " +
            "delete or update whose image lacks the group COLUMN (REPLICA " +
            "IDENTITY FULL, or the column in the identity, is required; " +
            "unchanged-TOAST omission is not tolerated; a present " +
            "column with a NULL value is fine), or a declared groupCol " +
            "that does not match what the group extractor reads — the " +
            "group-restricted fold could resurrect stale versions"))
      else Nil

    // recompute source pinned to exactly the applied interval: asOf
    // bounds the top, the floor keeps a concurrently landing late
    // snapshot (not in this span) out of the dirty-group rebuild
    protected def seed(span: RefreshSpan, work: Unit): Unit =
      states.commit(span.f, agg.recomputeAll(currentImages(span.spark, span.key)),
        (0 until stateBuckets).toSet, None, span.key)

    protected def delta(span: RefreshSpan, work: Unit): Unit = {
      val spark = span.spark
      val key = span.key
      def current = currentImages(spark, key)
      // LAZY: the per-bucket planning collect right below is the
      // materializing action (eager spent a dedicated job)
      val d = agg.delta(applyTransform(span.frame.filter(isTable)))
        .localCheckpoint(eager = false)
      // bounded planning pull: ≤ stateBuckets rows — per-bucket counts
      // give the touched set AND the delta's group cardinality (the
      // dirty-keys gauge) in the one job the touched probe always ran
      val perBucket = d
        .groupBy(states.bucketExpr(agg.groupCols.map(col)).as("b"))
        .count().collect()
      val touched = perBucket.map(_.getInt(0)).toSet
      val deltaGroups = perBucket.map(_.getLong(1)).sum
      if (touched.isEmpty) {
        span.carryForward(states)
        span.record(0, 0, stateBuckets)
      } else {
        // ONLY the touched buckets' rows feed the merge — the delta's
        // groups are all inside them by construction
        val prevTouched =
          states.readBuckets(spark, span.prevKey.get, Some(touched), stateSchema(spark))
        // RESTRICTED dirty-group recompute, one callback for both flags:
        // per-key views (groupIsRowKey — the group IS the replica key,
        // extracted verbatim, so ge(after) equals the fold key) fetch
        // dirty keys via the KEY-restricted fold (BASE bucket-pruned);
        // immutable non-key groupings prune the fold INPUT by the dirty
        // group values instead of folding the table. Dirty keys and fold
        // rows route through the SAME extractor, so a canonicalizing
        // cast (e.g. "05" → 5) agrees on both sides of the semi-join.
        val next =
          if (groupIsRowKey || groupIsImmutable)
            agg.stepMergeWith(prevTouched, d, dirtyKeys => {
              val hasNull = !dirtyKeys.filter(col(gc).isNull).isEmpty
              if (hasNull)
                // a NULL dirty group can't ride either restriction (NULL
                // never <=>-matches a key frame value) — whole fold,
                // semi-joined by the extractor
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
        states.commit(span.f, next, touched, span.prevKey, key)
        span.record(deltaGroups, touched.size, stateBuckets - touched.size)
      }
    }
  }

  override def stateId: String = s"${lake.root}#${loop.cursorName}"

  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = loop.refresh(spark, within)

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
    * so it is deliberately not public). Targets
    * [[SpanRefresh.rebuildTarget]]. No-op before the first refresh.
    */
  private[sinks] def rebuild(spark: SparkSession): Unit = {
    val f = states.fs(spark)
    loop.rebuildTarget(spark, f).foreach { key =>
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

  /** [[readAt]] restricted to a bucket subset — probe readers plan their
    * keys' buckets in the engine ([[BucketedStateLog.bucketExpr]] via
    * [[stateLog]], a bounded distinct pull) and never scan the state.
    */
  private[sinks] def readBucketsAt(spark: SparkSession,
      key: Option[(Long, Long)], only: Set[Int]): DataFrame = key match {
    case Some(k) =>
      agg.view(states.readBuckets(spark, k, Some(only), stateSchema(spark)))
    case None => agg.view(agg.init(spark))
  }

  /** The state log's bucket geometry, for probe readers' bucket
    * planning ([[BucketedStateLog.bucketExpr]]).
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
  def gauges(spark: SparkSession): Seq[(String, Double)] = loop.gauges(spark)()
}
