package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Span-scan expression for the declared-IMMUTABLE-column contract shared
  * by [[MaintainedJoin]]'s `*KeyImmutable` and [[MaintainedView]]'s
  * `groupIsImmutable`: the one place the observable violations are
  * spelled, so the two maintainers cannot drift on this null-safety-
  * sensitive logic.
  *
  * Flags: a MISDECLARED column (the extractor's value differs from the
  * declared image entry wherever an image carries it — a wrong name
  * would make the delete check vacuous and let the restricted fold
  * silently resurrect deleted rows; TOAST-omitted images skip it), a
  * delete whose image LACKS the column (REPLICA IDENTITY FULL or the
  * column in the identity is required; present-with-NULL is benign —
  * NULL-valued versions are never kept by the restricted filter), an
  * UPDATE whose after image LACKS the column (unchanged-TOAST omission —
  * under REPLICA IDENTITY DEFAULT the update carries no before image, so
  * the restricted fold would silently drop that version and serve the
  * stale older image; the contract says every image carries the column,
  * so this fails loud like the delete case), and a value-changing update
  * (value→value or value→NULL; NULL→value is legal, superseded
  * NULL-imaged versions cannot shadow anything).
  */
/** The `*KeyIsRowKey` flags' span-validated contract, spelled ONCE for
  * the splice join and the signed-delta join: the flag promises a
  * SINGLE-column replica identity whose value IS what the key extractor
  * reads — both images validated (a delete carries only `before`), NULL
  * `key_names` (REPLICA IDENTITY NOTHING) flags too.
  */
private[sinks] object RowKeyContract {
  def violation(onTable: Column, key: Column => Column): Column = {
    def badImage(im: String) = col(im).isNotNull &&
      !(key(col(im)) <=>
        element_at(col(im), element_at(col("key_names"), 1)))
    onTable && col("op").isin("insert", "update", "delete") && (
      col("key_names").isNull || size(col("key_names")) =!= 1 ||
        badImage("after") || badImage("before"))
  }
}

private[sinks] object ImmutableContract {
  def violation(onTable: Column, ex: Column => Column, colName: String): Column = {
    def misdeclared(im: String) = col(im).isNotNull &&
      map_contains_key(col(im), lit(colName)) &&
      !(ex(col(im)) <=> element_at(col(im), lit(colName)))
    // When the extractor IS the verbatim element_at of the declared
    // column, the misdeclared comparison is vacuously true — and
    // constructing it makes Spark log a "Constructing trivially true
    // equals predicate" WARN per span scan, a storm that sits directly
    // above the bench stdout JSON and threatens its capture window.
    // Detect that identity shape exactly the way Spark's own
    // checkTrivialPredicate does — Column equality, which compares the
    // unresolved column NODES structurally (semanticEquals on the
    // bridged Catalyst expressions is always false pre-analysis, so a
    // probe built on it never fires) — and skip the disjunct entirely
    // instead of building it.
    val identityExtractor =
      ex(col("after")) == element_at(col("after"), lit(colName))
    val misdecl =
      if (identityExtractor) lit(false)
      else misdeclared("after") || misdeclared("before")
    onTable && (
      misdecl ||
      (col("op") === "delete" &&
        (col("before").isNull || (ex(col("before")).isNull &&
          !map_contains_key(col("before"), lit(colName))))) ||
      (col("op") === "update" && col("after").isNotNull &&
        ex(col("after")).isNull &&
        !map_contains_key(col("after"), lit(colName))) ||
      (col("op") === "update" && col("before").isNotNull &&
        ex(col("before")).isNotNull &&
        !(ex(col("before")) <=> ex(col("after")))))
  }
}

/** A continuously-maintained two-table equi-JOIN over the lake — IVM for
  * joins by DIRTY-KEY recompute rather than the three-term delta algebra:
  * a refresh collects the join keys touched by the polled span (from both
  * the before and after images, so a key-changing update dirties old and
  * new key), recomputes the join restricted to those keys against
  * `stateAsOf(span end)` of BOTH tables — one consistent batch boundary —
  * and splices the result over the previous state (untouched keys carry
  * forward unread). Work per refresh is churn × join fan-out, never
  * state-sized.
  *
  * State PERSISTENCE is churn-proportional too: rows live in a
  * [[BucketedStateLog]] — hash-bucketed on `jk` under a versioned
  * manifest, the same slice/manifest construction [[LakeSink.compact]]
  * uses for BASE — and a refresh reads and rewrites ONLY the buckets
  * containing touched keys; every other bucket carries into the new
  * version by manifest reference, its files byte-identical. A 10 TB
  * maintained join with one dirty key rewrites ~1/buckets of the state,
  * not the state.
  *
  * State rows are `jk` (the join key), `left_after`, `right_after` (the
  * two image maps); `joinType` may be inner (default), left_outer,
  * right_outer, or full_outer — dirty-key recompute carries a key's full
  * row set including null-extended rows, so every type maintains the same
  * way. Rows whose join key is NULL never equi-match, but the outer types
  * still null-extend them: they form their own segment of the state
  * (`jk` null — one deterministic bucket, `hash(null)` is constant),
  * carried forward untouched and recomputed whole whenever a span touches
  * a null-keyed row on a preserved side. Commit protocol and crash safety
  * are the shared span protocol of [[SpanRefresh]].
  *
  * Prerequisite: each side's join key must be extractable from its before
  * images too — i.e. the key columns are part of the replica identity
  * (always true when the join key IS the table's key; REPLICA IDENTITY
  * FULL works for any key, but is incompatible with the row-key
  * restriction flags below — those require a single-column identity,
  * enforced at refresh). A truncate on either side falls back to a
  * full recompute at the span boundary.
  */
final class MaintainedJoin(
    lake: LakeSink,
    left: (String, String), right: (String, String),
    leftKey: Column => Column, rightKey: Column => Column,
    name: String, joinType: String = "inner",
    stateBuckets: Int = 16,
    /** Set when a side's join key IS its table's single-column
      * replica-identity key (the dimension side of a FK join, typically):
      * the dirty-key recompute then uses a KEY-RESTRICTED fold —
      * `LakeSink.stateAsOf(restrictToKeys)` prunes BASE to the touched
      * keys' hash buckets and semi-joins the tail before folding, so the
      * side's recompute reads ~churn, not the table. Leave false when the
      * join key is any other column (restricting the fold on a non-key
      * column could resurrect stale versions — see stateAsOf's contract).
      * Refresh validates the contract against each span's events
      * (single-column key_names AND the extractor matching that column's
      * value); it canNOT see history already folded into BASE — a lake
      * whose early history was keyed differently (e.g. whole-row keys
      * from a pre-keyOverrides FULL table) must be re-bootstrapped
      * first (docs/MIGRATION.md, "Upgrade caveat").
      */
    leftKeyIsRowKey: Boolean = false,
    rightKeyIsRowKey: Boolean = false,
    /** Set when a side's join key is NOT its row key but IS immutable per
      * row (the FK side of a fact→dimension join, typically): the
      * dirty-key recompute then prunes the side's fold INPUT to the
      * touched keys via `stateAsOf(restrictToImmutable)` — shuffle and
      * fold work become churn-proportional even though the fold is keyed
      * on the row key (the scan still reads the side's BASE; buckets hash
      * the row key, which a non-key column cannot prune). Contract,
      * validated against every span (fail-loud): the extracted key never
      * changes across a row's versions (NULL→value is fine) and delete
      * images carry the COLUMN (REPLICA IDENTITY FULL, or the column in
      * the identity) — a genuinely NULL key value is fine: NULL-keyed
      * rows are served by the null segment, never the restricted fold,
      * so dropping their history cannot resurrect anything. Ignored when
      * the row-key flag for the same side is set — that restriction is
      * strictly stronger (it also prunes BASE buckets). Like the row-key
      * flags, history already folded into BASE cannot be re-validated.
      */
    leftKeyImmutable: Boolean = false,
    rightKeyImmutable: Boolean = false,
    /** The image-map entry the side's join key is read from — REQUIRED
      * with the matching `*KeyImmutable` flag (the extractor is opaque,
      * so delete validation needs the name to tell a genuinely NULL key
      * — column present, value NULL; benign — from an image that LACKS
      * the column — replica identity without it; the restricted fold
      * would drop the delete and serve the row forever). Image maps
      * carry NULL columns as present-with-null ([[graft.cdc.
      * TransactionAssembler.tupleToMap]] omits only unchanged TOAST), so
      * `map_contains_key` is exactly this test.
      *
      * With the immutable flag the extractor MUST be a direct read of
      * this column (a type cast is fine; Spark compares the cast against
      * the raw entry with coercion). TRANSFORMING extractors — coalesce
      * to a sentinel, trim/upper, arithmetic — are rejected by the span
      * validation BY DESIGN, not as a false positive: a transform that
      * maps a MISSING column to a non-NULL key (coalesce is exactly
      * this) defeats both delete checks — the extracted key is non-NULL
      * so the lacks-the-column test never fires, yet the fold's
      * semi-join probes the transformed value and silently drops the
      * delete. Normalize the column upstream (in the source projection)
      * if a derived key is needed.
      */
    leftKeyCol: Option[String] = None,
    rightKeyCol: Option[String] = None) extends Maintainer {

  require(!leftKeyImmutable || leftKeyIsRowKey || leftKeyCol.nonEmpty,
    "leftKeyImmutable requires leftKeyCol (the image-map column name) so " +
      "delete validation can tell a NULL key value from a missing column")
  require(!rightKeyImmutable || rightKeyIsRowKey || rightKeyCol.nonEmpty,
    "rightKeyImmutable requires rightKeyCol (the image-map column name) so " +
      "delete validation can tell a NULL key value from a missing column")

  require(Set("inner", "left_outer", "right_outer", "full_outer")(joinType),
    s"unsupported joinType '$joinType'")

  private val stateDir = new Path(lake.root, s"_graft_joins/$name")
  private val states = new BucketedStateLog(stateDir, stateBuckets)

  override def stateId: String = s"${lake.root}#${loop.cursorName}"

  private def tableEvents(span: DataFrame, side: (String, String)): DataFrame =
    span.filter(col("schema") === side._1 && col("table") === side._2)

  /** Join keys a span's events could have added, changed, or removed on
    * one side: key extractor over before AND after images.
    */
  private def touchedKeys(span: DataFrame, side: (String, String),
      key: Column => Column): DataFrame =
    tableEvents(span, side)
      .select(explode(array(key(col("before")), key(col("after")))).as("jk"))
      .filter(col("jk").isNotNull).distinct()

  /** Does an event row of `side` touch a NULL-keyed row? A null join key
    * never equi-matches, but outer types must still null-extend such
    * rows, so they form their own dirty segment. An absent image
    * (insert's `before`, delete's `after`) is not a null key.
    */
  private def nullTouch(side: (String, String), key: Column => Column): Column =
    col("schema") === side._1 && col("table") === side._2 && (
      (col("before").isNotNull && key(col("before")).isNull) ||
        (col("after").isNotNull && key(col("after")).isNull))

  /** The null-keyed segment at a boundary: rows whose join key is null,
    * null-extended on the other side — contributed only by the sides an
    * outer type preserves (inner contributes none).
    */
  private def nullSegment(
      spark: SparkSession, asOf: Long, floor: Long): Option[DataFrame] = {
    def side(s: (String, String), key: Column => Column, own: String,
        other: String): DataFrame =
      lake.stateAsOf(spark, s._1, s._2, asOf, floor)
        .filter(key(col("after")).isNull)
        .select(key(col("after")).as("jk"), col("after").as(own))
        .withColumn(other, lit(null).cast("map<string,string>"))
        .select(col("jk"), col("left_after"), col("right_after"))
    val parts =
      (if (joinType == "left_outer" || joinType == "full_outer")
        Seq(side(left, leftKey, "left_after", "right_after")) else Seq.empty) ++
      (if (joinType == "right_outer" || joinType == "full_outer")
        Seq(side(right, rightKey, "right_after", "left_after")) else Seq.empty)
    parts.reduceOption(_.unionByName(_))
  }

  /** One side's current rows keyed for the join, pinned to the applied
    * interval `[floor, asOf]`.
    */
  private def sideAsOf(spark: SparkSession, side: (String, String),
      key: Column => Column, asOf: Long, floor: Long, out: String,
      restrict: Option[DataFrame] = None,
      restrictImm: Option[DataFrame] = None): DataFrame =
    lake.stateAsOf(spark, side._1, side._2, asOf, floor, restrict,
        restrictImm.map(ks => (key, ks)))
      .select(key(col("after")).as("jk"), col("after").as(out))
      .filter(col("jk").isNotNull)

  // dirty-key recompute is join-type agnostic: a recomputed key carries
  // its full row set for ANY join type, including null-extended rows
  private def joined(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, Seq("jk"), joinType)
      .select(col("jk"), col("left_after"), col("right_after"))

  private def emptyJoin(spark: SparkSession): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.cdc.ChangeEvent.schema)
    joined(
      empty.select(leftKey(col("after")).as("jk"), col("after").as("left_after")),
      empty.select(rightKey(col("after")).as("jk"), col("after").as("right_after")))
  }

  private val loop = new OneLogRefresh(lake, "join", "join", name, states) {
    private def isSide(s: (String, String)) =
      col("schema") === s._1 && col("table") === s._2

    protected def onTable: Column = isSide(left) || isSide(right)

    // A row-key-flagged side must have (a) a SINGLE-column identity
    // (FULL flags every column → the fold key is the whole row) and (b)
    // a join-key extractor that matches that identity column's value (a
    // wrong-column flag would make the restricted fold match nothing) —
    // fail loud on either. BOTH images are validated: a delete carries
    // only `before`, and a delete whose extractor diverges from the
    // identity column would silently miss its dirty key if only `after`
    // were checked. The immutable violations — misdeclared keyCol,
    // column-less delete image, key-changing update — are spelled ONCE
    // in [[ImmutableContract.violation]], shared with the view's
    // groupIsImmutable.
    override protected def contracts: Seq[(String, Column, String)] = {
      def rowKey(side: (String, String), key: Column => Column, n: String) =
        (s"${n}RowKey", RowKeyContract.violation(isSide(side), key),
          s"${n}KeyIsRowKey is set but ${side._1}.${side._2} events carry " +
            "a non-single-column replica identity (e.g. FULL) — the " +
            "restricted fold keys on the replica identity, so the flag " +
            "requires a single-column identity that IS the join key")
      def immutable(side: (String, String), key: Column => Column,
          keyCol: Option[String], n: String) =
        (s"${n}Immutable", ImmutableContract.violation(isSide(side), key, keyCol.get),
          s"KeyImmutable is set for ${side._1}.${side._2} but the span " +
            "carries an event violating the contract — a join-key-changing " +
            "update, a delete or update whose image lacks the key COLUMN " +
            "(REPLICA IDENTITY FULL, or the key column in the identity, is " +
            "required; unchanged-TOAST omission is not tolerated; " +
            "a present column with a NULL value is fine), or a declared " +
            "*KeyCol that does not match what the key extractor reads " +
            "— the immutable-restricted fold could resurrect stale versions")
      (if (leftKeyIsRowKey) Seq(rowKey(left, leftKey, "left")) else Nil) ++
        (if (rightKeyIsRowKey) Seq(rowKey(right, rightKey, "right")) else Nil) ++
        (if (leftKeyImmutable && !leftKeyIsRowKey)
          Seq(immutable(left, leftKey, leftKeyCol, "left")) else Nil) ++
        (if (rightKeyImmutable && !rightKeyIsRowKey)
          Seq(immutable(right, rightKey, rightKeyCol, "right")) else Nil)
    }

    override protected def flags: Seq[(String, Column)] = Seq(
      "nullTouchLeft" -> nullTouch(left, leftKey),
      "nullTouchRight" -> nullTouch(right, rightKey))

    // SEED (no prior state) rebuilds like a truncate for cost too: at
    // seed every key is touched anyway — the probe / semi-join /
    // anti-splice machinery degenerates to the full join with several
    // extra shuffles. All buckets written.
    protected def seed(span: RefreshSpan, work: Unit): Unit = {
      val (spark, key) = (span.spark, span.key)
      val rebuilt = joined(
        sideAsOf(spark, left, leftKey, key._2, key._1, "left_after"),
        sideAsOf(spark, right, rightKey, key._2, key._1, "right_after"))
      val next = nullSegment(spark, key._2, key._1)
        .map(rebuilt.unionByName(_)).getOrElse(rebuilt)
      states.commit(span.f, next, (0 until stateBuckets).toSet, None, key)
    }

    protected def delta(span: RefreshSpan, work: Unit): Unit = {
      val (spark, key, prevKey) = (span.spark, span.key, span.prevKey)
      val schema = emptyJoin(spark).schema
      // materialized: feeds the bucket probe, both recompute
      // restrictions, and the splice's anti join below. LAZY: the
      // per-bucket planning collect right below is the materializing
      // action (eager spent a dedicated job)
      val touched = touchedKeys(span.frame, left, leftKey)
        .union(touchedKeys(span.frame, right, rightKey)).distinct()
        .localCheckpoint(eager = false)
      val preservesLeft = joinType == "left_outer" || joinType == "full_outer"
      val preservesRight = joinType == "right_outer" || joinType == "full_outer"
      val nullDirty =
        (preservesLeft && span.flag("nullTouchLeft")) ||
          (preservesRight && span.flag("nullTouchRight"))
      // bounded planning pull: ≤ stateBuckets rows — per-bucket counts
      // give the touched set AND the dirty-key cardinality (the ops
      // gauge) in the one job the bucket probe always ran
      val perBucket = touched
        .groupBy(states.bucketCol(col("jk")).as("b")).count().collect()
      val dirtyKeys = perBucket.map(_.getLong(1)).sum
      val touchedBuckets = perBucket.map(_.getInt(0)).toSet ++
        (if (nullDirty) Set(states.nullBucket) else Set.empty)
      if (touchedBuckets.isEmpty) {
        span.carryForward(states)
        span.record(0, 0, stateBuckets)
        return
      }
      // ONLY the touched buckets' slices are read — the splice's input
      // is bucket-bounded, never the whole state
      val prevTouched =
        states.readBuckets(spark, prevKey.get, Some(touchedBuckets), schema)
      // a row-key side folds ONLY the touched keys' histories; the jk
      // semi-join stays on both paths so the recomputed set is exactly
      // `touched` (the splice's invariant). Cast to STRING: the lake's
      // fold key is StringType and BASE bucket pruning hashes it — a
      // typed extractor's raw value would hash into the wrong buckets
      // and prune the right slices away
      val restrict = Some(touched.select(col("jk").cast("string").as("k")))
      // restriction strength order per side: row-key (prunes BASE
      // buckets too) > declared-immutable (prunes fold input, scans BASE
      // whole) > none (full fold, semi-joined after)
      def rec(side: (String, String), key0: Column => Column, out: String,
          isRowKey: Boolean, isImmutable: Boolean) =
        if (isRowKey) sideAsOf(spark, side, key0, key._2, key._1, out, restrict)
        else if (isImmutable)
          sideAsOf(spark, side, key0, key._2, key._1, out, restrictImm = restrict)
        else sideAsOf(spark, side, key0, key._2, key._1, out)
      val recomputed = joined(
        rec(left, leftKey, "left_after", leftKeyIsRowKey, leftKeyImmutable)
          .join(touched, Seq("jk"), "left_semi"),
        rec(right, rightKey, "right_after", rightKeyIsRowKey, rightKeyImmutable)
          .join(touched, Seq("jk"), "left_semi"))
      // a null jk never matches the anti join, so clean null-segment rows
      // inside a touched bucket carry forward with the untouched keys;
      // when a span touches a null-keyed row on a PRESERVED side, that
      // segment recomputes whole (its bucket is in the touched set then)
      val spliced = prevTouched.join(broadcast(touched), Seq("jk"), "left_anti")
        .unionByName(recomputed)
      val next =
        if (nullDirty) {
          val keyedOnly = spliced.filter(col("jk").isNotNull)
          nullSegment(spark, key._2, key._1)
            .map(keyedOnly.unionByName(_)).getOrElse(keyedOnly)
        } else spliced
      states.commit(span.f, next, touchedBuckets, prevKey, key)
      span.record(dirtyKeys, touchedBuckets.size, stateBuckets - touchedBuckets.size)
    }
  }

  /** Apply every newly committed lake batch to the join (including a late
    * snapshot batch below the cursor's floor — a mid-stream table
    * addition). Returns the number of batches applied (0 = already
    * current).
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = loop.refresh(spark, within)

  /** Ops gauges for the `graft_lake_*` family — concatenate with the
    * sink's, like [[MaintainedView.gauges]].
    */
  def gauges(spark: SparkSession): Seq[(String, Double)] = loop.gauges(spark)()

  /** The current join: `jk`, `left_after`, `right_after`. */
  def read(spark: SparkSession): DataFrame =
    states.latest(states.fs(spark)) match {
      case Some(k) => states.read(spark, k, emptyJoin(spark).schema)
      case None => emptyJoin(spark)
    }
}
