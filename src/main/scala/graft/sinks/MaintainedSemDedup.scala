package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained SemDeDup (Abbas et al. 2023) over one lake
  * table's embedding column — the MAINTAINED sibling of the batch
  * `q_semantic_dedup` pipeline: k-means-partition the corpus under
  * OFFLINE-trained centroids, score pairwise cosine ONLY within a cell,
  * and mark every document that has a higher-priority cell-mate at or
  * above the similarity threshold as a semantic duplicate. The batch
  * pipeline re-clusters and re-pairs the whole corpus per run; at 100 TB
  * a corpus with 0.1% churn cannot re-pay the full cluster-pair pass
  * nightly — this maintainer keeps the verdict incrementally exact from
  * the CDC changelog instead, with refresh cost bounded by the CHURNED
  * CELLS' membership (SemDeDup's defining trick — cells stay
  * constant-sized as the corpus scales, so the per-cell n² is bounded
  * and the dirty-cell recompute is churn-proportional cluster work,
  * never corpus work).
  *
  * State: one row per document with a usable embedding —
  * `(cell, id, dropped)` — hash-bucketed on the cell in a
  * [[BucketedStateLog]] (the cell IS the recompute unit: a churned doc
  * dirties its before- and after-image cells, and exactly those cells'
  * verdicts can change). A refresh reads the dirty cells' current
  * members from the PREVIOUS state version (their ids are known — no
  * corpus scan), fetches member ∪ churned documents' images through the
  * lake's KEY-RESTRICTED fold pinned to the applied interval
  * ([[LakeSink.stateAsOf]] `restrictToKeys` — candidate-proportional
  * bucket reads, never a table scan), recomputes those cells' pairwise
  * verdicts, and rewrites only the dirty cells' buckets; clean buckets
  * carry by manifest reference.
  *
  * Semantics, identical to the batch pipeline's keep/drop rule: a
  * document is `dropped` iff SOME cell-mate with a LOWER id (string
  * order — deterministic; zero-pad numeric ids upstream if their string
  * order must match numeric order) has cosine ≥ `tau`. The rule is
  * per-document, not transitive (the lower-id mate may itself be
  * dropped by a still-lower one) — exactly `q_semantic_dedup`'s
  * `count_distinct(nid2 | sim >= τ)` shape. Arithmetic is the engine
  * family every index here shares: float component products/differences,
  * double accumulate.
  *
  * The model (centroids, τ, keys, bucket count) is FIXED for the life of
  * a state dir — a `_model` marker refuses a mismatched open (opening
  * with retrained centroids would verdict new docs under the new cells
  * while old rows sit under the old — silently wrong, the same class
  * the IVF fingerprint refuses). Retrain = build under a NEW name.
  *
  * Prerequisites: REPLICA IDENTITY FULL (a delete/update retraction
  * re-derives the before image's cell), and `idKey` must be the table's
  * single replica-identity key (the restricted fold prunes on it) —
  * both validated per span, fail-loud.
  *
  * Reference scope: the reference engine (Trendyol/go-pq-cdc) ships the
  * changelog only; SemDeDup maintenance is part of this engine's
  * LLM-pipeline operator family (SURVEY §2.7), built on the same
  * maintainer seams as the LSH/IVF/BM25 indexes.
  */
final class MaintainedSemDedup(
    lake: LakeSink, schemaName: String, table: String, name: String,
    /** Image-map keys: the doc id (the replica-identity key) and the
      * comma-separated float embedding.
      */
    idKey: String, embKey: String,
    /** The trained centroid model, cell index = position. */
    centroids: Seq[Seq[Float]],
    /** Cosine keep/drop threshold (SemDeDup uses ~0.95 on real corpora). */
    tau: Double,
    stateBuckets: Int = 16) extends Maintainer {

  require(centroids.nonEmpty, "at least one centroid")
  require(centroids.map(_.size).distinct.size == 1,
    "all centroids must share one dimensionality")
  require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine in [-1, 1], got $tau")

  private val dim = centroids.head.size

  private val stateDir = new Path(lake.root, s"_graft_semdedup/$name")
  private val states = new BucketedStateLog(stateDir, stateBuckets, Seq("cell"))

  override def stateId: String = s"${lake.root}#${loop.cursorName}"

  // ---- model marker -------------------------------------------------------

  private def modelString: String =
    s"semdedup dim=$dim cells=${centroids.size} tau=$tau idKey=$idKey " +
      s"embKey=$embKey buckets=$stateBuckets " +
      s"centroids=${MaintainedIvfIndex.floatHash(centroids)}"

  private val modelMarker = new BucketedStateLog.Marker(stateDir,
    "_model", modelString,
    m => s"MaintainedSemDedup('$name'): state dir was built under a " +
      s"different model ($m vs $modelString) — the model is fixed " +
      "for the life of a state dir; open it with the original " +
      "centroids/tau, or build the retrained model under a NEW " +
      "name (fresh cursor + state)",
    s"MaintainedSemDedup('$name'): state dir has committed versions but " +
      "no _model marker, so the model they were built under is unknown " +
      "— build under a NEW name (fresh cursor + state)")

  private def checkModel(f: FileSystem, writer: Boolean): Unit =
    modelMarker.check(f, writer, states.committed(f).nonEmpty)

  // ---- expressions (the engine arithmetic family — see
  // MaintainedIvfIndex.sqDist: float squares/products, double accumulate,
  // ties to the lower cell) -------------------------------------------------

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  private def parsedVec(im: Column): Column =
    transform(split(element_at(im, embKey), ","), s => s.try_cast("float"))

  /** Nearest-centroid cell of one image's embedding (NULL when absent or
    * mis-dimensioned — such docs carry no verdict and live outside the
    * state, like the batch pipeline's usable-embedding filter).
    */
  private def cellOf(im: Column): Column = {
    val v = parsedVec(im)
    val cents = typedLit(centroids)
    val dists = transform(cents, c => sqDist(v, c))
    when(element_at(im, embKey).isNotNull && size(v) === dim &&
        !exists(v, x => x.isNull),
      (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  private val stateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("cell", IntegerType),
      StructField("id", StringType),
      StructField("dropped", BooleanType, nullable = false)))
  }

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  /** (cell, id, v, norm) of image rows with a usable embedding. */
  private def assigned(images: DataFrame): DataFrame = {
    val v = parsedVec(col("after"))
    images
      .select(cellOf(col("after")).as("cell"),
        element_at(col("after"), idKey).as("id"), v.as("v"))
      .filter(col("cell").isNotNull && col("id").isNotNull)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .filter(col("norm") > 0)
  }

  /** The per-cell pairwise verdict over assigned rows: `dropped` iff a
    * lower-id cell-mate scores cosine ≥ τ. The self-join is bounded by
    * the LARGEST CELL in the input — at seed that is the batch
    * pipeline's own cost (paid once); per refresh the input is only the
    * dirty cells' members.
    */
  private def verdicts(a0: DataFrame): DataFrame = {
    // the input plan is referenced THREE times (both self-join sides and
    // the left_outer base) and embeds the lake fold — materialize it
    // once instead of re-reading BASE + tail per reference (the seed's
    // input is the whole corpus; same rationale as the delta join's
    // seed-fold checkpoint)
    val a = a0.localCheckpoint()
    val x = a.alias("x")
    val y = a.alias("y")
    val cos = dot(col("x.v"), col("y.v")) / (col("x.norm") * col("y.norm"))
    val droppedIds = x.join(y,
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .filter(cos >= tau)
      .select(col("y.cell").as("cell"), col("y.id").as("id"))
      .distinct()
      .withColumn("_d", lit(true))
    a.select(col("cell"), col("id"))
      .join(droppedIds, Seq("cell", "id"), "left_outer")
      .select(col("cell"), col("id"),
        coalesce(col("_d"), lit(false)).as("dropped"))
  }

  /** Full recompute in state shape from the table as of `(floor, asOf)`. */
  private def recomputeAll(spark: SparkSession, asOf: Long, floor: Long): DataFrame =
    verdicts(assigned(
      lake.stateAsOf(spark, schemaName, table, asOf, floor).select("after")))

  // ---- refresh --------------------------------------------------------

  private val loop = new OneLogRefresh(lake, "semdedup", "semdedup", name, states) {
    private val isTable = col("schema") === schemaName && col("table") === table

    protected def onTable: Column = isTable

    // REPLICA IDENTITY FULL (the before image re-derives the retracted
    // cell), and the id-is-row-key contract (the restricted candidate
    // fold prunes on the replica identity, so the id the state carries
    // must BE it)
    override protected def contracts: Seq[(String, Column, String)] = Seq(
      ("beforeless", isTable && col("op").isin("update", "delete") &&
        col("before").isNull,
        s"MaintainedSemDedup('$name'): an update/delete on " +
          s"$schemaName.$table carries no before image — REPLICA " +
          "IDENTITY FULL is required (the retraction re-derives the " +
          "old image's cell)"),
      ("badKey", isTable && col("op").isin("insert", "update", "delete") && (
        col("key_names").isNull || size(col("key_names")) =!= 1 ||
          !(element_at(col("key_names"), 1) <=> lit(idKey))),
        s"MaintainedSemDedup('$name'): $schemaName.$table events carry " +
          s"key_names other than ['$idKey'] — idKey must be the " +
          "table's single replica-identity key (the candidate fold " +
          "prunes on it)"))

    override protected def beforePoll(spark: SparkSession, f: FileSystem): Unit =
      checkModel(f, writer = true)

    // the batch pipeline's full pass, through BASE
    protected def seed(span: RefreshSpan, work: Unit): Unit =
      states.commit(span.f, recomputeAll(span.spark, span.key._2, span.key._1),
        (0 until stateBuckets).toSet, None, span.key)

    protected def delta(span: RefreshSpan, work: Unit): Unit = {
      val (spark, key, prevKey) = (span.spark, span.key, span.prevKey)
      // dirty cells and churned ids from the span's images (both sides
      // of every event — a moved embedding dirties its old AND new cell;
      // an unusable side contributes nothing)
      val ev = span.frame.filter(isTable &&
        col("op").isin("insert", "update", "delete"))
      val churned = ev.select(explode(array(
          struct(cellOf(col("before")).as("cell"),
            element_at(col("before"), idKey).as("id")),
          struct(cellOf(col("after")).as("cell"),
            element_at(col("after"), idKey).as("id")))).as("c"))
        .select(col("c.cell").as("cell"), col("c.id").as("id"))
        .filter(col("cell").isNotNull && col("id").isNotNull)
        .distinct()
        .localCheckpoint()
      // bounded planning pull: ≤ stateBuckets rows
      val dirtyBuckets = churned
        .select(states.bucketExpr(Seq(col("cell"))).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (dirtyBuckets.isEmpty) {
        span.carryForward(states)
        span.record(0, 0, stateBuckets)
      } else {
        val dirtyCells = churned.select("cell").distinct()
        val prevTouched = states.readBuckets(spark, prevKey.get,
          Some(dirtyBuckets), stateSchema).localCheckpoint()
        // candidates: the dirty cells' previous members plus the churned
        // docs — their CURRENT images fetched through the key-restricted
        // fold pinned to the applied interval
        val memberIds = prevTouched
          .join(broadcast(dirtyCells), Seq("cell"), "left_semi")
          .select(col("id").as("k"))
        val candIds = memberIds
          .unionByName(churned.select(col("id").as("k"))).distinct()
        val docs = lake.stateAsOf(spark, schemaName, table,
            key._2, key._1, restrictToKeys = Some(candIds))
          .select("after")
        // recompute EXACTLY the dirty cells' verdicts (a churned doc now
        // outside every dirty cell… cannot exist: both its cells are
        // dirty by construction)
        val fresh = verdicts(
          assigned(docs)
            .join(broadcast(dirtyCells), Seq("cell"), "left_semi"))
        // dirty-cell delta rows for the span gauge (one bounded count
        // over the already-planned churned frame)
        val deltaDocs = churned.count()
        val untouched = prevTouched
          .join(broadcast(dirtyCells), Seq("cell"), "left_anti")
        states.commit(span.f, untouched.unionByName(fresh),
          dirtyBuckets, prevKey, key)
        span.record(deltaDocs, dirtyBuckets.size, stateBuckets - dirtyBuckets.size)
      }
    }
  }

  /** Apply every newly committed lake batch (bounded to `within` under a
    * [[Maintainer.refreshCoherent]] barrier). Returns batches applied.
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = loop.refresh(spark, within)

  // ---- reads ----------------------------------------------------------

  /** The maintained verdict table: (cell, id, dropped). */
  def read(spark: SparkSession): DataFrame = {
    val f = states.fs(spark)
    checkModel(f, writer = false)
    states.latest(f) match {
      case Some(k) => states.read(spark, k, stateSchema)
      case None => emptyState(spark)
    }
  }

  /** Ids that SURVIVE semantic dedup (the kept corpus). */
  def survivors(spark: SparkSession): DataFrame =
    read(spark).filter(!col("dropped")).select("id")

  /** The state log's bucket geometry (spec seam). */
  private[sinks] def stateLog: BucketedStateLog = states

  /** The latest committed state version key (spec seam). */
  private[sinks] def latestKey(spark: SparkSession): Option[(Long, Long)] =
    states.latest(states.fs(spark))

  /** FAIL-LOUD maintenance-equivalence gate: the maintained verdicts
    * must equal the batch pipeline's from-scratch recompute of the
    * applied interval, row for row (the same contract as
    * [[MaintainedDistinct.verifyAgainstRebuild]]). Returns rows
    * compared; throws on drift. One full recompute — call where a gate
    * justifies it, not per refresh.
    */
  def assertConsistent(spark: SparkSession): Long = {
    val f = states.fs(spark)
    checkModel(f, writer = false)
    states.latest(f).map { key =>
      val want = recomputeAll(spark, key._2, key._1).localCheckpoint()
      val got = states.read(spark, key, stateSchema)
      val counted = got.select(lit("compared").as("side"))
        .unionAll(got.exceptAll(want).select(lit("extra").as("side")))
        .unionAll(want.exceptAll(got).select(lit("missing").as("side")))
        .groupBy("side").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val diff = counted - "compared"
      if (diff.nonEmpty)
        throw new IllegalStateException(
          s"MaintainedSemDedup('$name') diverged from a from-scratch " +
            s"recompute of interval $key: ${diff.getOrElse("extra", 0L)} " +
            s"extra and ${diff.getOrElse("missing", 0L)} missing rows — " +
            "incremental maintenance drifted")
      counted.getOrElse("compared", 0L)
    }.getOrElse(0L)
  }

  /** Ops gauges for the `graft_lake_*` family. */
  def gauges(spark: SparkSession): Seq[(String, Double)] =
    loop.gauges(spark, asOf = false)()
}
