package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.IncrementalDistinct

/** A continuously-maintained IVF posting index over one lake table's
  * embedding column — [[MaintainedLshIndex]]'s sibling for the ANN half:
  * at 100 TB a vector corpus cannot re-assign a petabyte of embeddings
  * nightly because 0.1% of documents churned. Centroids are TRAINED
  * OFFLINE and passed in (the batch pipeline's `prep_ivf_centroids`
  * model — retraining cadence is an offline concern; assignment is not);
  * this maintainer keeps the posting lists (centroid cell → doc ids)
  * incrementally exact from the CDC changelog: an insert adds the doc to
  * its nearest cell, a delete retracts it from exactly the cell its
  * insert chose (assignment is deterministic per image), an
  * embedding-changing update retracts the old cell and adds the new, and
  * an update that keeps the embedding telescopes to a zero-net delta.
  *
  * Same construction as the LSH index: each document event maps to an
  * envelope row whose images reduce to {id, cell}, and an
  * [[IncrementalDistinct]] refcount state keyed on `cell` maintains the
  * posting membership — crash/replay/seed/carry-forward/bucketed
  * persistence inherited verbatim from [[MaintainedDistinct]].
  *
  * [[search]] is the scale-right read, the one-row case of the set
  * reads ([[searchTopKAll]]): the query embedding is assigned to its
  * `nprobe` nearest cells in the engine, by the same expressions as the
  * postings, and ONLY those cells' state-log buckets are read — a point
  * lookup over a billion-document index reads ~nprobe/buckets of the
  * state, never the state. Returned ids are IVF candidates — exact
  * re-rank downstream, same as the batch `q_ann_ivf` pipeline.
  *
  * Distance is squared L2 (ties break on the lower cell index, so
  * assignment is deterministic); L2-normalize embeddings upstream for
  * cosine ranking. Prerequisite: REPLICA IDENTITY FULL (retraction
  * re-assigns from the before image's embedding), fail-loud inherited
  * from [[IncrementalDistinct.delta]].
  */
final class MaintainedIvfIndex(
    lake: LakeSink, schemaName: String, table: String, name: String,
    /** Image-map keys: the doc id and the comma-separated float
      * embedding.
      */
    idKey: String, embKey: String,
    /** The trained centroid model, cell index = position. */
    centroids: Seq[Seq[Float]],
    stateBuckets: Int = 16,
    /** Optional PRODUCT-QUANTIZATION codebooks (subspace → codeword →
      * sub-vector; sub-vector widths must sum to the embedding dim).
      * When set, each posting carries the doc's PQ code alongside its id
      * — the value the refcount state counts becomes `struct(id, code)`,
      * still deterministic per image, so maintenance (retraction, crash
      * replay, rebuild) is inherited unchanged — and the ADC reads
      * ([[searchTopKAdc]]/[[searchTopKAllAdc]]) shortlist candidates
      * from the POSTINGS ALONE before the exact fetch. At 100 TB that is
      * the difference between fetching every candidate's embedding
      * through the lake's key-restricted fold (candidate-proportional
      * random reads — the expensive half of [[searchTopK]]) and fetching
      * only the `shortlist` ADC survivors. Codes are part of the model:
      * the fingerprint hashes codebook CONTENT, so retrained codebooks
      * refuse a mismatched open exactly like retrained centroids.
      */
    pqBooks: Option[Seq[Seq[Seq[Float]]]] = None,
    /** Sub-slices per state bucket — see [[MaintainedDistinct]]'s
      * `subBuckets`: bounds the refresh read/rewrite of a HOT cell's
      * posting bucket to its dirty ~1/subBuckets. Part of the state
      * geometry (fingerprinted; `rebuild` migrates).
      */
    subBuckets: Int = 1) extends Maintainer {

  require(centroids.nonEmpty, "at least one centroid")
  require(centroids.map(_.size).distinct.size == 1,
    "all centroids must share one dimensionality")

  private val dim = centroids.head.size

  pqBooks.foreach { books =>
    require(books.nonEmpty, "pqBooks: at least one subspace")
    books.zipWithIndex.foreach { case (bk, m) =>
      require(bk.nonEmpty, s"pqBooks: subspace $m has no codewords")
      require(bk.map(_.size).distinct.size == 1,
        s"pqBooks: subspace $m codewords must share one width")
      // a zero-width subspace would always code 0 (sqDist over an empty
      // slice ties at 0.0) — a silent no-op that wastes a code byte
      require(bk.head.nonEmpty,
        s"pqBooks: subspace $m has zero-width codewords")
    }
    require(books.map(_.head.size).sum == dim,
      s"pqBooks: sub-vector widths ${books.map(_.head.size)} must sum " +
        s"to the embedding dim $dim")
  }

  /** 1-based slice offset of subspace `m` within the embedding. */
  private def pqOffsets: Seq[Int] =
    pqBooks.get.map(_.head.size).scanLeft(0)(_ + _)

  private val dist = new IncrementalDistinct(
    group = Seq("cell" -> (im => element_at(im, "cell").cast("int"))),
    name = "docs",
    value = pqBooks match {
      case None => im => element_at(im, "id")
      case Some(_) => im =>
        // struct(id, code): struct-of-nulls is NOT null, so guard
        // explicitly — a null id must drop the contribution exactly as
        // the plain-id mode's null value does
        when(element_at(im, "id").isNotNull &&
            element_at(im, "code").isNotNull,
          struct(element_at(im, "id").as("id"),
            element_at(im, "code").as("code")))
    })

  /** Content hash of the centroid model (float bit patterns in cell
    * order) — retrained centroids change it even when count/dim match.
    */
  private val centroidHash: String = MaintainedIvfIndex.floatHash(centroids)

  /** Content hash of the PQ codebooks (subspace count + per-subspace
    * codeword floats) — retrained codebooks change it even at equal
    * shape, same contract as [[centroidHash]].
    */
  private def pqHash(books: Seq[Seq[Seq[Float]]]): String =
    // shape rows interleave with the content so regrouping the same
    // floats into different subspaces cannot collide
    MaintainedIvfIndex.floatHash(books.flatMap(bk =>
      Seq(Seq(bk.size.toFloat, bk.head.size.toFloat)) ++ bk))

  private[sinks] val md = new MaintainedDistinct(lake, dist, schemaName, table, name,
    stateBuckets, transform = assignCells,
    // assignment is a function of the centroid CONTENT (and the id/emb
    // keys); opening an existing state with retrained centroids would
    // post new docs under the new model while old postings sit under the
    // old — search would silently miss them. The guard refuses;
    // [[rebuild]] migrates (r16 verdict "What's wrong" #1).
    fingerprint = Some(s"ivf dim=$dim cells=${centroids.size} " +
      s"idKey=$idKey embKey=$embKey buckets=$stateBuckets " +
      s"centroids=$centroidHash" +
      // absent for plain postings, so pre-PQ state dirs keep their
      // exact fingerprint string; a PQ index over a plain-posting state
      // (or changed codebooks) refuses and rebuild() migrates
      pqBooks.fold("")(b => s" pq=${pqHash(b)}") +
      // same exact-string preservation for the pre-sub geometry
      (if (subBuckets == 1) "" else s" subs=$subBuckets")),
    subBuckets = subBuckets)

  /** Full re-assignment of the current corpus under THIS instance's
    * centroids, adopting their fingerprint — the prescribed migration
    * after offline retraining (the mismatched open fails loud and names
    * this path). Subsequent refreshes continue incrementally under the
    * new model.
    */
  def rebuild(spark: SparkSession): Unit = md.rebuild(spark)

  /** Squared L2 between two float-array columns in THE arithmetic family
    * every read and write here shares: component differences squared in
    * FLOAT, accumulated in double. ONE definition by construction —
    * assignment ([[cellOf]]), ranking ([[searchTopK]]/[[searchTopKAll]]),
    * training, and the drift gauge must agree bit-for-bit or a near-tie
    * embedding ranks under one family and posts under another (the
    * near-tie spec pins the pairing).
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)

  /** Nearest-centroid cell of one image's embedding — squared L2 against
    * the centroid literal, `array_position` of the minimum (first match,
    * so ties deterministically take the lower cell). NULL (no
    * contribution) when the embedding is absent or mis-dimensioned.
    */
  private def cellOf(im: Column): Column = {
    // try_cast (inside parsedVec): an unparseable component must degrade
    // to "no usable embedding" (ANSI cast would fail the whole refresh
    // on one bad row)
    val v = parsedVec(im)
    val cents = typedLit(centroids)
    val dists = transform(cents, c => sqDist(v, c))
    when(element_at(im, embKey).isNotNull && size(v) === dim &&
        !exists(v, x => x.isNull),
      (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  /** The image's parsed float-array embedding (see [[cellOf]] for the
    * try_cast degradation contract) — the one parse [[cellOf]] and
    * [[codeOf]] share.
    */
  private def parsedVec(im: Column): Column =
    transform(split(element_at(im, embKey), ","), s => s.try_cast("float"))

  /** The image's PQ code — per subspace, argmin squared-L2 codeword
    * (ties to the lower code, [[cellOf]]'s determinism recipe), joined
    * comma-separated. Deterministic per image, so a retraction derives
    * exactly the code its insert posted. Evaluated only under
    * [[cellOf]]'s usable-embedding guard.
    */
  private def codeOf(im: Column): Column = {
    val v = parsedVec(im)
    val parts = pqBooks.get.zipWithIndex.map { case (bk, m) =>
      val sub = slice(v, pqOffsets(m) + 1, bk.head.size)
      val dists = transform(typedLit(bk), c => sqDist(sub, c))
      ((array_position(dists, array_min(dists)) - 1).cast("int")).cast("string")
    }
    concat_ws(",", parts: _*)
  }

  /** Envelope→envelope: images reduce to {id, cell} (plus {code} under
    * PQ); a side with no usable embedding becomes NULL, so edits onto/off
    * a missing embedding degrade to the pure insert/delete they are.
    */
  private def assignCells(env: DataFrame): DataFrame = {
    def img(im: Column, cell: Column): Column =
      when(im.isNotNull && cell.isNotNull,
        if (pqBooks.isEmpty) map(
          lit("id"), element_at(im, idKey),
          lit("cell"), cell.cast("string"))
        else map(
          lit("id"), element_at(im, idKey),
          lit("cell"), cell.cast("string"),
          lit("code"), codeOf(im)))
    env
      .withColumn("before", img(col("before"), cellOf(col("before"))))
      .withColumn("after", img(col("after"), cellOf(col("after"))))
      .filter(col("before").isNotNull || col("after").isNotNull ||
        col("op") === "truncate")
      .withColumn("op",
        when(col("op") === "update" && col("before").isNull, lit("insert"))
          .when(col("op") === "update" && col("after").isNull, lit("delete"))
          .otherwise(col("op")))
  }

  /** Apply every newly committed lake batch (bounded to `within` when
    * set — the [[Maintainer.refreshCoherent]] barrier seam).
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = md.refresh(spark, within)

  override def stateId: String = md.stateId

  /** Per-cell posting counts (`cell`, `nd_docs`). */
  def cells(spark: SparkSession): DataFrame = md.read(spark)

  /** IVF candidate ids for a query embedding — the one-row case of the
    * set reads' candidate read ([[postingsOf]]): the `nprobe` nearest
    * cells, ONLY those cells' state-log buckets, and their posting rows
    * (`id`, `cell` — plus `code` under PQ). Exact re-rank downstream.
    */
  def search(spark: SparkSession, query: Seq[Float], nprobe: Int): DataFrame =
    postingsOf(spark, md.latestKey(spark), point(spark, query), nprobe)
      ._1.drop("probe_id")

  /** [[search]] FINISHED the way the batch `q_ann_ivf` pipeline finishes
    * (`AnnQueries`), the one-row case of [[searchTopKAll]]: exact
    * squared-L2 re-rank of the candidates against their CURRENT
    * embeddings, fetched candidate-restricted at the index's applied
    * interval ([[MaintainedDistinct.corpusAsOf]] — never a table scan)
    * and scored in assignment's arithmetic family; top `k`, ascending,
    * ties on id. Returns (id, dist).
    *
    * Prerequisite: `idKey` must be the table's replica-identity key (the
    * fold key the restricted read prunes on) — already required for
    * retraction.
    */
  def searchTopK(spark: SparkSession, query: Seq[Float], nprobe: Int,
      k: Int): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    ranked(topK(spark, point(spark, query), nprobe, k, None))
  }

  /** ADC (asymmetric-distance) approximation of ‖probe − doc‖² computed
    * from the posting's CODE alone — Σ over subspaces of squared L2
    * between the probe's sub-vector and the doc's codeword, in the
    * engine's arithmetic family ([[sqDist]]), summed in fixed
    * left-to-right subspace order so the value is deterministic. The
    * corpus vector is never read.
    */
  private def adcApprox(qv: Column, codeCol: Column): Column = {
    val codes = split(codeCol, ",")
    pqBooks.get.zipWithIndex.map { case (bk, m) =>
      val sub = slice(qv, pqOffsets(m) + 1, bk.head.size)
      sqDist(sub, element_at(typedLit(bk),
        element_at(codes, m + 1).cast("int") + 1))
    }.reduceLeft(_ + _)
  }

  /** [[searchTopK]] with a PQ/ADC SHORTLIST between the posting read and
    * the exact re-rank — the read shape that survives 100 TB: the
    * probed cells of a billion-document index can hold millions of
    * candidates, and [[searchTopK]] fetches every one's embedding
    * through the lake's key-restricted fold (candidate-proportional
    * random reads). Here the candidates rank FIRST by ADC distance
    * computed from the posting rows alone ([[adcApprox]] — the postings
    * already carry the codes; no corpus access), and only the
    * `shortlist` survivors pay the exact fetch — the expensive read
    * drops from candidate-proportional to shortlist-proportional.
    *
    * APPROXIMATE by contract: the true k-th neighbor can fall outside
    * the shortlist when quantization error reorders near-equal
    * distances (the standard IVF-PQ recall/cost dial — raise
    * `shortlist` for recall, lower it for cost; the batch `q_ann_pq`
    * pipeline measures the same tradeoff). The k survivors ARE exactly
    * re-ranked: scores in the output are true distances, ties on id.
    * Requires `pqBooks`.
    */
  def searchTopKAdc(spark: SparkSession, query: Seq[Float], nprobe: Int,
      k: Int, shortlist: Int): DataFrame = {
    require(pqBooks.nonEmpty, "searchTopKAdc needs pqBooks — construct " +
      "the index with codebooks (or use the exact searchTopK)")
    require(k > 0, s"top-k needs k > 0, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    ranked(topK(spark, point(spark, query), nprobe, k, Some(shortlist)))
  }

  /** A point read's one-row probe vector frame (probe_id, qv). */
  private def point(spark: SparkSession, query: Seq[Float]): DataFrame = {
    require(query.size == dim, s"query dim ${query.size} != $dim")
    ProbeFrames.single(spark, typedLit(query)).withColumnRenamed("_payload", "qv")
  }

  /** A point top-k's rows in rank order: dist ascending, ties on id. */
  private def ranked(topK: DataFrame): DataFrame =
    topK.drop("probe_id").orderBy(col("dist").asc, col("id").asc)

  /** The corpus' current usable embeddings (id, v float array) as of the
    * index's applied interval — the shared read of the drift gauge and
    * the retrainer.
    */
  private def corpusVectors(spark: SparkSession): DataFrame = {
    val v = parsedVec(col("after"))
    md.corpusAsOf(spark, md.latestKey(spark))
      .select(element_at(col("after"), idKey).as("id"), v.as("v"),
        element_at(col("after"), embKey).isNotNull.as("has"))
      .filter(col("has") && size(col("v")) === dim &&
        !exists(col("v"), x => x.isNull))
      .select("id", "v")
  }

  /** Mean squared-L2 distance from each corpus embedding to its nearest
    * centroid — the DRIFT gauge of the documented operating loop: record
    * it after (re)training, re-check on a cadence, and when it climbs
    * past your tolerance run [[retrainAndRebuild]]. One corpus fold in
    * the engine's arithmetic family (same cost class as the rebuild
    * decision it informs — an offline check, not a per-query read).
    * 0.0 on an empty corpus.
    */
  def quantizationError(spark: SparkSession): Double = {
    val cents = typedLit(centroids)
    val dists = transform(cents, c => sqDist(col("v"), c))
    val r = corpusVectors(spark)
      .agg(avg(array_min(dists))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** [[quantizationError]]'s sibling for the PQ codebooks: mean squared
    * L2 between each corpus embedding and its PQ RECONSTRUCTION
    * (Σ over subspaces of the distance to the nearest codeword — the
    * exact error ADC scoring carries per doc). Rising reconstruction
    * error means drifted codebooks are reordering ADC shortlists away
    * from the true neighbors; the documented loop re-checks it on a
    * cadence and runs [[retrainCodebooksAndRebuild]] past tolerance.
    * One offline corpus fold in the engine's arithmetic family; 0.0 on
    * an empty corpus. Requires `pqBooks`.
    */
  def pqReconstructionError(spark: SparkSession): Double = {
    require(pqBooks.nonEmpty,
      "pqReconstructionError needs pqBooks — this index has no codebooks")
    val err = pqBooks.get.zipWithIndex.map { case (bk, m) =>
      val sub = slice(col("v"), pqOffsets(m) + 1, bk.head.size)
      array_min(transform(typedLit(bk), c => sqDist(sub, c)))
    }.reduceLeft(_ + _)
    val r = corpusVectors(spark).agg(avg(err)).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** The composed CODEBOOK retrain workflow — [[retrainAndRebuild]]'s
    * sibling when [[pqReconstructionError]] (not the centroid drift
    * gauge) trips: train fresh codebooks from the lake's current state,
    * construct the successor under them (same centroids — cell
    * assignment is untouched by code drift), and run the crash-safe
    * [[rebuild]]. Returns the successor; every holder of the old books
    * refuses from the marker on. Run with the refresh loop quiesced.
    */
  def retrainCodebooksAndRebuild(spark: SparkSession, subspaces: Int,
      codewords: Int, iters: Int = 3): MaintainedIvfIndex = {
    require(pqBooks.nonEmpty,
      "retrainCodebooksAndRebuild migrates an existing PQ index; " +
        "construct with pqBooks first")
    val trained = trainCodebooksFromCorpus(spark, subspaces, codewords, iters)
    val next = new MaintainedIvfIndex(lake, schemaName, table, name,
      idKey = idKey, embKey = embKey, centroids = centroids,
      stateBuckets = stateBuckets, pqBooks = Some(trained),
      subBuckets = subBuckets)
    next.rebuild(spark)
    next
  }

  /** Deterministic Lloyd's k-means over the lake's CURRENT embeddings —
    * the offline retrainer of the operating loop. Seeding takes the
    * `kCells` lowest-xxhash64(id) docs (a deterministic pseudo-random
    * draw); each iteration assigns every doc through the SAME
    * float-square/double-accumulate expression family as [[cellOf]]
    * against driver-literal centroids, then averages per (cell, dim)
    * with means rounded to 6 decimals so partial-aggregation order
    * cannot leak into the model; empty cells keep their previous
    * centroid. Only kCells×dim rounded means ever reach the driver per
    * iteration — at 100 TB each iteration is one scan-projection plus a
    * cells×dim-cardinality aggregate.
    */
  def trainCentroidsFromCorpus(spark: SparkSession, kCells: Int,
      iters: Int = 3): Seq[Seq[Float]] = {
    require(kCells > 0, s"kCells must be positive, got $kCells")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val docs = corpusVectors(spark).persist()
    try {
      val seed = docs.orderBy(xxhash64(col("id")), col("id")).limit(kCells)
        .select("v").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      require(seed.nonEmpty, "cannot retrain on an empty corpus")
      var cents: Array[Array[Double]] = seed
      for (_ <- 1 to iters) {
        val cl = typedLit(cents.map(_.map(_.toFloat).toSeq).toSeq)
        val dists = transform(cl, c => sqDist(col("v"), c))
        val cellCol = (array_position(dists, array_min(dists)) - 1).cast("int")
        val dimAvgs = (0 until dim).map(i =>
          round(avg(element_at(col("v"), i + 1)), 6).as(s"w$i"))
        val means = docs.withColumn("cell", cellCol)
          .groupBy("cell").agg(dimAvgs.head, dimAvgs.tail: _*).collect()
        val byCell = means.map(r => r.getInt(0) -> r).toMap
        cents = cents.zipWithIndex.map { case (old, i) =>
          byCell.get(i)
            .map(r => Array.tabulate(dim)(j => r.getDouble(j + 1)))
            .getOrElse(old)
        }
      }
      cents.map(_.map(_.toFloat).toSeq).toSeq
    } finally docs.unpersist(blocking = true)
  }

  /** The COMPOSED retrain workflow (drift detected → new model → migrated
    * index in one call): train fresh centroids from the lake's current
    * state ([[trainCentroidsFromCorpus]]), construct the successor index
    * under them — its centroid-content fingerprint differs, so nothing
    * can mix the families — and run the crash-safe [[rebuild]] so the
    * whole corpus re-assigns and the new fingerprint is adopted. Returns
    * the successor; THIS instance (and any other holder of the old
    * centroids) refuses every read and refresh from the moment the
    * rebuild's marker lands. Run with the refresh loop quiesced, like
    * rebuild itself.
    */
  def retrainAndRebuild(spark: SparkSession, kCells: Int,
      iters: Int = 3): MaintainedIvfIndex = {
    val trained = trainCentroidsFromCorpus(spark, kCells, iters)
    // codes quantize the raw embedding, independent of cell assignment —
    // the codebooks carry over; retrain them separately with
    // trainCodebooksFromCorpus when ADC recall drifts
    val next = new MaintainedIvfIndex(lake, schemaName, table, name,
      idKey = idKey, embKey = embKey, centroids = trained,
      stateBuckets = stateBuckets, pqBooks = pqBooks,
      subBuckets = subBuckets)
    next.rebuild(spark)
    next
  }

  /** Deterministic per-subspace Lloyd's over the lake's CURRENT
    * embeddings — [[trainCentroidsFromCorpus]]'s recipe applied to PQ
    * codebooks (xxhash64-seeded draw, literal codewords per iteration,
    * per-(subspace, code, dim) means rounded to 6 decimals, empty codes
    * keep their codeword). All subspaces train in ONE job per
    * iteration: the per-row explode to (subspace, code, sub-vector)
    * keeps a single map-side-combinable shuffle whose aggregate state
    * is subspaces × codewords × width sums; only the rounded means
    * reach the driver. The effective codeword count is
    * min(`codewords`, corpus size) — same seeding contract as the
    * centroid trainer.
    */
  def trainCodebooksFromCorpus(spark: SparkSession, subspaces: Int,
      codewords: Int, iters: Int = 3): Seq[Seq[Seq[Float]]] = {
    require(subspaces > 0 && dim % subspaces == 0,
      s"subspaces ($subspaces) must divide the embedding dim ($dim)")
    require(codewords > 0, s"codewords must be positive, got $codewords")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val w = dim / subspaces
    val docs = corpusVectors(spark).persist()
    try {
      val seed = docs.orderBy(xxhash64(col("id")), col("id")).limit(codewords)
        .select("v").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      require(seed.nonEmpty, "cannot train codebooks on an empty corpus")
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(subspaces)(m => seed.map(_.slice(m * w, (m + 1) * w)))
      val dimAvgs = (0 until w).map(i =>
        round(avg(element_at(col("x"), i + 1)), 6).as(s"w$i"))
      for (_ <- 1 to iters) {
        val parts = (0 until subspaces).map { m =>
          val bl = typedLit(books(m).map(_.map(_.toFloat).toSeq).toSeq)
          val sub = slice(col("v"), m * w + 1, w)
          val dists = transform(bl, c => sqDist(sub, c))
          struct(lit(m).as("m"),
            (array_position(dists, array_min(dists)) - 1).cast("int").as("code"),
            sub.as("x"))
        }
        val means = docs.select(explode(array(parts: _*)).as("p"))
          .select(col("p.m").as("m"), col("p.code").as("code"),
            col("p.x").as("x"))
          .groupBy("m", "code").agg(dimAvgs.head, dimAvgs.tail: _*)
          .collect()
        val byKey = means.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
        books = Array.tabulate(subspaces)(m =>
          Array.tabulate(books(m).length) { ci =>
            byKey.get((m, ci)) match {
              case Some(r) => Array.tabulate(w)(i => r.getDouble(i + 2))
              case None => books(m)(ci)
            }
          })
      }
      books.map(_.map(_.map(_.toFloat).toSeq).toSeq).toSeq
    } finally docs.unpersist(blocking = true)
  }

  /** SET-ORIENTED [[searchTopK]]: exact-re-ranked top-k for EVERY probe
    * row in ONE job — the nightly-pipeline shape ("nearest corpus
    * neighbors of these 1M new embeddings") that a per-probe driver
    * loop would pay a fingerprint read + manifest listing + job apiece
    * for. Each probe's `nprobe` nearest cells are computed ENGINE-side
    * in the same arithmetic family as [[cellOf]] (float squared
    * differences, double accumulate, ties to the lower cell); the
    * postings read is pruned to the DISTINCT probed cells' buckets
    * (bounded planning pull, ≤ stateBuckets rows); candidates re-rank
    * against their current embeddings fetched candidate-restricted at
    * the SAME state version key; top-k per probe is one windowed rank
    * over (dist, id). Returns (probe_id, id, dist); probes with
    * absent/mis-dimensioned embeddings produce no output rows. `embCol`
    * holds the comma-separated float embedding (the image-map encoding).
    */
  def searchTopKAll(spark: SparkSession, probes: DataFrame,
      idCol: String, embCol: String, nprobe: Int, k: Int): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    topK(spark, parsedProbes(probes, idCol, embCol), nprobe, k, None)
  }

  /** [[searchTopKAll]] with the PQ/ADC shortlist of [[searchTopKAdc]] —
    * the nightly-pipeline set read at the 100 TB cost shape: candidates
    * for ALL probes rank by ADC distance computed engine-side from the
    * probe vector and the posting's code (one windowed rank per probe;
    * no corpus access), and only each probe's `shortlist` survivors
    * enter the exact re-rank fetch. Same approximation contract as
    * [[searchTopKAdc]], whose point read runs this same core. Returns
    * (probe_id, id, dist).
    */
  def searchTopKAllAdc(spark: SparkSession, probes: DataFrame,
      idCol: String, embCol: String, nprobe: Int, k: Int,
      shortlist: Int): DataFrame = {
    require(pqBooks.nonEmpty, "searchTopKAllAdc needs pqBooks — construct " +
      "the index with codebooks (or use the exact searchTopKAll)")
    require(k > 0, s"top-k needs k > 0, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    topK(spark, parsedProbes(probes, idCol, embCol), nprobe, k, Some(shortlist))
  }

  /** Unique probes parsed to (probe_id, qv) float vectors — absent or
    * mis-dimensioned embeddings drop here. Checkpointed: the frame feeds
    * both the cell assignment and the re-rank.
    */
  private def parsedProbes(probes: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val v = transform(split(col("_payload"), ","), s => s.try_cast("float"))
    ProbeFrames.unique(probes, idCol, embCol)
      .select(col("probe_id"),
        when(col("_payload").isNotNull && size(v) === dim &&
          !exists(v, x => x.isNull), v).as("qv"))
      .filter(col("qv").isNotNull)
      .localCheckpoint()
  }

  /** The candidate read every probe shares: probe cells, then probed
    * buckets, then posting rows. Each probe's `nprobe` nearest cells
    * come from the same expressions as [[cellOf]] (struct(dist, cell)
    * sorted lexicographically = ascending distance, ties to the lower
    * cell); the distinct probed cells' state buckets are a bounded
    * planning pull (≤ stateBuckets rows); only those buckets' slices are
    * read. Returns (probe_id, id, cell [, code under PQ]) and the probed
    * bucket set.
    */
  private def postingsOf(spark: SparkSession, key: Option[(Long, Long)],
      pv: DataFrame, nprobe: Int): (DataFrame, Set[Int]) = {
    val cellsOf = transform(typedLit(centroids), (c, i) => struct(
      sqDist(col("qv"), c).as("d"), i.as("cell")))
    // checkpointed: feeds the bucket planning pull and the postings join.
    // A point read checks no nprobe: one ≤ 0 probes no cell.
    val probeCells = pv
      .select(col("probe_id"),
        explode(slice(array_sort(cellsOf), 1, math.max(nprobe, 0))).as("pc"))
      .select(col("probe_id"), col("pc.cell").cast("int").as("cell"))
      .localCheckpoint()
    val probed = probeCells
      .select(md.stateLog.bucketExpr(Seq(col("cell"))).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val rows = md.entriesBucketsAt(spark, key, probed)
      .join(probeCells, Seq("cell"))
    (if (pqBooks.isEmpty) rows.select(col("probe_id"), col("v").as("id"), col("cell"))
    else rows.select(col("probe_id"), col("v.id").as("id"), col("cell"),
      col("v.code").as("code")), probed)
  }

  /** The top-k core of every top-k read: the candidate read, under PQ
    * optionally cut to each probe's `shortlist` best by ADC distance
    * ([[adcApprox]], from the posting rows alone), then the exact finish:
    * candidates fetch their current embeddings candidate-restricted at
    * the SAME state version key, score against the probe vector, and one
    * windowed rank keeps top-k per probe (dist asc, id asc). Returns
    * (probe_id, id, dist).
    */
  private def topK(spark: SparkSession, pv: DataFrame, nprobe: Int, k: Int,
      shortlist: Option[Int]): DataFrame = {
    val key = md.latestKey(spark)
    val (posts, probed) = postingsOf(spark, key, pv, nprobe)
    // checkpointed: referenced by both the restricted embedding fetch
    // and the re-rank join — without it the bucket read would run twice
    val cand = ProbeFrames.candidates(shortlist.fold(posts) { s =>
      posts.join(pv, Seq("probe_id"))
        .withColumn("approx", adcApprox(col("qv"), col("code")))
        .withColumn("ark", row_number().over(Window.partitionBy("probe_id")
          .orderBy(col("approx").asc, col("id").asc)))
        .filter(col("ark") <= s)
    }.select(col("probe_id"), col("id")), probed)
    val docs = md.corpusAsOf(spark, key,
        Some(cand.select(col("id").as("k")).distinct()))
      .select(element_at(col("after"), idKey).as("id"),
        parsedVec(col("after")).as("dv"))
    val w = Window.partitionBy("probe_id").orderBy(col("dist").asc, col("id").asc)
    cand
      .join(docs, Seq("id"))
      .join(pv, Seq("probe_id"))
      .withColumn("dist", sqDist(col("dv"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("id"), col("dist"))
  }

  /** Ops gauges — the underlying maintainer's family. */
  def gauges(spark: SparkSession): Seq[(String, Double)] = md.gauges(spark)
}

object MaintainedIvfIndex {
  /** SHA-256 prefix over float bit patterns in sequence order — the
    * content-hash primitive the centroid and codebook fingerprints
    * share.
    */
  private[sinks] def floatHash(rows: Seq[Seq[Float]]): String = {
    val mdg = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4)
    rows.foreach(_.foreach { x =>
      bb.clear(); bb.putFloat(x); mdg.update(bb.array(), 0, 4)
    })
    mdg.digest().take(12).map(b => f"$b%02x").mkString
  }
}
