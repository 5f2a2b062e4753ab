package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalAgg, IncrementalDistinct}

/** A continuously-maintained BM25 full-text search index over one lake
  * table — the third member of the maintained-index family
  * ([[MaintainedLshIndex]], [[MaintainedIvfIndex]]): at 100 TB a lexical
  * search corpus cannot re-tokenize a petabyte nightly because 0.1% of
  * documents churned. The insight that makes it one seam, not new
  * machinery: BM25's term-frequency postings ARE a refcount state — one
  * envelope row per (event, token OCCURRENCE) with images reduced to
  * {id, term} makes [[IncrementalDistinct]]'s per-(term, doc) refcount
  * exactly tf, maintained under insert/edit/delete with the whole
  * crash/replay/seed/carry-forward/bucketed-persistence discipline
  * inherited verbatim (an edit retracts the old text's occurrences and
  * adds the new; a text-unchanged update telescopes to a zero-net
  * delta). Corpus statistics (N, Σ doc length → avgdl) ride a 1-row
  * [[MaintainedView]] on its own cursor over the same batches.
  *
  * Tokenization mirrors the batch pipeline exactly
  * (`TextQueries.bm25Search`: lowercase, split on `[^a-z]+`, drop
  * empties), so the maintained index and the oracle-gated batch query
  * can never disagree on terms. `k1`/`b` are SEARCH-time parameters —
  * the state holds only tf postings, so retuning them needs no rebuild
  * and they are deliberately NOT in the state fingerprint (the
  * tokenizer family and id/text keys are).
  *
  * [[search]] is the scale-right read, the one-row case of
  * [[searchAll]]: the query tokenizes through the SAME engine expression
  * as documents, and ONLY its ≤ |query terms| state buckets are read;
  * document lengths come from the lake's key-restricted fold over just
  * the candidate ids, pinned to the same POSTINGS state version key
  * (tf, df, and dl can never tear against a concurrent refresh).
  * N/avgdl are a one-row pull from the stats view's own cursor, which
  * [[refresh]] advances in the same call — the two reads agree at every
  * shared refresh boundary (the q_mv composition caveat); between the
  * two commits of one in-flight refresh, N/avgdl may lag the postings
  * by that one span.
  * Scoring is the reference formula (`idf = ln(1+(N-df+0.5)/(df+0.5))`,
  * `tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))`), ties on doc id.
  *
  * Prerequisites: REPLICA IDENTITY FULL (retraction re-tokenizes the
  * before image's text — fail-loud per event), and `idKey` must be the
  * table's replica-identity key (the length fetch prunes the fold on it).
  */
final class MaintainedBm25Index(
    lake: LakeSink, schemaName: String, table: String, name: String,
    /** Image-map keys for the document id and text columns. */
    idKey: String, textKey: String,
    k1: Double = 1.2, b: Double = 0.75, stateBuckets: Int = 16,
    /** Sub-slices per postings bucket — see [[MaintainedDistinct]]'s
      * `subBuckets`: the WRITE-side counterpart of the read-side df-cap.
      * A stop term appears in ~every churned document, so its bucket is
      * touched by ~every refresh; sub-slicing bounds that rewrite (and
      * the merge input) to the dirty ~1/subBuckets of the bucket. The
      * stats/df companions stay unsliced (term-cardinality states, no
      * hot values). Part of the state geometry (fingerprinted; `rebuild`
      * migrates).
      */
    subBuckets: Int = 1,
    /** The df cap [[search]]/[[searchAll]] (and hybrid reads through
      * them) apply when the call site does not pass one — the SCALE
      * POSTURE dial. None (the default) keeps the historical no-argument
      * semantics: every term's postings are read uncapped, which at
      * corpus scale makes the most common query shape there is (one
      * containing a stop word) a corpus-proportional read through one
      * skewed bucket. Production indexes over large corpora should set
      * this (N/2 is an honest choice: a term in more than half the
      * corpus has idf ≈ 0, so dropping it moves scores by ≈ 0 — the
      * exact-removal semantics documented on [[search]]); a call site
      * can always override per query, including back to uncapped with
      * an explicit Long.MaxValue. Like k1/b this is a READ-time
      * parameter — not in the state fingerprint, retune freely.
      */
    defaultDfCap: Option[Long] = None)
    extends Maintainer {

  require(k1 > 0 && b >= 0 && b <= 1, s"k1=$k1 b=$b out of range")
  require(defaultDfCap.forall(_ > 0),
    s"defaultDfCap must be positive when set, got $defaultDfCap")

  private[sinks] val dist = new IncrementalDistinct(
    group = Seq("term" -> (im => element_at(im, "term"))),
    name = "docs",
    value = im => element_at(im, "id"))

  private[sinks] val md = new MaintainedDistinct(lake, dist, schemaName,
    table, name, stateBuckets, transform = explodeTerms,
    // tf postings are a function of the tokenizer family and the id/text
    // keys; k1/b only shape scoring at read time and never touch state
    fingerprint = Some(s"bm25 tok=lower-nonalpha idKey=$idKey " +
      s"textKey=$textKey buckets=$stateBuckets" +
      // absent at 1 so pre-sub state dirs keep their exact fingerprint
      (if (subBuckets == 1) "" else s" subs=$subBuckets")),
    subBuckets = subBuckets)

  /** Corpus stats: N (docs with ≥1 token, matching the batch pipeline's
    * convention — explode drops token-less docs) and Σ doc length, a
    * 1-group maintained aggregate. Token-less/absent-text docs land in
    * the NULL group, which [[corpusStats]] filters out.
    */
  private[sinks] val statsView = new MaintainedView(lake,
    new IncrementalAgg(
      group = Seq("corpus" -> (im =>
        when(size(termsOf(im)) >= 1, lit("all")))),
      sums = Seq("len" -> (im => size(termsOf(im)).cast("long")))),
    schemaName, table, s"${name}_stats", stateBuckets = 1)

  /** Per-term DOCUMENT FREQUENCY, maintained as its own vocabulary-sized
    * view: each document event explodes into one envelope row per
    * DISTINCT term ([[explodeDistinctTerms]]), so the per-term count `n`
    * IS df — +1 when a doc gains a term, −1 when it loses it, telescoped
    * to zero for text-unchanged updates. The state holds ONE row per
    * term (vocabulary-sized, not postings-sized) and is bucketed on
    * `term` with the SAME bucket count as the postings, so [[search]]
    * can answer "is this a stop term?" by reading ≤ |query terms|
    * buckets of a tiny state BEFORE deciding to fetch a posting list —
    * the bounded-read gate that keeps a stop-word query from reading a
    * corpus-sized posting bucket at 100 TB. Self-seeds on the first
    * refresh over a pre-existing postings state (upgrade path: until
    * then, [[search]] simply skips the pruning).
    */
  private[sinks] val dfView = new MaintainedView(lake,
    new IncrementalAgg(
      group = Seq("term" -> (im => element_at(im, "term"))), sums = Nil),
    schemaName, table, s"${name}_df", stateBuckets = stateBuckets,
    transform = Some(explodeDistinctTerms))

  /** The batch pipeline's exact tokenizer: lowercase, split on runs of
    * non-letters, drop empties. NULL text → NULL (no contribution).
    */
  private def termsOf(im: Column): Column =
    termsOfText(element_at(im, textKey))

  /** [[termsOf]] over a raw text column — the probe-frame variant
    * ([[searchAll]] tokenizes the caller's query column directly).
    */
  private def termsOfText(t: Column): Column =
    filter(split(lower(t), "[^a-z]+"), x => x =!= "")

  /** Envelope→envelope: each event splits into one DELETE row per
    * before-token occurrence and one INSERT row per after-token
    * occurrence (before/after token lists differ in length, so the
    * per-side explode replaces [[MaintainedLshIndex]]'s shared-index
    * explode); a text-unchanged update's rows telescope to a zero-net
    * refcount delta in the maintainer's groupBy. Truncates pass through.
    * Fail-loud: an update/delete without its before image raises (the
    * retraction cannot re-tokenize).
    */
  private[sinks] def explodeTerms(env: DataFrame): DataFrame =
    explodeWith(env, termsOf)

  /** [[explodeTerms]]'s DISTINCT sibling — one row per (event, distinct
    * term), the df view's delta source: a doc's repeated token must move
    * df by one, not tf.
    */
  private[sinks] def explodeDistinctTerms(env: DataFrame): DataFrame =
    explodeWith(env, im => array_distinct(termsOf(im)))

  private def explodeWith(env: DataFrame,
      terms: Column => Column): DataFrame = {
    def img(im: Column, t: Column): Column =
      map(lit("id"), element_at(im, idKey), lit("term"), t)
    val nullImg = lit(null).cast("map<string,string>")
    val checkedBefore = when(col("before").isNull, raise_error(concat(
      lit("MaintainedBm25Index: "), col("op"),
      lit(" event carries no before image — the source table needs " +
        "REPLICA IDENTITY FULL for incremental maintenance"))))
      .otherwise(col("before"))
    val dels = env.filter(col("op").isin("update", "delete"))
      .withColumn("_bt", terms(checkedBefore))
      .select(col("*"), explode(col("_bt")).as("_t"))
      .withColumn("op", lit("delete"))
      .withColumn("before", img(col("before"), col("_t")))
      .withColumn("after", nullImg)
      .drop("_bt", "_t")
    val ins = env.filter(col("op").isin("update", "insert"))
      .select(col("*"), explode(terms(col("after"))).as("_t"))
      .withColumn("op", lit("insert"))
      .withColumn("after", img(col("after"), col("_t")))
      .withColumn("before", nullImg)
      .drop("_t")
    dels.unionByName(ins)
      .unionByName(env.filter(col("op") === "truncate"))
  }

  /** Apply every newly committed lake batch to the postings, the
    * corpus-stats, and the df cursors (postings FIRST — the companion
    * views' versions must always lie within the postings interval so
    * pinned reads can thread one key). Returns the postings batches
    * applied. `within` bounds all three cursors to one interval — under
    * a [[Maintainer.refreshCoherent]] barrier the companions land on
    * exactly the postings' bound instead of racing the writer.
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = {
    val n = md.refresh(spark, within)
    // the two companions are independent of EACH OTHER (own cursors, own
    // state dirs) — only the postings-first ordering is load-bearing
    MaintainerOps.inParallel(
      () => statsView.refresh(spark, within),
      () => dfView.refresh(spark, within))
    n
  }

  // the composite's identity is its PRIMARY (postings) state — the
  // companions are derived from the same name, so two instances over one
  // postings dir would also collide on stats/df
  override def stateId: String = md.stateId

  // ALL owned writers, companions included: a standalone MaintainedView
  // that happens to be named like this index's stats/df companion is a
  // second concurrent writer on that state dir — refreshCoherent's
  // disjointness check needs to see every one
  override def ownedStateIds: Seq[String] =
    Seq(md.stateId, statsView.stateId, dfView.stateId)

  /** The raw postings: (term, doc id, tf) — `rc` IS the term frequency. */
  def postings(spark: SparkSession): DataFrame =
    md.entries(spark).select(col("term"), col("v").as("id"),
      col("rc").as("tf"))

  /** (n_docs, avgdl) of the current corpus — a one-row state read,
    * pinned within the postings' applied interval.
    */
  def corpusStats(spark: SparkSession): (Long, Double) =
    // the stats view carries no fingerprint of its own — latestKey routes
    // the read through the postings guard so a mismatched open refuses
    // here too
    corpusStatsAt(spark, md.latestKey(spark))

  /** [[corpusStats]] pinned WITHIN an already-resolved postings key
    * ([[search]] resolves `latestKey` itself): the stats version read is
    * the newest one whose interval lies inside the postings interval, so
    * a refresh committing between the postings read and this one — or a
    * crash between `md.refresh` and `statsView.refresh` — cannot score
    * with N/avgdl from a LATER interval than the postings (the companion
    * refreshes after the postings, so its versions are always within;
    * within the two commits of one in-flight refresh the stats may lag
    * the postings by that one span, the documented direction).
    */
  private def corpusStatsAt(spark: SparkSession,
      key: Option[(Long, Long)]): (Long, Double) = {
    val sKey = companionKey(statsView, spark, key)
    val rows = statsView.readAt(spark, sKey).filter(col("corpus") === "all")
      .select(col("n").cast("long"), col("sum_len").cast("long")).collect()
    rows.headOption.map(r => (r.getLong(0),
      if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)))
      .getOrElse((0L, 0.0))
  }

  /** The per-term document frequencies (term, df) served from the df
    * view's vocabulary-sized state, pinned within the postings interval.
    */
  def termDfs(spark: SparkSession): DataFrame = {
    val key = md.latestKey(spark) // fingerprint guard rides along
    dfView.readAt(spark, companionKey(dfView, spark, key))
      .select(col("term"), col("n").cast("long").as("df"))
  }

  /** The companion-view version a postings-pinned read should serve:
    * the newest version WITHIN the postings interval (the normal case —
    * companions refresh after the postings, so their versions lie
    * inside), falling back to the companion's plain latest when none is
    * within. The fallback covers the AHEAD race: a lake batch committing
    * between `md.refresh` and the companion's refresh makes the
    * companion's (first) version extend past the postings interval —
    * serving the slightly-newer stats/df there is the pre-pinning
    * semantics and strictly better than serving an empty frame (which
    * would turn every search into an empty result until the postings
    * catch up).
    */
  private def companionKey(view: MaintainedView, spark: SparkSession,
      postingsKey: Option[(Long, Long)]): Option[(Long, Long)] =
    postingsKey.flatMap(k => view.latestKeyWithin(spark, k))
      .orElse(view.latestKeyAny(spark) match {
        // the fallback covers exactly the AHEAD race (a batch committed
        // between the postings refresh and the companion's, so the
        // companion's only version extends past the postings interval) —
        // slightly newer stats are the pre-pinning semantics and strictly
        // better than nothing. A version that is BEHIND the postings
        // interval is a different animal: a re-pinned postings cursor
        // (re-bootstrap after a vacuum gap) with a companion that never
        // caught up would silently score every search with corpus stats
        // from the pre-bootstrap corpus — refuse loudly instead.
        case Some(any) if postingsKey.forall(k => any._2 >= k._2) => Some(any)
        case Some(any) => throw new IllegalStateException(
          s"companion view '${name}' serves interval $any, STALE relative " +
            s"to the postings interval $postingsKey — the companion never " +
            "caught up after the postings cursor moved (e.g. a " +
            "re-bootstrap); refresh the index (which refreshes the " +
            "companions) before reading")
        case None => None
      })

  /** A call-site df cap resolved against the constructor default:
    * [[MaintainedBm25Index.InheritDfCap]] (the parameter default) means
    * "use `defaultDfCap`, uncapped when unset"; anything else is the
    * caller's explicit choice (Long.MaxValue = force-uncapped).
    */
  private def resolveCap(dfCap: Long): Long = {
    require(dfCap == MaintainedBm25Index.InheritDfCap || dfCap > 0,
      s"dfCap must be positive (or InheritDfCap), got $dfCap")
    if (dfCap == MaintainedBm25Index.InheritDfCap)
      defaultDfCap.getOrElse(Long.MaxValue)
    else dfCap
  }

  /** Fail-loud maintenance-equivalence of the postings state with a
    * from-scratch re-tokenization — see
    * [[MaintainedDistinct.verifyAgainstRebuild]]. Returns the number of
    * state rows compared. `sampleMod` > 1 restricts both sides to the
    * deterministic document sample `xxhash64(id) % sampleMod == rem`
    * (the re-tokenization then reads ~1/sampleMod of the corpus), with
    * the remainder rotating on the verified interval
    * ([[SampleResidues.of]] — see [[MaintainedLshIndex
    * .assertConsistent]] for the rotation's reach and limits); pair
    * with the full-state oracle columns
    * (q_mv's `bm_postings`/`bm_tf`/`bm_vocab`) for same-horizon
    * coverage outside the sample.
    */
  def assertConsistent(spark: SparkSession, sampleMod: Int = 1): Long = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    md.verifyAgainstRebuild(spark, key =>
      if (sampleMod == 1) None
      else {
        val rem = SampleResidues.of(key, sampleMod)
        Some((
          pmod(xxhash64(element_at(col("after"), idKey)),
            lit(sampleMod.toLong)) === rem,
          pmod(xxhash64(col("v")), lit(sampleMod.toLong)) === rem))
      })
  }

  /** Full re-tokenization adopting the current fingerprint — the
    * migration path a mismatched open names. The corpus-stats view
    * (whose state is ALSO a function of the tokenizer and textKey)
    * rebuilds INSIDE the postings maintainer's fingerprint-marker
    * window, so a crash anywhere in the composite migration leaves
    * every instance refusing loudly and this method re-runnable —
    * migrating only the postings would leave N/avgdl silently computed
    * under the old parameters.
    */
  def rebuild(spark: SparkSession): Unit =
    md.rebuild(spark, s => { statsView.rebuild(s); dfView.rebuild(s) })

  /** Top-k BM25 retrieval for a free-text query: (id, score), score
    * descending, ties on id — the one-row case of [[searchAll]], through
    * the same core. Empty (same schema) when the query has no alphabetic
    * tokens or the index is empty.
    *
    * `dfCap` bounds the read: terms whose document frequency exceeds it
    * are dropped BEFORE their posting lists are fetched (a stop word's
    * postings live entirely in one state bucket; the gate reads the
    * vocabulary-sized df view instead). Score semantics of a capped
    * term: it contributes NOTHING — the result is exactly the uncapped search for the same
    * query with that term removed (spec-pinned). That is the honest
    * approximation: a term with df > cap has
    * idf ≤ ln(1 + (N−cap+0.5)/(cap+0.5)), ≈ 0 for any cap that is a
    * sizable fraction of N — dropping it moves every score by ≈ 0 while
    * turning a corpus-proportional read into no read at all. Left
    * unset, the cap is the constructor's `defaultDfCap` (uncapped when
    * that too is unset); an explicit Long.MaxValue forces uncapped.
    */
  def search(spark: SparkSession, query: String, k: Int,
      dfCap: Long = MaintainedBm25Index.InheritDfCap): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    rank(spark, ProbeFrames.single(spark, typedLit(query)), k, resolveCap(dfCap))
      .drop("probe_id")
      .orderBy(col("score").desc, col("id").asc)
  }

  /** SET-ORIENTED [[search]]: top-k BM25 retrieval for EVERY probe row
    * in ONE job — the nightly-pipeline shape ("rank corpus matches for
    * these 1M queries") that a per-probe driver loop would pay a
    * fingerprint read + manifest listing + job apiece for. Probe
    * queries tokenize through the SAME engine expression as documents;
    * the df cap applies set-wise (a join against the vocabulary-sized
    * df view read at the probed terms' buckets, skipped when the df
    * view has no version within the postings interval); the postings
    * read is pruned to the DISTINCT surviving terms' buckets (bounded
    * planning pull, ≤ stateBuckets rows) and semi-joined to the probed
    * terms, so it is probed-bucket-proportional, never probes × state;
    * df/dl/N/avgdl come from the same one-key-threaded reads as
    * [[search]]. Returns (probe_id, id, score), top-k per probe by
    * (score desc, id asc); probes with no alphabetic tokens (or whose
    * every term is capped) produce no output rows.
    */
  def searchAll(spark: SparkSession, probes: DataFrame,
      idCol: String, queryCol: String, k: Int,
      dfCap: Long = MaintainedBm25Index.InheritDfCap): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    val cap = resolveCap(dfCap)
    // intake validation runs BEFORE the empty-corpus early return: a
    // malformed probe frame must refuse on the pipeline's very first
    // (still-empty-index) run, not start failing once the corpus fills
    rank(spark, ProbeFrames.unique(probes, idCol, queryCol), k, cap)
  }

  /** The ranking core of both searches, over a unique (probe_id,
    * _payload) frame and a resolved df cap.
    */
  private def rank(spark: SparkSession, src: DataFrame, k: Int,
      cap: Long): DataFrame = {
    val key = md.latestKey(spark)
    val (nDocs, avgdl) = corpusStatsAt(spark, key)
    if (nDocs == 0L) return src
      .select(col("probe_id"), lit(null).cast("string").as("id"),
        lit(0.0d).as("score"))
      .filter(lit(false))
    // materialized once: probes tokenize exactly one time, whether the
    // frame then feeds the df-cap planning pull + join or goes straight
    // to postings-bucket planning
    val pterms0 = src
      .select(col("probe_id"),
        array_distinct(termsOfText(col("_payload"))).as("qts"))
      .filter(col("qts").isNotNull)
      .select(col("probe_id"), explode(col("qts")).as("term"))
      .localCheckpoint()
    // the df cap, set-wise: pinned to the df view version within the
    // postings interval (with [[companionKey]]'s ahead-race fallback);
    // absent entirely (pre-df-era state) → no pruning
    val dKey =
      if (cap == Long.MaxValue) None
      else companionKey(dfView, spark, key)
    val pterms = dKey match {
      case None => pterms0
      case Some(_) =>
        val dfBuckets = pterms0
          .select(dfView.stateLog.bucketExpr(Seq(col("term"))).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val dfs = dfView.readBucketsAt(spark, dKey, dfBuckets)
          .select(col("term"), col("n").cast("long").as("_df"))
        pterms0.join(dfs, Seq("term"), "left_outer")
          .filter(coalesce(col("_df"), lit(0L)) <= cap)
          .select(col("probe_id"), col("term"))
          .localCheckpoint() // feeds bucket planning, the postings
                             // semi join, and the hits join
    }
    val probed = pterms
      .select(md.stateLog.bucketExpr(Seq(col("term"))).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // checkpointed: feeds df-per-term, the hits join, and (via hits)
    // the candidate-restricted length fetch
    val post = ProbeFrames.candidates(md.entriesBucketsAt(spark, key, probed)
      .join(pterms.select("term").distinct(), Seq("term"), "left_semi")
      .select(col("term"), col("v").as("id"), col("rc").as("tf")), probed)
    // df is exact within the pruned read: it covers EVERY posting of
    // each surviving probed term
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
    val hits = pterms.join(post, Seq("term"))
    val dls = md.corpusAsOf(spark, key,
        Some(post.select(col("id").as("k")).distinct()))
      .select(element_at(col("after"), idKey).as("id"),
        size(termsOf(col("after"))).cast("double").as("dl"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") + lit(k1) *
      (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("score").desc, col("id").asc)
    hits
      .join(broadcast(dfs), Seq("term"))
      .join(dls, Seq("id"))
      .withColumn("contrib", idf * (col("tf") * lit(k1 + 1) / norm))
      .groupBy("probe_id", "id").agg(sum(col("contrib")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("id"), col("score"))
  }

  /** Ops gauges — all three underlying maintainers' families. */
  def gauges(spark: SparkSession): Seq[(String, Double)] =
    md.gauges(spark) ++ statsView.gauges(spark) ++ dfView.gauges(spark)
}

object MaintainedBm25Index {
  /** Sentinel `dfCap` meaning "inherit the index's constructor-level
    * `defaultDfCap`" — the default on every search signature, so the
    * no-argument read path at scale is whatever posture the index was
    * BUILT with, not silently uncapped. Long.MinValue, deliberately
    * outside any computable cap's range: a caller arithmetic bug
    * landing on a small negative (e.g. `n/2 - k` == −1) must still
    * refuse loudly, never silently inherit.
    */
  val InheritDfCap: Long = Long.MinValue
}
