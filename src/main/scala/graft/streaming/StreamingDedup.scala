package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.MinHash

/** Ingest-time near-duplicate suppression — MinHash+LSH dedup as a
  * STREAMING operator, so a document pipeline can drop near-dups on
  * arrival instead of re-running batch dedup over the accumulated corpus.
  *
  * Same signature kernel as the batch pipeline
  * ([[graft.operators.DedupQueries.minhashLsh]]): [[graft.functions.MinHash]]
  * — row-local distinct word-shingles → k seeded-XOR minhashes → band
  * keys, one projection and zero shuffle. The stream then groups by
  * (band, bucket) and each bucket's `flatMapGroupsWithState` state
  * remembers the signatures it has seen; a new document whose signature
  * agrees with a stored one on enough components (estimated Jaccard =
  * matching fraction) is emitted as a [[StreamingDedup.DupFlag]].
  * Consumers drop flagged doc_ids (a doc flagged in ANY band is a
  * near-dup — bands are an OR-index).
  *
  * 100-TB shape: state is hash-partitioned by bucket across executors;
  * per-bucket state is CAPPED at `maxBucketDocs` signatures (a bucket that
  * hot is one giant near-dup family — the cap keeps the newest exemplars,
  * which is what future arrivals collide with) and optionally expires on
  * idle timeout, so state is bounded no matter how long the stream runs.
  * Nothing corpus-sized shuffles: a document contributes `bands` rows of
  * (bucket, signature), each a few hundred bytes.
  */
object StreamingDedup {

  /** One near-dup hit: `doc_id` collided with earlier `dup_of` in `band`
    * with `est_jaccard` of signature components agreeing.
    */
  final case class DupFlag(doc_id: Long, dup_of: Long, band: Int, est_jaccard: Double)

  /** Per-bucket retained state: insertion-ordered (docId, signature). */
  final case class BucketState(docs: List[(Long, Seq[Long])])

  /** Flag near-duplicates in a streaming `(doc_id: Long, text: String)`
    * frame. Emits at most one flag per (doc, band); documents too short to
    * shingle pass through unflagged (nothing to compare).
    */
  def nearDupFlags(
      s: SparkSession,
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleN: Int = 5,
      minEstJaccard: Double = 0.5,
      maxBucketDocs: Int = 128,
      idleTimeoutMillis: Option[Long] = None): Dataset[DupFlag] = {
    import s.implicits._
    val timeoutConf =
      if (idleTimeoutMillis.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bandedSignatures(s, docs, numHashes, rowsPerBand, shingleN)
      .groupByKey { case (band, bkey, _, _) => (band, bkey) }
      .flatMapGroupsWithState[BucketState, DupFlag](OutputMode.Append(), timeoutConf)(
        updateBucket(numHashes, minEstJaccard, maxBucketDocs, idleTimeoutMillis))
  }

  /** (band, bucket-key, doc_id, signature) rows, one per band per
    * shingleable document, from the shared [[graft.functions.MinHash]]
    * kernel under the batch pipeline's seed family — so a streamed
    * document keys into exactly the bands `q_dedup_minhash` puts it in.
    * A document too short to shingle has a NULL signature, which the
    * band explode skips.
    */
  private[streaming] def bandedSignatures(
      s: SparkSession, docs: DataFrame,
      numHashes: Int, rowsPerBand: Int, shingleN: Int): Dataset[(Int, String, Long, Seq[Long])] = {
    import s.implicits._
    require(numHashes % rowsPerBand == 0, "numHashes must split into equal bands")
    docs
      .select(col("doc_id"), MinHash.signature(MinHash.shingles(col("text"), shingleN),
        MinHash.DedupFamily, numHashes).as("sig"))
      .select(posexplode(MinHash.bandKeys(col("sig"), rowsPerBand)).as(Seq("band", "bkey")),
        col("doc_id"), col("sig"))
      .as[(Int, String, Long, Seq[Long])]
  }

  /** The per-bucket transition, extracted so specs drive it directly with
    * `TestGroupState`. Every incoming doc is compared against the stored
    * signatures (best match wins), then stored itself — so two dups in ONE
    * batch still flag. Eviction drops the OLDEST entries beyond the cap.
    */
  private[streaming] def updateBucket(
      numHashes: Int, minEstJaccard: Double, maxBucketDocs: Int,
      idleTimeoutMillis: Option[Long])(
      key: (Int, String),
      rows: Iterator[(Int, String, Long, Seq[Long])],
      state: GroupState[BucketState]): Iterator[DupFlag] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var docs = state.getOption.map(_.docs).getOrElse(Nil)
      val flags = List.newBuilder[DupFlag]
      // Deterministic order inside the batch: micro-batch iterators carry
      // no ordering guarantee, and flag direction (who is "dup_of" whom)
      // must not depend on shuffle arrival order.
      rows.toSeq.sortBy(_._3).foreach { case (band, _, docId, sig) =>
        if (!docs.exists(_._1 == docId)) {
          val best = docs.iterator.map { case (prevId, prevSig) =>
            val same = (0 until numHashes).count(i => sig(i) == prevSig(i))
            (prevId, same.toDouble / numHashes)
          }.foldLeft(Option.empty[(Long, Double)]) {
            case (acc, cur) if acc.forall(_._2 < cur._2) => Some(cur)
            case (acc, _) => acc
          }
          best.filter(_._2 >= minEstJaccard).foreach { case (prevId, est) =>
            flags += DupFlag(docId, prevId, band, est)
          }
          docs = (docs :+ (docId -> sig)).takeRight(maxBucketDocs)
        }
      }
      state.update(BucketState(docs))
      idleTimeoutMillis.foreach(state.setTimeoutDuration)
      flags.result().iterator
    }
  }
}
