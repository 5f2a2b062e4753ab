package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.functions.MinHash

/** Per-document distinct n-token shingle sets — the shared scan every dedup
  * operator (and the fingerprinter) builds on.
  *
  * The shingles are [[MinHash.shingles]] (the one near-dup kernel), run
  * imperatively in a partition scan: Spark's higher-order array functions
  * (`transform`/`slice`/`array_join`/`array_distinct`) are interpreted,
  * not whole-stage-codegen'd, and that expression chain measured **24×
  * slower** than the loop (7.7s vs 0.32s for the sf0.1 corpus). A row
  * per shingled document, none for a document with fewer than n tokens
  * — the shape the DuckDB oracles pin. (A `filter` on the kernel's
  * Column form would be pushed below its projection and shingle every
  * document twice.)
  *
  * The frame is `persist()`ed: every dedup query references it from several
  * differently-aliased plan branches (signature build, self-join sides,
  * verification), which defeats ReuseExchange — without persistence each
  * branch re-runs the scan. Queries over the same (dir, n) share the cache
  * (canonical-plan keyed), e.g. minhash and the fingerprinter both use n=5.
  * At true 100-TB scale the same role is played by writing the shingle-set
  * table once and reading it per stage.
  */
object ShingleSets {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("shs", ArrayType(StringType, containsNull = false), nullable = false)))

  // Memoized per (session, dir, n): CacheManager keys on the canonical plan,
  // and each mapPartitions call would embed a fresh closure instance — two
  // calls would build two independent caches instead of sharing one.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), DataFrame]

  def apply(s: SparkSession, dir: String, n: Int): DataFrame =
    memo.getOrElseUpdate((s, dir, n), build(s, dir, n))

  /** Unpersist and forget every cached frame for `dir` in this session —
    * the cache-lifecycle release for long-lived sessions that move between
    * corpora (a one-shot Verify/Bench main never needs it). Blocking, so a
    * follow-up apply() rebuilds rather than racing the eviction.
    */
  def release(s: SparkSession, dir: String): Unit =
    memo.keys.toSeq.filter(k => k._1 eq s).filter(_._2 == dir).foreach { k =>
      memo.remove(k).foreach(_.unpersist(blocking = true))
    }

  /** Release every cached frame owned by `s` (session shutdown hook). */
  def releaseAll(s: SparkSession): Unit =
    memo.keys.toSeq.filter(k => k._1 eq s).foreach { k =>
      memo.remove(k).foreach(_.unpersist(blocking = true))
    }

  /** Number of live cached frames for a session — test/metrics visibility. */
  private[graft] def cachedCount(s: SparkSession): Int =
    memo.keys.count(_._1 eq s)

  private def build(s: SparkSession, dir: String, n: Int): DataFrame =
    // fanned out (Tables.fanOut): documents is one unsplittable row group,
    // and the shingling loop below is exactly the per-row CPU a single
    // scan task would serialize across every dedup consumer. costFactor:
    // shingling re-hashes every n-gram of every token — roughly an order
    // of magnitude more CPU per input byte than the wire-codec class the
    // fan-out target is calibrated for (r21 A/B: width 8 beat both 1 and
    // 32 for every consumer of this cache).
    Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"), costFactor = 8)
      .mapPartitions { it =>
        it.flatMap { r =>
          Option(MinHash.shingles(r.getString(1), n))
            .map(shs => Row(r.getLong(0), shs.toSeq))
        }
      }(Encoders.row(schema)).persist()
}
