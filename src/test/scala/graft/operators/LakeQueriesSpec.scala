package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Puts the oracle-gate builders themselves under `sbt test` — round 13
  * shipped a NULL-producing q_mv regression through a fully green suite
  * because nothing in `src/test` touched [[LakeQueries]]. Each gate query
  * is checked two ways at sf0.001:
  *
  *  1. NO NULLS anywhere in the served frame (the r13 failure mode was a
  *     renamed envelope key turning every price lookup NULL);
  *  2. EXACT equality with an independent in-test recomputation from the
  *     raw `orders`/`customer` parquet, using the same integer-cents
  *     churn the builders declare (a Spark-side restatement of the DuckDB
  *     oracle SQL, so a drift in either the builders or the maintenance
  *     machinery fails here before the driver ever runs).
  *
  * Plus unit pins for the cents/bump money discipline, including the
  * truncating division on NEGATIVE cents that q_mj's acctbal churn relies
  * on (the bump docstring's claim, previously untested).
  */
class LakeQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def assertNoNulls(df: DataFrame, name: String): Unit = {
    val rows = df.collect()
    assert(rows.nonEmpty, s"$name served zero rows")
    rows.foreach { r =>
      (0 until r.length).foreach { i =>
        assert(!r.isNullAt(i),
          s"$name has a NULL in column '${df.columns(i)}' of row $r")
      }
    }
  }

  private def assertSame(got: DataFrame, want: DataFrame, name: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq,
      s"$name column mismatch: ${got.columns.toSeq} vs ${want.columns.toSeq}")
    assert(rowsOf(got) == rowsOf(want), s"$name rows diverge from recompute")
  }

  /** `body`'s result with the number of Spark jobs it ran
    * ([[SparkTestBase.jobCallSites]]).
    */
  private def jobsIn[T](group: String)(body: => T): (T, Int) = {
    val (out, sites) = SparkTestBase.jobCallSites(group)(body)
    (out, sites.size)
  }

  // the same derivation the builders use: BIGINT cents, ~10% integer bump
  private def pc(key: String, price: String, mod: Int) = {
    val c = LakeQueries.cents(col(price))
    when(col(key) % mod === 0, LakeQueries.bump(c)).otherwise(c)
  }

  test("cents/bump are exact integer arithmetic, negatives included") {
    import spark.implicits._
    // (input cents, expected (c*11) div 10 with truncation toward zero)
    val cases = Seq(100L -> 110L, 57L -> 62L, -57L -> -62L, 0L -> 0L,
      -99999L -> -109998L, 9999999L -> 10999998L, 1L -> 1L, -1L -> -1L)
    val got = cases.map(_._1).toDF("c")
      .select(LakeQueries.bump(col("c"))).as[Long].collect().toSeq
    assert(got == cases.map(_._2))
    // cents() matches floor(x*100 + 0.5) on exactly-representable edges
    val centsGot = Seq(1.005, -993.37, 0.0, 104225.96).toDF("x")
      .select(LakeQueries.cents(col("x"))).as[Long].collect().toSeq
    assert(centsGot == Seq(100L, -99337L, 0L, 10422596L))
  }

  test("q_lake_state equals a direct recompute of the churned table") {
    val got = LakeQueries.lakeState(spark, dir)
    assertNoNulls(got, "q_lake_state")
    val want = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 13 =!= 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        sum(pc("o_orderkey", "o_totalprice", 7)).cast("long")
          .as("sum_price_cents"))
      .orderBy("o_orderstatus")
    assertSame(got, want, "q_lake_state")
  }

  test("q_lake_asof equals the pre-delete churned table") {
    val got = LakeQueries.lakeAsOf(spark, dir)
    assertNoNulls(got, "q_lake_asof")
    val want = Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        sum(pc("o_orderkey", "o_totalprice", 7)).cast("long")
          .as("sum_price_cents"))
      .orderBy("o_orderstatus")
    assertSame(got, want, "q_lake_asof")
  }

  test("q_mv serves non-null aggregates equal to a direct recompute") {
    val (got, jobs) = jobsIn("lqs-mv")(LakeQueries.mvOrders(spark, dir))
    // the q_mv gate build's exact Spark job count at local[4]: a lazy
    // checkpoint that silently folds twice, or a refresh that grows an
    // action, moves it
    assert(jobs == 170, s"q_mv build ran $jobs Spark jobs, pinned at 170")
    assertNoNulls(got, "q_mv")
    val p = pc("o_orderkey", "o_totalprice", 7)
    // the maintained IVF index's per-cell counts ride q_mv as constant
    // columns: recompute the squared-L2 argmin assignment (centroids
    // (3,3) (13,4) (8,14), ties to the lower cell) over the churned
    // orders' derived embedding — the Spark-side restatement of the
    // oracle SQL's ivf CTE
    // the gate's DECLARED 50% subset (see the builder's gate-sizing
    // comment), minus the churn's deletes
    val survivors = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 2 === 0)
      .filter(col("o_orderkey") % 13 =!= 0)
    val e1 = (col("o_orderkey") % 19).cast("double")
    val e2 = (p % 17).cast("double")
    def d(cx: Int, cy: Int) =
      (e1 - cx) * (e1 - cx) + (e2 - cy) * (e2 - cy)
    val (d0, d1, d2) = (d(3, 3), d(13, 4), d(8, 14))
    val cell = when(d0 <= d1 && d0 <= d2, 0).when(d1 <= d2, 1).otherwise(2)
    val cellCounts = survivors.select(cell.as("cell"))
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the BM25 maintainer's (postings, Σtf) over the declared 10% text
    // subset — the Spark restatement of the oracle's bm CTE
    val bmText = concat_ws(" ",
      col("o_orderstatus"), col("o_orderpriority"),
      (col("o_orderkey") % 40).cast("string"),
      (col("o_custkey") % 20).cast("string"),
      lit("lake order lake text"))
    val bmRow = survivors.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        explode(split(lower(bmText), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "o_orderkey").agg(count(lit(1)).as("tf"))
      .agg(count(lit(1)).cast("long"), sum("tf").cast("long"),
        count_distinct(col("term")).cast("long")).head()
    val (bmPostings, bmTf, bmVocab) =
      (bmRow.getLong(0), bmRow.getLong(1), bmRow.getLong(2))
    // STRICT inequality: "lake" repeats in every subset text, so a tf
    // maintenance drift that collapses counts to 1 fails here (and the
    // oracle), not just in the index's own spec
    assert(bmPostings > 0 && bmTf > bmPostings,
      s"BM25 gate vacuous: postings=$bmPostings tf=$bmTf")
    // the HYBRID gate columns: an independent recompute of the fused
    // ranking for the build's fixed probe ("urgent lake", emb (9,9)) —
    // BM25 scores and ranks derived here from the churned table (driver-
    // side, same IEEE arithmetic order as the engine), global L2 ranks
    // from the derived embeddings, RRF with the same 1/(60+rank) and
    // id-string tie-breaks. Fusion ARITHMETIC independence lives in
    // HybridRetrievalSpec's hand-computed cases and the DuckDB oracle;
    // this restatement pins the maintained state the ranking reads.
    val lexDocs = survivors.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").cast("string").as("id"),
        explode(split(lower(bmText), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id").agg(count(lit(1)).as("dl"),
        sum(when(col("term") === "urgent", 1L).otherwise(0L)).as("tfu"),
        sum(when(col("term") === "lake", 1L).otherwise(0L)).as("tfl"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val nDocs = lexDocs.length.toDouble
    val avgdl = lexDocs.map(_._2).sum.toDouble / lexDocs.length
    val dfu = lexDocs.count(_._3 > 0).toDouble
    val dfl = lexDocs.count(_._4 > 0).toDouble
    def contrib(tf: Long, df: Double, dl: Long): Double =
      if (tf == 0) 0.0
      else math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) *
        (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
    val lexScored = lexDocs
      .filter(d => d._3 + d._4 > 0)
      .map(d => (d._1, contrib(d._3, dfu, d._2) + contrib(d._4, dfl, d._2)))
    // near-tie guard: the three engines in this gate (this recompute's
    // Math.log, Spark's StrictMath.log, DuckDB's libm ln) may differ in
    // the last ulp, so the RANKING is cross-engine-stable only because
    // BM25 scores here are functions of small-integer (tf, dl, df) —
    // equal inputs give EXACT ties (id-broken identically everywhere)
    // and unequal inputs give macroscopic gaps. Assert that on the
    // actual data: any two non-identical scores must sit well above ulp
    // noise, so an engine-version bump that breaks this fails loudly
    // here instead of flaking the driver gate.
    val sortedScores = lexScored.map(_._2).sorted.reverse
    sortedScores.zip(sortedScores.drop(1)).foreach { case (a, b) =>
      assert(a == b || (a - b) / math.max(a.abs, b.abs) > 1e-9,
        s"near-tie BM25 scores $a vs $b — the hybrid rank gate would be " +
          "sensitive to cross-engine ln ulp differences")
    }
    val lexRank = lexScored
      .sortBy { case (id, sc) => (-sc, id) }.take(10)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val vecRank = survivors
      .select(col("o_orderkey").cast("string").as("id"),
        (col("o_orderkey") % 19).cast("double").as("e1"),
        (p % 17).cast("double").as("e2"))
      .collect()
      .map(r => (r.getString(0),
        (r.getDouble(1) - 9) * (r.getDouble(1) - 9) +
          (r.getDouble(2) - 9) * (r.getDouble(2) - 9)))
      .sortBy { case (id, dist) => (dist, id) }.take(10)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val fused = (lexRank.keySet ++ vecRank.keySet).toSeq
      .map { id =>
        val rrf = lexRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vecRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, rrf)
      }
      .sortBy { case (id, rrf) => (-rrf, id) }.take(3)
    assert(fused.length == 3, s"hybrid recompute found ${fused.length} docs")
    // non-vacuity: the fused top-3 must interleave BOTH lists — one-
    // sided output would mean fusion degenerated to a single ranking.
    // Guaranteed by construction whatever the overlap: each side's
    // rank-1 carries rrf ≥ 1/61, the fused maximum, so both survive the
    // top-3 cut (a doc ranked on both sides counts for both). The
    // 1/61-vs-1/61 tie between disjoint rank-1s also pins the id-string
    // tie-break cross-engine.
    assert(fused.exists(f => lexRank.contains(f._1)) &&
      fused.exists(f => vecRank.contains(f._1)),
      s"hybrid gate vacuous: fused top-3 $fused is single-sided " +
        s"(lex=$lexRank vec=$vecRank)")
    // n_cust is served from the MaintainedDistinct refcount state — the
    // recompute's count(DISTINCT) over the surviving table must agree
    val want = survivors
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).cast("long").as("n_cust"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        sum(p).cast("long").as("sum_price_cents"),
        min(p).cast("long").as("min_price_cents"),
        max(p).cast("long").as("max_price_cents"))
      .withColumn("ivf_c0", lit(cellCounts.getOrElse(0, 0L)))
      .withColumn("ivf_c1", lit(cellCounts.getOrElse(1, 0L)))
      .withColumn("ivf_c2", lit(cellCounts.getOrElse(2, 0L)))
      .withColumn("bm_postings", lit(bmPostings))
      .withColumn("bm_tf", lit(bmTf))
      // the df view's vocabulary — its Σdf == postings tie is asserted
      // inside the build; the count itself is hash-gated cross-engine
      .withColumn("bm_vocab", lit(bmVocab))
      .withColumn("hyb1", lit(fused(0)._1.toLong))
      .withColumn("hyb2", lit(fused(1)._1.toLong))
      .withColumn("hyb3", lit(fused(2)._1.toLong))
      .withColumn("hyb_rrf1", lit(math.floor(fused(0)._2 * 1e6).toLong))
      .orderBy("o_orderstatus")
    assertSame(got, want, "q_mv")
    // the gate must not be vacuous: churn must land postings in more
    // than one cell, or the assignment check would pass trivially
    assert(cellCounts.size >= 2,
      s"derived embeddings collapsed into one cell: $cellCounts")
  }

  test("q_mj equals a direct left join over the churned tables") {
    val (got, jobs) = jobsIn("lqs-mj")(LakeQueries.mjOrders(spark, dir))
    assert(jobs == 103, s"q_mj build ran $jobs Spark jobs, pinned at 103")
    // sum_bal_cents is NULL for the UNMATCHED segment by construction —
    // the no-null check applies to the matched segments and to the price
    // column everywhere
    val rows = got.collect()
    assert(rows.nonEmpty, "q_mj served zero rows")
    rows.foreach { r =>
      assert(!r.isNullAt(got.columns.indexOf("sum_price_cents")),
        s"q_mj sum_price_cents NULL in $r")
      if (r.getString(0) != "UNMATCHED")
        assert(!r.isNullAt(got.columns.indexOf("sum_bal_cents")),
          s"q_mj sum_bal_cents NULL in matched segment $r")
    }
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 4 === 0) // the declared fact-side subset
      .filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_custkey"),
        pc("o_orderkey", "o_totalprice", 97).as("p"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 101 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        pc("c_custkey", "c_acctbal", 53).as("b"))
    // the delta-join gate columns (the left_outer MaintainedDeltaJoin's
    // state, recomputed): total rows, matched pairs, matched cents sum,
    // and the null-extended rows' price sum over the same churned tables
    val dj = o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .agg(count(lit(1)).cast("long"),
        count(col("c_custkey")).cast("long"),
        coalesce(sum(when(col("c_custkey").isNotNull, col("p") + col("b"))),
          lit(0L)).cast("long"),
        coalesce(sum(when(col("c_custkey").isNull, col("p"))), lit(0L))
          .cast("long")).head()
    assert(dj.getLong(1) > 0, "delta-join gate vacuous: no matched pairs")
    assert(dj.getLong(0) > dj.getLong(1),
      "delta-join gate vacuous: no null-extended rows — the %101 " +
        "customer deletes should flip surviving orders unmatched")
    val want = o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .select(coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("seg"),
        col("p"), col("b"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), count(col("b")).as("n_matched"),
        sum(col("p")).cast("long").as("sum_price_cents"),
        sum(col("b")).cast("long").as("sum_bal_cents"))
      // the COMPOSITION gate columns: the downstream view maintained off
      // the delta join's emitted changelog must equal the direct join's
      // per-segment count and price sum
      .withColumn("djv_n", col("n").cast("long"))
      .withColumn("djv_cents", col("sum_price_cents"))
      .withColumn("dj_rows", lit(dj.getLong(0)))
      .withColumn("dj_pairs", lit(dj.getLong(1)))
      .withColumn("dj_cents", lit(dj.getLong(2)))
      .withColumn("dj_null_cents", lit(dj.getLong(3)))
      .orderBy("seg")
    assertSame(got, want, "q_mj")
  }

  test("q_ivm equals a direct recompute, cents exact") {
    val got = CdcQueries.incrementalAgg(spark, dir).orderBy("o_orderstatus")
    assertNoNulls(got, "q_ivm")
    val p = pc("o_orderkey", "o_totalprice", 7)
    val want = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 13 =!= 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).cast("long").as("n_cust"),
        sum(p).cast("long").as("sum_price_cents"),
        sum(col("o_orderkey").cast("decimal(18,2)")).multiply(100)
          .cast("long").as("sum_key_c"),
        min(p).cast("long").as("min_price_cents"),
        max(p).cast("long").as("max_price_cents"))
      .orderBy("o_orderstatus")
    assertSame(got, want, "q_ivm")
  }
}
