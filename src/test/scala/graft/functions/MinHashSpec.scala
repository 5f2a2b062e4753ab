package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.TextFunctions.{hash60, wordShingles}

/** The one MinHash kernel: its imperative form, its Column form and the
  * higher-order expression chain it replaced (kept here as the reference
  * the DuckDB oracles were written against) agree on edge-case texts.
  */
class MinHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    null,
    "",
    "too few tokens",
    "  leading and trailing whitespace makes empty tokens at both ends  ",
    "\tone\ttwo  three\nfour five six",
    "a b c d e a b c d e a b c d e a b c d e",
    "the quick brown fox jumps over the lazy dog beside a quiet river bank",
    "naïve café déjà vu — 東京 タワー の 夜景 Ωμέγα 🙂 straße ünïcödé ok")

  /** The parent expression form: distinct `wordShingles` of the `split`
    * tokens, `hash60` per shingle, `array_min(transform(xor seed))` per
    * component, `concat_ws` band keys. An empty shingle array means the
    * document was dropped.
    */
  private def reference(text: Column, n: Int, k: Int): (Column, Column, Column) = {
    val shs = array_distinct(wordShingles(split(text, "\\s+", -1), n))
    val hs = transform(shs, sh => hash60(sh))
    val ms = (0 until k).map(i =>
      array_min(transform(hs, h => h.bitwiseXOR(hash60(lit(s"minhash-seed-$i"))))))
    val keys = array((0 until k / 2).map(j =>
      concat_ws(",", ms(2 * j), ms(2 * j + 1))): _*)
    (shs, array(ms: _*), keys)
  }

  for (n <- Seq(1, 3, 5)) test(s"imperative, Column and reference forms agree (n=$n)") {
    val k = 8
    val (rShs, rSig, rKeys) = reference(col("text"), n, k)
    val sig = MinHash.signature(MinHash.shingles(col("text"), n), MinHash.DedupFamily, k)
    val rows = texts.toDF("text")
      .select(col("text"), MinHash.shingles(col("text"), n).as("shs"), sig.as("sig"),
        MinHash.bandKeys(sig, 2).as("keys"),
        rShs.as("r_shs"), rSig.as("r_sig"), rKeys.as("r_keys"))
      .collect()
    assert(rows.length == texts.size)
    val seeds = MinHash.seeds(MinHash.DedupFamily, k)
    rows.foreach { r =>
      val text = r.getString(0)
      val shs = MinHash.shingles(text, n)
      val imp = Option(shs).map(s => (s.toSeq, MinHash.signature(s, seeds).toSeq))
      val viaColumn = Option(r.getSeq[String](1)).map(s => (s, r.getSeq[Long](2)))
      val ref = Option(r.getSeq[String](4)).filter(_.nonEmpty)
        .map(s => (s, r.getSeq[Long](5)))
      assert(imp == viaColumn, s"imperative vs Column form on [$text]")
      assert(viaColumn == ref, s"Column vs reference form on [$text]")
      imp.foreach { case (_, s) =>
        assert(MinHash.bandKeys(s.toArray, 2).toSeq == r.getSeq[String](3))
        assert(r.getSeq[String](3) == r.getSeq[String](6))
      }
      if (imp.isEmpty) assert(r.isNullAt(3), s"no band keys for dropped [$text]")
    }
    // the edge cases are real: some texts drop, some keep empty tokens,
    // and repeated shingles collapse
    val kept = texts.filter(t => MinHash.shingles(t, n) != null)
    assert(kept.nonEmpty && kept.size < texts.size)
    assert(MinHash.shingles(texts(5), n).length == math.min(5, 20 - n + 1))
    assert(MinHash.shingles(texts(3), n).head.startsWith(if (n == 1) "" else " "))
  }

  test("type checks name the expected input") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(1L).toDF("x").select(MinHash.signature(col("x"), "f", 2)).collect())
    assert(e.getMessage.toLowerCase.contains("array<string>"), e.getMessage)
  }
}
