package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one MinHash near-duplicate kernel: distinct word shingles →
  * seeded-XOR-min signature over [[Hash60]] → `"m1,m2"` band keys. The
  * batch pipeline (`DedupQueries.minhashLsh` over [[graft.operators
  * .ShingleSets]]), the streaming operator (`StreamingDedup`) and the
  * CDC-maintained index (`MaintainedLshIndex`) all call it, so the three
  * cannot drift apart.
  *
  * Each step has an imperative form (plain JVM values, used by
  * `ShingleSets`' partition scan) and a Column form: a `CodegenFallback`
  * Catalyst expression whose `eval` calls the SAME imperative code, so a
  * driver-side probe over a one-row frame and an executor scan agree
  * bit-for-bit. One loop per row computes each piece once, where the
  * equivalent higher-order-function chain
  * (`transform`/`slice`/`array_join`/`array_min`) evaluates interpreted
  * and re-runs the regex split once per shingle position.
  *
  * Semantics are those the DuckDB oracles pin for `q_dedup_minhash`,
  * `q_streaming_dedup` and `q_dedup_clusters`: tokens are
  * `split("\\s+", -1)` (Spark's split — leading/trailing empty tokens
  * kept), n consecutive tokens join with single spaces, shingles are
  * distinct in first-occurrence order, and a NULL text or one with fewer
  * than n tokens has no shingles (NULL, not empty). Seeds are
  * `Hash60("<family>-i")`; each XOR is a bijection of the 60-bit hash
  * space, so each per-seed minimum is a valid min-hash (`hash60` in the
  * oracle SQL recomputes them identically).
  */
object MinHash {

  /** Seed family of the batch and streaming dedup signatures. */
  val DedupFamily = "minhash-seed"

  /** Distinct n-token shingles of `text` in first-occurrence order; NULL
    * when `text` is NULL or has fewer than `n` tokens.
    */
  def shingles(text: String, n: Int): Array[String] = {
    if (text == null) return null
    val toks = text.split("\\s+", -1)
    if (toks.length < n) return null
    val set = new java.util.LinkedHashSet[String](math.max(16, toks.length * 2))
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      set.add(sb.toString)
      i += 1
    }
    set.toArray(new Array[String](set.size))
  }

  /** The `k` seeds `Hash60("<family>-i")`, i < k. */
  def seeds(family: String, k: Int): Array[Long] =
    Array.tabulate(k)(i => Hash60(s"$family-$i"))

  /** Per seed, the minimum of `Hash60(shingle) ^ seed` over the shingles;
    * NULL when there are none. One MD5 per shingle serves every seed.
    */
  def signature(shingles: Array[String], seeds: Array[Long]): Array[Long] = {
    if (shingles == null || shingles.isEmpty) return null
    val mins = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val h = Hash60(shingles(i))
      var j = 0
      while (j < seeds.length) {
        val v = h ^ seeds(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** One key per band of `rowsPerBand` consecutive components, joined by
    * `","` (band b = `m_{rb},…,m_{rb+r-1}`).
    */
  def bandKeys(sig: Array[Long], rowsPerBand: Int): Array[String] = {
    require(sig.length % rowsPerBand == 0,
      s"a ${sig.length}-component signature does not split into $rowsPerBand-row bands")
    sig.grouped(rowsPerBand).map(_.mkString(",")).toArray
  }

  /** Column form of [[shingles]]: `array<string>` of a string column. */
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(MinHashShingles(ColumnBridge.expression(text), n))

  /** Column form of [[signature]] with `seeds(family, k)`: `array<bigint>`
    * of an `array<string>` shingle column.
    */
  def signature(shingles: Column, family: String, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), family, k))

  /** Column form of [[bandKeys]]: `array<string>` of a signature column. */
  def bandKeys(sig: Column, rowsPerBand: Int): Column =
    ColumnBridge.column(MinHashBandKeys(ColumnBridge.expression(sig), rowsPerBand))

  /** Accepts `child` when its type matches `ok`, else names `want`. */
  private[functions] def typeCheck(child: Expression, want: String)(
      ok: PartialFunction[DataType, Unit]): TypeCheckResult =
    if (ok.isDefinedAt(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"requires $want, got ${child.dataType.catalogString}")

  private[functions] def utf8Array(a: Array[String]): ArrayData =
    if (a == null) null else new GenericArrayData(a.map(UTF8String.fromString))
}

/** [[MinHash.shingles]] as an expression: string → `array<string>`. */
case class MinHashShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    MinHash.typeCheck(child, "string") { case _: StringType => }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    MinHash.utf8Array(MinHash.shingles(input.toString, n))
  override protected def withNewChildInternal(c: Expression): MinHashShingles = copy(child = c)
  override def prettyName: String = "minhash_shingles"
}

/** [[MinHash.signature]] as an expression: `array<string>` →
  * `array<bigint>` under `MinHash.seeds(family, k)`. NULL elements are
  * skipped.
  */
case class MinHashSignature(child: Expression, family: String, k: Int)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val seeds = MinHash.seeds(family, k)
  override def checkInputDataTypes(): TypeCheckResult =
    MinHash.typeCheck(child, "array<string>") { case ArrayType(_: StringType, _) => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val shs = (0 until a.numElements()).filterNot(a.isNullAt)
      .map(a.getUTF8String(_).toString).toArray
    val sig = MinHash.signature(shs, seeds)
    if (sig == null) null else ArrayData.toArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** [[MinHash.bandKeys]] as an expression: `array<bigint>` → `array<string>`. */
case class MinHashBandKeys(child: Expression, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    MinHash.typeCheck(child, "array<bigint>") { case ArrayType(LongType, _) => }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHash.utf8Array(MinHash.bandKeys(input.asInstanceOf[ArrayData].toLongArray(), rowsPerBand))
  override protected def withNewChildInternal(c: Expression): MinHashBandKeys = copy(child = c)
  override def prettyName: String = "minhash_band_keys"
}
