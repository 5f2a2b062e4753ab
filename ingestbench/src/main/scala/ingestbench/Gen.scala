package ingestbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable
import graft.pgproto.{MessageEncoder => E, Messages}
import graft.pgproto.Messages.RelationColumn

/** The benchmark's tables, shaped like the repository's sf0.1 test data
  * (`orders`, `lineitem`, `documents`) with PostgreSQL column types. Every
  * table is REPLICA IDENTITY FULL, so the wire flags every column as key;
  * [[KeyOverrides]] tells the decoder the real row keys.
  */
object Schema {
  val Int8 = 20L; val Int4 = 23L; val Text = 25L
  val Numeric = 1700L; val Timestamp = 1114L
  /** numeric(15,2): typmod = ((precision << 16) | scale) + 4. */
  val Money: Int = ((15 << 16) | 2) + 4

  final case class Table(id: Int, oid: Long, name: String,
      cols: Seq[(String, Long, Int)], key: Seq[String]) {
    val columns: Seq[RelationColumn] =
      cols.map { case (n, t, m) => RelationColumn(n, t, m, 1) }
    val names: Seq[String] = cols.map(_._1)
    def qualified: String = s"public.$name"
    def relation: Messages.Relation =
      Messages.Relation(0L, oid, "public", name, 'f'.toByte, columns.toArray)
  }

  val Orders = Table(0, 16401L, "orders", Seq(
    ("o_orderkey", Int8, -1), ("o_custkey", Int8, -1), ("o_orderstatus", Text, -1),
    ("o_totalprice", Numeric, Money), ("o_orderdate", Timestamp, -1),
    ("o_orderpriority", Text, -1)), Seq("o_orderkey"))
  val Lineitem = Table(1, 16402L, "lineitem", Seq(
    ("l_orderkey", Int8, -1), ("l_partkey", Int8, -1), ("l_suppkey", Int8, -1),
    ("l_linenumber", Int4, -1), ("l_quantity", Numeric, Money),
    ("l_extendedprice", Numeric, Money), ("l_discount", Numeric, Money),
    ("l_tax", Numeric, Money), ("l_returnflag", Text, -1), ("l_linestatus", Text, -1),
    ("l_shipdate", Timestamp, -1)), Seq("l_orderkey", "l_linenumber"))
  val Documents = Table(2, 16403L, "documents", Seq(
    ("doc_id", Int8, -1), ("text", Text, -1), ("lang", Text, -1),
    ("source", Text, -1), ("n_chars", Int8, -1)), Seq("doc_id"))
  val All: Seq[Table] = Seq(Orders, Lineitem, Documents)

  val KeyOverrides: String =
    All.map(t => s"${t.qualified}=${t.key.mkString("+")}").mkString(";")

  /** sf0.1 row counts: 150 000 orders with 1-7 lines each (~600 000). */
  val Sf01Orders = 150000
}

/** Deterministic row images: a row's text is a pure function of the seed,
  * its table, key and version, so the generator never has to keep the
  * images it sent — the expected state is a map from key to version.
  * Lineitem keys pack (orderkey, linenumber) as `orderkey * 8 + line`.
  */
final class Rows(seed: Long) extends Serializable {
  import Rows._

  private def rng(table: Int, key: Long, ver: Int): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + table) ^ mix(key * 1000003L + ver))

  def linesOf(orderKey: Long): Int =
    1 + java.lang.Long.remainderUnsigned(mix(seed ^ (orderKey * 0xC2B2AE3D27D4EB4FL)), 7L).toInt

  def order(k: Long, v: Int): Array[String] = {
    val r = rng(0, k, v)
    Array(k.toString, (1 + r.nextInt(15000)).toString, Status(r.nextInt(3)),
      money(90000L + r.nextLong(50000000L)), Dates(r.nextInt(Dates.length)),
      Priorities(r.nextInt(Priorities.length)))
  }

  def lineitem(key: Long, v: Int): Array[String] = {
    val ok = key >>> 3; val ln = (key & 7).toInt
    val r = rng(1, key, v)
    val qty = 1 + r.nextInt(50)
    Array(ok.toString, (1 + r.nextInt(20000)).toString, (1 + r.nextInt(1000)).toString,
      ln.toString, money(qty * 100L), money(qty * (90000L + r.nextLong(10000000L)) / 100),
      money(r.nextInt(11)), money(r.nextInt(9)), Flags(r.nextInt(3)), LineStatus(r.nextInt(2)),
      Dates(r.nextInt(Dates.length)))
  }

  /** The text column depends on the key only: updates keep it unchanged,
    * which is what lets them ship it as unchanged-TOAST.
    */
  def document(d: Long, v: Int): Array[String] = {
    val t = rng(2, d, 0)
    val sb = new StringBuilder
    val words = 30 + t.nextInt(50)
    var i = 0
    while (i < words) {
      if (i > 0) sb += ' '
      sb ++= Vocabulary(t.nextInt(Vocabulary.length)); i += 1
    }
    val text = sb.result()
    val r = rng(3, d, v)
    Array(d.toString, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(50)}",
      text.length.toString)
  }

  def image(table: Int, key: Long, ver: Int): Array[String] = table match {
    case 0 => order(key, ver)
    case 1 => lineitem(key, ver)
    case _ => document(key, ver)
  }
}

object Rows {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def money(cents: Long): String = {
    val c = cents % 100
    s"${cents / 100}.${if (c < 10) "0" else ""}$c"
  }
  val Status = Array("O", "F", "P")
  val Flags = Array("A", "N", "R")
  val LineStatus = Array("O", "F")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Langs = Array("en", "de", "fr")
  val Vocabulary = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "customer", "query", "stream", "group", "filter")
  /** 1992-01-01 .. 1998-12-31, as PostgreSQL prints a timestamp. */
  val Dates: Array[String] = (0 until 2557).map(d =>
    java.time.LocalDate.of(1992, 1, 1).plusDays(d).toString + " 00:00:00").toArray
}

/** Every change the generator emitted, in commit order: per event the
  * table, key and new version (-1 = deleted); `txnEnd(i)` is the event
  * index after transaction i. Replaying a prefix gives the state the lake
  * must hold after that many transactions.
  */
final class EventLog {
  private var tables = new Array[Byte](1 << 16)
  private var keys = new Array[Long](1 << 16)
  private var vers = new Array[Int](1 << 16)
  private var n = 0
  private val ends = mutable.ArrayBuilder.make[Int]
  private var txns = 0

  def add(table: Int, key: Long, ver: Int): Unit = {
    if (n == keys.length) {
      tables = java.util.Arrays.copyOf(tables, n * 2)
      keys = java.util.Arrays.copyOf(keys, n * 2)
      vers = java.util.Arrays.copyOf(vers, n * 2)
    }
    tables(n) = table.toByte; keys(n) = key; vers(n) = ver; n += 1
  }
  def endTxn(): Unit = { ends += n; txns += 1 }
  lazy val txnEnd: Array[Int] = ends.result()
  def events: Int = n
  def txnCount: Int = txns
  def eventsIn(firstTxns: Int): Int = if (firstTxns <= 0) 0 else txnEnd(firstTxns - 1)

  /** Key → version per table after the first `firstTxns` transactions,
    * starting from `initial` (a seeded lake's pre-existing rows).
    */
  def stateAfter(firstTxns: Int,
      initial: Seq[mutable.LongMap[Int]] = Nil): Seq[mutable.LongMap[Int]] = {
    val st = Seq.tabulate(3)(t =>
      if (t < initial.size) initial(t).clone() else mutable.LongMap.empty[Int])
    var i = 0
    val end = eventsIn(firstTxns)
    while (i < end) {
      if (vers(i) < 0) st(tables(i)).remove(keys(i)) else st(tables(i)).update(keys(i), vers(i))
      i += 1
    }
    st
  }
}

/** Order-insensitive digest of a table state: count, xor and the two
  * 32-bit halves' sums of Spark's `xxhash64` over each row's image
  * joined by U+0001 (NULL as U+0002). [[Harness.lakeDigest]] computes the
  * same digest over the lake in Spark.
  */
final case class Digest(count: Long, xor: Long, lo: Long, hi: Long) {
  def +(h: Long): Digest = Digest(count + 1, xor ^ h, lo + (h & 0xffffffffL), hi + (h >>> 32))
}
object Digest {
  val Empty = Digest(0, 0, 0, 0)
  def hash(values: Array[String]): Long = {
    val b = values.map(v => if (v == null) "\u0002" else v).mkString("\u0001").getBytes(UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
  def of(rows: Rows, table: Int, state: mutable.LongMap[Int]): Digest = {
    var d = Empty
    state.foreach { case (k, v) => d = d + hash(rows.image(table, k, v)) }
    d
  }
}

/** Frames of one pgoutput stream, each wrapped as XLogData with a
  * monotonically increasing LSN.
  */
final class WalWriter(startLsn: Long = 0x1000000L) {
  val frames = mutable.ArrayBuffer.empty[Array[Byte]]
  /** Commit end-LSN of each transaction, in order. */
  val txnEnds = mutable.ArrayBuffer.empty[Long]
  private var lsn = startLsn
  private var xid = 1000L
  var bytes = 0L
  def lastLsn: Long = lsn

  private def put(at: Long, time: Long, msg: Array[Byte]): Unit = {
    val f = E.xlogData(at, at, time, msg)
    frames += f; bytes += f.length
  }
  def relations(tables: Seq[Schema.Table], time: Long): Unit = tables.foreach { t =>
    lsn += 1; put(lsn, time, E.relation(t.oid, "public", t.name, t.columns, 'f'.toByte))
  }
  def txn(msgs: Seq[Array[Byte]], time: Long): Unit = {
    val beginAt = lsn + 1
    val commitAt = beginAt + msgs.size + 1
    put(beginAt, time, E.begin(commitAt, time, xid))
    var at = beginAt
    msgs.foreach { m => at += 1; put(at, time, m) }
    put(commitAt, time, E.commit(commitAt, commitAt, time))
    lsn = commitAt; xid += 1; txnEnds += commitAt
  }
  /** A protocol-v2 streamed (in-progress) transaction: `segments` of
    * DML already encoded with this transaction's xid, then STREAM COMMIT.
    */
  def streamedTxn(build: Long => Seq[Seq[Array[Byte]]], time: Long): Unit = {
    val x = xid
    build(x).zipWithIndex.foreach { case (seg, i) =>
      lsn += 1; put(lsn, time, E.streamStart(x, firstSegment = i == 0))
      seg.foreach { m => lsn += 1; put(lsn, time, m) }
      lsn += 1; put(lsn, time, E.streamStop())
    }
    lsn += 1
    put(lsn, time, E.streamCommit(x, lsn, lsn, time))
    xid += 1; txnEnds += lsn
  }
}

/** Text tuple of a row image (every value present; images here carry no
  * NULLs).
  */
object Tuples {
  def of(v: Array[String]): Seq[Option[String]] = v.toSeq.map(Some(_))
  def toastText(v: Array[String]): Seq[Option[String]] =
    v.toSeq.zipWithIndex.map { case (s, i) => if (i == 1) Some(E.Toast) else Some(s) }
}
