package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Besides the parquet the driver hashes, every query also gets a CANONICAL
  * text dump (`<name>.canon.txt`) rendered from the parquet just written —
  * columns sorted by name, rows sorted lexicographically on the RENDERED
  * cells with NULL cells LAST (local_verify.py's oracle canon dump sorts
  * by the same key, so the two files diff line-to-line; the driver's
  * hash order — (isNull, str(raw)) per cell — agrees except on
  * scientific-notation doubles, where only row ORDER can differ, never
  * the compared multiset), decimals via BigDecimal.toPlainString at
  * their declared scale, doubles via java.lang.Double.toString (shortest
  * round-trip) — plus a `versions.json` recording the JVM/Spark/Scala the
  * dump was produced under. A hash red in CORRECTNESS_r{N} can then be
  * diffed to the exact column and row of the DRIVER's run instead of
  * re-rolled blind (q_ivm was driver-red/judge-green for two rounds with
  * nothing to diff).
  */
object Verify {
  /** One canonical cell rendering, documented once: NULL marker, decimal
    * plain string at declared scale, shortest-round-trip doubles/floats,
    * instant-UTC timestamps, hex bytes, recursively for arrays/maps.
    */
  private def canonCell(v: Any): String = v match {
    case null => "NULL"
    case d: java.math.BigDecimal => d.toPlainString
    // -0.0 renders as 0.0: the compare (local_verify.canon) normalizes
    // both sides before hashing, so keeping the sign here would leave a
    // "-0.0 vs 0.0" diff between canon files on queries the gate PASSES
    case d: java.lang.Double if d.doubleValue == 0.0 => "0.0"
    case d: java.lang.Double => java.lang.Double.toString(d)
    // floats render WIDENED: DuckDB hands local_verify the parquet
    // float32 as a python double, so Float.toString's short form
    // ("1.1") would diff against the widened repr
    // ("1.100000023841858") on every float cell
    case f: java.lang.Float if f.floatValue == 0.0f => "0.0"
    case f: java.lang.Float => java.lang.Double.toString(f.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toString
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] =>
      s.map(canonCell).mkString("[", ",", "]")
    // map-entry/struct-field sorts use the SAME code-point ordering as
    // the row sort: local_verify.py sorts these with python sorted()
    // (code points), and Scala's default String ordering is UTF-16 code
    // units — a supplementary-plane character inside a nested cell would
    // otherwise yield a cosmetic canon-file diff between the two sides
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => canonCell(k) + "=" + canonCell(mv) }
        .toSeq.sorted(CodePointOrder).mkString("{", ",", "}")
    // structs render like the python side's DuckDB dict fetch
    // ("{k=v,...}" sorted on the rendered entry) when field names are
    // available; schemaless nested rows fall back to positional
    case r: org.apache.spark.sql.Row if r.schema != null =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, fv) => k + "=" + canonCell(fv) }
        .sorted(CodePointOrder).mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonCell).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Compare strings by Unicode CODE POINT, matching python `sorted()`
    * (local_verify's row key) — Java's natural `compareTo` orders by
    * UTF-16 code unit, which flips rows when one cell holds a
    * supplementary-plane character (surrogates D800-DFFF sort BELOW
    * E000-FFFF in UTF-16 but their code points U+10000+ sort above all
    * of the BMP). Standard remap: code units at-or-above E000 shift
    * down by 0x800, putting surrogate pairs after every BMP char.
    */
  private object CodePointOrder extends Ordering[String] with Serializable {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.charAt(i)
        val cb = b.charAt(i)
        if (ca != cb) {
          val xa = if (ca >= 0xE000) ca - 0x800 else ca.toInt
          val xb = if (cb >= 0xE000) cb - 0x800 else cb.toInt
          return xa - xb
        }
        i += 1
      }
      a.length - b.length
    }
  }

  private def writeCanon(spark: SparkSession, outDir: String, name: String): Unit = {
    // render from the parquet just written — canon reflects exactly the
    // bytes the driver hashes, not a recomputation that could diverge
    val df = spark.read.parquet(s"$outDir/$name")
    val order = df.schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    val header = order.map(i =>
      df.schema.fields(i).name + ":" + df.schema.fields(i).dataType.simpleString)
      .mkString("\t")
    // rows sort by (isNull, renderedCell) — NULLs LAST, columns already
    // name-ordered. local_verify.py's oracle canon dump sorts by the
    // SAME rendered-cell key, so equal content aligns data lines
    // one-to-one and a red diffs line-to-line (only the '#' header
    // differs — this side annotates Spark types). (The driver's internal hash
    // order sorts by python str(raw value) instead — identical except
    // for scientific-notation doubles, where only the ORDER differs,
    // never the multiset of rows being compared.) Rendering and sorting
    // run IN SPARK and the file is written from a partition-at-a-time
    // iterator: a per-row dump at a big sf never materializes the whole
    // result (or a second copy as text) on the driver.
    implicit val cellOrd: Ordering[(Int, String)] =
      Ordering.Tuple2(Ordering.Int, CodePointOrder)
    implicit val ord: Ordering[Seq[(Int, String)]] =
      Ordering.Implicits.seqOrdering[Seq, (Int, String)]
    val lines = df.rdd.map { r =>
        val cells = order.map(i => canonCell(r.get(i)))
        (cells.map(c => (if (c == "NULL") 1 else 0, c)).toSeq,
          cells.mkString("\t"))
      }.sortBy(_._1).map(_._2)
    val w = Files.newBufferedWriter(Paths.get(s"$outDir/$name.canon.txt"))
    try {
      w.write("# " + header); w.newLine()
      lines.toLocalIterator.foreach { l => w.write(l); w.newLine() }
    } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional trailing query names restrict the dump (local dev loop);
    // the driver always invokes with exactly two args → full sweep.
    val only = rest.toSet
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        writeCanon(spark, outDir, name)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val versions = Seq(
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "timezone" -> "UTC",
      "double_format" -> "java.lang.Double.toString (shortest round-trip)",
      "decimal_format" -> "java.math.BigDecimal.toPlainString (declared scale)")
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/versions.json"), versions)
    spark.stop()
  }
}
