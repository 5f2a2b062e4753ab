package graft.snapshot

import graft.snapshot.ChunkPlanner.TableStats

/** S5 catalog introspection: the queries the snapshot planner needs answered
  * before it can chunk a real table — primary-key discovery, PK bounds, row
  * counts, physical block stats, replica identities.
  *
  * All SQL matches the reference's metadata queries
  * (`pq/snapshot/coordinator.go:971-1059,797-920,1189-1218`,
  * `pq/publication/replica_identity.go:99-141`) and is issued through a
  * pluggable [[CatalogReader.SqlExecutor]] — a JDBC connection in production
  * (`stmt.executeQuery`, every result read as text like the reference's
  * pgproto text results), a fixture in tests (no PostgreSQL in this
  * environment). The JDBC binding is [[JdbcExecutor]].
  */
final class CatalogReader(exec: CatalogReader.SqlExecutor) {
  import CatalogReader._

  /** PK columns with their formatted types, in index-column order
    * (`coordinator.go:971-1000`).
    */
  def primaryKeyColumns(schema: String, table: String): Seq[(String, String)] =
    exec(s"""SELECT a.attname, format_type(a.atttypid, a.atttypmod)
            |FROM pg_index i
            |JOIN pg_attribute a ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey)
            |WHERE i.indrelid = ${regclassLiteral(schema, table)}::regclass AND i.indisprimary
            |ORDER BY a.attnum""".stripMargin)
      .collect { case Seq(name, dt) => (name, dt.toLowerCase) }

  /** Full column list as pgoutput-shaped descriptors — name, type OID,
    * typmod, and the replica-identity-key flag — in attribute order. The
    * same `pg_attribute` read the reference's decoder cache seeds from;
    * feeds [[SnapshotReader.viaWire]] (and typed views) without a
    * hand-built Relation.
    */
  def tableColumns(schema: String, table: String): Seq[graft.pgproto.Messages.RelationColumn] =
    exec(s"""SELECT a.attname, a.atttypid::bigint, a.atttypmod,
            |CASE WHEN EXISTS (
            |  SELECT 1 FROM pg_index i
            |  WHERE i.indrelid = a.attrelid AND i.indisprimary
            |    AND a.attnum = ANY(i.indkey)) THEN 1 ELSE 0 END
            |FROM pg_attribute a
            |WHERE a.attrelid = ${regclassLiteral(schema, table)}::regclass
            |  AND a.attnum > 0 AND NOT a.attisdropped
            |ORDER BY a.attnum""".stripMargin)
      .collect { case Seq(name, oid, typmod, keyFlag) =>
        graft.pgproto.Messages.RelationColumn(
          name, oid.toLong, typmod.toInt, keyFlag.toInt)
      }

  /** The single integer-typed PK column, if exactly one exists
    * (`coordinator.go:1002-1018`) — the integer_range strategy's gate.
    */
  def singleIntegerPk(schema: String, table: String): Option[String] =
    primaryKeyColumns(schema, table) match {
      case Seq((name, dt)) if IntegerTypes(dt) => Some(name)
      case _ => None
    }

  /** MIN/MAX of the PK (`coordinator.go:1029-1059`); None on an empty table. */
  def pkBounds(schema: String, table: String, pk: String): Option[(Long, Long)] =
    exec(s"SELECT MIN(${quoteIdent(pk)})::bigint, MAX(${quoteIdent(pk)})::bigint" +
        s" FROM ${qualified(schema, table)}")
      .headOption.collect {
        case Seq(mn, mx) if mn != null && mx != null && mn.nonEmpty && mx.nonEmpty =>
          (mn.toLong, mx.toLong)
      }

  /** Exact row count, optionally under the user's query condition
    * (`coordinator.go:1189-1218`; P4 composition).
    */
  def rowCount(schema: String, table: String, condition: Option[String] = None): Long = {
    val where = condition.map(c => s" WHERE ($c)").getOrElse("")
    exec(s"SELECT COUNT(*) FROM ${qualified(schema, table)}$where")
      .headOption.flatMap(_.headOption).filter(s => s != null && s.nonEmpty)
      .map(_.toLong).getOrElse(0L)
  }

  /** Physical stats for ctid_block planning: block count from
    * pg_relation_size/block_size (`coordinator.go:797-805`) and estimated
    * rows per block from pg_class (`coordinator.go:893-905`).
    */
  def physicalStats(schema: String, table: String): (Long, Double) = {
    val pages = exec(
      s"""SELECT COALESCE((pg_relation_size(to_regclass(${regclassLiteral(schema, table)}))
         | / current_setting('block_size')::int)::bigint, 0)""".stripMargin)
      .headOption.flatMap(_.headOption).map(_.toLong).getOrElse(0L)
    val relTuples = exec(
      s"""SELECT reltuples::bigint FROM pg_class
         |WHERE oid = ${regclassLiteral(schema, table)}::regclass""".stripMargin)
      .headOption.flatMap(_.headOption).map(_.toDouble).getOrElse(0.0)
    (pages, relTuples)
  }

  /** Replica identities for a table set (`replica_identity.go:99-141`):
    * (schema, table) → (relreplident char, identity index name if 'i').
    */
  def replicaIdentities(tables: Seq[(String, String)]): Map[(String, String), (String, Option[String])] = {
    if (tables.isEmpty) return Map.empty
    // Row-tuple IN list — unlike a concat'd name match, this cannot be
    // confused by schemas or tables containing '.' and escapes each part.
    val inList =
      tables.map { case (s, t) => s"(${sqlLiteral(s)}, ${sqlLiteral(t)})" }.mkString(", ")
    exec(s"""SELECT c.relname, n.nspname, c.relreplident, idx.relname
            |FROM pg_class c
            |JOIN pg_namespace n ON c.relnamespace = n.oid
            |LEFT JOIN pg_index i ON i.indrelid = c.oid AND i.indisreplident
            |LEFT JOIN pg_class idx ON idx.oid = i.indexrelid
            |WHERE (n.nspname, c.relname) IN ($inList)""".stripMargin)
      .collect { case Seq(tbl, sch, ident, idx) =>
        (sch, tbl) -> (ident, Option(idx).filter(_.nonEmpty))
      }.toMap
  }

  /** Everything [[ChunkPlanner]] needs for one table, composed from the
    * queries above — the planner can now plan a real table with no
    * caller-supplied stats (the round-2 S5 gap).
    */
  def tableStats(schema: String, table: String, condition: Option[String] = None): TableStats = {
    val pk = singleIntegerPk(schema, table)
    val bounds = pk.flatMap(pkBounds(schema, table, _))
    val (pages, tuples) = physicalStats(schema, table)
    TableStats(
      rowCount = rowCount(schema, table, condition),
      intPkColumn = pk,
      pkMin = bounds.map(_._1).getOrElse(0L),
      pkMax = bounds.map(_._2).getOrElse(-1L),
      relPages = pages,
      relTuples = tuples)
  }
}

object CatalogReader {
  /** Executes one SQL statement, returning rows of text-format values (null
    * for SQL NULL) — the same shape as the reference's pgproto text results.
    */
  type SqlExecutor = String => Seq[Seq[String]]

  /** Integer types eligible for integer_range chunking
    * (`coordinator.go:1020-1027`).
    */
  val IntegerTypes: Set[String] = Set("smallint", "integer", "bigint", "int2", "int4", "int8")

  /** SQL string-literal escaping for config-sourced values interpolated into
    * catalog/service queries (names, ids): quote-doubling, the one escape
    * standard-conforming PostgreSQL needs.
    */
  def sqlLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

  /** PostgreSQL identifier quoting: always double-quote, doubling embedded
    * quotes — safe for any name, including reserved words, mixed case, and
    * punctuation (pg's quote_ident always-quote form).
    */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** schema.table as quoted identifiers — for FROM clauses. */
  private def qualified(schema: String, table: String): String =
    s"${quoteIdent(schema)}.${quoteIdent(table)}"

  /** schema.table as a string literal for ::regclass / to_regclass: the
    * literal CONTENT uses quoted-identifier form (so mixed case and
    * punctuation resolve to the exact relation), then the whole name is
    * escaped as a SQL literal.
    */
  private def regclassLiteral(schema: String, table: String): String =
    sqlLiteral(s"${quoteIdent(schema)}.${quoteIdent(table)}")
}
