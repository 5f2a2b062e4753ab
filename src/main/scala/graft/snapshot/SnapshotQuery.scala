package graft.snapshot

/** Chunk-SQL assembly + row-predicate validation (P4).
  *
  * Reproduces the reference's query builders (`pq/snapshot/coordinator.go:
  * 492-575`): `SELECT <cols> FROM s.t WHERE <strategy predicate>
  * [AND (queryCondition)] [ORDER BY pk LIMIT n [OFFSET m]]`, with the user
  * condition AND-composed in parentheses (`coordinator.go:479-490`) and
  * validated against DDL/DML keywords and comment/semicolon injection
  * (`pq/publication/query_condition.go:9-33`). Per-table conditions override
  * the global one (`config/config.go:193-199,291-316`).
  */
object SnapshotQuery {

  /** Keyword/blacklist validation, same stance as ValidateQueryCondition. */
  def validateCondition(cond: String): Either[String, String] = {
    val c = cond.trim
    if (c.isEmpty) return Left("empty query condition")
    val lowered = c.toLowerCase
    val banned = Seq(";", "--", "/*", "*/", "$$")
    banned.find(lowered.contains) match {
      case Some(tok) => return Left(s"forbidden token '$tok' in query condition")
      case None =>
    }
    val keywords = Seq(
      "insert", "update", "delete", "drop", "create", "alter", "truncate",
      "grant", "revoke", "copy", "vacuum", "analyze", "comment", "do", "call",
      "merge", "execute", "prepare", "listen", "notify")
    val words = lowered.split("[^a-z_]+").toSet
    keywords.find(words.contains) match {
      case Some(kw) => Left(s"forbidden keyword '$kw' in query condition")
      case None => Right(c)
    }
  }

  /** AND-compose strategy predicate and user condition (both optional). */
  def whereClause(strategyPred: Option[String], condition: Option[String]): String =
    (strategyPred, condition) match {
      case (Some(p), Some(c)) => s"WHERE $p AND ($c)"
      case (Some(p), None) => s"WHERE $p"
      case (None, Some(c)) => s"WHERE ($c)"
      case (None, None) => ""
    }

  /** Full chunk SELECT, the shape pushed to PostgreSQL per chunk. Identifiers
    * (schema, table, columns, order-by pk) are always quoted — a mixed-case
    * or punctuated name resolves to the exact relation, never misparses.
    */
  def chunkSql(
      schema: String, table: String, columns: Seq[String],
      chunk: ChunkPlanner.Chunk, condition: Option[String],
      orderByPk: Option[String]): String = {
    import CatalogReader.quoteIdent
    val cols = if (columns.isEmpty) "*" else columns.map(quoteIdent).mkString(", ")
    val base = s"SELECT $cols FROM ${quoteIdent(schema)}.${quoteIdent(table)}"
    val where = whereClause(chunk.predicate, condition)
    val tail = chunk.limitOffset match {
      case Some((limit, offset)) =>
        val ob = orderByPk.map(pk => s"ORDER BY ${quoteIdent(pk)} ").getOrElse("ORDER BY ctid ")
        s"${ob}LIMIT $limit OFFSET $offset"
      case None => ""
    }
    Seq(base, where, tail).filter(_.nonEmpty).mkString(" ")
  }
}
