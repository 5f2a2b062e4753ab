package graft.snapshot

import graft.snapshot.CatalogReader.SqlExecutor

/** B2 consistent snapshot export: the driver-held export transaction that
  * pins a snapshot while parallel workers attach to it
  * (`pq/snapshot/transaction_snapshot.go:17-54`). The owning connection must
  * stay open (and in this transaction) until every chunk finishes — that is
  * the whole point; `release()` is called only after the snapshot completes.
  * Workers attach with `SET TRANSACTION SNAPSHOT '<id>'`, which
  * [[SnapshotReader.viaWire]] runs at the start of every chunk.
  */
final class SnapshotExport(exec: SqlExecutor) {
  private var exported: Option[String] = None

  def snapshotId: Option[String] = exported

  /** Open the export transaction and export its snapshot. Loud, actionable
    * errors for the two setup problems every first-time user hits
    * (`transaction_snapshot.go:24-29`).
    */
  def begin(): String = {
    require(exported.isEmpty, "snapshot export transaction already open")
    exec("BEGIN")
    exec("SET TRANSACTION ISOLATION LEVEL REPEATABLE READ")
    // Any failure past BEGIN must ROLLBACK — leaking an idle-open REPEATABLE
    // READ transaction pins xmin and blocks vacuum server-wide.
    val id =
      try exec("SELECT pg_export_snapshot()").headOption.flatMap(_.headOption)
      catch {
        case e: Exception =>
          try exec("ROLLBACK") catch { case _: Exception => () }
          if (msg(e).contains("permission denied"))
            throw new IllegalStateException(
              "pg_export_snapshot requires REPLICATION privilege. " +
                "Run: ALTER USER your_user WITH REPLICATION", e)
          else if (msg(e).contains("wal_level"))
            throw new IllegalStateException(
              "pg_export_snapshot requires wal_level='logical'. " +
                "Set in postgresql.conf and restart", e)
          else throw e
      }
    val sid = id.filter(_.nonEmpty).getOrElse {
      exec("ROLLBACK")
      throw new IllegalStateException("no snapshot ID returned by pg_export_snapshot()")
    }
    exported = Some(sid)
    sid
  }

  /** Worker-side attach statement (`transaction_snapshot.go:44-54`). */
  def attachSql: String = {
    val sid = exported.getOrElse(throw new IllegalStateException("no exported snapshot"))
    s"SET TRANSACTION SNAPSHOT '$sid'"
  }

  /** Close the export transaction — only after all chunks are read. */
  def release(): Unit = {
    require(exported.nonEmpty, "no snapshot export transaction open")
    exec("COMMIT")
    exported = None
  }

  private def msg(e: Exception): String = Option(e.getMessage).getOrElse("")
}
