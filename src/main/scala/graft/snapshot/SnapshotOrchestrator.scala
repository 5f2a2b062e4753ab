package graft.snapshot

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pgproto.Lsn
import graft.services.SlotManager
import graft.snapshot.CatalogReader.SqlExecutor

/** Snapshot job state — the `cdc_snapshot_job` row the reference persists so
  * a restart knows whether (and from which LSN) the snapshot already ran
  * (`pq/snapshot/coordinator.go:1222-1260` saveJob,
  * `pq/replication/stream.go:642-711` fetchSnapshotLSN).
  */
final case class SnapshotJob(
    slotName: String,
    snapshotId: String,
    snapshotLsn: Long,
    completed: Boolean)

/** Durable job bookkeeping behind the same SQL seam as the other services;
  * [[SnapshotJobStore.InMemory]] backs tests and local runs.
  */
trait SnapshotJobStore {
  def load(slotName: String): Option[SnapshotJob]
  def save(job: SnapshotJob): Unit
  def markCompleted(slotName: String): Unit
  def cleanup(slotName: String): Unit
}

object SnapshotJobStore {

  /** Reference-shaped SQL over `cdc_snapshot_job` (`coordinator.go:1222-1260`,
    * `stream.go:656-663`); untestable without PostgreSQL, mirrored by
    * [[InMemory]] for everything above the seam.
    */
  final class Sql(exec: SqlExecutor, table: String = "cdc_snapshot_job") extends SnapshotJobStore {
    private def lit(s: String) = CatalogReader.sqlLiteral(s)
    // every statement-position use of the configured table name is
    // identifier-quoted (per dotted segment, so schema-qualified config
    // keeps working) — a reserved-word or mixed-case table name must not
    // break DDL/DML; to_regclass receives the QUOTED form as its literal
    // (regclass input parses embedded double-quoted segments), so
    // introspection resolves the same case-preserved relation the DDL/DML
    // target — the raw literal would case-fold a mixed-case config, miss
    // the quoted table, and re-issue CREATE TABLE into 'already exists'
    private val qtable =
      table.split('.').map(CatalogReader.quoteIdent).mkString(".")

    /** Create the job table when missing — and MIGRATE a reference-era
      * table in place (`snapshot_migration_test.go:20-204`): the
      * reference's older schema carries extra NOT-NULL columns with no
      * default (`started_at TIMESTAMP NOT NULL`, chunk-progress counters),
      * so this store's four-column INSERT would fail against it. Any
      * extra NOT-NULL default-less column gets a type-appropriate DEFAULT
      * instead of being dropped — the reference can keep reading its own
      * columns while this store reads and writes the core four.
      */
    def ensureSchema(): Unit = {
      val core = Set("slot_name", "snapshot_id", "snapshot_lsn", "completed")
      // to_regclass resolves the SAME relation the unqualified ALTER /
      // INSERT below will hit (search_path order, qualified names too) —
      // an information_schema.columns match on table_name alone would see
      // a same-named table in ANY schema, suppress the CREATE, and leave
      // load()/save() failing on a relation that does not exist here
      // domains resolve to their BASE type (typtype 'd' → typbasetype):
      // a domain over text gets the text default, which the domain
      // accepts — only genuinely opaque types (enums, bit(n)) fall to
      // the DROP-NOT-NULL branch below
      val cols = exec(
        "SELECT a.attname, CASE WHEN a.attnotnull THEN 'NO' ELSE 'YES' END, " +
          "pg_get_expr(d.adbin, d.adrelid), " +
          "CASE WHEN t.typtype = 'd' " +
          "THEN format_type(t.typbasetype, t.typbasetypmod) " +
          "ELSE format_type(a.atttypid, a.atttypmod) END " +
          "FROM pg_attribute a " +
          "JOIN pg_type t ON t.oid = a.atttypid " +
          "LEFT JOIN pg_attrdef d ON d.adrelid = a.attrelid AND d.adnum = a.attnum " +
          s"WHERE a.attrelid = to_regclass(${lit(qtable)}) " +
          "AND a.attnum > 0 AND NOT a.attisdropped")
      if (cols.isEmpty)
        exec(s"CREATE TABLE $qtable (slot_name TEXT PRIMARY KEY, " +
          "snapshot_id TEXT NOT NULL, snapshot_lsn TEXT NOT NULL, " +
          "completed BOOLEAN NOT NULL DEFAULT FALSE)")
      else cols.foreach {
        case Seq(name, nullable, default, dataType)
            if !core.contains(name) && nullable == "NO" &&
              (default == null || default.isEmpty) =>
          // the DEFAULT must be assignable to the column's type — a
          // catch-all '' would make the ALTER itself fail on uuid/date/
          // jsonb/bytea columns and abort the migration mid-way. typmod
          // is stripped first (format_type renders 'interval(3)',
          // 'numeric(10,2)', 'character varying(64)'); the uuid default
          // is a constant literal (gen_random_uuid() needs PG 13+ or
          // pgcrypto — a failing ALTER would abort mid-migration); a
          // genuinely unknown type (enum, bit(n)) gets DROP NOT
          // NULL instead of a default that cannot be synthesized safely
          // — era columns are only written by OLDER deployments, so
          // nullable is the conservative way to keep this deployment's
          // INSERTs valid
          val base = dataType.replaceAll("\\(.*?\\)", "").trim
          val d =
            if (base.endsWith("[]")) Some("'{}'")
            else base match {
              case t if t.startsWith("timestamp") => Some("now()")
              case "date" => Some("CURRENT_DATE")
              case t if t.startsWith("time") => Some("CURRENT_TIME")
              case "numeric" | "decimal" => Some("0")
              case "integer" | "bigint" | "smallint" |
                   "double precision" | "real" | "oid" => Some("0")
              case "boolean" => Some("FALSE")
              // unique per row WITHOUT extensions or PG 13+
              // (gen_random_uuid() needs either): the classic pre-13
              // idiom — a constant literal would collide on the first
              // era table whose uuid column carries UNIQUE
              case "uuid" => Some(
                "md5(random()::text || clock_timestamp()::text)::uuid")
              case "json" | "jsonb" => Some("'{}'")
              case "bytea" => Some("'\\x'")
              case t if t.startsWith("interval") => Some("'0'")
              case "text" | "name" => Some("''")
              case t if t.startsWith("character") => Some("''")
              case _ => None
            }
          // identifier-quote the catalog-sourced column name too — a
          // reference-era column like "Started At" or "user" would
          // otherwise make the ALTER fail and abort the migration mid-way
          val qname = CatalogReader.quoteIdent(name)
          exec(d match {
            case Some(v) =>
              s"ALTER TABLE $qtable ALTER COLUMN $qname SET DEFAULT $v"
            case None =>
              s"ALTER TABLE $qtable ALTER COLUMN $qname DROP NOT NULL"
          })
        case _ => ()
      }
    }
    override def load(slotName: String): Option[SnapshotJob] =
      exec(s"SELECT slot_name, snapshot_id, snapshot_lsn, completed FROM $qtable " +
        s"WHERE slot_name = ${lit(slotName)}")
        .headOption.map { r =>
          SnapshotJob(r(0), r(1), Lsn.parse(r(2)), r(3) == "t" || r(3) == "true")
        }
    override def save(job: SnapshotJob): Unit =
      exec(s"INSERT INTO $qtable (slot_name, snapshot_id, snapshot_lsn, completed) VALUES " +
        s"(${lit(job.slotName)}, ${lit(job.snapshotId)}, " +
        s"${lit(Lsn.format(job.snapshotLsn))}, ${job.completed})")
    override def markCompleted(slotName: String): Unit =
      exec(s"UPDATE $qtable SET completed = true WHERE slot_name = ${lit(slotName)}")
    override def cleanup(slotName: String): Unit =
      exec(s"DELETE FROM $qtable WHERE slot_name = ${lit(slotName)}")
  }

  final class InMemory extends SnapshotJobStore {
    private val jobs = scala.collection.concurrent.TrieMap.empty[String, SnapshotJob]
    override def load(slotName: String): Option[SnapshotJob] = jobs.get(slotName)
    override def save(job: SnapshotJob): Unit = jobs.put(job.slotName, job)
    override def markCompleted(slotName: String): Unit =
      jobs.updateWith(slotName)(_.map(_.copy(completed = true)))
    override def cleanup(slotName: String): Unit = jobs.remove(slotName)
  }
}

/** Snapshot-invalidation detection (`pq/snapshot/helpers.go:166-183`): an
  * exported snapshot dies with the transaction that exported it (coordinator
  * restart, slot drop), surfacing as SQLSTATE 22023 with "invalid snapshot
  * identifier" — the one failure family a re-export can recover from.
  */
object SnapshotErrors {

  /** The reference's `ErrSnapshotInvalidated` sentinel
    * (`pq/snapshot/snapshot.go:22-25`) for callers that detect the condition
    * themselves (e.g. a mid-chunk coordinator-restart probe).
    */
  final class SnapshotInvalidatedException(message: String)
    extends RuntimeException(s"snapshot invalidated: $message")

  /** True when the failure (or any cause in its chain) is the
    * invalidated-snapshot family: SQLSTATE 22023 + "invalid snapshot
    * identifier" on the typed path (both PgConnection and JDBC raise
    * [[java.sql.SQLException]] with the SQLSTATE), the sentinel above, or
    * the message fallback (`helpers.go:181-183`).
    */
  def isInvalidated(e: Throwable): Boolean = {
    def msg(t: Throwable) = Option(t.getMessage).getOrElse("").toLowerCase
    def one(t: Throwable): Boolean = t match {
      case _: SnapshotInvalidatedException => true
      case sql: java.sql.SQLException if sql.getSQLState == "22023" =>
        msg(sql).contains("invalid snapshot identifier")
      case other =>
        msg(other).contains("invalid snapshot identifier") ||
          msg(other).contains("snapshot invalidated")
    }
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists(one)
  }
}

/** B6 + B8 + the B7 glue: snapshot lifecycle events, resume/resnapshot
  * decisions, and the two-phase snapshot↔slot preparation that makes the
  * snapshot→CDC handoff exactly-once.
  */
object SnapshotOrchestrator {

  /** B8 — should this start take a snapshot? (`connector.go:315-343`):
    *  - `never`: no;
    *  - `initial` + `resnapshot`: wipe this slot's metadata, yes;
    *  - `initial`: yes unless a COMPLETED job exists; an INCOMPLETE job (crash
    *    mid-snapshot) is wiped first — its exported transaction is gone and
    *    its LSN stale, so resuming it would duplicate data
    *    (`coordinator.go:32-46`);
    *  - `snapshot_only`: skip when a completed job exists under the
    *    dedicated snapshot-only key (resume, `connector.go:416-443`),
    *    honoring `resnapshot`.
    */
  def shouldTakeSnapshot(cfg: SnapshotConfig, store: SnapshotJobStore, slotName: String): Boolean =
    cfg.mode match {
      case "never" => false
      case "snapshot_only" =>
        // Resume capability (`connector.go` shouldTakeSnapshotOnly): a
        // restarted snapshot_only deployment must NOT redo completed work —
        // skip when the store holds a completed job, unless resnapshot asks
        // for a fresh pass. Incomplete/missing → take (prepare() wipes).
        if (cfg.resnapshot) { store.cleanup(slotName); true }
        else !store.load(slotName).exists(_.completed)
      case "initial" =>
        if (cfg.resnapshot) { store.cleanup(slotName); true }
        else store.load(slotName) match {
          case Some(job) if job.completed => false
          case Some(_) => store.cleanup(slotName); true // incomplete-job wipe
          case None => true
        }
    }

  /** B8 — `snapshot_only` runs no stream afterwards (`connector.go:352-360`). */
  def shouldStream(cfg: SnapshotConfig): Boolean = cfg.mode != "snapshot_only"

  /** Two-phase prepare (`connector.go:345-420` prepareSnapshotAndSlot):
    * create a FRESH slot first — `CREATE_REPLICATION_SLOT` both pins WAL from
    * its consistent point AND exports the snapshot the initial load must read
    * under; using that pair is what makes the handoff exactly-once (a
    * snapshot exported later, or an old slot's stale position, would let rows
    * committed in between appear in both the snapshot and the stream).
    * Records the incomplete job at the consistent point and returns it; the
    * job's `snapshotId` is the server-exported snapshot name for
    * `SET TRANSACTION SNAPSHOT` ([[SnapshotReader.viaWire]]).
    */
  def prepare(slots: SlotManager, store: SnapshotJobStore, slotName: String): SnapshotJob = {
    val created = slots.createFresh()
    store.cleanup(slotName)
    val job = SnapshotJob(
      slotName, created.snapshotName.getOrElse(""), created.consistentPoint, completed = false)
    store.save(job)
    job
  }

  /** Mark the snapshot done; the stream may now start from its LSN. */
  def complete(store: SnapshotJobStore, slotName: String): Unit =
    store.markCompleted(slotName)

  /** Run the snapshot body with bounded re-export on invalidation —
    * `executeSnapshotWithRetry` (`connector.go:446-487`): up to `maxRetries`
    * attempts, 10 s initial delay doubling to a 60 s cap. Each retry DROPS
    * the dead attempt's slot and re-prepares from scratch (fresh slot, fresh
    * exported snapshot, job row rewritten), so the body always reads one
    * self-consistent (snapshotId, snapshotLsn) pair — partial rows from a
    * failed attempt are discarded with their attempt, never unioned with the
    * retry's (the no-duplicate-rows half of the handoff guarantee). Only the
    * invalidation family retries ([[SnapshotErrors.isInvalidated]]); any
    * other failure propagates immediately.
    *
    * @param sleep injectable delay (ms) so specs drive the loop clocklessly.
    */
  def executeWithRetry[A](
      slots: SlotManager, store: SnapshotJobStore, slotName: String,
      maxRetries: Int = 5,
      initialDelayMs: Long = 10000L, maxDelayMs: Long = 60000L,
      sleep: Long => Unit = Thread.sleep)(body: SnapshotJob => A): A = {
    var delay = initialDelayMs
    var attempt = 1
    var job = prepare(slots, store, slotName)
    while (true) {
      try return body(job)
      catch {
        case e: Throwable if SnapshotErrors.isInvalidated(e) =>
          if (attempt >= maxRetries)
            throw new IllegalStateException(
              s"snapshot execution failed after maximum retries ($maxRetries)", e)
          attempt += 1
          sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
          slots.drop() // the invalidated export's slot pins stale WAL — release it
          job = prepare(slots, store, slotName)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** fetchSnapshotLSN (`stream.go:642-711`): the LSN the CDC stream starts
    * from — feed it to the source's `startLsn` option. Loud unless a
    * COMPLETED job exists: streaming from a stale or absent snapshot LSN is
    * exactly the silent-duplication bug the reference guards against.
    */
  def streamStartLsn(store: SnapshotJobStore, slotName: String): Long =
    store.load(slotName) match {
      case Some(job) if job.completed => job.snapshotLsn
      case Some(_) => throw new IllegalStateException(
        s"snapshot job for slot '$slotName' not completed yet")
      case None => throw new IllegalStateException(
        s"no snapshot job found for slot '$slotName'")
    }

  /** B6 — snapshot lifecycle events (`pq/snapshot/worker.go:101-124`,
    * `format/snapshot.go:10-30`): the data frame wrapped with BEGIN/END
    * marker rows and per-row DATA tagging, so a downstream consumer can
    * demarcate the bulk load in the same stream that later carries CDC
    * events. `totalRows` comes from the plan stats (the reference carries
    * job.TotalChunks the same way).
    */
  def withLifecycle(
      s: SparkSession, data: DataFrame, table: String,
      snapshotLsn: Long, totalRows: Long): DataFrame = {
    val nulls = data.schema.map(f => lit(null).cast(f.dataType).as(f.name))
    def marker(kind: String) = s.range(1).select(
      nulls :+ lit(kind).as("snapshot_event") :+ lit(table).as("snapshot_table") :+
        lit(snapshotLsn).as("snapshot_lsn") :+ lit(totalRows).as("total_rows"): _*)
    val tagged = data
      .withColumn("snapshot_event", lit("DATA"))
      .withColumn("snapshot_table", lit(table))
      .withColumn("snapshot_lsn", lit(snapshotLsn))
      .withColumn("total_rows", lit(totalRows))
    marker("BEGIN").unionByName(tagged).unionByName(marker("END"))
  }
}
