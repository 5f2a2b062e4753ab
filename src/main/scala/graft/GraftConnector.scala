package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.services.{Publication, SlotManager}
import graft.snapshot.{CatalogReader, SnapshotJobStore, SnapshotOrchestrator, SnapshotReader}
import graft.snapshot.CatalogReader.SqlExecutor

/** The reference's `cdc.NewConnector(cfg, handler)` + `Start()` experience
  * as one call (`connector.go`: CreatePublication → SetReplicaIdentities →
  * prepareSnapshotAndSlot → executeSnapshotWithRetry → stream): ensure the
  * publication exists and replica identities match, decide
  * snapshot-vs-resume from the recorded job, run the parallel wire snapshot
  * under the exported-snapshot pin with bounded invalidation retry, and
  * hand back the CDC stream positioned at the exactly-once handoff LSN.
  *
  * The snapshot is delivered through `snapshotSink` INSIDE the retry
  * wrapper — an invalidation raised while the sink materializes a table
  * re-exports cleanly and re-invokes the sink for every table of the fresh
  * attempt (the reference's at-least-once worker semantics); make the sink
  * overwrite-idempotent per table.
  *
  * Background loops stay caller-driven (no hidden threads, unlike the
  * reference's goroutines): run the WAL-protection heartbeat with
  * `cfg.heartbeatService(exec).run(ticks, sleep = () =>
  * Thread.sleep(cfg.heartbeatIntervalMs))` and attach metrics via
  * [[graft.streaming.GraftMetricsServer.start]].
  */
object GraftConnector {

  /** What `start` assembled: the live publication, any replica-identity DDL
    * issued, the stream-handoff LSN (None when no snapshot job gates the
    * stream), and the CDC stream itself (None for `snapshot_only`).
    */
  final case class Boot(
      publication: Publication.LiveInfo,
      replicaIdentityDdl: Seq[String],
      startLsn: Option[Long],
      stream: Option[DataFrame])

  /** Boot the pipeline from one [[GraftConfig]].
    *
    * @param exec regular-SQL seam (catalog introspection, publication DDL) —
    *             `PgConnection.executor`, usually wrapped in
    *             `RetryingExecutor`.
    * @param replExec replication-protocol seam (CREATE_REPLICATION_SLOT) —
    *                 a `PgConnection(replication = true).executor`.
    * @param snapshotSink receives each table's typed snapshot frame
    *                     (`schema.table`, frame) while the exported snapshot
    *                     is pinned; runs inside the invalidation retry.
    */
  def start(
      spark: SparkSession,
      cfg: GraftConfig,
      store: SnapshotJobStore,
      exec: SqlExecutor,
      replExec: SqlExecutor,
      snapshotSink: (String, DataFrame) => Unit = (_, _) => (),
      warn: String => Unit = _ => (),
      /** Injectable backoff for the snapshot-invalidation retry
        * ([[SnapshotOrchestrator.executeWithRetry]]); tests drive it
        * clocklessly.
        */
      retrySleep: Long => Unit = Thread.sleep,
      /** Snapshot-phase gauges ([[graft.snapshot.SnapshotProgress]]) —
        * begin/chunk/table/end lifecycle is driven here; serve via
        * [[graft.streaming.GraftMetricsServer]].
        */
      progress: Option[graft.snapshot.SnapshotProgress] = None,
      /** Opt-in drift remediation: when true, a drifted pre-existing
        * publication is ALTERed to match the config
        * ([[Publication.PublicationManager.alignFrom]]) instead of only
        * warned about. Default false — the reference's report-only stance.
        */
      alignPublication: Boolean = false): Boot = {

    // 1. Publication: tolerate existing, create when missing; then diff and
    //    apply replica identities (connector.go CreatePublication →
    //    SetReplicaIdentities order).
    val pubMgr = cfg.publicationManager(exec, warn)
    val live = pubMgr.create()
    // Boot against a PRE-EXISTING publication may silently stream the wrong
    // table/operation set (create() tolerates and reuses it untouched, like
    // the reference, which never ALTERs a publication). Surface the
    // config-vs-live drift to the operator — report-only, matching the
    // reference's logging stance. Computed from the live shape create()
    // already fetched: no second round-trip, and the report reflects the
    // same server state the create decision saw.
    Some(pubMgr.driftFrom(live)).filterNot(_.isEmpty).foreach { d =>
      def names(ts: Seq[(String, String)]) =
        ts.map { case (sch, t) => s"$sch.$t" }.mkString(", ")
      val parts = Seq(
        (d.missingTables, s"tables missing from publication: ${names(d.missingTables)}"),
        (d.extraTables, s"unexpected tables in publication: ${names(d.extraTables)}"),
        (d.missingOperations, s"operations missing: ${d.missingOperations.mkString(", ")}"),
        (d.extraOperations, s"unexpected operations: ${d.extraOperations.mkString(", ")}"))
        .collect { case (s, msg) if s.nonEmpty => msg }
      warn(s"publication drift (${cfg.publication.name}): ${parts.mkString("; ")}")
      if (alignPublication) {
        val ddl = pubMgr.alignFrom(live)
        if (ddl.nonEmpty)
          warn(s"publication aligned (${cfg.publication.name}): ${ddl.mkString("; ")}")
      }
    }
    val ddl = pubMgr.setReplicaIdentities()

    // 2. Snapshot decision + execution under the retry wrapper.
    val slots = cfg.slotManager(replExec)
    // snapshot_only coordinates on the dedicated snapshot-only job key
    // (resume across restarts); other modes use the replication slot name.
    val slotKey = cfg.snapshotSlotName
    val take = SnapshotOrchestrator.shouldTakeSnapshot(cfg.snapshot, store, slotKey)
    if (take) {
      SnapshotOrchestrator.executeWithRetry(slots, store, slotKey,
        sleep = retrySleep) { job =>
        val cat = new CatalogReader(exec)
        // a retry attempt restarts the gauges with the fresh attempt's plan
        progress.foreach(_.begin(cfg.publication.tables.size))
        // tag snapshot jobs so active_workers counts only snapshot tasks
        spark.sparkContext.setJobGroup(
          graft.snapshot.SnapshotProgress.JobGroup, "graft snapshot bulk load")
        cfg.publication.tables.foreach { t =>
          val cond = cfg.snapshot.conditionFor(t.schema, t.name)
          val stats = cat.tableStats(t.schema, t.name, cond)
          val allCols = cat.tableColumns(t.schema, t.name)
          val cols =
            if (t.columns.isEmpty) allCols
            else allCols.filter(c => t.columns.contains(c.name))
          val frame = SnapshotReader.viaWire(
            spark, cfg.host, cfg.port, cfg.username, cfg.database,
            Option(cfg.password).filter(_.nonEmpty),
            t.schema, t.name, cols, stats, cfg.snapshot,
            exportedSnapshotId = Option(job.snapshotId).filter(_.nonEmpty),
            orderByPk = stats.intPkColumn,
            sslMode = cfg.sslMode, sslRootCert = cfg.sslRootCert,
            sslCert = cfg.sslCert, sslKey = cfg.sslKey,
            sslPassword = cfg.sslPassword,
            progress = progress)
          snapshotSink(s"${t.schema}.${t.name}", frame)
          progress.foreach(_.tableDone())
        }
        spark.sparkContext.clearJobGroup()
      }
      progress.foreach(_.end())
      SnapshotOrchestrator.complete(store, slotKey)
    } else if (cfg.snapshot.mode != "snapshot_only") {
      // no snapshot this boot (resume from a completed job, or mode never):
      // ensure the slot exists — warn-and-reuse, created when missing
      slots.create()
    }
    // snapshot_only + completed job: nothing to do — the reference exits
    // here ("snapshot-only already completed", connector.go:240-243)

    // 3. Stream, positioned at the handoff LSN when a completed job pins one.
    val startLsn =
      if (cfg.snapshot.mode == "never") None
      else Some(SnapshotOrchestrator.streamStartLsn(store, slotKey))
    val stream =
      if (!SnapshotOrchestrator.shouldStream(cfg.snapshot)) None
      else {
        // Tables whose LIVE replica identity is FULL (set by us or by a
        // DBA out-of-band — read from pg_class, not the config) get
        // their PRIMARY KEY recorded as key_names: pgoutput's FULL
        // relation message flags every column as identity — right for
        // image completeness, useless as a row key for the lake fold /
        // pg→pg apply. One identity query + one PK query per FULL
        // table, only when a stream is actually built.
        val cat = new CatalogReader(exec)
        val liveIdent = cat.replicaIdentities(
          cfg.publication.tables.map(t => (t.schema, t.name)))
        val keyOv = cfg.publication.tables
          .filter(t => liveIdent.get((t.schema, t.name)).exists(_._1 == "f"))
          .flatMap { t =>
            val pk = cat.primaryKeyColumns(t.schema, t.name).map(_._1)
            if (pk.nonEmpty) Some((t.schema, t.name) -> pk) else None
          }.toMap
        val keyOvOpt =
          if (keyOv.isEmpty) Map.empty[String, String]
          else Map("keyOverrides" ->
            graft.cdc.TransactionAssembler.encodeKeyOverrides(keyOv))
        Some(spark.readStream.format("pgcdc")
          .options(cfg.sourceOptions(startLsn) ++ keyOvOpt).load())
      }
    Boot(live, ddl, startLsn, stream)
  }
}
