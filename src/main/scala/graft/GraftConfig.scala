package graft

import graft.services.Publication
import graft.snapshot.SnapshotConfig

/** The user-facing configuration surface — one object mirroring the
  * reference's `config.Config` (`config/config.go:19-63,318-386`) so a
  * go-pq-cdc user can carry their settings over field-for-field, re-expressed
  * as the Spark wiring: DSNs for the SQL seams, publication/slot DDL inputs,
  * snapshot mode/chunking, heartbeat target, and the `readStream` options the
  * pgcdc source consumes.
  */
final case class GraftConfig(
    host: String,
    port: Int = 5432,
    username: String = "",
    password: String = "",
    database: String = "",
    publication: Publication.Config,
    slotName: String,
    slotCreateIfNotExists: Boolean = true,
    snapshot: SnapshotConfig = SnapshotConfig(),
    heartbeatSchema: String = "public",
    heartbeatTable: String = "cdc_heartbeat",
    protoVersion: Int = 2,
    maxTxnsPerTrigger: Long = Long.MaxValue,
    maxFramesPerPartition: Int = 8192,
    /** Suppress transactions that carry a replication origin ('O') —
      * bidirectional-replication loop prevention, PostgreSQL 16's
      * `origin = none` subscription semantic.
      */
    dropForeignOrigin: Boolean = false,
    /** libpq sslmode tier for every connection this config opens:
      * disable | prefer | require | verify-ca | verify-full
      * (`config/config.go:55-63` carries the same through the DSN).
      */
    sslMode: String = "disable",
    /** PEM CA-bundle path for the `verify-ca`/`verify-full` tiers — libpq's
      * `sslrootcert`. Managed-Postgres CAs are rarely in the JVM default
      * trust store; None falls back to it.
      */
    sslRootCert: Option[String] = None,
    /** Mutual-TLS client certificate + PKCS#8 key PEM paths — libpq's
      * `sslcert`/`sslkey`. Both or neither.
      */
    sslCert: Option[String] = None,
    sslKey: Option[String] = None,
    /** Passphrase for an encrypted sslkey — libpq's `sslpassword`. */
    sslPassword: Option[String] = None,
    /** Port for the Prometheus text-exposition endpoint
      * (reference `config.go:35-37` MetricConfig; `internal/http/server.go`).
      */
    metricPort: Int = 8080,
    /** WAL-protection heartbeat write cadence (`config.go:80-82`:
      * default 100 ms) — [[graft.services.HeartbeatService]]'s loop.
      */
    heartbeatIntervalMs: Long = 100L,
    /** Slot-activity poll cadence for passive→active capture
      * (`config.go:88-89`: default 1000 ms) —
      * [[graft.services.SlotManager.capture]]'s sleep.
      */
    slotActivityCheckerIntervalMs: Long = 1000L,
    /** ExtensionSupport.EnableTimeScaleDB (`config.go:44-46`): run the
      * [[graft.services.HypertableMapper]] chunk→hypertable sync so events
      * arrive under hypertable names.
      */
    enableTimescaleDb: Boolean = false,
    /** DebugMode (`config.go:31`) — verbose logging switch; carried for
      * config parity, binds to the caller's log level.
      */
    debugMode: Boolean = false) {

  // snapshot_only never streams, so it can run without a configured slot —
  // it uses the dedicated [[snapshotOnlySlotName]] (reference Validate()
  // skips the slot checks in snapshot-only mode, `config.go:148-156`).
  require(slotName.nonEmpty || snapshot.mode == "snapshot_only", "slot name required")
  // Slot names interpolate RAW into CREATE_REPLICATION_SLOT (a replication
  // command with no quoting form), so reject anything outside PostgreSQL's
  // slot-name charset at construction instead of as a server parse error.
  require(slotName.isEmpty || GraftConfig.isValidSlotName(slotName),
    s"slot name '$slotName' must match [a-z0-9_]{1,63}")
  require(snapshot.id.forall(id => id.isEmpty || GraftConfig.isValidSlotName(id)),
    s"snapshot.id '${snapshot.id.getOrElse("")}' must match [a-z0-9_]{1,63} " +
      "(it names the snapshot-only replication slot)")
  require(heartbeatIntervalMs > 0,
    s"heartbeat interval must be positive (got $heartbeatIntervalMs ms)")
  require(slotActivityCheckerIntervalMs > 0,
    s"slot activity checker interval must be positive (got $slotActivityCheckerIntervalMs ms)")
  require(protoVersion >= 1 && protoVersion <= 4,
    s"unsupported proto_version $protoVersion (1-4; 3+ enables two-phase decode)")
  require(sslCert.isDefined == sslKey.isDefined,
    "sslcert and sslkey must be configured together")
  require(graft.pgproto.PgConnection.SslModes.contains(sslMode),
    s"unsupported sslmode '$sslMode' " +
      s"(${graft.pgproto.PgConnection.SslModes.toSeq.sorted.mkString("|")})")

  /** Regular-SQL connection string (metadata, snapshot chunks, heartbeat) —
    * `config.go:55-57`.
    */
  def dsn: String = {
    // URI percent-encoding, not form encoding: URLEncoder's '+' for space is
    // a literal plus in a URI userinfo section and would corrupt credentials.
    def esc(s: String) =
      java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
    s"postgres://${esc(username)}:${esc(password)}@$host:$port/$database?sslmode=$sslMode"
  }

  /** Replication connection string — counts against max_wal_senders
    * (`config.go:59-63`).
    */
  def replicationDsn: String = s"$dsn&replication=database"

  /** Options for `spark.readStream.format("pgcdc").options(...)` — a
    * complete binding: host/port/slot/publication select the walsender
    * socket source ([[graft.streaming.SocketWalSource]]), so
    * `spark.readStream.format("pgcdc").options(cfg.sourceOptions()).load()`
    * works with nothing else supplied. The `startLsn` is supplied after the
    * snapshot completes (`SnapshotOrchestrator.streamStartLsn`).
    */
  def sourceOptions(startLsn: Option[Long] = None): Map[String, String] =
    Map(
      "host" -> host,
      "port" -> port.toString,
      "slot" -> slotName,
      "publication" -> publication.name,
      "protoVersion" -> protoVersion.toString,
      "heartbeatSchema" -> heartbeatSchema,
      "heartbeatTable" -> heartbeatTable,
      "maxFramesPerPartition" -> maxFramesPerPartition.toString) ++
      (if (dropForeignOrigin) Map("dropForeignOrigin" -> "true") else Map.empty) ++
      (if (sslMode != "disable") Map("sslmode" -> sslMode) else Map.empty) ++
      sslRootCert.map("sslrootcert" -> _) ++
      sslCert.map("sslcert" -> _) ++
      sslKey.map("sslkey" -> _) ++
      sslPassword.map("sslpassword" -> _) ++
      (if (username.nonEmpty) Map("user" -> username) else Map.empty) ++
      (if (password.nonEmpty) Map("password" -> password) else Map.empty) ++
      (if (database.nonEmpty) Map("database" -> database) else Map.empty) ++
      (if (maxTxnsPerTrigger != Long.MaxValue)
        Map("maxTxnsPerTrigger" -> maxTxnsPerTrigger.toString) else Map.empty) ++
      startLsn.map(l => "startLsn" -> l.toString)

  /** Publication control plane bound to this config — create-if-not-exists,
    * live read-back, drift report, and the replica-identity write path
    * ([[graft.services.PublicationManager.setReplicaIdentities]]). Called at
    * startup before the slot is created, like the reference's
    * `connector.go` CreatePublication → SetReplicaIdentities sequence.
    */
  def publicationManager(
      exec: graft.snapshot.CatalogReader.SqlExecutor,
      warn: String => Unit = _ => ()): graft.services.PublicationManager =
    new graft.services.PublicationManager(exec, publication, warn)

  /** Heartbeat writer bound to this config's table — drive with
    * `run(ticks, sleep = () => Thread.sleep(cfg.heartbeatIntervalMs))`.
    */
  def heartbeatService(
      exec: graft.snapshot.CatalogReader.SqlExecutor): graft.services.HeartbeatService =
    new graft.services.HeartbeatService(exec, heartbeatSchema, heartbeatTable)

  /** Slot manager bound to this config; [[slotActivityCheckerIntervalMs]] is
    * the capture-poll cadence (`config.go:88-89`).
    */
  def slotManager(
      exec: graft.snapshot.CatalogReader.SqlExecutor): graft.services.SlotManager =
    new graft.services.SlotManager(exec, snapshotSlotName, slotCreateIfNotExists)

  /** Dedicated snapshot-only slot/job key (`connector.go:406-414`
    * getSnapshotOnlySlotName): `snapshot.id` when set so multi-instance
    * deployments share one job, else `snapshot_only_<database>` with the
    * database name sanitized into the slot charset (a legal database name
    * like `my-db` is not a legal slot name; the reference interpolates it
    * raw and fails server-side).
    */
  def snapshotOnlySlotName: String =
    snapshot.id.filter(_.nonEmpty).getOrElse {
      val sanitized = database.toLowerCase.map(c =>
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c else '_')
      s"snapshot_only_$sanitized".take(63)
    }

  /** The slot/job key this boot coordinates on: the configured slot, or the
    * dedicated snapshot-only name when mode is `snapshot_only`.
    */
  def snapshotSlotName: String =
    if (snapshot.mode == "snapshot_only") snapshotOnlySlotName else slotName

  /** TimescaleDB chunk→hypertable mapper when [[enableTimescaleDb]] is set
    * (`config.go:44-46` ExtensionSupport), else None — callers compose the
    * mapping into [[graft.services.Publication.renameTables]].
    */
  def hypertableMapper(
      exec: graft.snapshot.CatalogReader.SqlExecutor): Option[graft.services.HypertableMapper] =
    if (enableTimescaleDb) Some(new graft.services.HypertableMapper(exec)) else None

  /** The replication handshake command for this configuration. */
  def startReplicationSql(startLsn: Long): String =
    services.Replication.startReplicationSql(publication.name, slotName, startLsn, protoVersion)

  /** A ready-to-use apply sink writing back to THIS config's server — the
    * reference's example pg→pg sink as one line:
    * `writeStream.foreachBatch(cfg.applySink("public","t",Seq("id"),cols).applyBatch _)`.
    * Connections dial per partition with this config's credentials and TLS
    * settings ([[graft.sinks.PgApplySink.pgRunner]]).
    */
  def applySink(
      targetSchema: String, targetTable: String,
      keyCols: Seq[String], valueCols: Seq[String]): graft.sinks.PgApplySink =
    graft.sinks.PgApplySink(targetSchema, targetTable, keyCols, valueCols,
      graft.sinks.PgApplySink.pgRunner(
        host, port, username, database,
        Option(password).filter(_.nonEmpty), sslMode, sslRootCert, sslCert, sslKey,
        sslPassword))
}

object GraftConfig {
  /** PostgreSQL replication-slot name rules: lower-case letters, digits,
    * underscore, ≤ 63 bytes (NAMEDATALEN − 1).
    */
  def isValidSlotName(s: String): Boolean = s.matches("[a-z0-9_]{1,63}")
}
