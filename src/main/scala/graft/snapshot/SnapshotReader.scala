package graft.snapshot

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Snapshot (bulk initial load) configuration, defaults per the reference
  * (`config/config.go:69-129,380-386`): chunk 8000 rows, mode initial.
  */
final case class SnapshotConfig(
    mode: String = "initial", // initial | never | snapshot_only
    chunkSize: Long = 8000L,
    strategy: ChunkPlanner.Strategy = ChunkPlanner.Auto,
    globalCondition: Option[String] = None,
    /** Keys are either schema-qualified (`schema.table`, wins) or bare table
      * names (applies to that table in ANY schema — the pre-r9 behavior,
      * kept as a wildcard fallback so bare-keyed configs stay valid).
      */
    perTableCondition: Map[String, String] = Map.empty,
    resnapshot: Boolean = false,
    /** Per-table partition-strategy override (`pq/publication/table.go:38-41`
      * SnapshotPartitionStrategy) — for hash-shaped integer PKs where range
      * partitioning degenerates, a single table can force ctid/offset while
      * the rest auto-detect. Same key rules as [[perTableCondition]].
      */
    perTableStrategy: Map[String, ChunkPlanner.Strategy] = Map.empty,
    /** Snapshot coordination id (`config.go` Snapshot.ID): in snapshot_only
      * mode this names the dedicated slot/job key so multi-instance
      * deployments share one job; empty → `snapshot_only_<database>`.
      */
    id: Option[String] = None) {
  require(Seq("initial", "never", "snapshot_only").contains(mode), s"bad snapshot mode: $mode")

  /** Per-table overrides global (`config/config.go:193-199,291-316`);
    * schema-qualified key overrides bare table name.
    */
  def conditionFor(schema: String, table: String): Option[String] =
    lookup(perTableCondition, schema, table).orElse(globalCondition).map { c =>
      SnapshotQuery.validateCondition(c).fold(
        err => throw new IllegalArgumentException(err), identity)
    }

  /** Bare-name lookup (no schema context — parquet/test paths). */
  def conditionFor(table: String): Option[String] = conditionFor("", table)

  /** Strategy for one table: its override, else the global setting. */
  def strategyFor(schema: String, table: String): ChunkPlanner.Strategy =
    lookup(perTableStrategy, schema, table).getOrElse(strategy)

  def strategyFor(table: String): ChunkPlanner.Strategy = strategyFor("", table)

  private def lookup[A](m: Map[String, A], schema: String, table: String): Option[A] =
    (if (schema.nonEmpty) m.get(s"$schema.$table") else None).orElse(m.get(table))
}

/** Executes a planned snapshot as a partitioned Spark read.
  *
  * Wire path ([[viaWire]], the production shape): one Spark partition per
  * chunk — Spark's direct analogue of the reference's chunk queue — each
  * pinned to the exported snapshot with `SET TRANSACTION SNAPSHOT '<id>'`
  * (B2, `pq/snapshot/transaction_snapshot.go:44-54`). The export
  * transaction itself must be held open on the driver for the duration of
  * the read — that wiring lives with the connection owner, not here.
  *
  * Parquet path: applies identical chunk predicates as Catalyst filters —
  * used by tests and the correctness oracle to prove the plan covers every
  * row exactly once (equivalent to the reference's ctid-vs-offset
  * equivalence tests, `snapshot_ctid_partitioning_test.go`).
  */
object SnapshotReader {

  /** Wire-protocol snapshot read — no JDBC driver required: one Spark
    * partition per chunk, each dialing its own [[graft.pgproto.PgConnection]]
    * (SCRAM/TLS supported) and running the chunk SELECT over the
    * simple-query protocol, pinned to the exported snapshot with the
    * reference's exact per-chunk transaction wrapper
    * (`BEGIN ISOLATION LEVEL REPEATABLE READ; SET TRANSACTION SNAPSHOT
    * '<id>'` … `COMMIT`, `pq/snapshot/worker.go:283-376`). Text-format
    * result values project through [[graft.types.PgTypes.fromText]] into
    * the relation's Catalyst types — the same cast family the CDC typed
    * views use, so snapshot and stream rows type identically.
    *
    * This makes the library self-contained end-to-end: Spark ships no
    * PostgreSQL JDBC driver, but the snapshot and the stream both run on
    * the in-repo wire client alone.
    *
    * 100-TB shape: chunk planning is driver-side metadata; each chunk is
    * one task holding ≤ chunkSize rows before handing them to Spark;
    * per-partition connections parallelize exactly like the reference's
    * worker pool (Spark's scheduler is the chunk queue, B4).
    */
  def viaWire(
      spark: SparkSession,
      host: String, port: Int, user: String, database: String,
      password: Option[String],
      schema: String, table: String,
      columns: Seq[graft.pgproto.Messages.RelationColumn],
      stats: ChunkPlanner.TableStats, cfg: SnapshotConfig,
      exportedSnapshotId: Option[String] = None,
      orderByPk: Option[String] = None,
      sslMode: String = "disable",
      sslRootCert: Option[String] = None,
      sslCert: Option[String] = None,
      sslKey: Option[String] = None,
      /** Passphrase for an encrypted sslkey (libpq `sslpassword`) — without
        * the passthrough an encrypted key works on the CDC/sink paths but
        * fails here.
        */
      sslPassword: Option[String] = None,
      /** Snapshot-phase gauges ([[SnapshotProgress]]): planned chunks are
        * reported here at plan time; completed chunks/rows tick on the
        * executors as partitions drain.
        */
      progress: Option[SnapshotProgress] = None): DataFrame = {
    val chunks = ChunkPlanner.plan(stats, cfg.chunkSize, cfg.strategyFor(schema, table))
    progress.foreach(_.addPlannedChunks(chunks.size.toLong))
    // only the (serializable) accumulators ride into the closure
    val chunkAcc = progress.map(_.completedChunks)
    val rowAcc = progress.map(_.rowsRead)
    val cond = cfg.conditionFor(schema, table)
    val sqls = chunks.map(ch =>
      SnapshotQuery.chunkSql(schema, table, columns.map(_.name), ch, cond, orderByPk))
    val pin = exportedSnapshotId.map(id =>
      "BEGIN ISOLATION LEVEL REPEATABLE READ; " +
        s"SET TRANSACTION SNAPSHOT ${CatalogReader.sqlLiteral(id)}")
    val textSchema = StructType(
      columns.map(c => StructField(c.name, StringType, nullable = true)))
    val nCols = columns.size
    // CONNECTION REUSE: one wire connection serves every chunk of its
    // partition sequentially (the reference's 5-connection pool model,
    // `snapshot/snapshot.go:67`), so partition count = parallelism, not
    // chunk count — a 100 TB table plans thousands of chunks but should
    // open cores×2 connections, not thousands of handshakes. Chunk-level
    // pinning and progress are untouched (per-sql inside the loop).
    val parts = math.max(1, math.min(sqls.size,
      spark.sparkContext.defaultParallelism * 2))
    val rowRdd = spark.sparkContext
      .parallelize(sqls, parts)
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val conn = new graft.pgproto.PgConnection(
            host, port, user, database, password,
            applicationName = "graft-snapshot",
            sslMode = sslMode, sslRootCert = sslRootCert,
            sslCert = sslCert, sslKey = sslKey, sslPassword = sslPassword)
          // close via the task-completion listener, not try/finally: the
          // chunk stream below is LAZY (one chunk's rows in memory at a
          // time — ≤ chunkSize peak per task, the method doc's promise;
          // an eager flatMap would buffer the partition's every chunk,
          // tableRows/parts rows per task: guaranteed executor OOM at the
          // 100-TB target). The listener fires on success, failure, and
          // cancellation alike.
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) tc.addTaskCompletionListener[Unit](_ => conn.close())
          val stream = lazyChunkRows(
            sql => {
              // close on a failed chunk too (close() is idempotent, so
              // the task listener firing afterwards is harmless) — on the
              // no-TaskContext fallback path an exception would otherwise
              // leak the socket and its pinned transaction
              try {
                pin.foreach(conn.simpleQuery(_))
                val rows = conn.simpleQuery(sql)
                pin.foreach(_ => conn.simpleQuery("COMMIT"))
                rows
              } catch { case t: Throwable => conn.close(); throw t }
            }, it, chunkAcc, rowAcc, nCols)
          // No TaskContext (direct iterator drive outside a task, e.g. a
          // unit test): fall back to closing when the stream is exhausted
          // OR when hasNext/next throws. MUST-DRAIN contract: a caller
          // that abandons this iterator early without an exception
          // (take/limit-style) leaks the socket and its pinned
          // exported-snapshot transaction — there is no task-completion
          // hook to fire on this path. Inside Spark (every production
          // read) the listener above owns the close and this wrapper is
          // never constructed.
          if (tc != null) stream
          else new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
            private def closing[A](body: => A): A =
              try body
              catch { case t: Throwable => conn.close(); throw t }
            def hasNext: Boolean = closing {
              val h = stream.hasNext
              if (!h) conn.close()
              h
            }
            def next(): org.apache.spark.sql.catalyst.InternalRow =
              closing(stream.next())
          }
        }
      }
    org.apache.spark.sql.graftbridge.DataFrameBridge
      .fromInternalRows(spark, rowRdd, textSchema)
      .select(columns.map(c =>
        graft.types.PgTypes.fromText(col(c.name), c.typeOid, c.typeModifier).as(c.name)): _*)
  }

  /** The lazy chunk→row stream one snapshot task drives: `runChunk`
    * executes ONE chunk SELECT (≤ chunkSize rows), whose rows are emitted
    * before the next chunk is fetched — the per-task memory peak is one
    * chunk, never the partition's whole chunk set (tableRows/parts rows:
    * executor OOM at the 100-TB target). Laziness is pinned by
    * `SnapshotWireSpec`. Wire text goes straight into
    * InternalRow/UTF8String — the createDataFrame(RDD[Row]) path would
    * re-walk every row through CatalystTypeConverters (measured 3-5×
    * slower at 1 M rows in SnapshotThroughputSoakSpec).
    */
  private[snapshot] def lazyChunkRows(
      runChunk: String => Seq[Seq[String]],
      sqls: Iterator[String],
      chunkAcc: Option[org.apache.spark.util.LongAccumulator],
      rowAcc: Option[org.apache.spark.util.LongAccumulator],
      nCols: Int): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    sqls.flatMap { sql =>
      val rows = runChunk(sql)
      chunkAcc.foreach(_.add(1L))
      rowAcc.foreach(_.add(rows.size.toLong))
      rows.iterator.map { vals =>
        require(vals.size == nCols,
          s"snapshot row has ${vals.size} columns, expected $nCols")
        val arr = new Array[Any](nCols)
        var i = 0
        while (i < nCols) {
          val v = vals(i)
          arr(i) = if (v == null) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(v)
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }

  /** Chunk-equivalent scan over a parquet table: ONE parquet scan with a
    * derived `chunk_index` column instead of a union of per-chunk filtered
    * scans. Chunking is a JDBC/PostgreSQL concept (each chunk is a separate
    * pushed-down SELECT); on parquet the plan-equivalent is
    * `chunk_index = (pk - min) div chunkSize`, which assigns every row to
    * exactly the chunk whose predicate it satisfies — provable in SQL, and a
    * single scan node regardless of chunk count. The previous
    * `chunks.map(filter).reduce(union)` shape built a plan with one scan leg
    * per chunk: thousands of legs at 100 TB — a plan-size and
    * scan-amplification scale-killer.
    */
  def parquetChunks(
      spark: SparkSession, path: String,
      stats: ChunkPlanner.TableStats, cfg: SnapshotConfig, table: String): DataFrame = {
    val chunks = ChunkPlanner.plan(stats, cfg.chunkSize, cfg.strategyFor(table))
    require(chunks.forall(_.predicate.isDefined),
      "parquetChunks requires a predicate strategy (integer_range)")
    val pk = stats.intPkColumn.getOrElse(
      throw new IllegalArgumentException("parquetChunks requires an integer PK"))
    val cond = cfg.conditionFor(table)
    val df = spark.read.parquet(path)
      // same coverage bounds as the chunk plan: [min, max] at plan time
      .filter(expr(s"$pk >= ${stats.pkMin} AND $pk <= ${stats.pkMax}"))
    val filtered = cond.map(c => df.filter(expr(c))).getOrElse(df)
    // `div` is integral division (LongType), exact for 64-bit keys; the max
    // key lands on chunks.size-1 by construction (see ChunkPlanner.integerRange).
    filtered.withColumn("chunk_index",
      expr(s"($pk - ${stats.pkMin}) div ${cfg.chunkSize}"))
  }
}
