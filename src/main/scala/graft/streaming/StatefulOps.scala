package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful streaming operators over the CDC envelope — the downstream
  * "apply changes" view of SURVEY §1.4/§7: a change stream materialized into
  * current row state per key with `mapGroupsWithState` (the Spark analogue
  * of a sink-side MERGE; the reference leaves this to its callback
  * consumers).
  */
object StatefulOps {

  /** Current state of one key: last operation applied, its LSN, and the
    * row image (null after a delete — the key is a tombstone).
    */
  final case class KeyState(
      key: String,
      op: String,
      lsn: Long,
      image: Map[String, String])

  /** Materialize `latest row per key` from a streaming CDC envelope frame.
    *
    * Keying: ALL replica-identity key columns (composite keys supported),
    * each taken from the after-image (before-image for deletes) — the same
    * identity PostgreSQL uses for the row. Components are LENGTH-PREFIXED
    * (`<len>:<value>`, null → `n`) and joined with `|`: the encoding is
    * prefix-free, so distinct composite keys can never collide even when
    * values contain the separator characters. State: one [[KeyState]] per
    * key, updated if an event
    * carries a higher LSN (commit order is the stream's order, but a
    * micro-batch may contain several events for one key — max-LSN wins).
    * Deletes keep a tombstone so a late lower-LSN event cannot resurrect
    * the row.
    *
    * Scale: state is hash-partitioned by key across executors (standard
    * stateful-streaming sharding); each micro-batch shuffles only its own
    * events. Update mode emits one row per touched key per batch.
    */
  def latestState(
      s: SparkSession, events: DataFrame,
      idleTimeoutMillis: Option[Long] = None): Dataset[KeyState] = {
    import s.implicits._
    val timeoutConf =
      if (idleTimeoutMillis.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    // prefix-free composite key + (op, lsn, after)
    events
      .select(
        when(size(col("key_names")) > 0,
          concat_ws("|",
            transform(col("key_names"), k => {
              val v = coalesce(
                element_at(col("after"), k), element_at(col("before"), k))
              when(v.isNotNull, concat(length(v).cast("string"), lit(":"), v))
                .otherwise(lit("n"))
            }))).as("key"),
        col("op"), col("lsn"), col("after"))
      .filter(col("key").isNotNull)
      .as[(String, String, Long, Map[String, String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, KeyState](
        org.apache.spark.sql.streaming.OutputMode.Update(), timeoutConf)(
        updateKey(idleTimeoutMillis))
  }

  /** The per-key state transition, extracted so specs can drive it directly
    * with `TestGroupState`. On an idle timeout the key's state is REMOVED
    * and NOTHING is emitted — at 100-TB key cardinality, state that is never
    * evicted grows without bound, and re-emitting the unchanged last row on
    * eviction would hand update-mode sinks a duplicate change they may
    * double-apply (round-4 advice). A key seen again later simply re-enters
    * as fresh state (correct for latest-row semantics: its next event
    * carries a higher LSN than anything evicted). `flatMapGroupsWithState`
    * rather than `mapGroupsWithState` exactly because the timeout branch
    * must emit an empty iterator.
    */
  private[streaming] def updateKey(idleTimeoutMillis: Option[Long])(
      key: String,
      events: Iterator[(String, String, Long, Map[String, String])],
      state: GroupState[KeyState]): Iterator[KeyState] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // max LSN wins; deletes tombstone
      val latest = (state.getOption.iterator ++ events.map { case (_, op, lsn, after) =>
        KeyState(key, op, lsn, if (op == "delete") null else after)
      }).maxBy(_.lsn)
      state.update(latest)
      idleTimeoutMillis.foreach(state.setTimeoutDuration)
      Iterator.single(latest)
    }
  }
}
