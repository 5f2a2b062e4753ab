package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A continuously-maintained equi-join whose refresh cost is
  * DELTA-proportional — the signed-delta sibling of [[MaintainedJoin]]'s
  * per-key splice. The splice recomputes every touched join key's whole
  * row set, which is the right call for modest keys but makes a HOT KEY
  * (a skewed FK with millions of fact rows) cost O(that key's rows)
  * whenever one of them churns. This maintainer applies the classical
  * incremental-join algebra instead:
  *
  *   Δpairs = ΔL ⋈ R_new  +  L_new ⋈ ΔR  −  ΔL ⋈ ΔR
  *
  * (the NEW-state form — algebraically equal to the textbook
  * ΔL⋈R_old + L_old⋈ΔR + ΔL⋈ΔR, but it reads each side's fold at the
  * interval this refresh APPLIES, the same `stateAsOf(key._2, key._1)`
  * read every other maintainer pins, so no as-of-PREV retention
  * problem). Each side's span delta telescopes per (row key, image):
  * an event contributes −before and/or +after, and summing signs
  * cancels intermediate versions — so Δpairs is churn-sized, the merge
  * input is Δpairs-sized, and with `subBuckets > 1` the hot key's pairs
  * spread across sub-slices so even its REWRITE is dirty-slice-bounded.
  * A JOIN-KEY-CHANGING update needs no flag or validation here: its
  * −before retracts under the old jk and its +after inserts under the
  * new one, by construction.
  *
  * OUTER joins (`joinType` = left_outer / right_outer / full_outer) are
  * ALSO delta-maintainable: a preserved-side row is null-extended iff
  * the other side's per-jk MATCH COUNT is zero, and that count is
  * itself a refcount companion state (one row per distinct other-side
  * jk — dimension-key-sized, maintained by the other side's telescoped
  * count delta). Preserved rows flip between matched and null-extended
  * ONLY on the count's 0↔>0 transitions, so the null-extension delta is
  *
  *   ΔU = ΔP restricted to jks whose OLD count was 0   (churn-sized)
  *      − P_new over jks flipping 0→>0                 (flip-bounded)
  *      + P_new over jks flipping >0→0                 (flip-bounded)
  *
  * with the flip reads going through the SAME key-restricted /
  * immutable fold tiers the pair terms use — every refresh stays
  * churn-proportional except at a flip, which is inherently bounded by
  * the flipping keys' preserved rows (those rows change matched/
  * unmatched status, so any maintenance must touch them). NULL join
  * keys never pair but ARE preserved (standard outer-join semantics):
  * they live permanently in the unmatched state (their match count is
  * identically zero). The matched part of an outer read is the SAME
  * pair state the inner join serves; [[read]] unions in each preserved
  * side's unmatched rows null-extended.
  *
  * State: one row per surviving pair — (jk, left row key, right row
  * key, image hashes, both images, refcount) — hash-bucketed on jk and
  * sub-sliced on the pair identity; per preserved side, a `_?counts`
  * companion (jk, n — the OTHER side's row count) and a `_?null`
  * companion (the unmatched preserved rows, sub-sliced on the row key
  * so a hot unmatched jk rewrites dirty slices only). Size
  * `stateBuckets` for the JOIN-KEY cardinality: the count companion's
  * bucket is both its read and rewrite unit (one churned jk reads and
  * rewrites ~|distinct jks|/stateBuckets count rows), the same sizing
  * rule every bucketed state here follows. All companions
  * commit under the SAME interval key inside one poll span (each
  * guarded by its own replay marker, so a crash between commits
  * completes on replay). The join type is FIXED for the life of a
  * state dir (`_jointype` marker, fail-loud on mismatch — an inner
  * dir reopened as outer would silently serve no null-extensions).
  * Pair identity includes sha2-256 hashes of the CANONICAL image
  * encodings (sorted map entries), so a retraction matches exactly the
  * stored version it removes; a retraction that matches nothing drives
  * a refcount negative and fails loud (the feed was not a consistent
  * changelog).
  *
  * Prerequisites: REPLICA IDENTITY FULL on both sides (updates/deletes
  * must carry full before images — validated per span, fail-loud), and
  * the engine's TOAST restoration upstream (lake envelopes carry
  * restored full images, so −before and the prior +after encode
  * identically). Keyless (REPLICA IDENTITY NOTHING) tables join
  * append-only, like the lake fold — an update/delete of a keyless row
  * trips the refcount check.
  *
  * `*KeyIsRowKey` flags are a READ-cost tier exactly as on the splice
  * join: a side whose join key IS its single-column replica key fetches
  * the other side's matches through the KEY-RESTRICTED fold
  * (BASE-bucket-pruned); otherwise the side folds whole and semi-joins.
  * They are optional here — correctness never depends on them. The same
  * tiers govern the OUTER FLIP reads (`P_new` over flipping jks): a
  * preserved side that is row-keyed reads BASE-bucket-pruned, a
  * declared-immutable one prunes its fold input to the flipping jks,
  * and a side that is NEITHER folds whole and semi-joins on every flip
  * span — for FK-shaped joins set `*KeyImmutable` on the preserved fact
  * side so flips stay delta-proportional (docs/MIGRATION.md shows the
  * pattern).
  *
  * COMPOSITION (`emitTo`): when set, every applied span ALSO lands this
  * join's OUTPUT DELTA as envelope rows in the given lake — one
  * committed batch per span under `(schema, table) = `[[emitTable]],
  * `insert`/`delete` per output-row transition (a flip emits the pair
  * delete AND the null-extension insert, each under its own identity),
  * and a seed/truncate rebuild emits a `truncate` row followed by the
  * full output. Downstream maintainers ([[MaintainedView]], another
  * join, an index) consume it like any table — the maintainer family is
  * CLOSED under composition, and a join→aggregate pipeline stays
  * churn-proportional end to end instead of re-reading the state-sized
  * [[read]] per refresh. Emitted images carry the left/right images
  * under `l.`/`r.` key prefixes plus the pair identity under `_jk`/
  * `_lk`/`_rk`/`_lh`/`_rh` (the emitted `key_names`; a missing `r.`
  * segment IS the null-extension). Exactly-once: the output batch id
  * rides a sequence file committed in the state dir, and a replayed
  * span re-lands the same id — the emit lake's marker makes it a no-op.
  */
final class MaintainedDeltaJoin(
    lake: LakeSink,
    left: (String, String), right: (String, String),
    leftKey: Column => Column, rightKey: Column => Column,
    name: String,
    /** "inner" (default), "left_outer", "right_outer" or "full_outer" —
      * fixed for the life of the state dir (marker-enforced; migrate by
      * building the new type under a NEW name).
      */
    joinType: String = "inner",
    stateBuckets: Int = 16,
    subBuckets: Int = 1,
    leftKeyIsRowKey: Boolean = false,
    rightKeyIsRowKey: Boolean = false,
    /** Set when a side's join key is NOT its row key but IS immutable
      * per row (the FK side of a fact-dimension join): the side's
      * L_new/R_new fold input prunes to the other side's delta jks via
      * `stateAsOf(restrictToImmutable)` — the read becomes
      * delta-proportional instead of table-proportional. Validated per
      * span via [[ImmutableContract]], which ALSO means a declared-
      * immutable side gives up the delta join's native tolerance of
      * join-key-changing updates (the restricted fold's
      * stays-or-goes-together soundness needs the immutability); leave
      * the flags off where keys genuinely move. Requires `*KeyCol` (the
      * image-map column name) for delete-image validation, exactly like
      * [[MaintainedJoin]]'s flags. Ignored when `*KeyIsRowKey` is set.
      */
    leftKeyImmutable: Boolean = false,
    rightKeyImmutable: Boolean = false,
    leftKeyCol: Option[String] = None,
    rightKeyCol: Option[String] = None,
    /** Output-changelog target (see the COMPOSITION paragraph above):
      * every applied span additionally commits the span's output delta
      * as one envelope batch in this lake, under [[emitTable]].
      */
    emitTo: Option[LakeSink] = None) extends Maintainer {

  require(Set("inner", "left_outer", "right_outer", "full_outer")(joinType),
    s"joinType must be inner/left_outer/right_outer/full_outer, got '$joinType'")
  require(!leftKeyImmutable || leftKeyIsRowKey || leftKeyCol.nonEmpty,
    "leftKeyImmutable requires leftKeyCol (the image-map column name)")
  require(!rightKeyImmutable || rightKeyIsRowKey || rightKeyCol.nonEmpty,
    "rightKeyImmutable requires rightKeyCol (the image-map column name)")

  private val outerL = joinType == "left_outer" || joinType == "full_outer"
  private val outerR = joinType == "right_outer" || joinType == "full_outer"

  // OWN namespace: sharing MaintainedJoin's _graft_joins/ would let a
  // delta join and a splice join with one name silently share a state
  // log (the delta's first refresh would isCommitted-skip its seed and
  // serve the splice's 3-column state through this schema)
  private val stateDir = new Path(lake.root, s"_graft_djoins/$name")
  private val states = new BucketedStateLog(stateDir, stateBuckets,
    Seq("jk"), subBuckets, Seq("lk", "rk"))
  // the outer companions: the OTHER side's per-jk row count (dimension-
  // key-sized) and this preserved side's unmatched rows (sub-sliced on
  // the row key so a hot unmatched jk stays dirty-slice-bounded). The
  // "_"-prefixed dir names can never collide with the pair log's "v..."
  // version dirs (its gc sweeps only those).
  private val rcounts: Option[BucketedStateLog] =
    if (outerL) Some(new BucketedStateLog(
      new Path(stateDir, "_rcounts"), stateBuckets, Seq("jk"))) else None
  private val lnulls: Option[BucketedStateLog] =
    if (outerL) Some(new BucketedStateLog(
      new Path(stateDir, "_lnull"), stateBuckets, Seq("jk"),
      subBuckets, Seq("lk"))) else None
  private val lcounts: Option[BucketedStateLog] =
    if (outerR) Some(new BucketedStateLog(
      new Path(stateDir, "_lcounts"), stateBuckets, Seq("jk"))) else None
  private val rnulls: Option[BucketedStateLog] =
    if (outerR) Some(new BucketedStateLog(
      new Path(stateDir, "_rnull"), stateBuckets, Seq("jk"),
      subBuckets, Seq("rk"))) else None

  override def stateId: String = s"${lake.root}#${loop.cursorName}"

  // ---- join-type marker ---------------------------------------------------

  /** The state dir's committed join type: the pair state serves any
    * type's matched rows, so an inner dir reopened as left_outer would
    * pass every pair check yet silently serve ZERO null-extensions
    * (its unmatched companion would seed empty from the marker-less
    * dir) — exactly the silent-wrong-answer class the geometry marker
    * refuses for bucket counts. Stamped by the first refresh; validated
    * by every refresh and read.
    */
  private val joinTypeMarker = new BucketedStateLog.Marker(stateDir,
    "_jointype", joinType,
    jt => s"MaintainedDeltaJoin('$name'): state dir is marked '$jt' but " +
      s"this instance is configured '$joinType' — the join type is " +
      "fixed for the life of a state dir (the pair and companion " +
      s"states encode it); open it as '$jt', or build the new type " +
      "under a NEW name (fresh cursor + state)",
    s"MaintainedDeltaJoin('$name'): state dir has committed versions " +
      "but no _jointype marker, so the type they were built as is " +
      "unknown — build the join under a NEW name (fresh cursor + state)")

  // an empty pair log means an empty dir: companions always commit
  // at-or-after the pairs
  private def checkJoinType(f: FileSystem, writer: Boolean): Unit =
    joinTypeMarker.check(f, writer, states.committed(f).nonEmpty)

  // ---- changelog emission -------------------------------------------------

  /** The `(schema, table)` the emitted output changelog carries —
    * construct downstream maintainers over the `emitTo` lake with these
    * names.
    */
  def emitTable: (String, String) = (MaintainedDeltaJoin.EmitSchema, name)

  private def emitSeqPath = new Path(stateDir, "_emit")

  /** One recorded emission: output batch id, span key, whether the
    * batch was a FULL rebuild (truncate + whole output), and the emit
    * ROOT it landed in. The shape is recorded BEFORE the append so a
    * crash replay repeats exactly the batch the first attempt chose;
    * the root pins continuity to ONE lake — per-root batch ids restart
    * at 0, so a root swapped away and back would otherwise read a
    * stale same-id batch as its own history and emit a stranding delta
    * onto the diverged output.
    */
  private case class EmitRec(id: Long, key: (Long, Long), full: Boolean,
      root: String)

  /** The canonical emit-root string recorded/compared everywhere —
    * FILESYSTEM-QUALIFIED, not raw spelling: a scheme-less `/data/out`
    * resolves through the session's default FS (two clusters' identical
    * relative spellings must not read as one root, and `file:/x` vs
    * `/x` of one local lake must not read as two).
    */
  private def emitRootOf(spark: SparkSession, out: LakeSink): String = {
    val p = new Path(out.root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString
  }

  private def readEmitSeq(f: FileSystem): Option[EmitRec] =
    BucketedStateLog.readMarker(f, emitSeqPath).map { s =>
      // root LAST with a bounded split: URIs carry ':'
      s.split(":", 5) match {
        case Array(id, n, p, shape, root) => EmitRec(id.toLong,
          (n.toLong, p.toLong), full = shape == "full", root = root)
        // shorter records predate the shape/root fields (no released
        // deployment carries them, but in-development dirs can) —
        // guessing a shape or root could replay a seed as a delta batch
        // or bless a foreign root; refuse, naming the safe remedy
        case _ => throw new IllegalStateException(
          s"unreadable emit sequence file $emitSeqPath: '$s' — delete " +
            "the file to re-open the emit lake with a full " +
            "truncate+output backfill on the next span")
      }
    }

  private def writeEmitSeq(f: FileSystem, rec: EmitRec): Unit = {
    f.mkdirs(stateDir)
    val tmp = new Path(stateDir, "_emit.tmp")
    val out = f.create(tmp, true)
    try out.write(
      (s"${rec.id}:${rec.key._1}:${rec.key._2}:" +
        s"${if (rec.full) "full" else "delta"}:${rec.root}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    BucketedStateLog.publishReplace(f, tmp, emitSeqPath)
  }

  /** True when this span's emission fully landed: the sequence file
    * records the span AND its output batch is committed in the emit
    * lake (a crash between the two completes on replay).
    */
  private def emitCommitted(spark: SparkSession, f: FileSystem,
      out: LakeSink, key: (Long, Long)): Boolean =
    readEmitSeq(f).exists { rec =>
      // O(1) marker probe, NOT a commit-dir listing: this runs once per
      // applied span for the life of the join
      rec.key == key && out.batchLanded(spark, rec.id) }

  /** EXCLUSIVE-PRODUCER guard on the emit lake: output batch ids are
    * allocated from THIS join's sequence file, but the lake's commit
    * markers are global — a second producer (another emitting join, or
    * any prior writer) sharing the root would collide on an id and
    * `appendBatch` would silently no-op, losing the batch while
    * [[emitCommitted]] blesses it. One emit lake per join (the same
    * single-writer-per-root contract [[LakeSink]] already documents);
    * a `_graft_emit_producer` marker in the out root records the owner
    * and a mismatched or unmarked-but-nonempty root refuses loudly.
    */
  @volatile private var producerChecked = false
  private def checkEmitProducer(spark: SparkSession, out: LakeSink): Unit = {
    if (producerChecked) return
    // ONE sequence read serves all three checks below
    val rec = readEmitSeq(states.fs(spark))
    // the ROOT-CHANGE check comes first and is state-side only: the
    // sequence file records which root its batches landed in, and a
    // differently-rooted `emitTo` — including a root swapped AWAY AND
    // BACK, whose producer marker still matches this stateId and whose
    // per-root ids would bless a stale same-id batch — refuses with
    // both remedies named
    val rootNow = emitRootOf(spark, out)
    rec.map(_.root).foreach { recorded =>
      if (recorded != rootNow)
        throw new IllegalStateException(
          s"MaintainedDeltaJoin('$name'): emitTo points at '$rootNow' " +
            s"but this join's emitted batches live in '$recorded' — a " +
            "delta continuation into a different root would strand its " +
            "downstream consumers. Point emitTo back at the recorded " +
            "root, or delete the state dir's _emit file to start the " +
            "new root with a full truncate+output backfill on the next " +
            "span")
    }
    val p = new Path(out.root, "_graft_emit_producer")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketedStateLog.readMarker(f, p) match {
      case Some(who) if who != stateId =>
        throw new IllegalStateException(
          s"MaintainedDeltaJoin('$name'): emit lake ${out.root} is owned " +
            s"by producer '$who' — one join per emit lake (output batch " +
            "ids are per-join, so a second producer would silently " +
            "collide); use a fresh root")
      case Some(_) =>
        // same producer id — but a REBUILT state dir (the _emit sequence
        // file is gone) over a retained emit lake would restart output
        // ids at 0, and appendBatch would silently swallow them on the
        // old batches' markers (or, after a compact+vacuum of the out
        // lake, on its FOLDED interval — hence the watermark check);
        // refuse rather than serve the pre-rebuild output downstream
        // forever
        if (rec.isEmpty &&
            (out.committedBatchIds(spark).nonEmpty ||
              out.watermark(spark) != Long.MinValue))
          throw new IllegalStateException(
            s"MaintainedDeltaJoin('$name'): the state dir was rebuilt " +
              s"(no emit sequence) but emit lake ${out.root} retains the " +
              "old output — restarted batch ids would be silently " +
              "swallowed by its markers or folded history; use a fresh " +
              "emit root (downstream consumers re-bootstrap from it)")
        producerChecked = true
      case None =>
        if (out.committedBatchIds(spark).nonEmpty ||
            out.watermark(spark) != Long.MinValue)
          throw new IllegalStateException(
            s"MaintainedDeltaJoin('$name'): emit lake ${out.root} already " +
              "holds batches from an unknown producer — emitted batch ids " +
              "would collide with (or be swallowed by) its history; use a " +
              "fresh root")
        // an UNMARKED, EMPTY lake next to a NONEMPTY emit sequence: the
        // root check above already caught genuine swaps, so reaching
        // here means THIS root was wiped in place (marker and batches
        // gone while the sequence still records them). Refuse with the
        // one remedy that fits.
        if (rec.nonEmpty)
          throw new IllegalStateException(
            s"MaintainedDeltaJoin('$name'): emit lake ${out.root} is " +
              "empty/unclaimed but this join's emit sequence records " +
              "batches landed there — the lake was wiped in place. " +
              "Delete the state dir's _emit file to re-open it with a " +
              "full truncate+output backfill on the next span")
        val got = BucketedStateLog.stampMarker(f, new Path(out.root),
          "_graft_emit_producer", stateId, fresh = true)
        if (got != stateId)
          throw new IllegalStateException(
            s"MaintainedDeltaJoin('$name'): emit lake ${out.root} was " +
              s"claimed concurrently by producer '$got' — use a fresh root")
        producerChecked = true
    }
  }

  /** Prefixed map entries of one side's image (`l.` / `r.`); empty for a
    * NULL image (the null-extended side of an unmatched row).
    */
  private def prefEntries(p: String, m: Column): Column =
    coalesce(
      transform(map_entries(m), e =>
        struct(concat(lit(p), e.getField("key")).as("key"),
          e.getField("value").as("value"))),
      array().cast("array<struct<key:string,value:string>>"))

  /** One output row's emitted image: the pair identity under reserved
    * `_` keys (the emitted `key_names` — identities are unique while
    * live, so a delete retracts exactly the version its insert landed)
    * plus both sides' images under `l.`/`r.` prefixes (same-named
    * columns cannot collide; a missing `r.` segment IS the
    * null-extension).
    */
  private def emitImg(jk: Column, lk: Column, rk: Column, lh: Column,
      rh: Column, l: Column, r: Column): Column =
    map_from_entries(concat(
      array(
        struct(lit("_jk").as("key"), jk.cast("string").as("value")),
        struct(lit("_lk").as("key"), lk.cast("string").as("value")),
        struct(lit("_rk").as("key"), rk.cast("string").as("value")),
        struct(lit("_lh").as("key"), lh.cast("string").as("value")),
        struct(lit("_rh").as("key"), rh.cast("string").as("value"))),
      prefEntries("l.", l), prefEntries("r.", r)))

  /** Envelope rows from generic signed output-delta rows: +1 → insert
    * (image in `after`), −1 → delete (image in `before`). `commit_lsn`
    * is the output batch id; data rows sit at `lsn` 1, above a rebuild
    * batch's truncate row at 0.
    */
  private def emitEnvelope(rows: DataFrame, img: Column, outId: Long): DataFrame =
    rows.select(
      lit(1L).as("lsn"), lit(outId).as("commit_lsn"), lit(0L).as("xid"),
      when(col("dn") > 0, "insert").otherwise("delete").as("op"),
      lit(MaintainedDeltaJoin.EmitSchema).as("schema"),
      lit(name).as("table"),
      timestamp_micros(lit(0L)).as("message_time"),
      timestamp_micros(lit(0L)).as("commit_time"),
      typedLit(MaintainedDeltaJoin.EmitKeyNames).as("key_names"),
      when(col("dn") < 0, img).as("before"),
      when(col("dn") > 0, img).as("after"))

  private def pairEmitImg: Column = emitImg(col("jk"), col("lk"),
    col("rk"), col("lh"), col("rh"), col("left_after"), col("right_after"))

  private def unmatchedEmitImg(leftSide: Boolean): Column = {
    val none = lit(null).cast("map<string,string>")
    if (leftSide)
      emitImg(col("jk"), col("k"), lit(null), col("h"), lit(null),
        col("img"), none)
    else
      emitImg(col("jk"), lit(null), col("k"), lit(null), col("h"),
        none, col("img"))
  }

  /** One truncate envelope row — the head of a seed/truncate rebuild's
    * emitted batch, superseding every earlier emitted row downstream.
    */
  private def emitTruncateRow(spark: SparkSession, outId: Long): DataFrame = {
    val mapT = "map<string,string>"
    spark.range(1).select(
      lit(0L).as("lsn"), lit(outId).as("commit_lsn"), lit(0L).as("xid"),
      lit("truncate").as("op"),
      lit(MaintainedDeltaJoin.EmitSchema).as("schema"),
      lit(name).as("table"),
      timestamp_micros(lit(0L)).as("message_time"),
      timestamp_micros(lit(0L)).as("commit_time"),
      typedLit(MaintainedDeltaJoin.EmitKeyNames).as("key_names"),
      lit(null).cast(mapT).as("before"), lit(null).cast(mapT).as("after"))
  }

  /** The output batch id for a span given the recorded sequence: a
    * replay of the recorded span reuses its id (the emit lake's marker
    * then no-ops the append); a new span takes the next one. Ids
    * increase monotonically, so the emitted `commit_lsn` orders a
    * re-inserted identity's newer insert above its older delete in the
    * downstream fold.
    */
  private def emitIdFor(rec: Option[EmitRec], key: (Long, Long)): Long =
    rec match {
      case Some(r) if r.key == key => r.id
      case Some(r) => r.id + 1
      case None => 0L
    }

  /** The WHOLE committed output at `key`, read back from the just-
    * committed pair/unmatched states, as insert envelope rows — the
    * backfill batch a continuity gap emits (state-sized, paid once).
    */
  private def fullOutputEnvelope(spark: SparkSession, key: (Long, Long),
      outId: Long): DataFrame = {
    val pairs = states.read(spark, key, stateSchema)
      .select(col("jk"), col("lk"), col("rk"), col("lh"), col("rh"),
        col("left_after"), col("right_after"), col("n").as("dn"))
    var env = emitEnvelope(pairs, pairEmitImg, outId)
    lnulls.foreach { log =>
      val du = log.read(spark, key, lnullSchema)
        .select(col("jk"), col("lk").as("k"), col("lh").as("h"),
          col("left_after").as("img"), col("n").as("dn"))
      env = env.unionByName(
        emitEnvelope(du, unmatchedEmitImg(leftSide = true), outId))
    }
    rnulls.foreach { log =>
      val du = log.read(spark, key, rnullSchema)
        .select(col("jk"), col("rk").as("k"), col("rh").as("h"),
          col("right_after").as("img"), col("n").as("dn"))
      env = env.unionByName(
        emitEnvelope(du, unmatchedEmitImg(leftSide = false), outId))
    }
    env
  }

  /** Land one applied span's output delta in the emit lake, exactly
    * once. CONTINUITY: the sequence file records EVERY applied span
    * (empty-delta spans included, without burning a batch id), so a
    * record naming neither this span nor the previous state version
    * means emission was not live for some applied span (`emitTo`
    * enabled mid-life, or toggled off and on) — the missed deltas are
    * no longer computable, so the span emits a FULL rebuild instead
    * (truncate + the whole output at `key`, read from the states this
    * span just committed). The chosen shape is recorded BEFORE the
    * append, so a crash replay repeats exactly the first attempt's
    * batch. The delta frames arrive checkpointed, so the emptiness
    * probes and the append re-read materialized partitions.
    */
  private def emitSpan(spark: SparkSession, f: FileSystem, out: LakeSink,
      key: (Long, Long), prevKey: (Long, Long), pairDelta: DataFrame,
      duLeft: Option[DataFrame], duRight: Option[DataFrame]): Unit = {
    val rec = readEmitSeq(f)
    val root = emitRootOf(spark, out)
    // PRECONDITION (the needEmit guard): a replay only reaches here when
    // the recorded batch is NOT landed — so a full upgrade's re-append
    // under the same id always actually lands, never a marker no-op
    val replay = rec.exists(_.key == key)
    // a DELTA continuation requires the recorded span to be the previous
    // state version AND its batch to actually exist in THIS lake —
    // defense in depth behind checkEmitProducer's root/swap refusals (a
    // lake that somehow lost the recorded batch gets the full backfill,
    // never a stranding delta). The REPLAY of a recorded delta carries
    // the same defense against the lake losing its history between the
    // record and the re-append: ids increment by exactly one per landed
    // batch, so the prior batch is rec.id − 1 — if it is gone, upgrade
    // the replay to a full rebuild under the same id.
    val continuous = rec.exists(r =>
      r.key == prevKey && out.batchLanded(spark, r.id))
    val full =
      if (replay)
        rec.get.full ||
          (rec.get.id > 0 && !out.batchLanded(spark, rec.get.id - 1))
      else !continuous
    val outId = emitIdFor(rec, key)
    if (full) {
      writeEmitSeq(f, EmitRec(outId, key, full = true, root))
      out.appendBatch(emitTruncateRow(spark, outId)
        .unionByName(fullOutputEnvelope(spark, key, outId)), outId)
    } else {
      val parts =
        (Seq(pairDelta -> pairEmitImg) ++
          duLeft.map(_ -> unmatchedEmitImg(leftSide = true)) ++
          duRight.map(_ -> unmatchedEmitImg(leftSide = false)))
        .collect { case (rows, img) if !rows.isEmpty =>
          emitEnvelope(rows, img, outId) }
      if (parts.isEmpty) {
        // nothing changed — no batch, but RECORD the span so continuity
        // tracking sees every applied span (the id stays on the batch
        // that last landed it; its marker already exists). Recorded as
        // `delta`: the shape must describe THIS span, whose correct
        // replay is the recomputed-empty no-op — inheriting a prior
        // `full` flag could replay a stale rebuild under the old id
        writeEmitSeq(f, EmitRec(rec.get.id, key, full = false, root))
      } else {
        writeEmitSeq(f, EmitRec(outId, key, full = false, root))
        out.appendBatch(parts.reduce(_ unionByName _), outId)
      }
    }
  }

  // ---- expressions ------------------------------------------------------

  /** sha2-256 of the canonical image encoding (entries sorted by key) —
    * the equality a retraction needs: same map content, same hash,
    * whatever entry order the engine materialized.
    */
  private def imgHash(img: Column): Column =
    sha2(to_json(array_sort(map_entries(img))), 256)

  /** The side's fold row key, spelled EXACTLY like the lake's
    * (`keyedEvents`): replica-identity values joined by the key
    * separator; keyless rows get the synthetic WAL-position key.
    */
  private def rowKeyOf(img: Column): Column =
    coalesce(
      when(size(col("key_names")) > 0,
        array_join(transform(col("key_names"),
          k => coalesce(element_at(img, k), lit(""))), LakeSink.KeySep)),
      concat(lit("wal" + LakeSink.KeySep),
        col("commit_lsn"), lit("/"), col("lsn")))

  // ---- deltas and folds -------------------------------------------------

  /** One side's telescoped span delta: (jk, k, h, img, s) with s = ±1 —
    * an event contributes −before and/or +after, and summing signs per
    * (row key, image hash) cancels intermediate versions within the
    * span. NULL join keys drop unless `keepNullJk` (they never pair,
    * but an OUTER-preserved side's null-jk rows are permanently
    * unmatched output rows).
    */
  private def sideDelta(span: DataFrame, side: (String, String),
      key: Column => Column, keepNullJk: Boolean): DataFrame = {
    val events = span.filter(
      col("schema") === side._1 && col("table") === side._2 &&
        col("op").isin("insert", "update", "delete"))
    val minus = events.filter(col("op").isin("update", "delete"))
      .select(col("key_names"), col("commit_lsn"), col("lsn"),
        col("before").as("img"), lit(-1L).as("s"))
    val plus = events.filter(col("op").isin("insert", "update"))
      .select(col("key_names"), col("commit_lsn"), col("lsn"),
        col("after").as("img"), lit(1L).as("s"))
    val keyed = minus.unionByName(plus)
      .select(key(col("img")).cast("string").as("jk"),
        rowKeyOf(col("img")).as("k"), imgHash(col("img")).as("h"),
        col("img"), col("s"))
    (if (keepNullJk) keyed else keyed.filter(col("jk").isNotNull))
      .groupBy("jk", "k", "h")
      .agg(first(col("img"), ignoreNulls = true).as("img"),
        sum(col("s")).as("s"))
      .filter(col("s") =!= 0L)
  }

  /** One side's current rows at the applied interval: (jk, k, h, img) —
    * optionally KEY-RESTRICTED to a jk frame when the side's join key
    * IS its replica key (the BASE-pruned read); otherwise a full fold
    * semi-joined on jk. `keepNullJk` keeps null-jk rows (seed of an
    * outer-preserved side's unmatched state) — only meaningful with
    * `jks = None` (a jk restriction is non-null by construction).
    */
  private def sideAsOf(spark: SparkSession, side: (String, String),
      key: Column => Column, asOf: Long, floor: Long, isRowKey: Boolean,
      isImmutable: Boolean, jks: Option[DataFrame],
      keepNullJk: Boolean = false): DataFrame = {
    def ks = jks.map(_.select(col("jk").cast("string").as("k")).distinct())
    // restriction strength order, as on the splice join: row-key
    // (prunes BASE buckets too) > declared-immutable (prunes the fold
    // INPUT, scans BASE whole) > none (full fold, semi-joined after)
    val restrict = if (isRowKey) ks else None
    val restrictImm = if (!isRowKey && isImmutable) ks else None
    val folded0 = lake.stateAsOf(spark, side._1, side._2, asOf, floor,
        restrictToKeys = restrict,
        restrictToImmutable = restrictImm.map(f => ((key, f))))
      .select(key(col("after")).cast("string").as("jk"), col("k"),
        imgHash(col("after")).as("h"), col("after").as("img"))
    val folded =
      if (keepNullJk) folded0 else folded0.filter(col("jk").isNotNull)
    (restrict.orElse(restrictImm), jks) match {
      case (Some(_), _) => folded // already exactly the jk set
      case (None, Some(frame)) =>
        folded.join(broadcast(frame.select(col("jk")).distinct()),
          Seq("jk"), "left_semi")
      case _ => folded
    }
  }

  /** Pair frame columns from a (left rows) × (right rows) join on jk,
    * with the given sign expression.
    */
  private def paired(l: DataFrame, r: DataFrame, sign: Column): DataFrame =
    l.alias("l").join(r.alias("r"), Seq("jk"))
      .select(col("jk"),
        col("l.k").as("lk"), col("r.k").as("rk"),
        col("l.h").as("lh"), col("r.h").as("rh"),
        col("l.img").as("left_after"), col("r.img").as("right_after"),
        sign.as("dn"))

  private[sinks] val stateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("jk", StringType), StructField("lk", StringType),
      StructField("rk", StringType), StructField("lh", StringType),
      StructField("rh", StringType),
      StructField("left_after", MapType(StringType, StringType)),
      StructField("right_after", MapType(StringType, StringType)),
      StructField("n", LongType, nullable = false)))
  }

  private val countSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("jk", StringType),
      StructField("n", LongType, nullable = false)))
  }

  private def unmatchedSchema(kName: String, hName: String,
      imgName: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("jk", StringType), StructField(kName, StringType),
      StructField(hName, StringType),
      StructField(imgName, MapType(StringType, StringType)),
      StructField("n", LongType, nullable = false)))
  }
  private val lnullSchema = unmatchedSchema("lk", "lh", "left_after")
  private val rnullSchema = unmatchedSchema("rk", "rh", "right_after")

  private def emptyOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def emptyState(spark: SparkSession): DataFrame =
    emptyOf(spark, stateSchema)

  /** Signed merge of a ±1-refcount delta into a state: full-outer on the
    * identity, refcounts summed, negatives fail loud (a retraction for
    * a row never produced — an inconsistent feed or a violated image
    * contract) and so does n > 1 — identities are unique by
    * construction ((jk, row keys, image hashes); the cross term nets
    * same-span double counts to 1), so a re-delivered insert for a live
    * row would otherwise serve a phantom forever, silently.
    */
  private def mergedSigned(state: DataFrame, d: DataFrame,
      ids: Seq[String], payloads: Seq[String]): DataFrame = {
    val s = state.alias("s")
    val dd = d.alias("d")
    val cond = ids.map(c => col(s"s.$c") <=> col(s"d.$c")).reduce(_ && _)
    val n2 = coalesce(col("s.n"), lit(0L)) + coalesce(col("d.dn"), lit(0L))
    val checked = when(n2 < 0 || n2 > 1, raise_error(
      concat(lit("MaintainedDeltaJoin: state refcount "), n2,
        lit(" — a retraction for a row never added, or a re-added " +
          "live row (inconsistent changelog, or images not REPLICA " +
          "IDENTITY FULL / TOAST-restored)"))))
      .otherwise(n2)
    s.join(dd, cond, "full_outer")
      .select(ids.map(c => coalesce(col(s"s.$c"), col(s"d.$c")).as(c)) ++
        payloads.map(p => coalesce(col(s"s.$p"), col(s"d.$p")).as(p)) ++
        Seq(checked.as("n")): _*)
      .filter(col("n") > 0)
  }

  private def merged(state: DataFrame, d: DataFrame): DataFrame =
    mergedSigned(state, d, Seq("jk", "lk", "rk", "lh", "rh"),
      Seq("left_after", "right_after"))

  /** Merge of a per-jk COUNT delta into a match-count companion: counts
    * (unlike pair refcounts) legitimately exceed 1; only a negative is
    * an inconsistent feed. Zero-count keys drop (absence == 0).
    */
  private def mergedCounts(state: DataFrame, d: DataFrame): DataFrame = {
    val s = state.alias("s")
    val dd = d.alias("d")
    val n2 = coalesce(col("s.n"), lit(0L)) + coalesce(col("d.dn"), lit(0L))
    val checked = when(n2 < 0, raise_error(
      concat(lit("MaintainedDeltaJoin: per-key match count "), n2,
        lit(" went negative — a retraction for a row never counted " +
          "(inconsistent changelog, or images not REPLICA IDENTITY " +
          "FULL / TOAST-restored)"))))
      .otherwise(n2)
    s.join(dd, col("s.jk") <=> col("d.jk"), "full_outer")
      .select(coalesce(col("s.jk"), col("d.jk")).as("jk"), checked.as("n"))
      .filter(col("n") > 0)
  }

  // ---- refresh ----------------------------------------------------------

  /** The span loop. [[pending]] is (pairs, emit): each state is guarded
    * by its OWN replay marker, so a crash between the pair commit and a
    * companion's completes the missing commits when the span replays
    * (the cursor advances only after the whole callback). The emitted
    * output batch has the same shape of guard: the emit sequence file
    * plus the emit lake's own commit marker.
    */
  private val loop = new SpanRefresh[(Boolean, Boolean)](
      lake, "djoin", "djoin", name, states) {
    private def isSide(s: (String, String)) =
      col("schema") === s._1 && col("table") === s._2
    private val onSides = isSide(left) || isSide(right)

    protected def onTable: Column = onSides

    override protected def logs: Seq[BucketedStateLog] =
      Seq(states) ++ rcounts ++ lnulls ++ lcounts ++ rnulls

    // the row-key flags' contract (MaintainedJoin's badRowKey: the flag
    // requires a single-column identity whose value IS what the
    // extractor reads — a wrong flag would silently restrict the fold
    // away from real matches), the immutable tier's, and the REPLICA
    // IDENTITY FULL contract (an update/delete without a before image
    // cannot retract its old pairs — fail loud, never corrupt)
    override protected def contracts: Seq[(String, Column, String)] = {
      def rowKey(side: (String, String), key: Column => Column, n: String) =
        (s"${n}RowKey", RowKeyContract.violation(isSide(side), key),
          s"MaintainedDeltaJoin('$name'): KeyIsRowKey is set for " +
            s"${side._1}.${side._2} but the span carries events whose " +
            "key_names are not exactly the single join-key column extracted " +
            "verbatim — the restricted fold keys on the replica identity")
      def immutable(side: (String, String), key: Column => Column,
          keyCol: Option[String], n: String) =
        (s"${n}Immutable", ImmutableContract.violation(isSide(side), key, keyCol.get),
          s"MaintainedDeltaJoin('$name'): KeyImmutable is set for " +
            s"${side._1}.${side._2} but the span carries a key-changing " +
            "update, a column-less delete/update image, or a declared " +
            "*KeyCol that does not match the extractor — the restricted " +
            "fold could resurrect stale versions; drop the flag if this " +
            "side's join key legitimately moves")
      (if (leftKeyIsRowKey) Seq(rowKey(left, leftKey, "left")) else Nil) ++
        (if (rightKeyIsRowKey) Seq(rowKey(right, rightKey, "right")) else Nil) ++
        (if (leftKeyImmutable && !leftKeyIsRowKey)
          Seq(immutable(left, leftKey, leftKeyCol, "left")) else Nil) ++
        (if (rightKeyImmutable && !rightKeyIsRowKey)
          Seq(immutable(right, rightKey, rightKeyCol, "right")) else Nil) ++
        Seq(
          ("beforeless", onSides && col("op").isin("update", "delete") &&
            col("before").isNull,
            s"MaintainedDeltaJoin('$name'): an update/delete on " +
              s"${left._1}.${left._2} or ${right._1}.${right._2} carries no " +
              "before image — REPLICA IDENTITY FULL is required (the " +
              "retraction is computed from the old image)"),
          ("afterless", onSides && col("op") === "update" && col("after").isNull,
            s"MaintainedDeltaJoin('$name'): an update carries no after " +
              "image — the envelope is not the lake's insert/update/delete " +
              "shape this maintainer consumes"))
    }

    // BEFORE the poll: a mismatched join type must refuse even when the
    // cursor is already current, and a shared/foreign emit lake must
    // refuse before anything could be emitted into it
    override protected def beforePoll(spark: SparkSession, f: FileSystem): Unit = {
      checkJoinType(f, writer = true)
      emitTo.foreach(out => checkEmitProducer(spark, out))
    }

    protected def pending(spark: SparkSession, f: FileSystem,
        key: (Long, Long)): Option[(Boolean, Boolean)] = {
      val needPairs = !states.isCommitted(f, key)
      val needL = outerL && (!rcounts.get.isCommitted(f, key) ||
        !lnulls.get.isCommitted(f, key))
      val needR = outerR && (!lcounts.get.isCommitted(f, key) ||
        !rnulls.get.isCommitted(f, key))
      val needEmit = emitTo.exists(out => !emitCommitted(spark, f, out, key))
      Option.when(needPairs || needL || needR || needEmit)((needPairs, needEmit))
    }

    override protected def seedSlices: Int = totalSlices

    // full join of both sides through BASE
    protected def seed(span: RefreshSpan, need: (Boolean, Boolean)): Unit =
      seedAll(span.spark, span.f, span.key, emit = need._2)

    protected def delta(span: RefreshSpan, need: (Boolean, Boolean)): Unit = {
      val (needPairs, needEmit) = need
      val (spark, f, key, prevKey) = (span.spark, span.f, span.key, span.prevKey)
      // ONE job materializes BOTH side deltas (each scans the same
      // span; two separate checkpoints scheduled it twice), and ONE
      // bounded collect (≤ 2 rows) serves every emptiness probe —
      // dl, dr, and each outer side's preserved-delta — replacing
      // four driver-side isEmpty jobs (the delta refresh is
      // per-action-latency-bound). The per-side frames filter the
      // checkpointed union, so values are bit-identical: sideDelta
      // aggregates per side BEFORE the union, and the tag filter
      // recovers exactly its rows.
      val dBoth = sideDelta(span.frame, left, leftKey, keepNullJk = outerL)
        .withColumn("_sd", lit("l"))
        .unionByName(sideDelta(span.frame, right, rightKey,
          keepNullJk = outerR).withColumn("_sd", lit("r")))
        .localCheckpoint()
      val dlF = dBoth.filter(col("_sd") === "l").drop("_sd")
      val drF = dBoth.filter(col("_sd") === "r").drop("_sd")
      val dl = if (outerL) dlF.filter(col("jk").isNotNull) else dlF
      val dr = if (outerR) drF.filter(col("jk").isNotNull) else drF
      // empty-delta short-circuits: a span churning only one side
      // must not pay the OTHER side's fold for guaranteed-empty
      // terms. (When a side keeps null jks, its non-null count is
      // the filtered frame's emptiness; otherwise all == non-null.)
      val emptyStats = dBoth.groupBy("_sd").agg(
        count(lit(1)).as("all"),
        sum(when(col("jk").isNotNull, 1L).otherwise(0L)).as("nn"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
      val dlEmpty = emptyStats.get("l").forall(_._2 == 0L)
      val drEmpty = emptyStats.get("r").forall(_._2 == 0L)
      val dlAllEmpty = emptyStats.get("l").forall(_._1 == 0L)
      val drAllEmpty = emptyStats.get("r").forall(_._1 == 0L)
      // span-gauge totals across the pair state AND the outer
      // companions (companion maintenance and replay-repair spans
      // must be observable) — one recordSpan
      // per applied span, below
      var gDirty = 0L; var gRewritten = 0; var gCarried = 0
      // the pair delta feeds the pair commit AND the emission (a
      // replay that lost only the output batch recomputes it —
      // deterministic: the span plus the interval-pinned folds)
      val d: Option[DataFrame] =
        if (!needPairs && !needEmit) None
        else Some {
          // Δout = ΔL ⋈ R_new + L_new ⋈ ΔR − ΔL ⋈ ΔR, all signed;
          // the cross term subtracts because both one-sided terms
          // read the NEW folds (each already contains the other
          // side's delta)
          def part1 =
            if (dlEmpty) Seq.empty
            else Seq(paired(dl, sideAsOf(spark, right, rightKey, key._2,
              key._1, rightKeyIsRowKey, rightKeyImmutable,
              Some(dl.select("jk"))), col("l.s")))
          def part2 =
            if (drEmpty) Seq.empty
            else Seq(paired(sideAsOf(spark, left, leftKey, key._2, key._1,
              leftKeyIsRowKey, leftKeyImmutable, Some(dr.select("jk"))),
              dr, col("r.s")))
          def part3 =
            if (dlEmpty || drEmpty) Seq.empty
            else Seq(paired(dl, dr, -col("l.s") * col("r.s")))
          val parts = part1 ++ part2 ++ part3
          (if (parts.isEmpty) paired(dl, dr, lit(0L)) // empty frame
            else parts.reduce(_ unionByName _))
            .groupBy("jk", "lk", "rk", "lh", "rh")
            .agg(first(col("left_after"), ignoreNulls = true).as("left_after"),
              first(col("right_after"), ignoreNulls = true).as("right_after"),
              sum(col("dn")).as("dn"))
            .filter(col("dn") =!= 0L)
            // LAZY: the per-slice planning collect (or the emitted
            // batch write on an emit-only replay) materializes it
            .localCheckpoint(eager = false)
        }
      if (needPairs) {
        // bounded planning pull: ≤ stateBuckets × subBuckets rows
        val perSlice = d.get.groupBy(
            states.bucketExpr(Seq(col("jk"))).as("b"),
            states.subExpr.as("s"))
          .count().collect()
        val dirty = perSlice.map(r => (r.getInt(0), r.getInt(1))).toSet
        val deltaPairs = perSlice.map(_.getLong(2)).sum
        if (dirty.isEmpty) {
          span.carryForward(states)
          gCarried += stateBuckets * subBuckets
        } else {
          val prevTouched = states.readSlices(spark, prevKey.get, dirty,
            stateSchema)
          states.commitSlices(f, merged(prevTouched, d.get), dirty,
            prevKey, key)
          gDirty += deltaPairs
          gRewritten += dirty.size
          gCarried += stateBuckets * subBuckets - dirty.size
        }
      }
      val duL = if (!outerL) None else {
        val (du, dDirty, dRw, dCa) = refreshOuterSide(span,
          counts = rcounts.get, nulls = lnulls.get,
          nullsSchema = lnullSchema,
          preservedDelta = dlF, preservedEmpty = dlAllEmpty,
          otherDelta = dr, otherEmpty = drEmpty,
          preservedAsOf = jks => sideAsOf(spark, left, leftKey, key._2,
            key._1, leftKeyIsRowKey, leftKeyImmutable, jks),
          kName = "lk", hName = "lh", imgName = "left_after",
          needDu = needEmit)
        gDirty += dDirty; gRewritten += dRw; gCarried += dCa
        du
      }
      val duR = if (!outerR) None else {
        val (du, dDirty, dRw, dCa) = refreshOuterSide(span,
          counts = lcounts.get, nulls = rnulls.get,
          nullsSchema = rnullSchema,
          preservedDelta = drF, preservedEmpty = drAllEmpty,
          otherDelta = dl, otherEmpty = dlEmpty,
          preservedAsOf = jks => sideAsOf(spark, right, rightKey, key._2,
            key._1, rightKeyIsRowKey, rightKeyImmutable, jks),
          kName = "rk", hName = "rh", imgName = "right_after",
          needDu = needEmit)
        gDirty += dDirty; gRewritten += dRw; gCarried += dCa
        du
      }
      if (needEmit)
        emitSpan(spark, f, emitTo.get, key, prevKey.get, d.get,
          duL, duR)
      span.record(gDirty, gRewritten, gCarried)
    }
  }

  /** Apply every newly committed lake batch (bounded to `within` under a
    * [[Maintainer.refreshCoherent]] barrier). Returns batches applied.
    */
  override def refresh(spark: SparkSession,
      within: Option[(Long, Long)] = None): Int = loop.refresh(spark, within)

  /** Total slice count across the pair state and the outer companions —
    * the seed's "every bucket rewritten" span gauge.
    */
  private def totalSlices: Int =
    stateBuckets * subBuckets +
      (if (outerL) stateBuckets + stateBuckets * subBuckets else 0) +
      (if (outerR) stateBuckets + stateBuckets * subBuckets else 0)

  /** Full rewrite of every state at `key` — the seed and the
    * truncate-boundary rebuild. The unmatched companions anti-join the
    * preserved side (null-jk rows kept: their match count is
    * identically zero) against the other side's distinct jks. With
    * `emit`, the full output additionally lands in the emit lake as a
    * truncate row plus inserts (a rebuild resets downstream consumers).
    */
  private def seedAll(spark: SparkSession, f: FileSystem,
      key: (Long, Long), emit: Boolean): Unit = {
    val all = (0 until stateBuckets).toSet
    val lF0 = sideAsOf(spark, left, leftKey, key._2, key._1,
      isRowKey = false, isImmutable = false, jks = None, keepNullJk = outerL)
    val rF0 = sideAsOf(spark, right, rightKey, key._2, key._1,
      isRowKey = false, isImmutable = false, jks = None, keepNullJk = outerR)
    // an OUTER (or emitting) seed consumes each side's fold several
    // times (pairs, the count companion, the unmatched anti-join, the
    // emitted batch) — materialize the fold ONCE instead of re-scanning
    // BASE + tail per commit. A seed is a rare whole-corpus operation
    // and the checkpoint spills to local disk; a lost-executor failure
    // just re-runs the seed (the span replays). Plain inner seeds
    // evaluate each fold once — left lazy.
    // LAZY: the first consuming commit's write job materializes each
    // fold; later consumers read the cached blocks (the eager form spent
    // two dedicated whole-fold jobs before any commit)
    val (lF, rF) =
      if (outerL || outerR || emit)
        (lF0.localCheckpoint(eager = false), rF0.localCheckpoint(eager = false))
      else (lF0, rF0)
    val l = if (outerL) lF.filter(col("jk").isNotNull) else lF
    val r = if (outerR) rF.filter(col("jk").isNotNull) else rF
    // an emitting seed consumes each frame TWICE (its commit and the
    // emitted batch) — checkpoint so the join/anti-join runs once.
    // LAZY: the commit's write job materializes; the emit reads blocks
    def once(df: DataFrame): DataFrame =
      if (emit) df.localCheckpoint(eager = false) else df
    val pairsFull = once(paired(l, r, lit(1L)))
    // unmatched companions in the GENERIC (jk, k, h, img, dn) shape the
    // emission shares; renamed per side at commit
    val lnullRows =
      if (!outerL) None
      else Some(once(
        lF.join(r.select("jk").distinct(), Seq("jk"), "left_anti")
          .select(col("jk"), col("k"), col("h"), col("img"),
            lit(1L).as("dn"))))
    val rnullRows =
      if (!outerR) None
      else Some(once(
        rF.join(l.select("jk").distinct(), Seq("jk"), "left_anti")
          .select(col("jk"), col("k"), col("h"), col("img"),
            lit(1L).as("dn"))))
    if (!states.isCommitted(f, key))
      states.commit(f, pairsFull.withColumnRenamed("dn", "n"),
        all, None, key)
    if (outerL) {
      if (!rcounts.get.isCommitted(f, key))
        rcounts.get.commit(f, r.groupBy("jk").agg(count(lit(1)).as("n")),
          all, None, key)
      if (!lnulls.get.isCommitted(f, key))
        lnulls.get.commit(f,
          lnullRows.get.select(col("jk"), col("k").as("lk"),
            col("h").as("lh"), col("img").as("left_after"),
            col("dn").as("n")),
          all, None, key)
    }
    if (outerR) {
      if (!lcounts.get.isCommitted(f, key))
        lcounts.get.commit(f, l.groupBy("jk").agg(count(lit(1)).as("n")),
          all, None, key)
      if (!rnulls.get.isCommitted(f, key))
        rnulls.get.commit(f,
          rnullRows.get.select(col("jk"), col("k").as("rk"),
            col("h").as("rh"), col("img").as("right_after"),
            col("dn").as("n")),
          all, None, key)
    }
    if (emit) {
      val outId = emitIdFor(readEmitSeq(f), key)
      val parts = Seq(emitEnvelope(pairsFull, pairEmitImg, outId)) ++
        lnullRows.map(du =>
          emitEnvelope(du, unmatchedEmitImg(leftSide = true), outId)) ++
        rnullRows.map(du =>
          emitEnvelope(du, unmatchedEmitImg(leftSide = false), outId))
      // a seed/truncate rebuild ALWAYS emits (even over an empty corpus):
      // the truncate row is what resets downstream state
      writeEmitSeq(f, EmitRec(outId, key, full = true,
        emitRootOf(spark, emitTo.get)))
      emitTo.get.appendBatch(
        emitTruncateRow(spark, outId).unionByName(
          parts.reduce(_ unionByName _)), outId)
    }
  }

  /** One preserved side's outer maintenance through one span: advance
    * the other side's per-jk match-count companion by its telescoped
    * count delta, detect the 0↔>0 flips against the OLD counts, and
    * merge the null-extension delta
    *
    *   ΔU = ΔP|old-count==0  −  P_new|flip 0→>0  +  P_new|flip >0→0
    *
    * into the unmatched state. Old-count reads are bucket-restricted to
    * the churned jks (≤ stateBuckets buckets of a dimension-key-sized
    * state); flip reads go through the preserved side's restricted fold
    * tiers. Each commit is replay-guarded independently.
    *
    * Returns (the ΔU frame in generic (jk, k, h, img, dn) shape when
    * `needDu` asked for it — the emission's unmatched term — None when
    * empty or unasked; delta rows; slices rewritten; slices carried) —
    * the last three feed the span gauges.
    */
  private def refreshOuterSide(span: RefreshSpan,
      counts: BucketedStateLog, nulls: BucketedStateLog,
      nullsSchema: org.apache.spark.sql.types.StructType,
      preservedDelta: DataFrame, preservedEmpty: Boolean,
      otherDelta: DataFrame, otherEmpty: Boolean,
      preservedAsOf: Option[DataFrame] => DataFrame,
      kName: String, hName: String, imgName: String,
      needDu: Boolean): (Option[DataFrame], Long, Int, Int) = {
    val (spark, f, key, from) = (span.spark, span.f, span.key, span.from)
    val needCounts = !counts.isCommitted(f, key)
    val needNulls = !nulls.isCommitted(f, key)
    if (!needCounts && !needNulls && !needDu) return (None, 0L, 0, 0)
    def tornPrev(log: BucketedStateLog): (Long, Long) =
      log.latestWithin(f, from).getOrElse(throw new IllegalStateException(
        s"MaintainedDeltaJoin('$name'): outer companion state " +
          s"has no version within the applied interval $from — the " +
          "companions seed with the pairs, so this dir was built by a " +
          "different configuration; rebuild under a new name"))
    val cPrev = tornPrev(counts)
    val nPrev = tornPrev(nulls)
    // emptiness rides the caller's fused delta-stats collect — this was a
    // per-side driver isEmpty job
    val pEmpty = preservedEmpty

    // the other side's telescoped per-jk COUNT delta (an updated row's
    // −old/+new nets to zero — only genuine row count changes survive)
    val cDelta =
      if (otherEmpty) None
      else {
        // LAZY checkpoint + count: the count materializes the checkpoint
        // and answers the emptiness probe in ONE job (eager + isEmpty
        // was two)
        val cd = otherDelta.groupBy("jk").agg(sum(col("s")).as("dn"))
          .filter(col("dn") =!= 0L).localCheckpoint(eager = false)
        if (cd.count() == 0L) None else Some(cd)
      }

    // ONE bucket-planning collect (≤ stateBuckets rows, tagged by
    // source) serves everything the companion needs this span: the
    // DIRTY buckets (cDelta jks — the merge's rewrite set) and the
    // full read set (∪ preservedDelta jks — the old-count lookups;
    // absent row == count 0; null jks read nothing, their count is
    // identically zero).
    val (dirtyCountBuckets, readCountBuckets): (Set[Int], Set[Int]) = {
      val tagged = cDelta.map(_.select(col("jk"), lit(true).as("_cd")))
        .toSeq ++
        (if (pEmpty) Nil
         else Seq(preservedDelta.select(col("jk"), lit(false).as("_cd"))))
      if (tagged.isEmpty) (Set.empty, Set.empty)
      else {
        val rows = tagged.reduce(_ unionByName _)
          .filter(col("jk").isNotNull)
          .groupBy(counts.bucketExpr(Seq(col("jk"))).as("b"))
          .agg(max(col("_cd")).as("cd")).collect()
        (rows.filter(_.getBoolean(1)).map(_.getInt(0)).toSet,
          rows.map(_.getInt(0)).toSet)
      }
    }
    val oldCounts: DataFrame =
      if (readCountBuckets.isEmpty) emptyOf(spark, countSchema)
      else counts.readBuckets(spark, cPrev, Some(readCountBuckets),
        countSchema)

    // flips: jks whose count crosses zero this span, judged against the
    // OLD counts — checkpointed once, consumed by both flip terms and
    // the fail-loud negative check (one bounded driver pull). Skipped
    // when only the count state needs the span (replay of a crash after
    // the nulls commit, no emission): mergedCounts carries its own
    // negative guard.
    val flips = (if (needNulls || needDu) cDelta else None).map { cd =>
      // LAZY checkpoint: the flip-count aggregate right below is the
      // materializing action (eager spent a dedicated job on it)
      cd.join(oldCounts.withColumnRenamed("n", "_old"),
          Seq("jk"), "left_outer")
        .select(col("jk"), coalesce(col("_old"), lit(0L)).as("old_n"),
          (coalesce(col("_old"), lit(0L)) + col("dn")).as("new_n"))
        .localCheckpoint(eager = false)
    }
    val (nToMatched, nToUnmatched) = flips match {
      case None => (0L, 0L)
      case Some(fl) =>
        val agg = fl.agg(
          sum(when(col("old_n") === 0L && col("new_n") > 0L, 1L)
            .otherwise(0L)),
          sum(when(col("old_n") > 0L && col("new_n") === 0L, 1L)
            .otherwise(0L)),
          max(when(col("new_n") < 0L, 1).otherwise(0))).head()
        if (!agg.isNullAt(2) && agg.getInt(2) == 1)
          throw new IllegalStateException(
            s"MaintainedDeltaJoin('$name'): a per-key match count went " +
              "negative — a retraction for a row never counted " +
              "(inconsistent changelog, or images not REPLICA IDENTITY " +
              "FULL / TOAST-restored)")
        (if (agg.isNullAt(0)) 0L else agg.getLong(0),
          if (agg.isNullAt(1)) 0L else agg.getLong(1))
    }

    var dirtyRows = 0L; var rewritten = 0; var carried = 0
    if (needCounts) cDelta match {
      case None =>
        span.carryForward(counts, cPrev)
        carried += stateBuckets
      case Some(cd) =>
        // dirty buckets came from the shared planning collect above;
        // the merge input must be EXACTLY those buckets' rows (commit
        // carries at bucket granularity), so re-read restricted rather
        // than filtering the wider oldCounts frame
        val prevRows = counts.readBuckets(spark, cPrev,
          Some(dirtyCountBuckets), countSchema)
        counts.commit(f, mergedCounts(prevRows, cd), dirtyCountBuckets,
          Some(cPrev), key)
        rewritten += dirtyCountBuckets.size
        carried += stateBuckets - dirtyCountBuckets.size
    }

    // the ΔU frame, generic (jk, k, h, img, dn) — shared by the nulls
    // commit and the emission
    val du: Option[DataFrame] =
      if (!needNulls && !needDu) None
      else {
        val duParts = Seq.newBuilder[DataFrame]
        if (!pEmpty) {
          // preserved churn under still-unmatched jks (old count == 0;
          // null-jk rows join nothing and keep their implicit zero)
          duParts += preservedDelta
            .join(oldCounts.withColumnRenamed("n", "_rc"),
              Seq("jk"), "left_outer")
            .filter(coalesce(col("_rc"), lit(0L)) === 0L)
            .select(col("jk"), col("k"), col("h"), col("img"),
              col("s").as("dn"))
        }
        flips.foreach { fl =>
          if (nToMatched > 0)
            duParts += preservedAsOf(Some(
                fl.filter(col("old_n") === 0L && col("new_n") > 0L)
                  .select("jk")))
              .select(col("jk"), col("k"), col("h"), col("img"),
                lit(-1L).as("dn"))
          if (nToUnmatched > 0)
            duParts += preservedAsOf(Some(
                fl.filter(col("old_n") > 0L && col("new_n") === 0L)
                  .select("jk")))
              .select(col("jk"), col("k"), col("h"), col("img"),
                lit(1L).as("dn"))
        }
        val parts = duParts.result()
        if (parts.isEmpty) None
        else {
          // LAZY checkpoint + count — same one-job fusion as cDelta's
          val du0 = parts.reduce(_ unionByName _)
            .groupBy("jk", "k", "h")
            .agg(first(col("img"), ignoreNulls = true).as("img"),
              sum(col("dn")).as("dn"))
            .filter(col("dn") =!= 0L)
            .localCheckpoint(eager = false)
          if (du0.count() == 0L) None else Some(du0)
        }
      }

    if (needNulls) du match {
      case None =>
        span.carryForward(nulls, nPrev)
        carried += stateBuckets * nulls.subs
      case Some(duF) =>
        val duNamed = duF.select(col("jk"), col("k").as(kName),
          col("h").as(hName), col("img").as(imgName), col("dn"))
        // bounded planning pull: ≤ stateBuckets × subBuckets rows
        val perSlice = duNamed.groupBy(
            nulls.bucketExpr(Seq(col("jk"))).as("b"), nulls.subExpr.as("s"))
          .count().collect()
        val dirty = perSlice.map(r => (r.getInt(0), r.getInt(1))).toSet
        dirtyRows += perSlice.map(_.getLong(2)).sum
        val prevTouched = nulls.readSlices(spark, nPrev, dirty, nullsSchema)
        nulls.commitSlices(f,
          mergedSigned(prevTouched, duNamed, Seq("jk", kName, hName),
            Seq(imgName)), dirty, Some(nPrev), key)
        rewritten += dirty.size
        carried += stateBuckets * nulls.subs - dirty.size
    }
    (if (needDu) du else None, dirtyRows, rewritten, carried)
  }

  /** The current join output: (jk, left_after, right_after) — matched
    * pairs, plus (for outer types) each preserved side's unmatched rows
    * with the other image null. An OUTER read serves the NEWEST version
    * committed by EVERY participating log (pairs + unmatched
    * companions): the per-span commits land sequentially (pairs →
    * counts → nulls), so a reader overlapping a live refresh — or a
    * crash between commits — simply serves the previous fully-committed
    * version, which [[BucketedStateLog.gcWithin]] retains until the
    * cursor (advanced only after ALL commits) moves past it. This is
    * the same never-torn concurrent-read property the marker protocol
    * gives single-log maintainers. The read refuses only when NO common
    * version exists (a crash inside the very first seed — nothing
    * coherent was ever committed; re-run refresh to complete it).
    */
  def read(spark: SparkSession): DataFrame = {
    val f = states.fs(spark)
    checkJoinType(f, writer = false)
    val mapT = "map<string,string>"
    val nullLogs = (lnulls ++ rnulls).toSeq
    // ONE pairs listing; companions checked by marker existence — the
    // newest pair version every participating log has committed
    val committedPairs = states.committed(f)
    val pk = committedPairs.reverse
      .find(k => nullLogs.forall(_.isCommitted(f, k)))
    if (pk.isEmpty && committedPairs.nonEmpty)
      throw new IllegalStateException(
        s"MaintainedDeltaJoin('$name'): the pair state has committed " +
          "versions but no version is committed across every unmatched " +
          "companion — a crash inside (or a still-running) first seed; " +
          "complete/await that refresh before reading")
    val pairs = pk match {
      case Some(k) => states.read(spark, k, stateSchema)
        .select(col("jk"), col("left_after"), col("right_after"))
      case None =>
        emptyState(spark).select(col("jk"), col("left_after"),
          col("right_after"))
    }
    if (!outerL && !outerR) return pairs
    def unmatchedPart(log: BucketedStateLog,
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      pk match {
        case None => emptyOf(spark, schema)
        case Some(k) => log.read(spark, k, schema)
      }
    var out = pairs
    if (outerL)
      out = out.unionByName(unmatchedPart(lnulls.get, lnullSchema)
        .select(col("jk"), col("left_after"),
          lit(null).cast(mapT).as("right_after")))
    if (outerR)
      out = out.unionByName(unmatchedPart(rnulls.get, rnullSchema)
        .select(col("jk"), lit(null).cast(mapT).as("left_after"),
          col("right_after")))
    out
  }

  /** The latest committed state version key (spec seam). */
  private[sinks] def latestKey(spark: SparkSession): Option[(Long, Long)] =
    states.latest(states.fs(spark))

  private[sinks] def stateLog: BucketedStateLog = states
  private[sinks] def unmatchedLeftLog: Option[BucketedStateLog] = lnulls

  /** Ops gauges for the `graft_lake_*` family. */
  def gauges(spark: SparkSession): Seq[(String, Double)] =
    loop.gauges(spark, asOf = false)()
}

object MaintainedDeltaJoin {

  /** Schema name the emitted output changelog carries ([[MaintainedDeltaJoin.emitTable]]). */
  val EmitSchema = "graft"

  /** The emitted rows' `key_names`: the pair identity columns of the
    * emitted image. Unique per live output row, so the downstream fold
    * treats each emitted insert/delete as its own key history.
    */
  private[sinks] val EmitKeyNames = Seq("_lk", "_rk", "_lh", "_rh")

  /** COMPOSITE join-key extractor with separator discipline: the values
    * of `names` joined by the lake's key separator (NUL — never part of
    * a pg identifier or text-format key value), so `("ab","c")` and
    * `("a","bc")` CANNOT collide the way a naive `concat` silently does
    * (a collision would produce wrong pairs that every refcount check
    * blesses). NULL if ANY component is NULL — SQL equi-join semantics:
    * a row with a NULL key component pairs with nothing (and, on an
    * outer-preserved side, is null-extended). Use for every multi-column
    * `leftKey`/`rightKey` (and [[MaintainedJoin]]'s extractors alike).
    */
  def keyOf(names: String*): Column => Column = {
    require(names.nonEmpty, "keyOf needs at least one column name")
    img => {
      val vals = names.map(n => element_at(img, n))
      when(vals.map(_.isNotNull).reduce(_ && _),
        concat_ws(LakeSink.KeySep, vals: _*))
    }
  }
}
