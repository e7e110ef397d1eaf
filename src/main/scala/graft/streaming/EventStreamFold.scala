package graft.streaming

import graft.operators.SegmentFold
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** WHALE-SAFE per-batch fold forms of the stateful streaming trio
  * (r14 verdict #1). The flatMapGroupsWithState operators in
  * [[EventStream]] materialize one entity's entire micro-batch on a
  * single executor's heap (`rows.toSeq.sortBy` — a whale entity with
  * 2M rows in one batch put ~2M rows in one task). The forms here run
  * each micro-batch through the BATCH window machinery instead —
  * entity-partitioned, routed through [[SegmentFold]] when the batch
  * itself holds a whale — and keep the cross-batch state as plain
  * DataFrames persisted per batch: closed versions / sessions / delete
  * actions are emitted straight from the distributed stage and the
  * state store holds O(1) rows per live entity (O(published ids) for
  * privacy, still rows in a store, never a per-task buffer). No group
  * iterator is ever collected, so per-task memory is bounded by the
  * window sort's spill threshold regardless of churn skew.
  *
  * Semantics are pinned by [[EventStreamFoldSpec]] to be
  * record-identical to the flatMapGroupsWithState forms, including
  * Spark's watermark/timeout protocol, which the fold mirrors
  * explicitly:
  *  - the watermark used by batch N is the one computed from batches
  *    < N (`wmPrevMs`); rows with `ts <= wm` are dropped (late-data
  *    filtering);
  *  - after the batch, `wm' = max(wm, max(batch ts) − delay)` with
  *    the same 1 h delay the streaming forms declare;
  *  - a per-entity timeout is stored as
  *    `max(anchor + retention, wm + 1)` (the `setTimeoutTimestamp`
  *    call) and fires — for entities with NO data in the batch — when
  *    `timeout < wm` (FlatMapGroupsWithStateExec's strict less-than),
  *    emitting exactly what the stateful form emits on timeout.
  *
  * Reference: bugzilla_etl/bz_etl.py:172 incremental_etl — the
  * reference's own continuous loop is a per-poll BATCH rebuild of the
  * touched entities, which is precisely this shape: the stream is a
  * cadence of distributed batch folds over a persisted state, not a
  * per-entity in-memory walk.
  */
object EventStreamFold {

  val WatermarkDelayMs: Long = 3600000L // the trio's "1 hour"
  // the batch operators' open-ended sentinel — one constant, never a
  // re-hardcoded literal (the one-batch ≡ h1 spec rides on it)
  private val MaxTs = graft.operators.History.MaxTimestamp
  /** The STATEFUL forms round emitted values with
    * math.round(v*100)/100.0 — floor(x+0.5), half-toward-+infinity —
    * while Spark's round() is HALF_UP (away from zero): they differ
    * on NEGATIVE exact halves (-0.125 → -0.12 vs -0.13). The folded
    * forms must mirror the stateful arithmetic exactly. */
  private def round2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100

  /** `df`'s columns, in order, as a varargs-ready Seq (no copy). */
  private def colsOf(df: DataFrame): Seq[Column] =
    ArraySeq.unsafeWrapArray(df.columns.map(col))

  // ---------------------------------------------------------------------
  // SCD-2 version maintenance (EventStream.versionHistory, folded)
  // ---------------------------------------------------------------------

  /** Empty open-version state frame: one row per live entity — the
    * still-open version plus its stored timeout. */
  def emptyVersionState(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("user_id"), col("id").as("version"),
      col("id").as("event_id"), lit("").as("event_type"),
      lit(0.0).as("value"), col("id").as("ts_ms"),
      col("id").as("timeout_ms"))

  /** One micro-batch of the folded SCD-2 maintenance. `batch` carries
    * the EvFull columns (event_id, ts, user_id, event_type, value).
    * Returns (emitted closed/evicted version rows, new open state,
    * new watermark). Every stage is entity-keyed window algebra —
    * the per-entity sort is a spillable window (segment-folded when
    * the batch holds a whale), and the only driver-side values are
    * the 1-row watermark aggregate and the segment gate. */
  def versionFoldBatch(open: DataFrame, wmPrevMs: Long, batch: DataFrame,
      retentionMs: Long = 30L * 24 * 3600 * 1000)
      : (DataFrame, DataFrame, Long) = {
    val (out, upserts, _, carried, wm) =
      versionFoldParts(open, wmPrevMs, batch, retentionMs)
    (out, upserts.unionByName(carried.select(colsOf(upserts): _*)),
      wm)
  }

  /** [[versionFoldBatch]] decomposed into STATE DELTAS — (emitted
    * rows, upserted state rows, evicted entity keys, carried-
    * untouched state, new watermark). newOpen ≡ upserts ∪ carried;
    * the delta-persisted step writes ONLY upserts + eviction
    * tombstones per batch (O(touched + evicted), not O(entities) —
    * the LSM shape a 100 TB state store needs), while the in-memory
    * spec form unions the full frame. */
  private[graft] def versionFoldParts(open: DataFrame, wmPrevMs: Long,
      batch: DataFrame, retentionMs: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Long) = {
    val s = batch.sparkSession
    val ev = batch.select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), unix_millis(col("ts")).as("ts_ms"))
    val wmNew = math.max(wmPrevMs, maxTsOf(ev) - WatermarkDelayMs)
    // late-data filter (ts at-or-before the watermark, as Spark drops
    // them before the stateful operator), then exact (ts, event_id)
    // tie collapse — the stable sort in the stateful form keeps one of
    // an identical-key pair; min(struct) picks deterministically.
    // (On ANOMALOUS duplicate-key rows with DIFFERENT payloads the
    // stateful form keeps whichever arrived first in the iterator —
    // a nondeterministic choice — so "identical" is unachievable
    // there by construction; the fold picks the deterministic
    // min-payload representative instead, stated here.)
    val b = ev.filter(col("ts_ms") > wmPrevMs)
      .groupBy("user_id", "ts_ms", "event_id")
      .agg(min(struct(col("event_type"), col("value"))).as("_r"))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("_r.event_type").as("event_type"), col("_r.value").as("value"))
    // Spark's timeout protocol runs eviction in the no-data batch
    // that follows a watermark advance — BEFORE the next batch's
    // data — so expired state evicts even for entities with rows in
    // this batch (their versions then restart at 1, exactly as the
    // stateful form's do after a timeout fires).
    val evicted = open.filter(col("timeout_ms") < wmPrevMs)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round2(col("value")).as("value"), col("ts_ms").as("valid_from"),
        lit(MaxTs).as("valid_to"), col("version"))
    val live = open.filter(col("timeout_ms") >= wmPrevMs)
    val op = live.select(col("user_id"), col("version").as("_ov"),
      col("event_id").as("_oeid"), col("event_type").as("_otype"),
      col("value").as("_oval"), col("ts_ms").as("_ots"))
    // rows not strictly later than the stored open version are dropped
    // (the stateful form's out-of-order rule); the state side is
    // O(entities) and joins UNHINTED (the h9 law)
    val kept0 = b.join(op, Seq("user_id"), "left")
      .filter(col("_ots").isNull || col("ts_ms") > col("_ots") ||
        (col("ts_ms") === col("_ots") && col("event_id") > col("_oeid")))
    // whale gate: ONE bounded aggregate; None at ordinary batch sizes
    val bounds = SegmentFold.boundsFor(kept0, "user_id", "ts_ms",
      SegmentFold.threshold(s))
    val chained0 = SegmentFold.leadRn(kept0, bounds, "user_id", "ts_ms",
      Seq("event_id"), "next_ts", "rn")
    // fold-gated checkpoint (the b1 precedent): the folded chain feeds
    // two consumers (closed rows + the per-entity aggregate); plain
    // path stays lazy — recompute beats a cache boundary there
    val chained = if (bounds.isDefined) chained0.localCheckpoint(true)
      else chained0
    val closedWithin = chained.filter(col("next_ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round2(col("value")).as("value"), col("ts_ms").as("valid_from"),
        col("next_ts").as("valid_to"),
        (coalesce(col("_ov"), lit(0L)) + col("rn")).as("version"))
    val agg = chained.groupBy("user_id")
      .agg(min(col("ts_ms")).as("_first_ts"), count(lit(1)).as("_cnt"),
        max_by(struct(col("event_id"), col("event_type"), col("value"),
          col("ts_ms")), struct(col("ts_ms"), col("event_id"))).as("_last"))
    // the stored open version closes at the batch's first kept row
    val stitch = agg.join(op, Seq("user_id"))
      .select(col("user_id"), col("_oeid").as("event_id"),
        col("_otype").as("event_type"), round2(col("_oval")).as("value"),
        col("_ots").as("valid_from"), col("_first_ts").as("valid_to"),
        col("_ov").as("version"))
    val openFromBatch = agg.join(op, Seq("user_id"), "left")
      .select(col("user_id"),
        (coalesce(col("_ov"), lit(0L)) + col("_cnt")).as("version"),
        col("_last.event_id").as("event_id"),
        col("_last.event_type").as("event_type"),
        col("_last.value").as("value"), col("_last.ts_ms").as("ts_ms"),
        greatest(col("_last.ts_ms") + retentionMs, lit(wmPrevMs + 1))
          .as("timeout_ms"))
    // entities whose batch rows all fell inside the open version still
    // invoked the stateful function — their timeout refreshes
    val touched = b.select("user_id").distinct()
    val refreshOnly = live
      .join(touched, Seq("user_id"), "left_semi")
      .join(agg.select("user_id"), Seq("user_id"), "left_anti")
      .withColumn("timeout_ms",
        greatest(col("ts_ms") + retentionMs, lit(wmPrevMs + 1)))
    val carried = live.join(touched, Seq("user_id"), "left_anti")
    val out = closedWithin.unionByName(stitch).unionByName(evicted)
    val upserts = openFromBatch
      .unionByName(refreshOnly.select(colsOf(openFromBatch): _*))
    (out, upserts, evicted.select("user_id"), carried, wmNew)
  }

  // ---------------------------------------------------------------------
  // Gap sessionization (EventStream.sessionize, folded)
  // ---------------------------------------------------------------------

  def emptySessionState(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("user_id"), col("id").as("last_ms"),
      col("id").as("session_no"), col("id").as("timeout_ms"))

  /** One micro-batch of folded gap sessionization: `batch` carries
    * (event_id, ts, user_id). Emits every batch row with its session
    * number; state is (last_ms, session_no) per entity, evicted by the
    * mirrored timeout (numbering restarts after eviction, exactly as
    * the stateful form's contract states). */
  def sessionFoldBatch(state: DataFrame, wmPrevMs: Long, batch: DataFrame,
      gapMs: Long = 30L * 60 * 1000): (DataFrame, DataFrame, Long) = {
    val (out, upserts, _, carried, wm) =
      sessionFoldParts(state, wmPrevMs, batch, gapMs)
    (out, upserts.unionByName(carried.select(colsOf(upserts): _*)),
      wm)
  }

  /** [[sessionFoldBatch]] decomposed into state deltas — see
    * [[versionFoldParts]]. Timed-out sessions evict silently, so the
    * evicted-keys frame drives tombstones only. */
  private[graft] def sessionFoldParts(state: DataFrame, wmPrevMs: Long,
      batch: DataFrame, gapMs: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Long) = {
    val s = batch.sparkSession
    val ev = batch.select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("ts_ms"))
    val wmNew = math.max(wmPrevMs, maxTsOf(ev) - WatermarkDelayMs)
    val b = ev.filter(col("ts_ms") > wmPrevMs)
    // evict-before-data (the no-data-batch protocol, see
    // versionFoldBatch): a touched entity whose timeout expired under
    // the advanced watermark restarts its numbering at 1
    val live = state.filter(col("timeout_ms") >= wmPrevMs)
    val st = live.select(col("user_id"), col("last_ms").as("_lms"),
      col("session_no").as("_sno"))
    val joined = b.join(st, Seq("user_id"), "left")
    val bounds = SegmentFold.boundsFor(joined, "user_id", "ts_ms",
      SegmentFold.threshold(s))
    val lagged = SegmentFold.lag1(joined, bounds, "user_id", "ts_ms",
        Seq("event_id"), "ts_ms", "_prev_in")
      .withColumn("_prev", coalesce(col("_prev_in"), col("_lms")))
      .withColumn("_new", when(col("_prev").isNull ||
        col("ts_ms") - col("_prev") > gapMs, 1L).otherwise(0L))
    val runs0 = SegmentFold.runningSum(lagged, bounds, "user_id", "ts_ms",
      Seq("event_id"), "_new", "_run")
    val runs = if (bounds.isDefined) runs0.localCheckpoint(true) else runs0
    val out = runs.select(col("user_id"), col("event_id"), col("ts_ms"),
      (coalesce(col("_sno"), lit(0L)) + col("_run")).as("session_no"))
    val fromBatch = runs.groupBy("user_id")
      .agg(max("ts_ms").as("last_ms"),
        (first(coalesce(col("_sno"), lit(0L))) + sum("_new"))
          .as("session_no"))
      .withColumn("timeout_ms",
        greatest(col("last_ms") + gapMs, lit(wmPrevMs + 1)))
      .select("user_id", "last_ms", "session_no", "timeout_ms")
    // timed-out sessions evicted silently above (nothing to emit)
    val carried = live.join(b.select("user_id").distinct(),
      Seq("user_id"), "left_anti")
    (out, fromBatch,
      state.filter(col("timeout_ms") < wmPrevMs).select("user_id"),
      carried, wmNew)
  }

  // ---------------------------------------------------------------------
  // Privacy-deletion propagation (EventStream.privacyDeletes, folded)
  // ---------------------------------------------------------------------

  def emptyPrivState(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("user_id"),
      lit(false).as("priv"))

  def emptyPubState(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("user_id"), lit("").as("pub_id"))

  /** One micro-batch of folded privacy propagation. State is TWO
    * frames — the per-entity privacy flag and the published-id set as
    * ROWS (never a per-entity list on any heap; the invariant that a
    * private entity's published set is empty is maintained by the
    * fold). `batch` carries (event_id, ts, user_id, event_type).
    *
    * The per-entity replay becomes flip algebra: a batch row flips to
    * private iff it is an 'error' whose predecessor state was public
    * (the stored flag for the first row); publisher row p (non-error,
    * which published id `uid_ts`) is deleted by flip number
    * `flips_before(p) + 1` when that flip exists — one entity-keyed
    * equi-join, no ordered scan. Refreshes are the public flips. */
  def privacyFoldBatch(priv: DataFrame, pubs: DataFrame, wmPrevMs: Long,
      batch: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    val (out, privUp, privCar, pubAdd, pubDeadKeys, pubCar, wm) =
      privacyFoldParts(priv, pubs, wmPrevMs, batch)
    val _ = pubDeadKeys
    (out, privUp.unionByName(privCar),
      pubAdd.unionByName(pubCar), wm)
  }

  /** [[privacyFoldBatch]] decomposed into state deltas — (out, priv
    * upserts, priv carried, published-id additions, published-id
    * deletion KEYS, published-id carried, wm). The deletion keys are
    * exactly the stored ids the batch's first private flip deleted
    * (the emitted delete actions' id space). */
  private[graft] def privacyFoldParts(priv: DataFrame, pubs: DataFrame,
      wmPrevMs: Long, batch: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, Long) = {
    val s = batch.sparkSession
    val ev = batch.select(col("user_id"), col("event_id"),
      col("event_type"), unix_millis(col("ts")).as("ts_ms"))
    val wmNew = math.max(wmPrevMs, maxTsOf(ev) - WatermarkDelayMs)
    val b = ev.filter(col("ts_ms") > wmPrevMs)
      .withColumn("_err", when(col("event_type") === "error", 1L)
        .otherwise(0L))
    val st = priv.select(col("user_id"),
      when(col("priv"), 1L).otherwise(0L).as("_priv0"))
    val joined = b.join(st, Seq("user_id"), "left")
    val bounds = SegmentFold.boundsFor(joined, "user_id", "ts_ms",
      SegmentFold.threshold(s))
    val lagged = SegmentFold.lag1(joined, bounds, "user_id", "ts_ms",
        Seq("event_id"), "_err", "_prev_in")
      .withColumn("_prev_err",
        coalesce(col("_prev_in"), col("_priv0"), lit(0L)))
      .withColumn("_flip_priv",
        when(col("_err") === 1 && col("_prev_err") === 0, 1L).otherwise(0L))
      .withColumn("_flip_pub",
        when(col("_err") === 0 && col("_prev_err") === 1, 1L).otherwise(0L))
    val runs0 = SegmentFold.runningSum(lagged, bounds, "user_id", "ts_ms",
      Seq("event_id"), "_flip_priv", "_k")
    val runs = if (bounds.isDefined) runs0.localCheckpoint(true) else runs0
    // publishers carry k = flips strictly before them (they are
    // non-error rows, so the inclusive sum equals the exclusive one)
    val publishers = runs.filter(col("_err") === 0)
      .select(col("user_id"),
        concat(col("user_id"), lit("_"), col("ts_ms")).as("pub_id"),
        col("_k"))
    val flips = runs.filter(col("_flip_priv") === 1)
      .select(col("user_id"), col("_k").as("_flip_no"))
    val agg = runs.groupBy("user_id")
      .agg(sum("_flip_priv").as("_n_flips"),
        max_by(col("_err"), struct(col("ts_ms"), col("event_id")))
          .as("_last_err"))
    // stored published ids are deleted by the batch's FIRST private
    // flip (k = 0; empty by invariant when the entity is private)
    val delCand = publishers.select(col("user_id"), col("pub_id"), col("_k"))
      .unionByName(pubs.join(b.select("user_id").distinct(),
          Seq("user_id"), "left_semi")
        .select(col("user_id"), col("pub_id"), lit(0L).as("_k")))
    val deletes = delCand.join(flips,
        delCand("user_id") === flips("user_id") &&
          flips("_flip_no") === delCand("_k") + 1)
      .select(delCand("user_id"), lit("delete").as("kind"), col("pub_id").as("id"))
    val refreshes = runs.filter(col("_flip_pub") === 1)
      .select(col("user_id"), lit("refresh").as("kind"),
        col("user_id").cast("string").as("id"))
    val out = deletes.unionByName(refreshes)
    // new state: last row decides the flag; publishers after the last
    // private flip survive (all of them plus the stored set when the
    // batch flipped nothing)
    val touched = b.select("user_id").distinct()
    val newPrivFromBatch = agg.select(col("user_id"),
      (col("_last_err") === 1).as("priv"))
    val privCarried = priv.join(touched, Seq("user_id"), "left_anti")
    val survivors = publishers.join(agg, Seq("user_id"))
      .filter(col("_k") === col("_n_flips"))
      .select("user_id", "pub_id")
    // stored ids die iff the entity flipped at least once this batch
    // (the batch's FIRST private flip deleted them — the same id
    // space the delete actions carry)
    val pubsDeadKeys = pubs.join(
        agg.filter(col("_n_flips") >= 1).select("user_id"),
        Seq("user_id"), "left_semi")
      .select("user_id", "pub_id")
    val pubsCarried = pubs.join(
        agg.filter(col("_n_flips") === 0).select("user_id"),
        Seq("user_id"), "left_semi")
      .unionByName(pubs.join(touched, Seq("user_id"), "left_anti"))
    (out, newPrivFromBatch, privCarried, survivors, pubsDeadKeys,
      pubsCarried, wmNew)
  }

  // ---------------------------------------------------------------------
  // Temporal align (StreamingAlign.align, folded — r15)
  // ---------------------------------------------------------------------

  /** Empty align state: one open combined segment per live entity. */
  def emptyAlignState(s: SparkSession): DataFrame =
    s.range(0).select(col("id"), col("id").as("last_ts"),
      lit("").as("l"), lit("").as("r"), col("id").as("timeout_ms"))

  // "assigned null" (a side-closing gap event) must stay distinct
  // from "no assignment in this window" inside the running last —
  // encode assignments as v<value> / n, decode at the edges
  private def encA(v: Column): Column =
    coalesce(concat(lit("v"), v), lit("n"))
  private def decA(v: Column): Column =
    when(v.isNull || v === "n", lit(null).cast("string"))
      .otherwise(substring(v, 2, Int.MaxValue))

  /** One micro-batch of the folded temporal align
    * ([[StreamingAlign.align]]'s distributed form — r15, the trio's
    * template applied to the remaining entity-keyed stateful op).
    * `batch` carries (id, ts, side, value, seq). The per-entity
    * replay becomes window algebra: the carried open boundary joins
    * the batch as two SEED assignment rows at its own ts (ordered
    * before every real event there), a running last-assignment per
    * side walks the (ts, side, seq) order, each (id, ts) group's
    * final row is that boundary's post state, and lead(ts) closes
    * every boundary but the newest — which becomes the upsert.
    * Rows behind the open boundary drop (the stateful late rule);
    * entities whose rows ALL drop still refresh their timeout (their
    * seeds flow through alone). Eviction emits the open segment with
    * the MaxTimestamp sentinel, before the batch's data. */
  private[graft] def alignFoldParts(state: DataFrame, wmPrevMs: Long,
      batch: DataFrame, retentionMs: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Long) = {
    val ev = batch.select(col("id"), unix_millis(col("ts")).as("ts_ms"),
      col("side"), col("value"), col("seq"))
    val wmNew = math.max(wmPrevMs,
      { val r = ev.agg(max("ts_ms")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0) } - WatermarkDelayMs)
    val b = ev.filter(col("ts_ms") > wmPrevMs)
    val evicted = state.filter(col("timeout_ms") < wmPrevMs)
      .select(col("id"), col("last_ts").as("valid_from"),
        lit(MaxTs).as("expires_on"), col("l").as("status"),
        col("r").as("grp"))
    val live = state.filter(col("timeout_ms") >= wmPrevMs)
    val touched = b.select("id").distinct()
    val st = live.select(col("id"), col("last_ts").as("_lts"),
      col("l").as("_l0"), col("r").as("_r0"))
    val seeds = st.join(touched, Seq("id"), "left_semi")
      .select(col("id"), col("_lts").as("ts_ms"),
        explode(array(
          struct(lit("l").as("side"), encA(col("_l0")).as("enc"),
            lit(Long.MinValue).as("seq")),
          struct(lit("r").as("side"), encA(col("_r0")).as("enc"),
            lit(Long.MinValue + 1).as("seq")))).as("e"))
      .select(col("id"), col("ts_ms"), col("e.side").as("side"),
        col("e.enc").as("enc"), col("e.seq").as("seq"))
    val real = b.join(st, Seq("id"), "left")
      .filter(col("_lts").isNull || col("ts_ms") >= col("_lts"))
      .select(col("id"), col("ts_ms"), col("side"),
        encA(col("value")).as("enc"), col("seq"))
    val unified = real.unionByName(seeds)
    val wRun = Window.partitionBy("id")
      .orderBy(col("ts_ms"), col("side"), col("seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaries = unified
      .withColumn("_lrun", last(
        when(col("side") === "l", col("enc")), ignoreNulls = true).over(wRun))
      .withColumn("_rrun", last(
        when(col("side") === "r", col("enc")), ignoreNulls = true).over(wRun))
      .withColumn("_grn", row_number().over(
        Window.partitionBy("id", "ts_ms")
          .orderBy(col("side").desc, col("seq").desc)))
      .filter(col("_grn") === 1)
      .withColumn("_next", lead("ts_ms", 1).over(
        Window.partitionBy("id").orderBy("ts_ms")))
    val outSegs = boundaries.filter(col("_next").isNotNull)
      .select(col("id"), col("ts_ms").as("valid_from"),
        col("_next").as("expires_on"), decA(col("_lrun")).as("status"),
        decA(col("_rrun")).as("grp"))
    val upserts = boundaries.filter(col("_next").isNull)
      .select(col("id"), col("ts_ms").as("last_ts"),
        decA(col("_lrun")).as("l"), decA(col("_rrun")).as("r"),
        greatest(col("ts_ms") + retentionMs, lit(wmPrevMs + 1))
          .as("timeout_ms"))
    val carried = live.join(touched, Seq("id"), "left_anti")
    (outSegs.unionByName(evicted), upserts, evicted.select("id"),
      carried, wmNew)
  }

  /** The in-memory (full-state) align fold — the spec form. */
  def alignFoldBatch(state: DataFrame, wmPrevMs: Long, batch: DataFrame,
      retentionMs: Long = 30L * 24 * 3600 * 1000)
      : (DataFrame, DataFrame, Long) = {
    val (out, upserts, _, carried, wm) =
      alignFoldParts(state, wmPrevMs, batch, retentionMs)
    (out, upserts.unionByName(carried.select(colsOf(upserts): _*)),
      wm)
  }

  // ---------------------------------------------------------------------
  // Persisted-state step + foreachBatch wrappers (the cadence glue)
  // ---------------------------------------------------------------------

  /** DELTA state read (the LSM shape — r15): union the slices written
    * by batches strictly before `batchId` (replay safety), keep each
    * key's newest (`_b`) row, drop tombstones. A per-batch FULL state
    * snapshot would pay O(entities) write I/O every batch; the delta
    * store pays O(touched + evicted) per batch and moves the merge to
    * the read side, where [[compactState]] keeps the slice count (and
    * so the merge input) bounded at the compaction cadence. */
  private def readDelta(s: SparkSession, root: String, sub: String,
      batchId: Long, empty: DataFrame, keys: Seq[String]): DataFrame = {
    val dirs = StoreFs.priorBatchDirs(s, s"$root/$sub", batchId)
    if (dirs.isEmpty) empty
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col("_b").desc)
      s.read.parquet(dirs: _*)
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1 && !col("_dead"))
        .drop("_rk", "_b", "_dead")
    }
  }

  /** One delta slice: upserts plus tombstones for `tombKeys` (keys
    * upserted in the SAME batch are excluded — within one slice an
    * upsert supersedes the eviction that preceded it). Overwrite-
    * idempotent per batch. */
  private def writeDelta(s: SparkSession, path: String, batchId: Long,
      upserts: DataFrame, tombKeys: DataFrame, keys: Seq[String]): Unit = {
    val deadKeys = tombKeys.join(upserts.select(keys.map(col): _*),
      keys, "left_anti")
    val dead = deadKeys.select(upserts.schema.map(f =>
      (if (keys.contains(f.name)) col(f.name)
       else lit(null).cast(f.dataType)).as(f.name)): _*)
      .withColumn("_dead", lit(true))
    upserts.withColumn("_dead", lit(false))
      .unionByName(dead)
      .withColumn("_b", lit(batchId))
      .write.mode("overwrite").parquet(s"$path/batch_$batchId")
  }

  private def readWm(s: SparkSession, root: String, batchId: Long): Long = {
    val slices = StoreFs.priorBatches(s, s"$root/wm", batchId)
    if (slices.isEmpty) 0L
    else s.read.parquet(slices.maxBy(_._1)._2).head().getLong(0)
  }

  private def writeWm(s: SparkSession, root: String, batchId: Long,
      wm: Long): Unit = {
    import s.implicits._
    Seq(wm).toDF("wm_ms").write.mode("overwrite")
      .parquet(s"$root/wm/batch_$batchId")
    // wm IS a snapshot — only the replay predecessor is needed
    StoreFs.priorBatchDirs(s, s"$root/wm", batchId - 1)
      .foreach(StoreFs.deleteDir(s, _))
  }

  /** Maintenance cadence: fold each state-store family's accumulated
    * delta slices (minus the newest — replay safety) into one sized
    * dir. Latest-wins and tombstones ride the kept `_b` column, so
    * the merged view is unchanged; call at the deployment's
    * compaction schedule. */
  def compactState(s: SparkSession, root: String): Int =
    Seq("open", "priv", "pubs", "align")
      .map(sub => StoreFs.compactSlices(s, s"$root/$sub")).sum

  /** One persisted step of the folded SCD-2 cadence: reads the merged
    * delta state under `root`, folds `batch`, writes the batch's
    * upserts + eviction tombstones, returns the emitted rows.
    * Idempotent per batchId. */
  def versionStep(root: String, batchId: Long, batch: DataFrame,
      retentionMs: Long = 30L * 24 * 3600 * 1000): DataFrame = {
    val s = batch.sparkSession
    val open = readDelta(s, root, "open", batchId, emptyVersionState(s),
      Seq("user_id"))
    val (out, upserts, evictedKeys, _, wm) = versionFoldParts(open,
      readWm(s, root, batchId), batch, retentionMs)
    val outC = out.localCheckpoint(true)
    writeDelta(s, s"$root/open", batchId, upserts, evictedKeys,
      Seq("user_id"))
    writeWm(s, root, batchId, wm)
    outC
  }

  /** One persisted step of the folded privacy cadence. */
  def privacyStep(root: String, batchId: Long, batch: DataFrame)
      : DataFrame = {
    val s = batch.sparkSession
    val priv = readDelta(s, root, "priv", batchId, emptyPrivState(s),
      Seq("user_id"))
    val pubs = readDelta(s, root, "pubs", batchId, emptyPubState(s),
      Seq("user_id", "pub_id"))
    val (out, privUp, _, pubAdd, pubDead, _, wm) = privacyFoldParts(
      priv, pubs, readWm(s, root, batchId), batch)
    val outC = out.localCheckpoint(true)
    writeDelta(s, s"$root/priv", batchId, privUp,
      privUp.select("user_id").limit(0), Seq("user_id"))
    writeDelta(s, s"$root/pubs", batchId, pubAdd, pubDead,
      Seq("user_id", "pub_id"))
    writeWm(s, root, batchId, wm)
    outC
  }

  /** One persisted step of the folded align cadence. */
  def alignStep(root: String, batchId: Long, batch: DataFrame,
      retentionMs: Long = 30L * 24 * 3600 * 1000): DataFrame = {
    val s = batch.sparkSession
    val st = readDelta(s, root, "align", batchId, emptyAlignState(s),
      Seq("id"))
    val (out, upserts, evictedKeys, _, wm) = alignFoldParts(st,
      readWm(s, root, batchId), batch, retentionMs)
    val outC = out.localCheckpoint(true)
    writeDelta(s, s"$root/align", batchId, upserts, evictedKeys,
      Seq("id"))
    writeWm(s, root, batchId, wm)
    outC
  }

  /** Streaming query glue: the folded SCD-2 cadence as a foreachBatch
    * writer — `events` carries [[EventStream.eventSchema]] columns;
    * each micro-batch's emitted rows go to `sink`. */
  def versionHistoryFolded(events: DataFrame, root: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      sink(versionStep(root, id, b.toDF(), retentionMs), id)
    }

  /** Max event ts of the batch in epoch ms (one bounded 1-row
    * aggregate — the watermark update), 0 for an empty batch. */
  private def maxTsOf(ev: DataFrame): Long = {
    val r = ev.agg(max("ts_ms")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
