package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Drives [[BugHistory.reconstruct]] from the events table: events are
  * shaped into an activity log (status transitions as single-value
  * changes, click/error props as multi-value add/remove) plus a
  * current-state row per user, then the generic operator rebuilds the
  * full version history. */
object HistoryDriver {

  /** Drives [[AliasAnalysis.analyze]] from events: purchases rename a
    * person's address (old removed, new added on the same "bug"),
    * producing the added-never-removed / removed-never-added signal the
    * analyzer matches on. */
  def a1AliasAnalysis(s: SparkSession, d: String): DataFrame = {
    val cc = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("bug_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k INT")).getField("k").as("k"))
      .select(col("bug_id"),
        concat(lit("p"), col("k") % 40, lit("@old.example")).as("old_value"),
        concat(lit("p"), col("k") % 40, lit("@new.example")).as("new_value"))
    import s.implicits._
    // human-curated exclusion (reference not_aliases): p0@new.example
    // is declared a NON-alias and must never be matched, even though
    // the activity signal says it is one
    AliasAnalysis.analyze(cc, rounds = 2, minimumDiff = 2,
      notAliases = Some(Seq("p0@new.example").toDF("email")))
  }

  /** Drives [[BugHistory.nestSubEntities]]: purchases become
    * attachments keyed (user, k%10) whose `size` field changes per
    * purchase; each bug version reports its nested attachment state. */
  def b2NestedHistory(s: SparkSession, d: String): DataFrame = {
    val (parents, subVersions) = b2Parts(s, d)
    val nested = BugHistory.nestSubEntities(parents, subVersions,
      Seq("size", "is_patch_raw", "mimetype"))
    // normalize() INSIDE the nested docs (transform_bugzilla.py:62-70):
    // attachments_is{patch,obsolete,private} flags are int-coerced
    // (value2int) and mimetype is renamed/carried unchanged — applied
    // per nested attachment, not on the flat row
    val norm = nested.withColumn("sub_entities",
      transform(col("sub_entities"), a => struct(
        a.getField("subId").as("subId"),
        a.getField("size").as("size"),
        a.getField("is_patch_raw").cast("int").as("is_patch"),
        a.getField("mimetype").as("mimetype"))))
    norm
      .select(col("id"), col("version"), col("valid_from"), col("expires_on"),
        col("status"),
        size(coalesce(col("sub_entities"), array().cast(
          "array<struct<subId:string,size:string,is_patch:int,mimetype:string>>")))
          .cast("long").as("n_atts"),
        // aggregates over the NORMALIZED nested values, so the oracle
        // (which re-derives them independently) checks the coercion
        coalesce(aggregate(col("sub_entities"), lit(0L),
          (acc, a) => acc + a.getField("is_patch")), lit(0L)).as("n_patch"),
        array_min(transform(col("sub_entities"), a => a.getField("mimetype")))
          .as("mime_min"))
      .orderBy("id", "version")
  }

  /** b2's composition stages — (parents, subVersions) — exposed for
    * the nest-stage decomposition probe (r15 verdict #3). */
  private[graft] def b2Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // Deliberately NO .cache() anywhere in this DAG, although parents
    // and the purchase shaping each feed two consumers: measured at
    // sf0.1, every caching variant (parents+pur, reconstruct
    // interiors, shaped activity) was 2-5x SLOWER than straight
    // recompute — the repeated subtrees are all codegen'd scans and
    // windows, while a cache boundary forces eager materialization
    // jobs and hides stats from AQE's join planning. (8.4s cached vs
    // 2.8s uncached; the as-of nest rewrite is the algorithmic win.)
    val parents = b1BugHistory(s, d)
    val pur = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ts"), col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k INT")).getField("k").cast("long").as("k"),
        round(col("value"), 2).cast("string").as("size"))
      .withColumn("subId", (col("k") % 10).cast("string"))
      .withColumn("cid", concat_ws("#", col("user_id"), col("subId")))
    // sub-entity churn gate: cid keys split a whale user across its
    // subIds already, but a monster (user, subId) pair still
    // serializes — same fold, keyed cid (r13 verdict #1)
    val segBSub = SegmentFold.boundsFor(pur, "cid", "ts",
      SegmentFold.threshold(s))
    val attActivity = SegmentFold.lag1(pur, segBSub, "cid", "ts",
        Seq("event_id"), "size", "old_value")
      .filter(col("old_value").isNotNull)
      .select(col("cid").as("id"), col("ts"),
        concat(lit("u"), col("user_id")).as("modified_by"),
        lit("size").as("field"), col("old_value"),
        col("size").as("new_value"))
    val attCurrent = pur.groupBy("cid")
      .agg(min("ts").as("created_ts"),
        max_by(col("size"), struct(col("ts"), col("event_id"))).as("size"))
      .withColumnRenamed("cid", "id")
    val subVersions = BugHistory.reconstruct(attCurrent, attActivity,
      Seq("size"), Nil, segBounds = segBSub)
      .withColumn("subId", split(col("id"), "#")(1))
      .withColumn("id", split(col("id"), "#")(0).cast("long"))
      // raw Bugzilla-shaped attachment attributes, as the extraction
      // SELECTs them (extract_bugzilla.py:572-575): is* flags arrive
      // as "0"/"1" STRINGS, mimetype as free text
      .withColumn("is_patch_raw",
        when(col("subId").cast("long") % 3 === 0, lit("1")).otherwise(lit("0")))
      .withColumn("mimetype",
        when(col("subId").cast("long") % 2 === 0, lit("text/plain"))
          .otherwise(lit("image/png")))
    (parents, subVersions)
  }

  def b1BugHistory(s: SparkSession, d: String): DataFrame = {
    val (current, activity, segB) = b1Parts(s, d)
    BugHistory.reconstruct(current, activity,
        Seq("status", "owner", "summary"), Seq("cc"),
        longFields = Seq("summary"), segBounds = segB)
      .select(col("id"), col("valid_from"), col("expires_on"), col("version"),
        col("status"), col("owner"), col("summary"),
        concat_ws(",", col("cc")).as("cc"),
        size(coalesce(col("changes"), array())).cast("long").as("n_changes"))
      .orderBy("id", "version")
  }

  /** b1's shaped inputs — (current, activity, segment bounds) —
    * also exposed for the churn-skew decomposition probe. */
  private[graft] def b1Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    val ev = Tables.events(s, d)
      .select(col("user_id").as("id"), unix_millis(col("ts")).as("ts"),
        col("event_id"), col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k INT")).getField("k").cast("string").as("k"))
    // churn-skew gate (r13 verdict #1): ONE bounded aggregate over the
    // raw events decides whether any entity's history is big enough to
    // need the intra-entity segment fold; None (every oracle scale —
    // sf0.1's max entity is 99 rows) keeps all the lag shaping and the
    // reconstruct windows on the plain single-window path bit-identical
    val segB = SegmentFold.boundsFor(ev, "id", "ts", SegmentFold.threshold(s))

    // status transitions: old = previous event type (bug creation state
    // = first event's type, so the first "change" is dropped)
    val statusChanges = SegmentFold.lag1(ev, segB, "id", "ts",
        Seq("event_id"), "event_type", "old_value")
      .filter(col("old_value").isNotNull && col("old_value") =!= col("event_type"))
      .select(col("id"), col("ts"), concat(lit("u"), col("id")).as("modified_by"),
        lit("status").as("field"), col("old_value"),
        col("event_type").as("new_value"))
    // cc membership: click adds item k, error removes item k
    val ccChanges = ev
      .filter(col("event_type").isin("click", "error"))
      .select(col("id"), col("ts"), concat(lit("u"), col("id")).as("modified_by"),
        lit("cc").as("field"),
        when(col("event_type") === "error", concat(lit("k"), col("k")))
          .otherwise(lit("")).as("old_value"),
        when(col("event_type") === "click", concat(lit("k"), col("k")))
          .otherwise(lit("")).as("new_value"))
    // summary: the LONG field — each purchase rewrites it, and the
    // change arrives SPLIT ACROSS TWO activity records in the same
    // timestamp hunk (Bugzilla's bugs_activity column-width split;
    // parse_bug_history.py:1189), reassembled by reconstruct's
    // longFields pass. seq carries the record order.
    val summaryOf = concat(lit("sum"), col("k"), lit("_u"), col("id"))
    val sumChanges = SegmentFold.lag1(
        ev.filter(col("event_type") === "purchase")
          .withColumn("summary", summaryOf),
        segB, "id", "ts", Seq("event_id"), "summary", "old_full")
      .filter(col("old_full").isNotNull && col("old_full") =!= col("summary"))
      .select(col("id"), col("ts"), concat(lit("u"), col("id")).as("modified_by"),
        lit("summary").as("field"),
        posexplode(array(
          struct(substring(col("old_full"), 1, 4).as("ov"),
            substring(col("summary"), 1, 4).as("nv")),
          struct(substring(col("old_full"), 5, 1000).as("ov"),
            substring(col("summary"), 5, 1000).as("nv")))))
      .select(col("id"), col("ts"), col("modified_by"), col("field"),
        col("col.ov").as("old_value"), col("col.nv").as("new_value"),
        col("pos").cast("long").as("seq"))
    val activity = statusChanges.union(ccChanges)
      .withColumn("seq", lit(0L))
      .union(sumChanges)

    val curSummary = ev.filter(col("event_type") === "purchase")
      .groupBy("id")
      .agg(max_by(summaryOf, struct(col("ts"), col("event_id")))
        .as("summary"))
    // current cc membership: the LAST event per (user, item) decides —
    // present iff it is an add. reconstruct is backward-anchored (the
    // reference's semantics), so the newest segment of every item
    // comes from THIS set; ties at one ts order (ts, delta) with the
    // add last, matching reconstruct's event ordering.
    val ccEv = ev.filter(col("event_type").isin("click", "error"))
      .withColumn("delta",
        when(col("event_type") === "click", 1).otherwise(-1))
    val curCc = ccEv.groupBy(col("id"), col("k"))
      .agg(max_by(col("delta"), struct(col("ts"), col("delta")))
        .as("last_delta"))
      .filter(col("last_delta") === 1)
      .groupBy("id")
      .agg(collect_list(concat(lit("k"), col("k"))).as("cc"))
    val current = ev.groupBy("id")
      .agg(min("ts").as("created_ts"),
        max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("status"))
      .withColumn("owner", concat(lit("u"), col("id")))
      .join(curCc, Seq("id"), "left")
      .withColumn("cc", coalesce(col("cc"), array().cast("array<string>")))
      .join(curSummary, Seq("id"), "left")

    (current, activity, segB)
  }
}
