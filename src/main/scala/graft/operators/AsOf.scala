package graft.operators

import graft.plans.AsOfJoin
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** User-facing as-of join API over the custom Catalyst operator
  * (graft.plans.AsOfJoin / AsOfJoinExec). */
object AsOf {

  /** Left as-of join: every left row + the latest right row whose
    * keys match and whose `rightTimeCol` <= `leftTimeCol`. Time
    * columns must be long-backed (epoch millis). Keep right rows
    * unique per (keys, time) for deterministic output. The session
    * must plan with `AsOfStrategy`, which [[graft.GraftSession.local]]
    * installs. */
  def join(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String): DataFrame = {
    require(leftKeys.length == rightKeys.length, "key arity mismatch")
    val spark = left.sparkSession
    val lPlan = Bridge.plan(left)
    val rPlan = Bridge.plan(right)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(",")}"))
    Bridge.ofRows(spark, AsOfJoin(lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol)))
  }

  /** Q16: fact-to-SCD-2 interval join — every fact event joined to the
    * dimension VERSION whose validity interval contains the event time
    * (the reference's "bug state at event time" query shape: version
    * intervals come from parse_bug_history's valid_from/expires_on,
    * reference: bugzilla_etl/parse_bug_history.py:29).
    *
    * Implementation is the native as-of join on valid_from: because
    * SCD-2 intervals TILE time per entity (valid_to = the next
    * version's valid_from), "latest valid_from <= ts" IS interval
    * containment — no end-of-interval filter needed. That re-expression
    * matters at 100 TB: the naive `BETWEEN` range join has no equi-only
    * condition Spark can hash on beyond user_id, so within-key it
    * degenerates to per-key nested loops (and with a skewed entity the
    * stage dies); the as-of plan is one shuffle on the entity key and
    * an O(n+m) merge scan per partition. */
  def q16IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stateTypes = Seq("signup", "purchase")
    // One state row per (user, ts): concurrent changes collapse to the
    // latest event_id, mirroring q14's dedup so output is deterministic.
    val states = ev.filter(col("event_type").isin(stateTypes: _*))
      .groupBy(col("user_id").as("s_user"),
        unix_millis(col("ts")).as("valid_from"))
      .agg(max_by(col("event_type"), col("event_id")).as("state"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("s_user").orderBy("valid_from")
    val versions = states
      .withColumn("state_version", row_number().over(w).cast("long"))
      .withColumn("valid_to",
        coalesce(lead("valid_from", 1).over(w), lit(History.MaxTimestamp)))
    val facts = ev.filter(!col("event_type").isin(stateTypes: _*))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
    join(facts, versions, Seq("user_id"), Seq("s_user"), "ts_ms", "valid_from")
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("state"),
        col("state_version"), col("valid_from"), col("valid_to"))
      .orderBy("event_id")
  }

  /** H16 core: temporal ALIGN — the point-in-time join of two SCD-2
    * version tables sharing an entity key `id`: the output is the
    * intersection REFINEMENT of both interval sets, one row per
    * combined validity segment carrying each side's state live over
    * that segment (null where a side has no coverage — before its
    * first version, or inside a gap). The naive formulation
    * (`l JOIN r ON id AND overlap`) is a per-entity nested loop,
    * quadratic in version churn; this recipe is linear: (1) the
    * boundary SPINE = union of both sides' valid_from and finite
    * expires_on per id (expiry boundaries matter for GAPPED inputs —
    * a segment must split where coverage ends), (2) each spine
    * segment as-of joins each side via the native [[join]] merge
    * scan — one shuffle per side on the entity key, (3) an expiry
    * mask nulls a side whose matched interval ended at or before the
    * segment start. Reference cousin: [[BugHistory.nestSubEntities]]
    * nests the aligned sub-entity INTO the parent version; align
    * keeps the flat relational form downstream joins want.
    *
    * Inputs: (id, valid_from, expires_on, payload...), epoch-ms
    * longs, intervals [valid_from, expires_on) unique per (id, ts). */
  def temporalAlign(left: DataFrame, right: DataFrame,
      lPayload: Seq[String], rPayload: Seq[String]): DataFrame = {
    val max = History.MaxTimestamp
    def bounds(df: DataFrame) =
      df.select(col("id"), col("valid_from").as("ts"))
        .union(df.filter(col("expires_on") =!= max)
          .select(col("id"), col("expires_on").as("ts")))
    val spine = bounds(left).union(bounds(right)).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("ts")
    val seg = spine
      .withColumn("expires_on",
        coalesce(lead("ts", 1).over(w), lit(max)))
      .withColumnRenamed("ts", "valid_from")
    val l = left.select(Seq(col("id").as("l_id"),
      col("valid_from").as("l_from"), col("expires_on").as("l_to")) ++
      lPayload.map(col): _*)
    val r = right.select(Seq(col("id").as("r_id"),
      col("valid_from").as("r_from"), col("expires_on").as("r_to")) ++
      rPayload.map(col): _*)
    val joined = join(
      join(seg, l, Seq("id"), Seq("l_id"), "valid_from", "l_from"),
      r, Seq("id"), Seq("r_id"), "valid_from", "r_from")
    val lLive = col("l_from").isNotNull && col("valid_from") < col("l_to")
    val rLive = col("r_from").isNotNull && col("valid_from") < col("r_to")
    joined.select(Seq(col("id"), col("valid_from"), col("expires_on")) ++
      lPayload.map(c => when(lLive, col(c)).as(c)) ++
      rPayload.map(c => when(rLive, col(c)).as(c)): _*)
  }

  /** H16 driver: align the per-user STATUS history (consecutive-dedup
    * over event types — h4's segmenting) with the per-user purchase
    * GROUP history (consecutive-dedup over k-derived groups, purchases
    * only, so users without purchases and the span before a user's
    * first purchase exercise the null-coverage side). */
  def h16TemporalAlign(s: SparkSession, d: String): DataFrame = {
    val (leftScd, rightScd) = h16Scds(s, d)
    temporalAlign(leftScd, rightScd, Seq("status"), Seq("grp"))
      .orderBy("id", "valid_from")
  }

  /** The h16 driver's two SCD sides — exposed so the streaming-align
    * spec can replay the same versions as boundary events. */
  private[graft] def h16Scds(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("ts", "event_id")
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("valid_from")
    val ev = Tables.events(s, d).select(col("user_id").as("id"),
      unix_millis(col("ts")).as("ts"), col("event_id"), col("event_type"),
      from_json(col("props"), org.apache.spark.sql.types.StructType
        .fromDDL("k INT")).getField("k").cast("long").as("k"))
    def scd(src: DataFrame, valueCol: String) = src
      .withColumn("prev", lag(valueCol, 1).over(wU))
      .filter(col("prev").isNull || col("prev") =!= col(valueCol))
      .select(col("id"), col("ts").as("valid_from"), col(valueCol))
      .withColumn("expires_on", coalesce(lead("valid_from", 1).over(wV),
        lit(History.MaxTimestamp)))
    (scd(ev.withColumn("status", col("event_type")), "status"),
      scd(ev.filter(col("event_type") === "purchase")
        .withColumn("grp", concat(lit("g"), col("k") % 3)), "grp"))
  }

  /** Q14: every non-signup event joined as-of to the user's latest
    * prior signup (oracle: DuckDB's native ASOF LEFT JOIN). */
  def q14AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val lhs = ev.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
    val rhs = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("s_user"),
        unix_millis(col("ts")).as("signup_ms"))
      .agg(round(max_by(col("value"), col("event_id")), 2).as("signup_value"))
    join(lhs, rhs, Seq("user_id"), Seq("s_user"), "ts_ms", "signup_ms")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("signup_ms"), col("signup_value"))
      .orderBy("event_id")
  }
}
