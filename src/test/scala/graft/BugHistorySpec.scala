package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed snapshot reconstruction cases, in the spirit of the
  * reference's tests/resources/reference JSON fixtures. */
class BugHistorySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  // bug 1: created t=100 status=NEW assignee=alice cc={alice}
  //  t=200 status NEW->ASSIGNED            (by bob)
  //  t=300 cc +bob +carol                  (by bob)
  //  t=400 status ASSIGNED->RESOLVED, cc -alice  (by carol)
  // bug 2: created t=150, no activity, status=NEW cc={dan}
  private lazy val current = Seq(
    (1L, 100L, "RESOLVED", "alice", Seq("bob", "carol")),
    (2L, 150L, "NEW", "dan", Seq("dan")))
    .toDF("id", "created_ts", "status", "assignee", "cc")
  private lazy val activity = Seq(
    (1L, 200L, "bob", "status", "NEW", "ASSIGNED"),
    (1L, 300L, "bob", "cc", "", "bob, carol"),
    (1L, 400L, "carol", "status", "ASSIGNED", "RESOLVED"),
    (1L, 400L, "carol", "cc", "alice", ""))
    .toDF("id", "ts", "modified_by", "field", "old_value", "new_value")

  private lazy val result = operators.BugHistory.reconstruct(
    current, activity, Seq("status", "assignee"), Seq("cc"))

  test("version timeline and expiry chaining") {
    val b1 = result.filter($"id" === 1).orderBy("version").collect()
    assert(b1.map(_.getAs[Long]("valid_from")).toSeq == Seq(100L, 200L, 300L, 400L))
    assert(b1.map(_.getAs[Long]("expires_on")).toSeq ==
      Seq(200L, 300L, 400L, operators.BugHistory.MaxTimestamp))
    val b2 = result.filter($"id" === 2).collect()
    assert(b2.length == 1 &&
      b2.head.getAs[Long]("expires_on") == operators.BugHistory.MaxTimestamp)
  }

  test("single-value fields replay to the correct state per version") {
    val b1 = result.filter($"id" === 1).orderBy("version").collect()
    assert(b1.map(_.getAs[String]("status")).toSeq ==
      Seq("NEW", "ASSIGNED", "ASSIGNED", "RESOLVED"))
    // assignee never changed -> current value in every version
    assert(b1.map(_.getAs[String]("assignee")).forall(_ == "alice"))
    assert(result.filter($"id" === 2).head.getAs[String]("status") == "NEW")
  }

  test("multi-value membership intervals (incl. removal of a pre-history item)") {
    val b1 = result.filter($"id" === 1).orderBy("version").collect()
    val ccs = b1.map(_.getAs[collection.Seq[String]]("cc").toList).toSeq
    // alice existed before history began (her first event is a removal)
    assert(ccs == Seq(
      List("alice"),
      List("alice"),
      List("alice", "bob", "carol"),
      List("bob", "carol")))
    assert(result.filter($"id" === 2).head.getAs[collection.Seq[String]]("cc") == Seq("dan"))
  }

  test("changes recorded per version; creation version has none") {
    val b1 = result.filter($"id" === 1).orderBy("version").collect()
    assert(b1.head.isNullAt(b1.head.fieldIndex("changes")))
    val v4 = b1.last.getAs[collection.Seq[Row]]("changes")
    assert(v4.map(_.getAs[String]("field_name")).sorted == Seq("cc", "status"))
    assert(b1.last.getAs[String]("modified_by") == "carol")
  }

  test("final version state matches forward log application") {
    // log-consistent data: last version equals the current row
    val last1 = result.filter($"id" === 1).orderBy(desc("version")).head
    assert(last1.getAs[String]("status") == "RESOLVED")
    assert(last1.getAs[collection.Seq[String]]("cc").toList == List("bob", "carol"))
  }

  test("snapshot ids follow the reference format id_ts") {
    assert(result.filter($"id" === 1 && $"version" === 2)
      .head.getAs[String]("snapshot_id") == "1_200")
  }

  test("sub-entity histories nest into the parent version intervals") {
    // attachment 10 on bug 1: created t=250 obsolete=false,
    // flipped to obsolete=true at t=400
    val attCurrent = Seq((1L, "10", 250L, "true"))
      .toDF("id", "subId", "created_ts", "obsolete")
    val attActivity = Seq((1L, "10", 400L, "u1", "obsolete", "false", "true"))
      .toDF("id", "subId", "ts", "modified_by", "field", "old_value", "new_value")
    // reconstruct per (id, subId): temporarily key on a composite id
    val subVersions = operators.BugHistory.reconstruct(
      attCurrent.withColumn("id", concat_ws("#", $"id", $"subId")),
      attActivity.withColumn("id", concat_ws("#", $"id", $"subId")),
      Seq("obsolete"), Nil)
      .withColumn("subId", split($"id", "#")(1))
      .withColumn("id", split($"id", "#")(0).cast("long"))
    val nested = operators.BugHistory.nestSubEntities(
      result, subVersions, Seq("obsolete"))
    val b1 = nested.filter($"id" === 1).orderBy("version").collect()
    def atts(i: Int) = Option(b1(i).getAs[collection.Seq[Row]]("sub_entities"))
      .map(_.map(r => (r.getString(0), r.getString(1))).toList).getOrElse(Nil)
    assert(atts(0) == Nil)                      // t=100: not created yet
    assert(atts(1) == Nil)                      // t=200: not created yet
    assert(atts(2) == List(("10", "false")))    // t=300: live, not obsolete
    assert(atts(3) == List(("10", "true")))     // t=400: flipped
  }

  test("truncation tolerance cleans ?-values and marks the uncertain past") {
    // entity 1: a "? a" prefix at t=10, a bare "?" at t=30 — the
    // LATEST uncertain row (t=30) is the cutoff: strictly-earlier rows
    // are uncertain=1, t=30 itself and later stay 0 (the reference's
    // injected uncertain 1→null activity, parse_bug_history.py:160-174).
    // entity 2: all clean — never uncertain.
    val activity = Seq(
      (1L, 10L, 1L, "cc", "? a"),
      (1L, 20L, 2L, "cc", "x"),
      (1L, 30L, 3L, "keywords", "?"),
      (1L, 40L, 4L, "keywords", "y"),
      (2L, 10L, 5L, "blocked", "? ?"),
      (2L, 15L, 6L, "blocked", "z"))
      .toDF("id", "ts_ms", "event_id", "field", "raw")
    val out = operators.History.truncationTolerance(activity)
      .select("id", "event_id", "value_clean", "uncertain")
      .collect().map(r => r.getLong(1) ->
        (Option(r.getString(2)), r.getInt(3))).toMap
    assert(out(1L) == (Some("a"), 1))    // prefix stripped, before cutoff
    assert(out(2L) == (Some("x"), 1))    // clean value, still uncertain past
    assert(out(3L) == (None, 0))         // "?" nulled, AT cutoff → certain
    assert(out(4L) == (Some("y"), 0))    // after cutoff
    assert(out(5L) == (None, 0))         // "? ?" nulled; t=10 IS the cutoff
    assert(out(6L) == (Some("z"), 0))    // after entity 2's cutoff
  }

  test("LongField: same-ts fragments reassemble in record order as ONE change") {
    // the Bugzilla column-width split (parse_bug_history.py:1189):
    // the t=200 desc change arrives as THREE activity records in one
    // timestamp hunk; old state "AAABBBCC" and new state "XXYYZ" are
    // each split across the records in seq order
    val current = Seq((1L, 0L, "XXYYZ")).toDF("id", "created_ts", "desc")
    val activity = Seq(
      (1L, 100L, "u1", "desc", "S0", "AAABBBCC", 0L),
      (1L, 200L, "u1", "desc", "AAA", "XX", 0L),
      (1L, 200L, "u1", "desc", "BBB", "YY", 1L),
      (1L, 200L, "u1", "desc", "CC", "Z", 2L))
      .toDF("id", "ts", "modified_by", "field", "old_value", "new_value",
        "seq")
    val out = operators.BugHistory.reconstruct(current, activity,
        Seq("desc"), Nil, longFields = Seq("desc"))
      .orderBy("version").collect()
    assert(out.map(_.getAs[Long]("valid_from")).toSeq == Seq(0L, 100L, 200L))
    // states: init = earliest change's (whole) old_value, then the
    // reassembled values; the hunk replays as one concatenated change
    assert(out.map(_.getAs[String]("desc")).toSeq ==
      Seq("S0", "AAABBBCC", "XXYYZ"))
    val hunk = out(2).getAs[collection.Seq[Row]]("changes")
    assert(hunk.length == 1, "fragment hunk must count as ONE change")
    assert((hunk.head.getString(0), hunk.head.getString(1),
      hunk.head.getString(2)) == ("desc", "AAABBBCC", "XXYYZ"))
    // without the longFields declaration the fragments would replay as
    // three separate (wrong) changes — guard the default path is intact
    val naive = operators.BugHistory.reconstruct(current, activity,
      Seq("desc"), Nil)
    assert(naive.filter($"valid_from" === 200L)
      .head.getAs[collection.Seq[Row]]("changes").length == 3)
  }

  // ---- intra-entity SEGMENT FOLD (r13 verdict #1) --------------------

  /** Full-output equality, every column except modified_by (a
    * first() over (id, ts) groups — legitimately nondeterministic
    * when two users share a timestamp, and independent of the fold). */
  private def sameHistory(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    val ja = a.drop("modified_by").orderBy("id", "version").toJSON.collect()
    val jb = b.drop("modified_by").orderBy("id", "version").toJSON.collect()
    assert(ja.length == jb.length, s"${ja.length} vs ${jb.length} rows")
    ja.zip(jb).foreach { case (x, y) => assert(x == y) }
  }

  test("SEGMENT FOLD ≡ monolithic reconstruct under forced bounds, " +
      "including cut points ON event timestamps and out-of-range cuts") {
    val plain = operators.BugHistory.reconstruct(
      current, activity, Seq("status", "assignee"), Seq("cc"))
    // cuts between events, ON an event ts (200 — a bound equal to a ts
    // keeps that ts in the lower segment: seg counts bounds < ts), and
    // far outside the range (all rows land in interior segments)
    for (cuts <- Seq(Seq(150L, 250L, 350L), Seq(200L, 400L),
        Seq(1L, 2L), Seq(100L, 101L, 399L, 400L, 500L), Seq.empty[Long])) {
      val bounds = Seq((1L, cuts), (2L, cuts))
        .toDF("seg_id", "seg_bounds")
      val segged = operators.BugHistory.reconstruct(
        current, activity, Seq("status", "assignee"), Seq("cc"),
        segBounds = Some(bounds))
      sameHistory(plain, segged)
    }
  }

  test("SEGMENT FOLD: a null-state run crossing a cut still anchors " +
      "to the next change's old_value across segments") {
    // entity with a LONG gap of version rows between two changes, cut
    // mid-gap: versions in the earlier segment must see the t=900
    // change's old_value arrive as carry-in from the later segment
    val cur = Seq((7L, 0L, "E")).toDF("id", "created_ts", "st")
    val act = Seq(
      (7L, 100L, "u", "st", "A", "B"),
      (7L, 300L, "u", "other", "x", "y"), // version rows only for st
      (7L, 500L, "u", "other", "x", "y"),
      (7L, 700L, "u", "other", "x", "y"),
      (7L, 900L, "u", "st", "B", "E"))
      .toDF("id", "ts", "modified_by", "field", "old_value", "new_value")
    val plain = operators.BugHistory.reconstruct(cur, act, Seq("st"), Nil)
    for (cuts <- Seq(Seq(400L), Seq(200L, 600L), Seq(150L, 350L, 550L, 750L))) {
      val segged = operators.BugHistory.reconstruct(cur, act, Seq("st"),
        Nil, segBounds = Some(Seq((7L, cuts)).toDF("seg_id", "seg_bounds")))
      sameHistory(plain, segged)
    }
    // and the states themselves are the hand-derived backward anchor
    assert(plain.orderBy("version").collect().map(_.getAs[String]("st"))
      .toSeq == Seq("A", "B", "B", "B", "B", "E"))
  }

  test("SegmentFold.lag1 ≡ the monolithic lag window under forced " +
      "bounds; boundsFor gates on the per-entity threshold") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 20L, 3L, "c"),
      (1L, 30L, 4L, "d"), (1L, 40L, 5L, "e"),
      (2L, 10L, 6L, "x"), (2L, 50L, 7L, "y"))
      .toDF("id", "ts", "event_id", "v")
    val w = Window.partitionBy("id").orderBy("ts", "event_id")
    val plain = df.withColumn("pv", lag("v", 1).over(w))
      .orderBy("id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("pv")))
    for (cuts <- Seq(Seq(15L), Seq(20L), Seq(10L, 20L, 30L, 40L))) {
      val b = Seq((1L, cuts), (2L, cuts)).toDF("seg_id", "seg_bounds")
      val segged = operators.SegmentFold.lag1(df, Some(b), "id", "ts",
          Seq("event_id"), "v", "pv")
        .orderBy("id", "ts", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("pv")))
      assert(segged.toSeq == plain.toSeq, s"cuts=$cuts")
    }
    // the gate: below threshold -> None (plain path); above -> Some
    assert(operators.SegmentFold.boundsFor(df, "id", "ts", 10).isEmpty)
    val forced = operators.SegmentFold.boundsFor(df, "id", "ts", 2)
    assert(forced.nonEmpty)
    // only the entity over threshold gets bounds (id 2 has 2 rows)
    assert(forced.get.filter($"seg_id" === 2L).isEmpty)
    assert(!forced.get.filter($"seg_id" === 1L).isEmpty)
  }

  test("membershipIntervals (r14 #7): the run-length form explodes to " +
      "the full form's membership arrays — fixture, corpus, and " +
      "forced-fold paths") {
    def check(cur: org.apache.spark.sql.DataFrame,
        act: org.apache.spark.sql.DataFrame, multi: Seq[String],
        longFields: Seq[String],
        segB: Option[org.apache.spark.sql.DataFrame],
        full: org.apache.spark.sql.DataFrame): Unit = {
      val iv = operators.BugHistory.membershipIntervals(
        cur, act, multi, longFields, segB)
      val exploded = iv
        .join(full.select(col("id"), col("version")), Seq("id"))
        .filter(col("version") >= col("from_version") &&
          (col("to_version").isNull || col("version") < col("to_version")))
        .select(col("id"), col("version"), col("item"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      val reference = multi.flatMap { f =>
        full.select(col("id"), col("version"), explode(col(f)).as("item"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      }.toSet
      assert(exploded == reference)
      assert(reference.nonEmpty, "fixture produced no membership cells")
    }
    // fixture (covers pre-history removal, tail presence, no-activity)
    check(current, activity, Seq("cc"), Nil, None, result)
    // fixture under a FORCED fold (timeline routed through segments)
    val b = operators.SegmentFold.boundsFor(
      activity.select(col("id"), col("ts")), "id", "ts", 2L)
    assert(b.nonEmpty)
    check(current, activity, Seq("cc"), Nil, b,
      operators.BugHistory.reconstruct(current, activity,
        Seq("status", "assignee"), Seq("cc"), segBounds = b))
    // the b1 driver corpus shaping (longFields + real churn)
    val (cur, act, segB) = operators.HistoryDriver.b1Parts(
      spark, SparkTest.sf)
    check(cur, act, Seq("cc"), Seq("summary"), segB,
      operators.BugHistory.reconstruct(cur, act,
        Seq("status", "owner", "summary"), Seq("cc"),
        longFields = Seq("summary"), segBounds = segB))
  }

  test("b1/b2 under a FORCED segment threshold ≡ the registered plain " +
      "path end-to-end (the gate the driver's oracle scales keep off)") {
    val plain1 = operators.HistoryDriver.b1BugHistory(spark, SparkTest.sf)
      .toJSON.collect()
    val plain2 = operators.HistoryDriver.b2NestedHistory(spark, SparkTest.sf)
      .toJSON.collect()
    GraftSession.scoped(spark, operators.SegmentFold.ThresholdConf -> "5") { c =>
      val seg1 = operators.HistoryDriver.b1BugHistory(c, SparkTest.sf)
        .toJSON.collect()
      val seg2 = operators.HistoryDriver.b2NestedHistory(c, SparkTest.sf)
        .toJSON.collect()
      assert(seg1.length == plain1.length && seg1.sameElements(plain1))
      assert(seg2.length == plain2.length && seg2.sameElements(plain2))
    }
  }
}
