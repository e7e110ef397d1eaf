package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.operators.Comments
import graft.sources.MySqlDump
import org.scalatest.funsuite.AnyFunSuite

/** INDEPENDENT parity against the reference's own published output —
  * the one oracle not written by this engine's author. The reference
  * ships a real mini-Bugzilla dump
  * (tests/resources/sql/bugzilla_mini.sql.zip) and the ES snapshots
  * its own test_etl.py validates against
  * (tests/resources/reference/public_comments.json /
  * private_comments.json, compared record-for-record after sorting on
  * [bug_id, modified_ts, comment_id] — reference: tests/test_etl.py
  * test_public_etl / test_private_etl). This spec replays the REAL
  * dump through the engine's [[MySqlDump]] source and
  * [[Comments.bugzillaComments]] operator and asserts the full
  * record set equals both snapshots exactly.
  *
  * Field mapping documented divergences: NONE — every field
  * (comment_id, bug_id, modified_by, modified_ts, comment, isprivate)
  * matches byte-for-byte, including multi-line comment bodies through
  * MySQL escape decoding, UTC epoch-millis timestamps, and the
  * reference's scrub() behavior of publishing empty comment bodies as
  * an absent field (mapped to null here). */
class ReferenceParitySpec extends AnyFunSuite {
  import SparkTest._

  private val refDir = "/root/reference/tests/resources"
  private val dump = s"$refDir/sql/bugzilla_mini.sql.zip"

  /** The reference's test bug list
    * (tests/resources/config/test_examples.json#param.bugs). */
  private val BugList: Seq[Long] = Seq(
    384L, 1045L, 1046L, 1108L, 1157L, 1877L, 1865L, 1869L, 2586L,
    3140L, 6810L, 9622L, 10575L, 11040L, 12911L, 13534L, 67742L,
    96421L, 123203L, 178960L, 248970L, 248971L, 367518L, 372836L,
    393845L, 457765L, 458397L, 471427L, 544327L, 547727L, 520943L,
    643420L, 671185L, 692436L, 726635L, 813650L, 937428L, 943528L,
    1007019L, 1165765L, 1334937L, 1367660L, 1367671L, 1370314L,
    1379514L, 1386206L, 1388648L, 1388678L, 1392967L, 1393407L,
    1393332L, 1390946L)

  private type CommentRec =
    (Long, Long, Option[String], Long, Option[String], Long)

  private def snapshot(file: String): Set[CommentRec] = {
    val root: JsonNode = new ObjectMapper()
      .readTree(new java.io.File(s"$refDir/reference/$file"))
    root.properties().asScala.map { e =>
      val v = e.getValue
      def opt(f: String): Option[String] =
        Option(v.get(f)).filterNot(_.isNull).map(_.asText)
      (v.get("comment_id").asLong, v.get("bug_id").asLong,
        opt("modified_by"), v.get("modified_ts").asLong,
        opt("comment"), v.get("isprivate").asLong)
    }.toSet
  }

  /** Cancel (not fail) a test whose reference input is absent: the
    * snapshots and the dump are the reference's own files, which a
    * checkout without the reference tree does not have. */
  private def assumeInputs(paths: String*): Unit =
    paths.foreach(p => assume(new java.io.File(p).exists,
      s"reference input missing: $p"))

  private def engineRun(allowPrivateBugs: Boolean): Set[CommentRec] = {
    val longdescs = MySqlDump.table(spark, dump, "longdescs")
    val profiles = MySqlDump.table(spark, dump, "profiles")
    Comments.bugzillaComments(longdescs, profiles, BugList,
        allowPrivateBugs)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          Option(r.getString(2)), r.getLong(3),
          Option(r.getString(4)), r.getLong(5))
      }.toSet
  }

  test("PUBLIC run ≡ the reference's published public_comments.json " +
      "(2658 records, full-field equality)") {
    assumeInputs(dump, s"$refDir/reference/public_comments.json")
    val mine = engineRun(allowPrivateBugs = false)
    val ref = snapshot("public_comments.json")
    assert(ref.size == 2658, s"snapshot unexpectedly has ${ref.size}")
    val missing = ref -- mine
    val extra = mine -- ref
    assert(missing.isEmpty && extra.isEmpty,
      s"missing ${missing.size} (e.g. ${missing.headOption}); " +
        s"extra ${extra.size} (e.g. ${extra.headOption})")
  }

  test("PRIVATE run ≡ the reference's published private_comments.json " +
      "(every body '[screened]', same id set)") {
    assumeInputs(dump, s"$refDir/reference/private_comments.json")
    val mine = engineRun(allowPrivateBugs = true)
    val ref = snapshot("private_comments.json")
    assert(ref.size == 2658)
    val missing = ref -- mine
    val extra = mine -- ref
    assert(missing.isEmpty && extra.isEmpty,
      s"missing ${missing.size} (e.g. ${missing.headOption}); " +
        s"extra ${extra.size} (e.g. ${extra.headOption})")
    assert(mine.forall(_._5.contains("[screened]")),
      "private run must screen every comment body")
  }

  /** The real-data bug history (current anchor + reconstructed
    * versions), shared by the round-trip and intermediate-state
    * tests. */
  /** The ONE field list both the reconstruction (realHist) and the
    * round-trip assertions iterate — a drifted copy would check
    * fields the reconstruction never ran with. */
  private val realSingleFields = Seq("bug_status", "resolution",
    "priority", "bug_severity", "target_milestone")

  private lazy val (realCurrent, realActivity, realHist) = {
    import org.apache.spark.sql.functions._
    val bugs = MySqlDump.table(spark, dump, "bugs")
      .filter(col("bug_id").isin(BugList: _*))
    val activityRaw = MySqlDump.table(spark, dump, "bugs_activity")
      .filter(col("bug_id").isin(BugList: _*))
    val fielddefs = MySqlDump.table(spark, dump, "fielddefs")
      .select(col("id").as("fieldid"), col("name"))
    val profiles = MySqlDump.table(spark, dump, "profiles")
      .select(col("userid"), col("login_name"))
    val keyworddefs = MySqlDump.table(spark, dump, "keyworddefs")
      .select(col("id").as("keywordid"), col("name").as("kw"))

    // Fields whose bugs_activity representation is the literal bugs
    // column value (assigned_to/qa_contact log LOGIN NAMES while bugs
    // stores userids — the reference resolves those via profiles;
    // status/resolution/priority/severity/milestone are verbatim).
    val singleFields = realSingleFields
    // cc and keywords live in side tables keyed by id; activity logs
    // comma-separated display values (logins / keyword names).
    val cc = MySqlDump.table(spark, dump, "cc")
      .join(profiles, col("who") === col("userid"))
      .groupBy("bug_id").agg(array_sort(collect_set("login_name")).as("cc"))
    val kw = MySqlDump.table(spark, dump, "keywords")
      .join(keyworddefs, "keywordid")
      .groupBy("bug_id").agg(array_sort(collect_set("kw")).as("keywords"))

    val current = bugs
      .join(cc, Seq("bug_id"), "left")
      .join(kw, Seq("bug_id"), "left")
      .select(col("bug_id").as("id"),
        (col("creation_ts").cast("long") * 1000L).as("created_ts"),
        col("bug_status"), col("resolution"), col("priority"),
        col("bug_severity"), col("target_milestone"),
        coalesce(col("cc"), array().cast("array<string>")).as("cc"),
        coalesce(col("keywords"), array().cast("array<string>"))
          .as("keywords"))
    val activity = activityRaw
      .join(broadcast(fielddefs), "fieldid")
      .join(broadcast(profiles), col("who") === col("userid"), "left")
      .select(col("bug_id").as("id"),
        (col("bug_when").cast("long") * 1000L).as("ts"),
        col("login_name").as("modified_by"),
        col("name").as("field"),
        col("removed").as("old_value"), col("added").as("new_value"),
        col("id").as("seq"))

    val hist = graft.operators.BugHistory.reconstruct(
      current, activity, singleFields, Seq("cc", "keywords"),
      longFields = Seq("short_desc", "cf_user_story"))
      .localCheckpoint(true)
    (current, activity.localCheckpoint(true), hist)
  }

  test("bug-history reconstruction on the REAL bugs/bugs_activity " +
      "tables: forward replay round-trips to the current state") {
    import org.apache.spark.sql.functions._
    val current = realCurrent
    val hist = realHist
    val singleFields = realSingleFields

    // structural: every bug versioned; intervals tile to +inf
    assert(hist.select("id").distinct().count() == BugList.size)
    val lastRows = hist.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1)
    assert(lastRows.filter(col("expires_on") =!=
      graft.operators.BugHistory.MaxTimestamp).count() == 0)

    // round-trip: the LAST version's state must equal the current row
    val cur = current.withColumnRenamed("id", "cid")
    val diag = singleFields.map { f =>
      val n = lastRows.select(col("id"), col(f))
        .join(cur.select(col("cid"), col(f).as(s"want_$f")),
          col("id") === col("cid"))
        .filter(coalesce(col(f), lit("")) =!=
          coalesce(col(s"want_$f"), lit("")))
        .count()
      f -> n
    }
    val multiDiag = Seq("cc", "keywords").map { f =>
      val n = lastRows.select(col("id"), col(f))
        .join(cur.select(col("cid"), col(f).as(s"want_$f")),
          col("id") === col("cid"))
        .filter(to_json(col(f)) =!= to_json(col(s"want_$f")))
        .count()
      f -> n
    }
    info(s"single-field round-trip mismatches: $diag")
    info(s"multi-field round-trip mismatches: $multiDiag")
    for (f <- Seq("target_milestone")) {
      lastRows.select(col("id"), col(f))
        .join(cur.select(col("cid"), col(f).as(s"want_$f")),
          col("id") === col("cid"))
        .filter(coalesce(col(f), lit("")) =!=
          coalesce(col(s"want_$f"), lit("")))
        .collect().foreach(r => info(s"  $f: $r"))
    }
    for (f <- Seq("cc", "keywords")) {
      lastRows.select(col("id"), col(f))
        .join(cur.select(col("cid"), col(f).as(s"want_$f")),
          col("id") === col("cid"))
        .filter(to_json(col(f)) =!= to_json(col(s"want_$f")))
        .select(col("id"),
          array_except(col(f), col(s"want_$f")).as("extra"),
          array_except(col(s"want_$f"), col(f)).as("missing"))
        .collect().foreach(r => info(s"  $f: $r"))
    }
    assert(diag.map(_._2).sum == 0,
      s"single-field round-trip mismatches: $diag")
    assert(multiDiag.map(_._2).sum == 0,
      s"multi-field round-trip mismatches: $multiDiag")
  }

  test("INTERMEDIATE version states pinned from the real log: " +
      "hand-derived mid-history milestone/keywords/cc states for 4 " +
      "churn-heavy bugs match the backward-anchored replay") {
    assumeInputs(dump)
    import org.apache.spark.sql.functions._
    val hist = realHist
    def version(id: Long, ts: Long) = {
      val rows = hist.filter(col("id") === id &&
        col("valid_from") === ts).collect()
      assert(rows.length == 1,
        s"expected exactly one version at ($id, $ts), got ${rows.length}")
      rows.head
    }
    def single(id: Long, ts: Long, field: String): String =
      version(id, ts).getAs[String](field)
    def multi(id: Long, ts: Long, field: String): Set[String] =
      version(id, ts).getAs[scala.collection.Seq[String]](field).toSet

    // ---- bug 12911 target_milestone: 12 logged changes PLUS an
    // unlogged M20→'---' bulk rename. Hand derivation (backward
    // anchor: a version's value is the NEXT change's removed-value):
    //   at the M16→M20 change (2000-05-31) the next logged change
    //   (2000-12-19) removed '---', so the anchored state is '---',
    //   NOT the forward-replay 'M20' — the rename resolves toward
    //   the log's own later evidence, as the reference does.
    assert(single(12911L, 959807728000L, "target_milestone") == "---")
    //   consistent stretch: →mozilla1.2 (2002-03-05 03:20), next
    //   change removed mozilla1.2
    assert(single(12911L, 1015298418000L, "target_milestone") ==
      "mozilla1.2")
    //   final change (2002-03-05 18:36): tail anchors at current
    assert(single(12911L, 1015353419000L, "target_milestone") ==
      "mozilla1.0")

    // ---- bug 3140 target_milestone: first set →M6 (1999-04-13),
    // next change (1999-06-08) removed 'M7' — an unlogged M6→M7 edit;
    // anchored state is M7
    assert(single(3140L, 924038829000L, "target_milestone") == "M7")

    // ---- bug 1046 target_milestone: →M11 (1999-08-05), next change
    // (2000-04-07) removed 'M16' (unlogged M11→M16); tail version
    // (→M19, 2000-09-28) anchors at the current row's '---'
    // (unlogged M19→'---')
    assert(single(1046L, 933875761000L, "target_milestone") == "M16")
    assert(single(1046L, 970153756000L, "target_milestone") == "---")

    // ---- bug 3140 keywords at two mid-history instants. Events:
    // testcase add@2000-01-21; nsbeta3 add@2000-08-09 rm@2001-01-12;
    // relnote3 add@2000-08-15 rm@2000-10-23; nsbeta1 add@2001-01-12
    // rm@2001-04-13; dom1 add@2001-02-23; current = {dom1, testcase}.
    // At 2000-08-16 (a milestone-change version): nsbeta3/relnote3
    // next-event is a remove ⇒ present; testcase tail-current ⇒
    // present; nsbeta1/dom1 next-event add ⇒ absent.
    assert(multi(3140L, 966385076000L, "keywords") ==
      Set("nsbeta3", "relnote3", "testcase"))
    // At 2001-01-12 (nsbeta3 rm + nsbeta1 add in ONE instant): the
    // swap resolves atomically — nsbeta1 in (next event = its remove),
    // nsbeta3 out (tail, not in current), dom1 not yet
    assert(multi(3140L, 979261853000L, "keywords") ==
      Set("nsbeta1", "testcase"))

    // ---- bug 11040 cc membership across adds/removes/re-adds
    // (99 logged cc events). lchiang: ONLY a remove (2003-07-19) —
    // presence extends back to history start; gone at the remove's
    // own instant. noel: add@2009-01-10, rm@2015-04-27,
    // re-add@2015-05-22 (and in current). dmose: add@2008-06-19,
    // rm@2011-08-24, not current. qbxk: add@2006-09-15,
    // rm@2015-05-22 15:24 (after the re-add version).
    val atCreation = multi(11040L, 933539465000L, "cc")
    assert(atCreation.contains("lchiang@netscape.com"),
      "remove-without-add must extend presence back to history start")
    assert(!atCreation.contains("noel_public@thestjohns.net"))
    assert(!multi(11040L, 1058639381000L, "cc")
      .contains("lchiang@netscape.com"))
    val cc2009 = multi(11040L, 1231548878000L, "cc")
    assert(cc2009.contains("noel_public@thestjohns.net") &&
      cc2009.contains("dmose@mozilla.org") &&
      cc2009.contains("qbxk@luckyb.net"))
    val ccAfterRemove = multi(11040L, 1430147969000L, "cc")
    assert(!ccAfterRemove.contains("noel_public@thestjohns.net") &&
      ccAfterRemove.contains("qbxk@luckyb.net"))
    val ccAfterReAdd = multi(11040L, 1432307844000L, "cc")
    assert(ccAfterReAdd.contains("noel_public@thestjohns.net") &&
      ccAfterReAdd.contains("qbxk@luckyb.net"))
  }

  test("intra-entity SEGMENT FOLD ≡ the monolithic reconstruct on the " +
      "REAL bugzilla_mini tables, every column of every version (r14)") {
    import org.apache.spark.sql.functions._
    val bounds = graft.operators.SegmentFold.boundsFor(
      realActivity, "id", "ts", threshold = 20)
    assert(bounds.nonEmpty,
      "gate must fire: the real data has bugs with > 20 activity rows")
    val segged = graft.operators.BugHistory.reconstruct(
      realCurrent, realActivity, realSingleFields, Seq("cc", "keywords"),
      longFields = Seq("short_desc", "cf_user_story"),
      segBounds = bounds)
    // modified_by is a first() over (id, ts) groups — legitimately
    // nondeterministic when two actors share a timestamp and
    // independent of the fold; every other column must match exactly
    val a = realHist.drop("modified_by").orderBy("id", "version")
      .toJSON.collect()
    val b = segged.drop("modified_by").orderBy("id", "version")
      .toJSON.collect()
    assert(a.length == b.length, s"${a.length} vs ${b.length} versions")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("attachment (sub-entity) history on the REAL tables round-trips " +
      "to the current attachments rows — b2's nested-history shape on " +
      "the reference's own data") {
    import org.apache.spark.sql.functions._
    val atts = MySqlDump.table(spark, dump, "attachments")
      .filter(col("bug_id").isin(BugList: _*))
    val fielddefs = MySqlDump.table(spark, dump, "fielddefs")
      .select(col("id").as("fieldid"), col("name"))
    val attActivity = MySqlDump.table(spark, dump, "bugs_activity")
      .filter(col("bug_id").isin(BugList: _*) &&
        col("attach_id").isNotNull)
      .join(broadcast(fielddefs), "fieldid")
      .filter(col("name").startsWith("attachments."))
      .select(col("attach_id").as("id"),
        (col("bug_when").cast("long") * 1000L).as("ts"),
        col("who").cast("string").as("modified_by"),
        expr("substring(name, 13)").as("field"),
        col("removed").as("old_value"), col("added").as("new_value"),
        col("id").as("seq"))
    val singleFields = Seq("description", "mimetype", "ispatch",
      "isobsolete", "filename", "isprivate")
    val current = atts.select(col("attach_id").as("id"),
      (col("creation_ts").cast("long") * 1000L).as("created_ts"),
      col("description"), col("mimetype"),
      col("ispatch").cast("string").as("ispatch"),
      col("isobsolete").cast("string").as("isobsolete"),
      col("filename"),
      col("isprivate").cast("string").as("isprivate"))
    val hist = graft.operators.BugHistory.reconstruct(
      current, attActivity, singleFields, Nil)
      .localCheckpoint(true)
    assert(hist.select("id").distinct().count() == atts.count(),
      "every real attachment must be versioned")
    val lastRows = hist.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1)
    val cur = current.withColumnRenamed("id", "cid")
    val diag = singleFields.map { f =>
      f -> lastRows.select(col("id"), col(f))
        .join(cur.select(col("cid"), col(f).as(s"want_$f")),
          col("id") === col("cid"))
        .filter(coalesce(col(f), lit("")) =!=
          coalesce(col(s"want_$f"), lit("")))
        .count()
    }
    info(s"attachment round-trip mismatches: $diag")
    assert(diag.map(_._2).sum == 0,
      s"attachment round-trip mismatches: $diag")
    // the log genuinely exercises the replay (real obsoletions exist)
    assert(attActivity.count() > 100,
      "attachment activity unexpectedly sparse — fixture too weak")
  }

  test("MySqlDump source: schema from CREATE TABLE, distributed tuple " +
      "parse, UTC timestamps, escape decoding") {
    val ld = MySqlDump.table(spark, dump, "longdescs")
    assert(ld.schema.fieldNames.toSeq == Seq("bug_id", "who", "thetext",
      "work_time", "isprivate", "already_wrapped", "comment_id", "type",
      "extra_data", "edit_count", "bug_when", "is_markdown"))
    assert(ld.count() == 2658)
    // a known record, exercising multi-line text and the UTC clock:
    // comment 956 on bug 384 at 1998-05-20 07:00:00 UTC = 895647600000
    val r = ld.filter(org.apache.spark.sql.functions.col("comment_id")
      === 956).collect().head
    assert(r.getAs[String]("thetext").startsWith("testing\n"))
    assert(r.getAs[java.sql.Timestamp]("bug_when").getTime ==
      895647600000L)
  }

  test("MySqlDump memo: a dump replaced at the same path with the " +
      "SAME byte length and mtime re-reads (content fingerprint), " +
      "an untouched dump serves the memo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dumpmemo")
    val p = dir.resolve("d.sql")
    val a = "CREATE TABLE `t` (\n  `id` int\n) ENGINE=X;\n-- AAAA\n"
    val b = a.replace("AAAA", "BBBB") // identical byte length
    java.nio.file.Files.writeString(p, a)
    val mtime = p.toFile.lastModified()
    assert(MySqlDump.readText(p.toString) == a)
    // untouched: memo hit (same text back)
    assert(MySqlDump.readText(p.toString) == a)
    java.nio.file.Files.writeString(p, b)
    p.toFile.setLastModified(mtime) // defeat (path, length, mtime)
    assert(MySqlDump.readText(p.toString) == b,
      "same-length same-mtime replacement served stale text")
  }

  test("MySqlDump memo: an INTERIOR edit (outside the head and tail " +
      "4 KiB) with identical length, mtime, head, and tail re-reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dumpmid")
    val p = dir.resolve("d.sql")
    val n = 64 * 1024
    val body = new StringBuilder
    body.append("CREATE TABLE `t` (\n  `id` int\n) ENGINE=X;\n")
    while (body.length < n) body.append("-- pad line\n")
    body.setLength(n)
    val a = body.toString
    // flip one char inside fingerprint stride block 3 — interior of
    // the file, untouched head/tail 4 KiB blocks
    val off = ((n - 4096).toLong * 3 / 7).toInt + 10
    val b = a.substring(0, off) +
      (if (a.charAt(off) == 'x') 'y' else 'x') + a.substring(off + 1)
    java.nio.file.Files.writeString(p, a)
    val mtime = p.toFile.lastModified()
    assert(MySqlDump.readText(p.toString) == a)
    java.nio.file.Files.writeString(p, b)
    p.toFile.setLastModified(mtime)
    assert(MySqlDump.readText(p.toString) == b,
      "interior edit with identical length/mtime/head/tail served " +
        "stale text — the strided fingerprint must catch it")
  }
}
