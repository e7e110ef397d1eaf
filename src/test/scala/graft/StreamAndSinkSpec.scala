package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Streaming operators agree with their batch analogues; the ES sink
  * emits valid bulk wire format. */
class StreamAndSinkSpec extends AnyFunSuite {
  import SparkTest._

  test("streaming windowed counts match batch on the same data") {
    val dir = Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema)
      .parquet(dir)
    val q = streaming.EventStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_wc")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("graft_wc")
      .select("w_start", "event_type", "n", "total_value").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = streaming.EventStream.windowedCounts(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sessionize matches the batch window formulation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sess").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema).parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[streaming.EventStream.Ev]
    val q = streaming.EventStream.sessionize(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sess")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("graft_sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val batch = operators.History.h11Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming latest-state equals batch h2") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ls").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema).parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[streaming.EventStream.EvFull]
    val q = streaming.EventStream.latestState(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("graft_ls")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("graft_ls")
      .groupBy("user_id")
      .agg(max_by(struct(col("last_type"), col("last_value"), col("ts_ms")),
        col("ts_ms")).as("s"))
      .select(col("user_id"), col("s.last_type"), col("s.last_value"), col("s.ts_ms"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val batch = operators.History.h2LatestState(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming SCD-2 version maintenance equals batch h1 on closed versions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_vh").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema).parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[streaming.EventStream.EvFull]
    val q = streaming.EventStream.versionHistory(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_vh")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("graft_vh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    val batch = operators.History.h1SnapshotHistory(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    // append mode emits exactly the CLOSED versions; the open version
    // per entity is the state-store "current document"
    val closed = batch.filter(_._5 != 9999999999000L).toSet
    val open = batch.filter(_._5 == 9999999999000L)
    assert(streamed == closed)
    assert(open.size ==
      Tables.events(spark, sf).select("user_id").distinct().count())
    assert(streamed.nonEmpty)
  }

  test("streaming SCD-2 eviction emits the open version with open-ended valid_to") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[streaming.EventStream.EvFull]
    // 24h retention: user 1's open version must be evicted (and
    // emitted open-ended) once the watermark passes its ts + 24h
    val q = streaming.EventStream.versionHistory(ms.toDS(),
        retentionMs = 24L * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_vh_evict")
      .trigger(Trigger.ProcessingTime(0)).start()
    // hours 10/11, not 0/1: the initial watermark is epoch 0 and
    // stateful ops drop rows at-or-before it
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000)
    ms.addData(
      streaming.EventStream.EvFull(1L, ts(10), 1L, "open", 1.0),
      streaming.EventStream.EvFull(2L, ts(11), 1L, "close-me", 2.0))
    q.processAllAvailable()
    // far-future event on ANOTHER user drives the watermark past
    // user 1's timeout (11h event ts + 24h retention < 110h - 1h wm lag)
    ms.addData(streaming.EventStream.EvFull(3L, ts(110), 2L, "later", 3.0))
    q.processAllAvailable()
    // one more batch so the timeout (evaluated against the advanced
    // watermark) actually fires
    ms.addData(streaming.EventStream.EvFull(4L, ts(111), 2L, "later2", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_vh_evict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
    // closed version 1 of user 1, then the evicted OPEN version 2
    assert(rows.contains((1L, 1L, 11L * 3600 * 1000, 1L)))
    assert(rows.contains((1L, 2L, 9999999999000L, 2L)))
  }

  test("streaming dedup drops in-watermark duplicates") {
    val dir = Files.createTempDirectory("graft_dupes").toString
    val ev = Tables.events(spark, sf)
    // duplicate the whole feed -> every event_id appears twice
    ev.union(ev).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema).parquet(dir)
    val q = streaming.EventStream.dedupStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_dedup")
    assert(got.count() == ev.count())
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("end-to-end streaming ETL: events -> latest-state -> ES bulk index") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_e2e").toString
    Tables.events(spark, sf).repartition(4).write.mode("overwrite").parquet(dir)
    val out = Files.createTempDirectory("graft_e2e_bulk").toString
    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[streaming.EventStream.EvFull]
    val docs = streaming.EventStream.latestState(stream).toDF()
      .withColumn("_id", col("user_id").cast("string"))
    val q = streaming.EventStream.esSinkQuery(docs, "state", "_id", out)
      .outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // the LAST bulk emission per user must equal batch h2 latest-state
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch_")).toSeq
      .sortBy(_.getFileName.toString.stripPrefix("batch_").toInt)
      .flatMap { d =>
        Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .flatMap(p => Files.readAllLines(p).asScala)
      }
    val lastDoc = scala.collection.mutable.LinkedHashMap[String, String]()
    lines.grouped(2).foreach { case Seq(action, source) =>
      val id = action.split("\"_id\":\"")(1).takeWhile(_ != '"')
      lastDoc(id) = source
    }
    val batch = operators.History.h2LatestState(spark, sf).collect()
      .map(r => r.getLong(0).toString ->
        (r.getString(1), r.getDouble(2), r.getLong(3))).toMap
    assert(lastDoc.keySet == batch.keySet)
    lastDoc.foreach { case (id, json) =>
      val (lt, lv, ts) = batch(id)
      assert(json.contains(s""""last_type":"$lt""""), s"user $id: $json")
      assert(json.contains(s""""ts_ms":$ts"""), s"user $id: $json")
    }
  }

  test("es sink writes parseable bulk ndjson with alternating lines") {
    val out = Files.createTempDirectory("graft_bulk").toString + "/bulk"
    val docs = operators.History.h12EsDocs(spark, sf)
      .limit(100).withColumn("doc_id", col("_id")).drop("_id")
    sources.EsSink.writeBulk(docs, "bugs", "doc_id", out)
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq
    assert(lines.nonEmpty && lines.length % 2 == 0)
    lines.grouped(2).foreach { case Seq(action, source) =>
      assert(action.startsWith("""{"index":{"_index":"bugs","_id":""""))
      assert(source.startsWith("{") && source.endsWith("}"))
    }
  }

  test("es bulk round-trips: writeBulk then readBulk recovers every doc") {
    val out = Files.createTempDirectory("graft_bulk_rt").toString + "/bulk"
    val docs = operators.History.h12EsDocs(spark, sf)
      .withColumn("doc_id", col("_id")).drop("_id")
    sources.EsSink.writeBulk(docs, "bugs", "doc_id", out)
    val schema = docs.schema
    val back = sources.EsSink.readBulk(spark, out, schema)
    assert(back.select("_index").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("bugs"))
    val rt = back.select(col("doc.doc_id"), col("doc.doc"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val orig = docs.select("doc_id", "doc")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rt == orig)
    assert(rt.nonEmpty)
  }

  test("day-partitioned layout: window reads prune, day rewrites are surgical") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_part").toString + "/snaps"
    val day = 24L * 3600 * 1000
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    val rows = Seq(
      (1L, base + 1, "a"), (2L, base + day + 2, "b"),
      (3L, base + 2 * day + 3, "c"))
      .toDF("id", "valid_from", "status")
    sources.Partitioned.writeByDay(rows, "valid_from", path)
    // window read: only 2024-01-02 — pruned at planning time
    val win = sources.Partitioned.readDays(spark, path,
      "2024-01-02", "2024-01-02")
    assert(win.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    win.queryExecution.executedPlan.execute().count()
    assert(sources.Partitioned.partitionPruned(win), "no partition pruning")
    // dynamic overwrite: rewriting day 2 must leave days 1 and 3 intact
    sources.Partitioned.writeByDay(
      Seq((20L, base + day + 5, "b2")).toDF("id", "valid_from", "status"),
      "valid_from", path)
    val all = sources.Partitioned.read(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 20L, 3L))
  }

  test("schema evolution: days written before a column existed read as nulls") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_evolve").toString + "/snaps"
    val day = 24L * 3600 * 1000
    val base = 1704067200000L
    // day 1 written before status_reason existed
    sources.Partitioned.writeByDay(
      Seq((1L, base + 1, "open")).toDF("id", "valid_from", "status"),
      "valid_from", path)
    // day 2 carries the evolved schema
    sources.Partitioned.writeByDay(
      Seq((2L, base + day + 1, "closed", "fixed"))
        .toDF("id", "valid_from", "status", "status_reason"),
      "valid_from", path)
    val all = sources.Partitioned.readEvolved(spark, path)
      .select("id", "status", "status_reason").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(all == Set((1L, "open", None), (2L, "closed", Some("fixed"))))
    // pruned day-window reads still work on the merged schema
    val win = sources.Partitioned.readEvolved(spark, path)
      .filter(col("dt") === "2024-01-02")
    assert(win.count() == 1)
    win.queryExecution.executedPlan.execute().count()
    assert(sources.Partitioned.partitionPruned(win))
  }

  test("day compaction: rows survive, target file count, other days untouched") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact").toString + "/snaps"
    val day = 24L * 3600 * 1000
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    // a hot day fragmented into many files (the incremental cadence's
    // debris) plus a quiet neighbor day
    val hot = (0 until 200)
      .map(i => (i.toLong, base + i, s"v$i")).toDF("id", "valid_from", "status")
      .repartition(16)
    val quiet = Seq((1000L, base + day + 1, "q"))
      .toDF("id", "valid_from", "status")
    sources.Partitioned.writeByDay(hot.unionAll(quiet), "valid_from", path)
    assert(sources.Partitioned.dayFiles(path, "2024-01-01").size > 8,
      "fixture not fragmented")
    val quietBefore = sources.Partitioned.dayFiles(path, "2024-01-02")
      .map(p => (p.getFileName.toString, java.nio.file.Files.size(p)))
    val before = sources.Partitioned.read(spark, path)
      .select("id", "valid_from", "status", "dt").collect().toSet
    sources.Partitioned.compactDays(spark, path, Seq("2024-01-01"))
    assert(sources.Partitioned.dayFiles(path, "2024-01-01").size == 1,
      "hot day not compacted to one file")
    // the quiet day's files are byte-identical — never rewritten
    val quietAfter = sources.Partitioned.dayFiles(path, "2024-01-02")
      .map(p => (p.getFileName.toString, java.nio.file.Files.size(p)))
    assert(quietAfter == quietBefore)
    val after = sources.Partitioned.read(spark, path)
      .select("id", "valid_from", "status", "dt").collect().toSet
    assert(after == before)
  }

  test("streaming consistency monitor ≡ batch b4 on the replayed activity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.ConsistencyMonitor
    import ConsistencyMonitor.{MvOp, SvChg}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batch = SparkEntry.queries("b4_consistency_report")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet
    val (opsDf, chgDf) = operators.Consistency.shapedActivity(spark, sf)
    // three chronological arrival waves (the activity log is
    // append-only, so real arrival respects event-time order)
    def chunks[T](xs: Seq[T]) = {
      val n = xs.size
      Seq(xs.slice(0, n / 3), xs.slice(n / 3, 2 * n / 3), xs.slice(2 * n / 3, n))
    }
    val opRows = opsDf.collect().map(r => MvOp(r.getAs[Long]("id"),
        new java.sql.Timestamp(r.getAs[Long]("ts_ms")),
        r.getAs[Long]("event_id"), r.getAs[String]("field"),
        r.getAs[String]("op"), r.getAs[String]("item")))
      .sortBy(o => (o.ts.getTime, o.event_id)).toSeq
    val chgRows = chgDf.collect().map(r => SvChg(r.getAs[Long]("id"),
        new java.sql.Timestamp(r.getAs[Long]("ts_ms")),
        r.getAs[Long]("event_id"), r.getAs[String]("field"),
        r.getAs[String]("old_value"), r.getAs[String]("new_value")))
      .sortBy(c => (c.ts.getTime, c.event_id)).toSeq
    val msOps = MemoryStream[MvOp]
    val q1 = ConsistencyMonitor.multiValueProblems(msOps.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_cmon_mv")
      .trigger(Trigger.ProcessingTime(0)).start()
    chunks(opRows).foreach { w => msOps.addData(w); q1.processAllAvailable() }
    q1.stop()
    val msChg = MemoryStream[SvChg]
    val q2 = ConsistencyMonitor.singleValueProblems(msChg.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_cmon_sv")
      .trigger(Trigger.ProcessingTime(0)).start()
    chunks(chgRows).foreach { w => msChg.addData(w); q2.processAllAvailable() }
    q2.stop()
    val streamed = (spark.table("graft_cmon_mv") unionByName
        spark.table("graft_cmon_sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture produced no problems")
    // problems must span waves, or the fold proved nothing
    val waveOf = opRows.map(_.event_id).zipWithIndex.toMap
    assert(streamed.size > streamed.count(t =>
      waveOf.getOrElse(t._3, 0) < opRows.size / 3), "single-wave only")
  }

  test("compacting an evolved-schema day keeps the late-added column") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact_ev").toString + "/snaps"
    val day = 24L * 3600 * 1000
    val base = 1704067200000L
    // day 1 pre-dates status_reason; day 2 carries it, fragmented
    sources.Partitioned.writeByDay(
      Seq((1L, base + 1, "open")).toDF("id", "valid_from", "status"),
      "valid_from", path)
    sources.Partitioned.writeByDay(
      (0 until 50).map(i => (100L + i, base + day + i, "closed", s"r$i"))
        .toDF("id", "valid_from", "status", "status_reason").repartition(8),
      "valid_from", path)
    val before = sources.Partitioned.readEvolved(spark, path)
      .select("id", "status", "status_reason").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    // compact the EVOLVED day in a store whose first footer (day 1)
    // lacks the column — a plain-read compaction would drop it
    sources.Partitioned.compactDays(spark, path, Seq("2024-01-02"))
    assert(sources.Partitioned.dayFiles(path, "2024-01-02").size == 1)
    val after = sources.Partitioned.readEvolved(spark, path)
      .select("id", "status", "status_reason").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(after == before, "late-added column lost in compaction")
    assert(after.exists(_._3.isDefined), "fixture lost its evolved values")
  }

  test("streaming privacy deletes: no now-private entity keeps a live doc") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int) = new java.sql.Timestamp(1704067200000L + h * 3600000L)
    val ms = MemoryStream[streaming.EventStream.EvFull]
    val q = streaming.EventStream.privacyDeletes(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_p3s")
      .trigger(Trigger.ProcessingTime(0)).start()
    import streaming.EventStream.EvFull
    // user 1 publishes two versions then turns private (across batches)
    // user 2 turns private then comes back public (refresh + republish)
    // user 3 stays public
    ms.addData(
      EvFull(1L, ts(0), 1L, "click", 0.0),
      EvFull(2L, ts(1), 1L, "purchase", 0.0),
      EvFull(3L, ts(0), 2L, "error", 0.0),
      EvFull(4L, ts(0), 3L, "click", 0.0))
    q.processAllAvailable()
    ms.addData(
      EvFull(5L, ts(2), 1L, "error", 0.0),
      EvFull(6L, ts(1), 2L, "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val acts = spark.table("graft_p3s").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val t0 = ts(0).getTime; val t1 = ts(1).getTime
    assert(acts == Set(
      (1L, "delete", s"1_$t0"), (1L, "delete", s"1_$t1"),
      (2L, "refresh", "2")))
    // the correctness property batch p3 enforces, streamed: an entity
    // whose latest state is private has no published-undeleted id
    val deleted = acts.filter(_._2 == "delete").map(_._3)
    assert(Set(s"1_$t0", s"1_$t1").subsetOf(deleted))
  }

  test("writeDeletes emits delete-only bulk actions") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_bulk_del").toString + "/del"
    sources.EsSink.writeDeletes(
      Seq("7_100", "7_200").toDF("id"), "bugs", "id", out)
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq(
      """{"delete":{"_index":"bugs","_id":"7_100"}}""",
      """{"delete":{"_index":"bugs","_id":"7_200"}}"""))
  }

  test("p3: now-private entities delete their docs; re-public ones refresh") {
    // user 1: click then error  -> now private: delete BOTH version docs
    // user 2: error then purchase -> public again: refresh, no deletes
    // user 3: click only -> untouched
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_p3").toString
    // ts written as raw INT64 nanos — the same shape ProbeGen emits
    // and Tables.events normalizes (div 1000 → timestamp_micros)
    val t10 = 1704103200000L; val t11 = 1704106800000L
    Seq(
      (1L, t10 * 1000000L, 1L, "click"),
      (1L, t11 * 1000000L, 2L, "error"),
      (2L, t10 * 1000000L, 3L, "error"),
      (2L, t11 * 1000000L, 4L, "purchase"),
      (3L, t10 * 1000000L, 5L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = operators.Screening.p3PrivacyDelete(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("delete", s"1_$t10"), ("delete", s"1_$t11"), ("refresh", "2")))
  }

  test("readBulk adjacency pairing survives duplicate ids and tricky docs") {
    // Two indices sharing _id=1, plus a source doc whose FIRST KEY is
    // "index" — an id-join or prefix-classifying reader would mispair
    // or duplicate these; adjacency pairing must not.
    val dir = Files.createTempDirectory("graft_bulk_adj").toString
    val bulk = Seq(
      """{"index":{"_index":"a","_id":"1"}}""",
      """{"index":{"k":"x","v":"doc-a1"}}""",
      """{"index":{"_index":"b","_id":"1"}}""",
      """{"index":{"k":"y","v":"doc-b1"}}""").mkString("", "\n", "\n")
    Files.write(java.nio.file.Paths.get(dir, "part-00000.txt"),
      bulk.getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "index struct<k:string,v:string>")
    val rows = sources.EsSink.readBulk(spark, dir, schema)
      .select(col("_index"), col("_id"), col("doc.index.v").as("v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(rows == Set(("a", "1", "doc-a1"), ("b", "1", "doc-b1")))
  }

  test("store RETENTION sweep (r14): superseded fingerprints beyond " +
      "retain are deleted, live root + in-flight builds + other " +
      "families untouched, idempotent") {
    val base = Files.createTempDirectory("graft_retain").toString
    def mk(name: String, built: Boolean, mtime: Long): String = {
      val d = Paths.get(base, name)
      Files.createDirectories(d)
      Files.write(d.resolve("payload"), "x".getBytes)
      if (built) {
        val m = d.resolve("_built")
        Files.write(m, "tag".getBytes)
        m.toFile.setLastModified(mtime)
      }
      d.toString
    }
    val t0 = System.currentTimeMillis() - 100000
    // one family, four completed fingerprints + the live one
    val live = mk("graft-t-v1-c1-aa-surv-fp00ff", built = true, t0 + 4000)
    mk("graft-t-v1-c1-aa-surv-fp01", built = true, t0 + 3000)
    mk("graft-t-v1-c1-aa-surv-fp02", built = true, t0 + 2000)
    mk("graft-t-v1-c1-aa-surv-fp03", built = true, t0 + 1000)
    // an in-flight build (no marker) and a staging dir: never swept
    mk("graft-t-v1-c1-aa-surv-fp04", built = false, 0)
    mk("graft-t-v1-c1-aa-surv-fp05.build-123", built = true, t0)
    // a DIFFERENT family (other suffix) with an old fingerprint
    val other = mk("graft-t-v1-c1-aa-lex-fp9", built = true, t0)
    val deleted = streaming.StoreFs.retentionSweep(spark, live, keep = 2)
    assert(deleted == 2, s"expected fp02+fp03 swept, got $deleted")
    def alive(n: String) = Files.exists(Paths.get(base, n))
    assert(alive("graft-t-v1-c1-aa-surv-fp00ff"), "live root untouched")
    assert(alive("graft-t-v1-c1-aa-surv-fp01"),
      "most recent superseded kept (keep=2)")
    assert(!alive("graft-t-v1-c1-aa-surv-fp02"))
    assert(!alive("graft-t-v1-c1-aa-surv-fp03"))
    assert(alive("graft-t-v1-c1-aa-surv-fp04"),
      "unmarked (in-flight rename target) untouched")
    assert(alive("graft-t-v1-c1-aa-surv-fp05.build-123"),
      "staging dir untouched")
    assert(Files.exists(Paths.get(other)), "other family untouched")
    // idempotent: a second sweep deletes nothing further
    assert(streaming.StoreFs.retentionSweep(spark, live, keep = 2) == 0)
    // a root with no -fp segment is a no-op, never a delete storm
    assert(streaming.StoreFs.retentionSweep(spark,
      Paths.get(base, "graft-nofingerprint").toString, keep = 2) == 0)
  }

  /** A 40-vector embeddings corpus at `data`, varied by `seed`. */
  private def regen(data: String, seed: Int): Unit = {
    import spark.implicits._
    val n = 40
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (((i * 31 + j * 7 + seed) % 13) / 13.0f)), i % 2)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$data/embeddings.parquet")
  }

  /** The landed x2 store roots under `root`. */
  private def familyRoots(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.map(_.getName)
      .filter(n => n.contains("-surv-fp") && !n.contains(".build-"))

  test("store RETENTION wired to the ensure-build landing path: a " +
      "corpus regeneration keys a fresh store AND sweeps the family " +
      "down to retain, never the live root") {
    val root = Files.createTempDirectory("graft_retain_e2e").toString
    val data = Files.createTempDirectory("graft_retain_corpus").toString
    GraftSession.scoped(spark, "spark.graft.storeRoot" -> root,
        streaming.StoreFs.RetainConf -> "1") { c =>
      regen(data, 1)
      val (v1, g1) = similarity.Similarity.x2EnsureStore(c, data)
      assert(Files.exists(Paths.get(v1.stripPrefix("file:"))))
      assert(familyRoots(root).size == 1)
      // regeneration: new fingerprint -> fresh build; retain=1 sweeps
      // the superseded store, keeps the new live one
      Thread.sleep(1100) // parquet mtime granularity
      regen(data, 2)
      val (v2, g2) = similarity.Similarity.x2EnsureStore(c, data)
      assert(v2 != v1, "regenerated corpus must key a fresh store")
      assert(familyRoots(root).size == 1,
        s"retain=1 must leave exactly the live root: ${familyRoots(root)}")
      assert(Files.exists(Paths.get(g2.stripPrefix("file:")).getParent))
      assert(!Files.exists(Paths.get(g1.stripPrefix("file:")).getParent),
        "superseded fingerprint must be swept")
    }
  }

  test("the ensure-build sweep reads the retention of the session it " +
      "was given, not of the thread's active session") {
    val root = Files.createTempDirectory("graft_retain_session").toString
    val data = Files.createTempDirectory("graft_retain_corpus").toString
    GraftSession.scoped(spark, "spark.graft.storeRoot" -> root,
        streaming.StoreFs.RetainConf -> "1") { c =>
      // the shared session (default retain 2) is the active one
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      regen(data, 1)
      similarity.Similarity.x2EnsureStore(c, data)
      Thread.sleep(1100) // parquet mtime granularity
      regen(data, 2)
      similarity.Similarity.x2EnsureStore(c, data)
      assert(familyRoots(root).size == 1,
        s"c's retain=1 must leave only the live root: ${familyRoots(root)}")
    }
  }
}
