package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The folded (distributed per-batch) forms of the stateful streaming
  * trio are record-identical to the flatMapGroupsWithState forms and
  * to their batch analogues — including watermark late-drops, timeout
  * eviction, and the SegmentFold whale routing. */
class EventStreamFoldSpec extends AnyFunSuite {
  import SparkTest._
  import streaming.{EventStream, EventStreamFold}
  import EventStream.{Ev, EvFull}

  private def evRows(): Seq[EvFull] =
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => EvFull(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq

  private def waves3[T](xs: Seq[T]): Seq[Seq[T]] = {
    val n = xs.size
    Seq(xs.slice(0, n / 3), xs.slice(n / 3, 2 * n / 3), xs.slice(2 * n / 3, n))
  }

  private def toBatch(w: Seq[EvFull]): DataFrame = {
    import spark.implicits._
    w.toDS().toDF()
  }

  /** The merged delta-state view: latest (_b) per key, tombstones
    * dropped — the read EventStreamFold's steps perform. */
  private def readOpen(root: String): Set[Seq[Any]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_b").desc)
    spark.read.parquet(s"$root/open/batch_*")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 && !col("_dead"))
      .drop("_rk", "_b", "_dead")
      .collect().map(_.toSeq).toSet
  }

  test("folded SCD-2 over chronological waves ≡ flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val waves = waves3(evRows())

    val ms = MemoryStream[EvFull]
    val q = EventStream.versionHistory(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_vhf_ref")
      .trigger(Trigger.ProcessingTime(0)).start()
    waves.foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val stateful = spark.table("graft_vhf_ref").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet

    var open = EventStreamFold.emptyVersionState(spark)
    var wm = 0L
    val outs = Seq.newBuilder[DataFrame]
    waves.foreach { w =>
      val (out, newOpen, wmN) =
        EventStreamFold.versionFoldBatch(open, wm, toBatch(w))
      outs += out.localCheckpoint(true)
      open = newOpen.localCheckpoint(true)
      wm = wmN
    }
    val folded = outs.result().reduce(_ unionByName _).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(folded == stateful)
    assert(folded.nonEmpty)
  }

  test("folded SCD-2 one-batch: closed ≡ batch h1 closed, state ≡ h1 open") {
    val (out, newOpen, _) = EventStreamFold.versionFoldBatch(
      EventStreamFold.emptyVersionState(spark), 0L,
      Tables.events(spark, sf))
    val batch = operators.History.h1SnapshotHistory(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val closed = batch.filter(_._5 != 9999999999000L).toSet
    val folded = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    assert(folded == closed)
    // the open state is exactly h1's sentinel rows
    val openRows = newOpen.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3),
        r.getLong(5), 9999999999000L, r.getLong(1))).toSet
    assert(openRows == batch.filter(_._5 == 9999999999000L).toSet)
  }

  test("folded SCD-2 eviction ≡ stateful timeout emission") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000)
    val b1 = Seq(EvFull(1L, ts(10), 1L, "open", 1.0),
      EvFull(2L, ts(11), 1L, "close-me", 2.0))
    val b2 = Seq(EvFull(3L, ts(110), 2L, "later", 3.0))
    val b3 = Seq(EvFull(4L, ts(111), 2L, "later2", 4.0))
    val retention = 24L * 3600 * 1000

    val ms = MemoryStream[EvFull]
    val q = EventStream.versionHistory(ms.toDS(), retentionMs = retention)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_vhf_evict")
      .trigger(Trigger.ProcessingTime(0)).start()
    Seq(b1, b2, b3).foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val stateful = spark.table("graft_vhf_evict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
      .toSet

    var open = EventStreamFold.emptyVersionState(spark)
    var wm = 0L
    var folded = Set.empty[(Long, Long, Long, Long)]
    Seq(b1, b2, b3).foreach { w =>
      val (out, newOpen, wmN) = EventStreamFold.versionFoldBatch(
        open, wm, toBatch(w), retentionMs = retention)
      folded ++= out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
      open = newOpen.localCheckpoint(true)
      wm = wmN
    }
    assert(folded == stateful)
    assert(folded.contains((1L, 2L, 9999999999000L, 2L)),
      "evicted open version missing")
  }

  test("folded sessionize ≡ stateful over waves and ≡ batch h11 one-shot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val waves = waves3(evRows())

    val ms = MemoryStream[Ev]
    val q = EventStream.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sessf_ref")
      .trigger(Trigger.ProcessingTime(0)).start()
    waves.foreach { w =>
      ms.addData(w.map(e => Ev(e.event_id, e.ts, e.user_id)))
      q.processAllAvailable()
    }
    q.stop()
    val stateful = spark.table("graft_sessf_ref").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

    var st = EventStreamFold.emptySessionState(spark)
    var wm = 0L
    var folded = Set.empty[(Long, Long, Long)]
    waves.foreach { w =>
      val (out, newSt, wmN) =
        EventStreamFold.sessionFoldBatch(st, wm, toBatch(w))
      folded ++= out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      st = newSt.localCheckpoint(true)
      wm = wmN
    }
    assert(folded == stateful)

    val (oneShot, _, _) = EventStreamFold.sessionFoldBatch(
      EventStreamFold.emptySessionState(spark), 0L,
      Tables.events(spark, sf))
    val batch = operators.History.h11Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(oneShot.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet == batch)
  }

  test("folded privacy deletes ≡ stateful on the flip fixture") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int) = new java.sql.Timestamp(1704067200000L + h * 3600000L)
    val b1 = Seq(
      EvFull(1L, ts(0), 1L, "click", 0.0),
      EvFull(2L, ts(1), 1L, "purchase", 0.0),
      EvFull(3L, ts(0), 2L, "error", 0.0),
      EvFull(4L, ts(0), 3L, "click", 0.0))
    val b2 = Seq(
      EvFull(5L, ts(2), 1L, "error", 0.0),
      EvFull(6L, ts(1), 2L, "purchase", 0.0))

    val ms = MemoryStream[EvFull]
    val q = EventStream.privacyDeletes(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_p3f_ref")
      .trigger(Trigger.ProcessingTime(0)).start()
    Seq(b1, b2).foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val stateful = spark.table("graft_p3f_ref").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    var priv = EventStreamFold.emptyPrivState(spark)
    var pubs = EventStreamFold.emptyPubState(spark)
    var wm = 0L
    var folded = Set.empty[(Long, String, String)]
    Seq(b1, b2).foreach { w =>
      val (out, newPriv, newPubs, wmN) =
        EventStreamFold.privacyFoldBatch(priv, pubs, wm, toBatch(w))
      folded ++= out.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      priv = newPriv.localCheckpoint(true)
      pubs = newPubs.localCheckpoint(true)
      wm = wmN
    }
    assert(folded == stateful)
    val t0 = ts(0).getTime; val t1 = ts(1).getTime
    assert(folded == Set((1L, "delete", s"1_$t0"), (1L, "delete", s"1_$t1"),
      (2L, "refresh", "2")))
    // invariant: a now-private entity keeps no published ids in state
    val privNow = priv.filter(col("priv")).select("user_id").collect()
      .map(_.getLong(0)).toSet
    val pubsNow = pubs.select("user_id").collect().map(_.getLong(0)).toSet
    assert(privNow.intersect(pubsNow).isEmpty)
  }

  test("folded privacy over corpus waves ≡ stateful") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val waves = waves3(evRows())

    val ms = MemoryStream[EvFull]
    val q = EventStream.privacyDeletes(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_p3f_corpus")
      .trigger(Trigger.ProcessingTime(0)).start()
    waves.foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val stateful = spark.table("graft_p3f_corpus").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    var priv = EventStreamFold.emptyPrivState(spark)
    var pubs = EventStreamFold.emptyPubState(spark)
    var wm = 0L
    var folded = Set.empty[(Long, String, String)]
    waves.foreach { w =>
      val (out, newPriv, newPubs, wmN) =
        EventStreamFold.privacyFoldBatch(priv, pubs, wm, toBatch(w))
      folded ++= out.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      priv = newPriv.localCheckpoint(true)
      pubs = newPubs.localCheckpoint(true)
      wm = wmN
    }
    assert(folded == stateful)
    assert(folded.nonEmpty, "fixture produced no privacy actions")
  }

  test("whale batch routes through the segment fold bit-identically") {
    import spark.implicits._
    // one whale entity (12k rows, above a 4096-row threshold) + small
    // entities; ts ties exercise the tie columns through the fold
    val base = 1704067200000L
    val whale = (0 until 12000).map(i =>
      EvFull(i.toLong, new java.sql.Timestamp(base + (i / 2) * 2000L),
        0L, if (i % 3 == 0) "error" else "click", (i % 100) / 10.0))
    val small = (0 until 300).map(i =>
      EvFull(100000L + i, new java.sql.Timestamp(base + i * 5000L),
        1L + i % 7, if (i % 4 == 0) "error" else "view", i / 3.0))
    val batch = toBatch(whale ++ small)

    def all3(s: SparkSession): (Set[Any], Set[Any], Set[Any]) = {
      val b = GraftSession.on(s, batch)
      val (v, vo, _) = EventStreamFold.versionFoldBatch(
        EventStreamFold.emptyVersionState(s), 0L, b)
      val (se, so, _) = EventStreamFold.sessionFoldBatch(
        EventStreamFold.emptySessionState(s), 0L, b)
      val (p, pp, pb, _) = EventStreamFold.privacyFoldBatch(
        EventStreamFold.emptyPrivState(s),
        EventStreamFold.emptyPubState(s), 0L, b)
      def rows(df: org.apache.spark.sql.DataFrame, tag: String): Set[Any] =
        df.collect().map(r => (tag, r.toSeq): Any).toSet
      (rows(v, "out") ++ rows(vo, "st"),
        rows(se, "out") ++ rows(so, "st"),
        rows(p, "out") ++ rows(pp, "pv") ++ rows(pb, "pb"))
    }

    val plain = all3(spark)
    GraftSession.scoped(spark, operators.SegmentFold.ThresholdConf -> "4096") { c =>
      // the gate must actually fire at this threshold
      val b = operators.SegmentFold.boundsFor(
        batch.select(col("user_id"), unix_millis(col("ts")).as("ts_ms")),
        "user_id", "ts_ms", 4096L)
      assert(b.isDefined, "whale gate did not fire")
      val folded = all3(c)
      assert(folded._1 == plain._1, "versionFoldBatch diverged under fold")
      assert(folded._2 == plain._2, "sessionFoldBatch diverged under fold")
      assert(folded._3 == plain._3, "privacyFoldBatch diverged under fold")
    }
  }

  test("watermark boundary: a row with ts == wm drops, ts > wm " +
      "survives — folded ≡ stateful") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000L
    val base = 1704067200000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val b1 = Seq(Ev(1L, ts(base + 100 * H), 1L))
    // after b1: wm = base+99h. b2 carries one row exactly AT the
    // watermark and one 1 s past it
    val b2 = Seq(Ev(2L, ts(base + 99 * H), 2L),
      Ev(3L, ts(base + 99 * H + 1000), 3L))

    val ms = MemoryStream[Ev]
    val q = EventStream.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sessf_wm")
      .trigger(Trigger.ProcessingTime(0)).start()
    Seq(b1, b2).foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val stateful = spark.table("graft_sessf_wm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

    var st = EventStreamFold.emptySessionState(spark)
    var wm = 0L
    var folded = Set.empty[(Long, Long, Long)]
    Seq(b1, b2).foreach { w =>
      val (out, newSt, wmN) = EventStreamFold.sessionFoldBatch(st, wm,
        w.map(e => EventStream.EvFull(e.event_id, e.ts, e.user_id, "x", 0.0))
          .toDS().toDF())
      folded ++= out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      st = newSt.localCheckpoint(true)
      wm = wmN
    }
    assert(folded == stateful)
    // the boundary itself: entity 2's at-watermark row is late in
    // BOTH forms; entity 3's row survives
    assert(!stateful.exists(_._1 == 2L) && stateful.exists(_._1 == 3L))
  }

  test("boundsFor clamps k to 2 — never an empty quantile array") {
    import spark.implicits._
    // maxCnt 200 > threshold 100 but <= one segment target (4096):
    // unclamped k would be 1 — empty quantile arrays, every row in
    // segment 0. The clamp yields one real cut per whale entity.
    val rows = (0 until 200).map(i => (0L, 1000L + i)).toDF("id", "ts")
    val b = operators.SegmentFold.boundsFor(rows, "id", "ts", 100L)
    assert(b.nonEmpty)
    val bounds = b.get.collect()
    assert(bounds.length == 1 &&
      bounds.head.getSeq[Long](1).length == 1)
  }

  test("persisted steps: replay of a batch is idempotent, debris swept") {
    val root = Files.createTempDirectory("graft_esf_step").toString
    val waves = waves3(evRows())
    val o0 = EventStreamFold.versionStep(root, 0L, toBatch(waves(0)))
      .collect().map(_.toSeq).toSet
    val o1 = EventStreamFold.versionStep(root, 1L, toBatch(waves(1)))
      .collect().map(_.toSeq).toSet
    // replay batch 1: reads state 0, not its own first attempt
    val o1b = EventStreamFold.versionStep(root, 1L, toBatch(waves(1)))
      .collect().map(_.toSeq).toSet
    assert(o1 == o1b)
    val o2 = EventStreamFold.versionStep(root, 2L, toBatch(waves(2)))
      .collect().map(_.toSeq).toSet
    assert((o0 ++ o1 ++ o2).nonEmpty)
    // DELTA slices: one per batch (replay overwrote its own), each
    // holding only the batch's upserts + tombstones — not snapshots
    val dirs = new java.io.File(s"$root/open").listFiles().map(_.getName)
      .filter(_.startsWith("batch")).toSet
    assert(dirs == Set("batch_0", "batch_1", "batch_2"),
      dirs.mkString(","))
    // compaction folds all but the newest; the merged state view —
    // and therefore the next step — is unchanged
    val mergedBefore = readOpen(root)
    assert(EventStreamFold.compactState(spark, root) >= 1)
    val dirsC = new java.io.File(s"$root/open").listFiles().map(_.getName)
      .filter(_.startsWith("batch")).toSet
    assert(dirsC == Set("batch_1", "batch_2"), dirsC.mkString(","))
    assert(readOpen(root) == mergedBefore,
      "compaction changed the merged state view")
    // three-wave persisted total ≡ the in-memory fold total
    var open = EventStreamFold.emptyVersionState(spark)
    var wm = 0L
    var mem = Set.empty[Seq[Any]]
    waves.foreach { w =>
      val (out, newOpen, wmN) =
        EventStreamFold.versionFoldBatch(open, wm, toBatch(w))
      mem ++= out.collect().map(_.toSeq)
      open = newOpen.localCheckpoint(true)
      wm = wmN
    }
    assert((o0 ++ o1 ++ o2) == mem)
  }

  test("persisted privacy steps: the delta pubs store tombstones " +
      "deleted ids; outputs ≡ in-memory fold") {
    val root = Files.createTempDirectory("graft_esf_priv").toString
    def ts(h: Int) = new java.sql.Timestamp(1704067200000L + h * 3600000L)
    val b1 = Seq(EvFull(1L, ts(0), 1L, "click", 0.0),
      EvFull(2L, ts(1), 1L, "purchase", 0.0),
      EvFull(3L, ts(0), 3L, "click", 0.0))
    val b2 = Seq(EvFull(4L, ts(2), 1L, "error", 0.0))
    val persisted =
      EventStreamFold.privacyStep(root, 0L, toBatch(b1))
        .collect().map(_.toSeq).toSet ++
      EventStreamFold.privacyStep(root, 1L, toBatch(b2))
        .collect().map(_.toSeq).toSet
    var priv = EventStreamFold.emptyPrivState(spark)
    var pubs = EventStreamFold.emptyPubState(spark)
    var wm = 0L
    var mem = Set.empty[Seq[Any]]
    Seq(b1, b2).foreach { w =>
      val (out, np, nb, wmN) =
        EventStreamFold.privacyFoldBatch(priv, pubs, wm, toBatch(w))
      mem ++= out.collect().map(_.toSeq)
      priv = np.localCheckpoint(true); pubs = nb.localCheckpoint(true)
      wm = wmN
    }
    assert(persisted == mem && persisted.nonEmpty)
    // merged pubs view: user 1's two published ids died with the
    // flip (tombstoned in slice 1), user 3's survives
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "pub_id").orderBy(col("_b").desc)
    val merged = spark.read.parquet(s"$root/pubs/batch_*")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 && !col("_dead"))
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(merged == Set(3L), merged.mkString(","))
  }

  test("folded cadence drives a streaming query end-to-end") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_esf_e2e").toString
    val root = Files.createTempDirectory("graft_esf_root").toString
    Tables.events(spark, sf).repartition(3).write.mode("overwrite")
      .parquet(dir)
    val stream = spark.readStream
      .schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val got = scala.collection.mutable.Set[Seq[Any]]()
    val q = EventStreamFold.versionHistoryFolded(stream, root) { (out, _) =>
      got ++= out.collect().map(_.toSeq)
    }.trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // parquet micro-batches are NOT chronological: rows behind the
    // watermark or the open version drop, exactly as the stateful
    // form would drop them — the invariant preserved is per-entity
    // interval chaining of whatever was emitted
    assert(got.nonEmpty)
    got.toSeq.groupBy(_.head).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_(6).asInstanceOf[Long])
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a(5).asInstanceOf[Long] == b(4).asInstanceOf[Long] ||
            b(6).asInstanceOf[Long] == 1L,
            "closed versions must chain (or restart after eviction)")
        case _ =>
      }
    }
  }
}
