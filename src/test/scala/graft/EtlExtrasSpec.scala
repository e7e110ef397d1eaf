package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Comments stream, diff-replay history, flag lifecycle, and the
  * incremental replicate analogue. */
class EtlExtrasSpec extends AnyFunSuite {
  import SparkTest._

  private def bulkIds(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.startsWith("""{"index":"""))
      .map(l => l.split("\"_id\":\"")(1).takeWhile(_ != '"'))
      .toSet

  test("c2 comments: private dropped, screened tier redacted, own index") {
    val rows = operators.Comments.c2CommentsStream(spark, sf).collect()
    assert(rows.nonEmpty)
    val srcs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (source, nChars) = srcs(r.getLong(0))
      assert(source != "src0") // private comments never emitted
      if (nChars < 150) assert(r.getString(4) == "[screened]")
      else assert(r.getString(4).nonEmpty && r.getString(4) != "[screened]")
    }
    val out = Files.createTempDirectory("graft_comments").toString + "/bulk"
    operators.Comments.writeCommentsIndex(spark, sf, out)
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines.nonEmpty && lines.length % 2 == 0)
    assert(lines.head.startsWith("""{"index":{"_index":"comments","_id":""""))
  }

  test("b3 diff replay equals the direct window formulation") {
    val replayed = operators.DiffHistory.b3DiffHistory(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val direct = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("id"), unix_millis(col("ts")).as("ts"),
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k INT")).getField("k").as("k"))
      .withColumn("story", array_join(collect_list(
        concat(lit("k="), col("k"), lit(" e="), col("event_id"))).over(w), "\n"))
      .orderBy("id", "ts", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(replayed.toSeq == direct.toSeq)
    assert(replayed.nonEmpty)
  }

  test("b3 replay streams one large entity without buffering the group") {
    import operators.DiffHistory.DiffEv
    import spark.implicits._
    // one entity with 5000 appended lines interleaved with a small
    // one — the secondary-sort fold must keep entities separate and
    // replay each in (ts, event_id) order regardless of input order
    val n = 5000
    val big = (0 until n).map { i =>
      DiffEv(7L, 1000L + i, i.toLong,
        s"@@ -${i + 1},0 +${i + 1},1 @@\n+line$i")
    }
    val small = Seq(
      DiffEv(8L, 1000L, 0L, "@@ -1,0 +1,1 @@\n+solo"),
      DiffEv(8L, 2000L, 1L, "@@ -2,0 +2,1 @@\n+duo"))
    val shuffled = scala.util.Random.shuffle(big ++ small)
    val out = operators.DiffHistory.replay(shuffled.toDS())
      .collect().groupBy(_.id)
    val bigStories = out(7L).sortBy(v => (v.ts, v.event_id))
    assert(bigStories.length == n)
    assert(bigStories.last.story.split("\n").length == n)
    assert(bigStories.last.story.startsWith("line0\nline1\n"))
    assert(out(8L).map(_.story).sorted.toSeq ==
      Seq("solo", "solo\nduo").sorted)
  }

  test("h13 flag lifecycles: removed flags marked d with positive duration") {
    val rows = operators.History.h13FlagLifecycle(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val removed = !r.isNullAt(4)
      val status = r.getString(6)
      if (removed) {
        assert(status == "d")
        assert(r.getLong(5) >= 0) // clear at or after grant
      } else {
        assert(status == "+" || status == "?")
        assert(r.isNullAt(5))
      }
    }
    // lifecycles of the same flag never overlap
    rows.groupBy(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .foreach { case (_, ls) =>
        val sorted = ls.sortBy(_.getLong(3)).toSeq
        sorted.sliding(2).foreach {
          case Seq(a, b) => assert(!a.isNullAt(4) && a.getLong(4) <= b.getLong(3))
          case _ =>
        }
      }
  }

  test("p2 field screening scrubs fields but keeps rows") {
    val n = Tables.documents(spark, sf).count()
    val rows = operators.Screening.p2FieldScreen(spark, sf).collect()
    assert(rows.length == n) // no row dropped
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
    rows.foreach { r =>
      if (r.getBoolean(5)) {
        assert(r.getString(2) == "[screened]" && r.isNullAt(3))
      } else {
        assert(r.getString(2) != "[screened]" && !r.isNullAt(3))
      }
    }
  }

  test("es index lifecycle: alias swaps only after a successful build; prune keeps rollback") {
    val root = Files.createTempDirectory("graft_idx").toString
    val docs = operators.Comments.c2CommentsStream(spark, sf)
      .limit(50).withColumn("_id", col("comment_id").cast("string"))
    assert(sources.EsIndexManager.resolve(root, "bugs").isEmpty)
    val v1 = sources.EsIndexManager.publish(docs, root, "bugs", "_id")
    assert(sources.EsIndexManager.resolve(root, "bugs").contains(v1))
    val v2 = sources.EsIndexManager.publish(docs.limit(10), root, "bugs", "_id")
    assert(v1 != v2)
    assert(sources.EsIndexManager.resolve(root, "bugs").contains(v2))
    // both index versions exist until pruned; alias readers see v2
    assert(Files.exists(Paths.get(root, v1)) && Files.exists(Paths.get(root, v2)))
    val v3 = sources.EsIndexManager.publish(docs.limit(5), root, "bugs", "_id")
    val dropped = sources.EsIndexManager.prune(root, "bugs", keep = 1)
    assert(dropped == Seq(v1)) // v3 live, v2 kept for rollback
    assert(!Files.exists(Paths.get(root, v1)) && Files.exists(Paths.get(root, v2)))
    assert(sources.EsIndexManager.resolve(root, "bugs").contains(v3))
  }

  test("streaming es sink: foreachBatch lands every row exactly once across batch dirs") {
    val dir = Files.createTempDirectory("graft_sstream").toString
    Tables.events(spark, sf).repartition(8).write.mode("overwrite").parquet(dir)
    val out = Files.createTempDirectory("graft_sbulk").toString
    val stream = spark.readStream
      .schema(streaming.EventStream.eventSchema)
      .option("maxFilesPerTrigger", "2") // force several micro-batches
      .parquet(dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = streaming.EventStream.esSinkQuery(stream, "events", "event_id", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val batchDirs = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch_")).toSeq
    assert(batchDirs.length > 1) // genuinely incremental
    val ids = batchDirs.flatMap(d => bulkIds(d.toString))
    assert(ids.length == ids.distinct.length)
    val expected = Tables.events(spark, sf).select("event_id")
      .collect().map(_.getLong(0).toString).toSet
    assert(ids.toSet == expected)
  }

  test("bucketed layout: agg and self-join on the bucket key plan no shuffle") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    sources.Bucketed.write(ev, "graft_ev_bucketed", "user_id", 8)
    val t = sources.Bucketed.read(spark, "graft_ev_bucketed")

    val agg = t.groupBy("user_id").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(sources.Bucketed.shuffleFree(agg), "bucketed agg should not shuffle")

    val plain = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    plain.collect()
    assert(!sources.Bucketed.shuffleFree(plain), "unbucketed agg must shuffle")

    GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
      val tc = sources.Bucketed.read(c, "graft_ev_bucketed")
      val joined = tc.as("a").join(tc.as("b"), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("pairs"))
      joined.collect()
      assert(sources.Bucketed.shuffleFree(joined),
        "bucketed self-join + agg should not shuffle")
    }
  }

  test("replicate: split incremental runs copy exactly what one run would") {
    val docs = operators.Comments.c2CommentsStream(spark, sf)
      .withColumn("_id", col("comment_id").cast("string"))
    val cut = docs.agg(expr("percentile_approx(modified_ts, 0.5)")).head().getLong(0)

    val tmp = Files.createTempDirectory("graft_repl").toString
    // one-shot reference copy
    val oneShot = etl.Replicate.run(spark, docs, "_id",
      s"$tmp/state_full", s"$tmp/full")
    // split: first the old half, then everything
    val r1 = etl.Replicate.run(spark, docs.filter(col("modified_ts") < cut),
      "_id", s"$tmp/state_inc", s"$tmp/inc")
    val r2 = etl.Replicate.run(spark, docs, "_id",
      s"$tmp/state_inc", s"$tmp/inc")
    assert(r1.copied > 0 && r2.copied > 0)
    assert(r1.copied + r2.copied == oneShot.copied)

    val fullIds = bulkIds(s"$tmp/full/run_0")
    val incIds = bulkIds(s"$tmp/inc/run_0") ++
      bulkIds(s"$tmp/inc/run_${r1.newHighWater}")
    assert(incIds == fullIds)
    // a third run with nothing new copies nothing
    val r3 = etl.Replicate.run(spark, docs, "_id",
      s"$tmp/state_inc", s"$tmp/inc")
    assert(r3.copied == 0)
  }
}
