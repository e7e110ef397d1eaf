package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamingEmbDedup: the sign-band embedding candidate theory at
  * ingest time. Banding is per-vector and corpus-independent — no
  * frozen-dictionary compromise in this family — so accumulated
  * per-batch pairs must equal the one-shot d5 pair set on everything
  * ingested exactly. */
class StreamingEmbDedupSpec extends AnyFunSuite {
  import SparkTest._

  private def embs = Tables.embeddings(spark, sf)

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id1", "id2", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed embedding waves ≡ the one-shot d5 pair set on the union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_sembdedup").toString
    val (storePath, matchRoot) = (s"$root/store", s"$root/matches")
    val waves = (0 to 2).map(i =>
      embs.filter(col("vec_id") % 3 === i)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<float>"))
        .as[(Long, Int, Seq[Float])].collect().toSeq)
    val ms = MemoryStream[(Long, Int, Seq[Float])]
    val q = graft.streaming.StreamingEmbDedup.run(
        ms.toDF().toDF("vec_id", "label", "embedding"),
        storePath, matchRoot)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    waves.foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = pairSet(spark.read.parquet(s"$matchRoot/batch_*"))
    val oneShot = pairSet(Dedup.embeddingPairsFrame(embs))
    assert(streamed == oneShot,
      s"missed ${(oneShot -- streamed).size} / " +
        s"extra ${(streamed -- oneShot).size}")
    assert(streamed.nonEmpty, "fixture produced no embedding pairs")
    assert(streamed.exists(p => p._1 % 3 != p._2 % 3),
      "no cross-wave pair formed")
  }

  test("replayed embedding micro-batch is idempotent: no self-matches") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sembdedup_replay").toString
    val (storePath, matchRoot) = (s"$root/store", s"$root/matches")
    val b0 = embs.filter(col("vec_id") % 3 === 0)
      .select("vec_id", "label", "embedding")
    val b1 = embs.filter(col("vec_id") % 3 === 1)
      .select("vec_id", "label", "embedding")
    graft.streaming.StreamingEmbDedup
      .processBatch(b0, 0, storePath, matchRoot)
    graft.streaming.StreamingEmbDedup
      .processBatch(b1, 1, storePath, matchRoot)
    def readAll() = pairSet(spark.read.parquet(s"$matchRoot/batch_*"))
    val first = readAll()
    // at-least-once replay of batch 1: its first-attempt slices exist
    // on disk, but the candidate join must not see them
    graft.streaming.StreamingEmbDedup
      .processBatch(b1, 1, storePath, matchRoot)
    val replayed = readAll()
    assert(replayed == first, "replay changed the match output")
    assert(!replayed.exists(p => p._1 == p._2), "self-match leaked in")
    assert(graft.streaming.StoreFs
      .priorBatchDirs(spark, s"$storePath/bands", Long.MaxValue).size == 2)
    assert(first.nonEmpty, "fixture produced no pairs")
  }

  test("x2 survivor-store cadence (r13): three ingest waves fold to " +
      "d12's one-shot survivor set under frozen cells, a replayed " +
      "wave changes nothing, and the compacted store's walk ≡ the " +
      "registered stored x2") {
    import graft.streaming.StreamingEmbDedup
    val root = java.nio.file.Files
      .createTempDirectory("graft_survstore").toString
    // compaction freeze: cells from the full corpus (production: the
    // last compaction's snapshot; between compactions new batches
    // assign to stale cells — the SemDeDup periodic-retrain trade,
    // same class as t12's frozen dictionary)
    StreamingEmbDedup.freezeSurvivorCells(embs, root)
    val waves = (0 to 2).map(i =>
      embs.filter(col("vec_id") % 3 === i)
        .select("vec_id", "label", "embedding"))
    waves.zipWithIndex.foreach { case (w, i) =>
      StreamingEmbDedup.survivorBatch(w, i, root) }
    def survSet() = StreamingEmbDedup.survivorIds(spark, root)
      .collect().map(_.getLong(0)).toSet
    val surv = survSet()
    val oneShot = Dedup.d12SemDedupProd(spark, sf)
      .filter(col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(surv == oneShot,
      s"missing ${(oneShot -- surv).size} / extra ${(surv -- oneShot).size}")
    assert(surv.size < embs.count(), "fixture deduped nothing")
    // at-least-once replay of the last wave: monotone fold converges
    StreamingEmbDedup.survivorBatch(waves(2), 2, root)
    assert(survSet() == surv, "replayed wave changed the survivor set")
    // graph compaction + walk ≡ the registered stored x2
    val (vp, gp) = StreamingEmbDedup.refreshSurvivorGraph(spark, root, embs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val walked = rows(graft.similarity.Similarity.s15WalkOn(
      spark.read.parquet(vp),
      spark.read.parquet(gp).select("vec_id", "nbr")
        .localCheckpoint(true), 5))
    val reg = rows(
      graft.similarity.Similarity.x2DedupIndexStored(spark, sf))
    assert(walked == reg,
      "maintained survivor store's walk diverged from the registered x2")
    assert(walked.nonEmpty)

    // r14: the x5 HIERARCHY compaction over the same maintained
    // survivor set — stored descent walk ≡ the registered x5 (the
    // ensure-built store saw the identical survivor universe, so
    // every layer/width/component/atlas derivation agrees)
    val (g0P, upperPs, atlasP) =
      StreamingEmbDedup.x5RefreshHierarchy(spark, root, embs)
    val hierWalk = rows(graft.similarity.Similarity.s16HnswStored(
      spark, sf, g0P, upperPs, atlasPath = Some(atlasP)))
    val regX5 = rows(
      graft.similarity.Similarity.x5SurvivorHnsw(spark, sf))
    assert(hierWalk == regX5,
      "maintained survivor hierarchy's walk diverged from the registered x5")
    assert(hierWalk.nonEmpty)
  }
}
