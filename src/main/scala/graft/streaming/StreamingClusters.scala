package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** CONTINUOUS cluster maintenance — d11's fold run at ingest time,
  * with the doc→cluster map PERSISTED as a cluster-hash-partitioned
  * store and updated SURGICALLY: a batch rewrites only the map
  * partitions its merges touch. That asymmetry is the whole point at
  * 100 TB: reading the map is one columnar scan of an id-sized table
  * per batch, but REWRITING it wholesale per batch would dwarf the
  * batch itself — dynamic partition overwrite on pb =
  * hash(cluster) % nb bounds the write to (touched clusters +
  * arriving docs), leaving every other partition's files untouched
  * (byte-identical, spec-asserted — the [[graft.sources.Partitioned]]
  * compaction contract applied to graph state).
  *
  * Replay safety: the band store reads only slices with id < N (as
  * [[StreamingDedup]]); the map fold is MONOTONE (merging
  * already-merged components projects every edge to a self-loop, and
  * already-present batch docs are anti-joined away), so re-running a
  * batch — even over a partially-applied first attempt — converges to
  * the same map instead of corrupting it.
  */
object StreamingClusters {

  private def pbOf(c: Column, nb: Int): Column = pmod(xxhash64(c), lit(nb))

  /** One micro-batch: match the band store, merge components, rewrite
    * only the touched map partitions, append this batch's band slice.
    * `batch` needs (doc_id, text). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      root: String, nb: Int = 64): Unit = {
    val s = batch.sparkSession
    val bands = Dedup.mhBands(batch).localCheckpoint(true)
    val bdirs = StoreFs.priorBatchDirs(s, s"$root/bands", batchId)
    // width from the ACCUMULATED corpus (store + batch) — both the
    // batch↔store join and the intra-batch self-join, matching d11's
    // one-width-through-all-edge-joins rule (ADVICE r12 #4). Edges
    // folded by earlier batches keep the width the corpus had then
    // (the map is monotone); post-crossing batches match the batch
    // width — see Dedup.accExtraRows scope (ADVICE r13)
    val x = Dedup.accExtraRows(s, bdirs, bands)
    val edges = (if (bdirs.isEmpty)
        bands.limit(0).select(col("doc_id").as("src"), col("doc_id").as("dst"))
      else Dedup.incrementalEdges(bands, s.read.parquet(bdirs: _*), x))
      .union(Dedup.pairsFromBands(bands, x)
        .select(col("id1").as("src"), col("id2").as("dst")))
    foldMap(s, s"$root/map", edges, batch.select("doc_id"), nb)
    bands.write.mode(SaveMode.Overwrite)
      .parquet(s"$root/bands/batch_$batchId")
  }

  /** Fold one batch's candidate edges into the persisted min-id
    * cluster map at `mapPath` — the surgical dynamic-partition
    * rewrite documented on the object. Factored out (r13) so
    * [[StreamingEmbDedup]]'s survivor cadence folds its
    * cosine-verified edges through the identical monotone machinery
    * (replay-safe: merged components project to self-loops, present
    * batch docs anti-join away). */
  private[streaming] def foldMap(s: org.apache.spark.sql.SparkSession,
      mapPath: String, edges: DataFrame, batchIds: DataFrame,
      nb: Int): Unit = {
    val oldMap =
      if (StoreFs.exists(s, mapPath))
        s.read.parquet(mapPath).select("doc_id", "cluster")
          .localCheckpoint(true)
      else s.range(0).select(col("id").as("doc_id"), col("id").as("cluster"))
    // project corpus endpoints to their cluster labels; exact
    // components of the batch-sized merge graph (see Dedup.mergeClusters)
    val proj = edges
      .join(oldMap.select(col("doc_id").as("src"), col("cluster").as("c1")),
        Seq("src"), "left")
      .join(oldMap.select(col("doc_id").as("dst"), col("cluster").as("c2")),
        Seq("dst"), "left")
      .select(coalesce(col("c1"), col("src")).as("src"),
        coalesce(col("c2"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val comp = Dedup.connectedComponentsAdaptive(proj).localCheckpoint(true)
    // corpus rows whose cluster label changes (their pb may move)
    val changed = oldMap
      .join(comp.filter(col("lbl") =!= col("id"))
        .select(col("id").as("cluster"), col("lbl")), Seq("cluster"))
      .select(col("doc_id"), col("cluster").as("old_cluster"),
        col("lbl").as("new_cluster"))
      .localCheckpoint(true)
    // arriving docs not already mapped (anti join = replay safety)
    val batchRows = batchIds
      .join(oldMap.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(comp.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .localCheckpoint(true)
    // the touched partition set: every pb a row leaves, lands in, or
    // is inserted into — tiny (bounded by touched clusters + batch)
    val pbs = changed.select(pbOf(col("old_cluster"), nb).as("pb"))
      .union(changed.select(pbOf(col("new_cluster"), nb).as("pb")))
      .union(batchRows.select(pbOf(col("cluster"), nb).as("pb")))
      .distinct().collect().map(_.getLong(0)).sorted
    if (pbs.nonEmpty) {
      // new content of exactly those partitions: surviving unchanged
      // rows + relabeled rows + arriving rows
      val keep = oldMap
        .filter(pbOf(col("cluster"), nb)
          .isin(ArraySeq.unsafeWrapArray(pbs): _*))
        .join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
      val fresh = changed
        .select(col("doc_id"), col("new_cluster").as("cluster"))
        .union(batchRows)
      keep.union(fresh)
        .withColumn("pb", pbOf(col("cluster"), nb))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb").parquet(mapPath)
      // a partition every row LEFT never appears in the written frame,
      // so dynamic overwrite leaves its stale files — drop it explicitly
      val present = (Seq.empty[Long] ++ pbs).filter { pb =>
        StoreFs.exists(s, s"$mapPath/pb=$pb")
      }
      val live = keep.select(pbOf(col("cluster"), nb).as("pb"))
        .union(fresh.select(pbOf(col("cluster"), nb).as("pb")))
        .distinct().collect().map(_.getLong(0)).toSet
      (present.toSet -- live).foreach { pb =>
        StoreFs.deleteDir(s, s"$mapPath/pb=$pb")
      }
    }
  }

  /** Streaming query over (doc_id, text). */
  def run(docs: DataFrame, root: String, nb: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      processBatch(b.toDF(), id, root, nb)
    }
}
