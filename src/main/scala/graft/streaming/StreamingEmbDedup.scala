package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Continuous incremental EMBEDDING dedup — the d5/d12 candidate
  * theory at ingest time, completing the set: every candidate
  * generator now has a streaming cadence (minhash = StreamingDedup,
  * containment = StreamingContainment, sign-band embedding = here).
  * Each arriving micro-batch of vectors is sign-banded, its bands
  * join the persisted band store AND themselves (cross + intra-batch
  * candidates), exact cosines verify against the persisted vector
  * slices, and the batch appends its own (bands, vecs) slices.
  * Banding is per-vector and corpus-independent, so accumulated
  * batch pairs ≡ the one-shot d5 pair set on everything ingested
  * (spec) — there is no dictionary/df drift in this family at all.
  *
  * StreamingDedup's idempotence layout: matches in
  * `matchRoot/batch_N` (overwrite), store slices in
  * `storePath/{bands,vecs}/batch_N` (overwrite), probes read ONLY
  * id < N slices — a replayed batch never joins its first-attempt
  * bands (which would self-match every vector at cos 1.0). */
object StreamingEmbDedup {

  /** One micro-batch, end to end. Exposed for the replay spec. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storePath: String, matchRoot: String): Unit = {
    val s = batch.sparkSession
    // bands and vecs each feed two consumers (candidate join + slice
    // write; verification + slice write): checkpoint so the 96-plane
    // signature map runs once per batch
    val bands = Dedup.embBands(batch).localCheckpoint(true)
    val vecs = Dedup.embVecs(batch).localCheckpoint(true)
    val bandDirs = StoreFs.priorBatchDirs(s, s"$storePath/bands", batchId)
    val storeBands = if (bandDirs.isEmpty) bands.limit(0)
      else s.read.parquet(bandDirs: _*)
    val cross = bands.as("a").join(storeBands.as("b"),
        col("a.label") === col("b.label") &&
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("id1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id2"))
    val intra = bands.as("a").join(bands.as("b"),
        col("a.label") === col("b.label") &&
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
    val cand = cross.union(intra).distinct()
    val vecDirs = StoreFs.priorBatchDirs(s, s"$storePath/vecs", batchId)
    val allVecs = if (vecDirs.isEmpty) vecs
      else vecs.unionByName(s.read.parquet(vecDirs: _*))
    Dedup.verifyCosine(cand, allVecs)
      .write.mode("overwrite").parquet(s"$matchRoot/batch_$batchId")
    bands.write.mode("overwrite")
      .parquet(s"$storePath/bands/batch_$batchId")
    vecs.write.mode("overwrite")
      .parquet(s"$storePath/vecs/batch_$batchId")
  }

  /** Streaming query: `embs` must have (vec_id, label, embedding). */
  def run(embs: DataFrame, storePath: String, matchRoot: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    embs.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      processBatch(b.toDF(), id, storePath, matchRoot)
    }

  /** Maintenance cadence for the band store (r14 verdict #4) —
    * see [[StreamingDedup.compactStore]]. */
  def compactStore(s: org.apache.spark.sql.SparkSession,
      storePath: String): Int =
    StoreFs.compactSlices(s, s"$storePath/bands") +
      StoreFs.compactSlices(s, s"$storePath/vecs")

  // ---- x2 SURVIVOR-STORE cadence (r13, VERDICT #3) ----------------
  //
  // Maintains the d12-prod SURVIVOR set and its navigable graph as an
  // ingest-time store — the same store shape the registered x2 walks
  // (Similarity.x2EnsureStore), kept current per batch instead of
  // rebuilt per corpus. Cell assignment is FROZEN at compaction time
  // (the SemDeDup deployment design: cells retrain periodically, not
  // per batch — the t12 dictionary-staleness trade, stated): a batch
  // assigns to the stored centroids + shard grid, candidates stay
  // cell-confined (batch×batch + batch×prior within cell), exact
  // cosines verify at d12's 0.3 threshold, and the verified edges
  // fold into the maintained min-id cluster map through
  // StreamingClusters.foldMap (d11's monotone, replay-safe device).
  // Survivors at any point = ids whose map label is their own id —
  // d12's keep policy verbatim. The survivor GRAPH refreshes as a
  // batch compaction (s16RefreshWave's precedent), not per ingest.
  //
  // Identity: under cells frozen from the full corpus, the folded
  // pair set accumulates to exactly the one-shot within-cell pair
  // set, merge-folded components equal one-shot components (d11
  // spec), and min-id keeps agree — so the maintained store's walk ≡
  // the registered x2 (spec-pinned in PipelineSpec).

  private val CellCap = 256

  /** Freeze the cell grid from a corpus snapshot: trained centroids +
    * per-cluster shard counts (ceil(rank-1 size / cellCap) — the
    * semCellsFrame grid verbatim). Run at (re)compaction. */
  def freezeSurvivorCells(corpus: DataFrame, root: String,
      cellCap: Int = CellCap): Unit = {
    import graft.similarity.Similarity
    import graft.functions.{VectorFunctions => V}
    val cent = Similarity.kmeansCentroidsFrame(corpus)
      .localCheckpoint(true) // consumers: grid sizing + persisted copy
    cent.write.mode("overwrite").parquet(s"$root/frozen/centroids")
    corpus.select(col("vec_id"), V.asDouble(col("embedding")).as("emb"))
      .join(broadcast(cent)) // k-row centroid frame — bounded by config
      .withColumn("dist", V.l2(col("emb"), col("centroid")))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .select(col("cluster"),
        greatest(ceil(col("n") / cellCap).cast("long"), lit(1L))
          .as("nshard"))
      .write.mode("overwrite").parquet(s"$root/frozen/grid")
  }

  /** One survivor-cadence micro-batch. Exposed for the fold spec. */
  private[graft] def survivorBatch(batch: DataFrame, batchId: Long,
      root: String, nb: Int = 64): Unit = {
    import graft.functions.{VectorFunctions => V}
    val s = batch.sparkSession
    val cent = s.read.parquet(s"$root/frozen/centroids")
    val grid = s.read.parquet(s"$root/frozen/grid")
    val vecs = Dedup.embVecs(batch).localCheckpoint(true)
    // frozen-cell assignment: nearest stored centroid, then the
    // semCellsFrame shard coin against the FROZEN grid — bit-equal to
    // the one-shot cells when the freeze saw this corpus
    val assigned = batch
      .select(col("vec_id"), V.asDouble(col("embedding")).as("emb"))
      .join(broadcast(cent)) // k-row
      .withColumn("dist", V.l2(col("emb"), col("centroid")))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"))
    val shard = ((col("vec_id") % lit(2147483648L)) * lit(2654435761L)) %
      lit(4294967296L) %
      greatest(coalesce(col("nshard"), lit(1L)), lit(1L))
    val cells = assigned
      .join(broadcast(grid), Seq("cluster"), "left") // |clusters|-row
      .select(col("vec_id"),
        concat(col("cluster").cast("string"), lit("#"),
          shard.cast("string")).as("cell"))
      .localCheckpoint(true) // consumers: cross + intra + slice write
    val cellDirs = StoreFs.priorBatchDirs(s, s"$root/cellmap", batchId)
    val vecDirs = StoreFs.priorBatchDirs(s, s"$root/vecs", batchId)
    val cross =
      if (cellDirs.isEmpty)
        cells.limit(0).select(col("vec_id").as("id1"),
          col("vec_id").as("id2"))
      else cells.as("a")
        .join(s.read.parquet(cellDirs: _*).as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("id1"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("id2"))
    val intra = cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
    val cand = cross.union(intra).distinct()
    val allVecs = if (vecDirs.isEmpty) vecs
      else vecs.unionByName(s.read.parquet(vecDirs: _*))
    val edges = Dedup.verifyCosine(cand, allVecs)
      .select(col("id1").as("src"), col("id2").as("dst"))
    StreamingClusters.foldMap(s, s"$root/map", edges,
      batch.select(col("vec_id").as("doc_id")), nb)
    cells.write.mode("overwrite").parquet(s"$root/cellmap/batch_$batchId")
    vecs.write.mode("overwrite").parquet(s"$root/vecs/batch_$batchId")
  }

  /** Current survivor ids of the maintained store: every ingested id
    * whose map label is its own id (docs never matched are absent
    * from the map and survive by definition — d12's coalesce). */
  private[graft] def survivorIds(s: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    val cellDirs = StoreFs.priorBatchDirs(s, s"$root/cellmap",
      Long.MaxValue)
    // no batch ingested yet (e.g. a graph refresh right after the
    // freeze): the survivor set is empty, not an AnalysisException —
    // mirrors the empty-map fallback below (ADVICE r13)
    if (cellDirs.isEmpty)
      return s.range(0).select(col("id").as("vec_id"))
    val ingested = s.read.parquet(cellDirs: _*).select("vec_id")
    val m = if (StoreFs.exists(s, s"$root/map"))
      s.read.parquet(s"$root/map").select("doc_id", "cluster")
      else s.range(0).select(col("id").as("doc_id"),
        col("id").as("cluster"))
    ingested
      .join(m.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("vec_id"))
      .select("vec_id")
  }

  /** The graph COMPACTION: rebuild the survivor navigable graph from
    * the maintained survivor set + stored vector slices, persisted
    * beside the map — the store the x2 walk reads. Returns
    * (vectorsPath, graphPath). Scheduled per ingest wave (the
    * s16RefreshWave cadence), never paid by the walk. */
  private[graft] def refreshSurvivorGraph(
      s: org.apache.spark.sql.SparkSession, root: String,
      fullEmb: DataFrame): (String, String) = {
    // the survivor slices compact on the same cadence (r14 verdict
    // #4): newest slice left out for replay safety
    StoreFs.compactSlices(s, s"$root/cellmap")
    StoreFs.compactSlices(s, s"$root/vecs")
    val surv = survivorIds(s, root)
    val embS = fullEmb.join(surv, Seq("vec_id"), "left_semi")
      .localCheckpoint(true) // consumers: vectors write + graph build
    // staged build + ONE family-dir swap (the x5RefreshHierarchy
    // shape — review r15 closed the two-swap window the first cut of
    // this left): vectors and graph land under root/x2 together, so a
    // reader never pairs one generation's vectors with another's graph
    val stage = s"$root/.x2.build"
    StoreFs.deleteDir(s, stage)
    embS.write.mode("overwrite").parquet(s"$stage/vectors")
    graft.similarity.Similarity.searchGraphOn(embS, 16)
      .select("vec_id", "nbr")
      .write.mode("overwrite").parquet(s"$stage/graph")
    StoreFs.swapDir(s, stage, s"$root/x2")
    (s"$root/x2/vectors", s"$root/x2/graph")
  }

  /** The x5 (survivor HIERARCHY) compaction (r14 — r15 candidate (b)
    * pulled forward): rebuild the s16-shape store family — layer-0
    * navigable graph, `levels` geometric upper layers, entry atlas —
    * over the maintained survivor set, persisted under
    * `root/hier/...`. Like [[refreshSurvivorGraph]] this is a
    * per-compaction REBUILD, not an incremental fold: the survivor
    * set is non-monotone under ingest (new arrivals can demote old
    * survivors), so band-store folds would need retractions —
    * SemDeDup's own periodic-retrain design applies (staleness
    * between compactions stated; the walk between compactions serves
    * the last compaction's hierarchy). All widths derive from
    * survivor counts, exactly as the ensure-built x5 store. Returns
    * (layer0Path, upperPaths, atlasPath) — feed
    * [[graft.similarity.Similarity.s16HnswStored]]. */
  private[graft] def x5RefreshHierarchy(
      s: org.apache.spark.sql.SparkSession, root: String,
      fullEmb: DataFrame, levels: Int = 3)
      : (String, Seq[String], String) = {
    import graft.similarity.Similarity
    StoreFs.compactSlices(s, s"$root/cellmap")
    StoreFs.compactSlices(s, s"$root/vecs")
    val surv = survivorIds(s, root)
    val embS = fullEmb.join(surv, Seq("vec_id"), "left_semi")
      .localCheckpoint(true) // consumers: g0 + layer builds + atlas
    val (uppers, _) = Similarity.s16LayersOn(embS, levels)
    val g0 = Similarity.searchGraphOn(embS, 16).select("vec_id", "nbr")
      .localCheckpoint(true) // consumers: persist + atlas comps
    // the whole family lands in a staging dir and swaps in via rename
    // (r14 ADVICE): a reader walking root/hier mid-refresh sees one
    // generation, never an atlas paired with a different g0
    val stage = s"$root/.hier.build"
    StoreFs.deleteDir(s, stage)
    g0.write.mode("overwrite").parquet(s"$stage/g0")
    (1 to levels).foreach(l =>
      uppers(l - 1).write.mode("overwrite").parquet(s"$stage/g$l"))
    Similarity.entryAtlas(
        embS.filter(col("vec_id") >= 10)
          .withColumn("level", Similarity.levelOf(col("vec_id"), levels)),
        Similarity.compsOf(g0))
      .write.mode("overwrite").parquet(s"$stage/atlas")
    StoreFs.swapDir(s, stage, s"$root/hier")
    (s"$root/hier/g0", (1 to levels).map(l => s"$root/hier/g$l"),
      s"$root/hier/atlas")
  }
}
