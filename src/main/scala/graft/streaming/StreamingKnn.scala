package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Cadence knobs for a maintained k-NN graph — ONE fold serves both
  * graph kinds the engine publishes:
  *  - [[KnnGraphConfig.init]] (the default): s14's near-dup INIT
  *    graph — 8-bit sparse bands, within-label, d5's 0.3 cosine
  *    floor, top-5 lists;
  *  - [[KnnGraphConfig.search]]: s15's NAVIGABLE search graph —
  *    cross-label, UNFLOORED, top-16 lists, band width from
  *    `Similarity.bitsFor(corpus)` — the maintained form the s15
  *    scaladoc promises (spec: 3-wave fold ≡ one-shot searchGraph).
  *
  * The band store is FORMAT-STAMPED (`_format` file, checked before
  * every batch): signatures written under one (bits, confinement,
  * floor) joined against another's would produce wrong candidates
  * with no error — e.g. a pre-r8 store of d5's 32×3-bit embBands
  * silently joining r8's 12×8-bit sparseBands. Mismatch fails loudly
  * with a rebuild instruction instead.
  */
case class KnnGraphConfig(bits: Int = 8,
    withinLabel: Boolean = true, floor: Option[Double] = Some(0.3),
    k: Int = 5, nb: Int = 64) {
  /** Stamped into the store; any change to the candidate semantics
    * OR the fold/layout parameters MUST change this tag — k changes
    * break the lossless-at-top-k fold (edges pruned at a smaller k
    * are unrecoverable) and nb changes break the pb partition layout
    * the surgical writes prune on. */
  def formatTag: String =
    s"sparse-v2:bits=$bits:withinLabel=$withinLabel:" +
      s"floor=${floor.map(_.toString).getOrElse("none")}:k=$k:nb=$nb"
}

object KnnGraphConfig {
  /** s14's INIT-graph cadence (descent = periodic batch compaction)
    * at the 8-bit default — correct up to bitsFor's 4096-vector
    * knee; beyond it use [[initAt]] so the maintained store matches
    * the width-law batch build. */
  val init: KnnGraphConfig = KnnGraphConfig()
  /** [[init]] at an explicit band width — REQUIRED past 4096 corpus
    * vectors, where `s14KnnGraph` builds at `Similarity.bitsFor(n)`
    * (r9 close): an 8-bit store would regenerate exactly the
    * group-quadratic buckets the width law removes, and the
    * formatTag stamp makes the width mismatch fail loudly rather
    * than silently diverge from the batch graph. */
  def initAt(bits: Int): KnnGraphConfig = KnnGraphConfig(bits = bits)
  /** s15's search-graph cadence at a given band width (wire it to
    * corpus size with `Similarity.bitsFor`). */
  def search(bits: Int): KnnGraphConfig =
    KnnGraphConfig(bits = bits, withinLabel = false, floor = None, k = 16)
}

/** CONTINUOUS k-NN graph maintenance — s14's graph kept current at
  * ingest time: each arriving micro-batch of vectors band-joins the
  * persisted store (StreamingEmbDedup's candidate cadence — cross +
  * intra-batch, exact cosines vs the persisted vector slices), and
  * the resulting edges update ONLY the affected vectors' neighbor
  * lists in a vec-hash-partitioned graph store via dynamic partition
  * overwrite (StreamingClusters' surgical-write rule: reading the
  * graph is one columnar scan, rewriting it wholesale per batch would
  * dwarf the batch). Run with [[KnnGraphConfig.search]] the same fold
  * maintains s15's cross-label navigable graph instead.
  *
  * The fold state is LOSSLESS at top-k: a pair's cosine is static,
  * and an edge already outside a vector's current top-k can never
  * re-enter — later edges only push it further down — so keeping only
  * the k best rows per vector loses nothing the final graph needs.
  * Replay safety: candidate probes read only id < N store slices (a
  * replayed batch never joins its first-attempt bands), and the list
  * merge dedups edges by (vec, nbr), so re-applying a batch — even
  * over a partially-written first attempt — converges to the same
  * graph.
  *
  * Spec: 3-wave fold ≡ one-shot s14 on the union (init cadence) and
  * ≡ one-shot searchGraph (search cadence); a small batch rewrites
  * few graph partitions (byte-level snapshot); replay idempotent;
  * format-marker mismatch fails loudly.
  */
object StreamingKnn {

  private def pbOf(c: Column, nb: Int): Column = pmod(xxhash64(c), lit(nb))

  /** Pre-config signature, kept for the init-cadence call sites. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storePath: String, graphPath: String, k: Int, nb: Int): Unit =
    processBatch(batch, batchId, storePath, graphPath,
      KnnGraphConfig(k = k, nb = nb))

  /** Fail-loud format gate: stamp the cadence tag on FIRST write,
    * verify it on every later batch. A store that already holds band
    * data but carries NO marker is a pre-marker (or foreign) store —
    * adopting it by stamping the current tag would silently join
    * legacy-format signatures against this cadence's, so that case
    * fails loudly too. */
  private[graft] def checkFormat(s: SparkSession, storePath: String,
      tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/_format")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bands = new org.apache.hadoop.fs.Path(s"$storePath/bands")
    def bandsEmpty =
      !fs.exists(bands) || fs.listStatus(bands).isEmpty
    // null = no marker; tolerant of a concurrent writer deleting the
    // marker between our exists() and open() (mid delete→rename swap)
    def readMarker(): String =
      if (!fs.exists(p)) null
      else try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => null }
    val existing = readMarker()
    if (existing != null && existing != tag) {
      // an EMPTY marker over an EMPTY store is a crashed first-write
      // (the pre-atomic stamp's failure mode): nothing was adopted
      // yet, so restamp instead of wedging every later batch
      require(existing.isEmpty && bandsEmpty,
        s"band store at $storePath was written as '$existing' but this " +
          s"cadence expects '$tag' — joining mixed-format signatures " +
          "would silently produce wrong candidates; rebuild the store")
    }
    if (existing == null || existing.isEmpty) {
      if (existing == null)
        require(bandsEmpty,
          s"band store at $storePath holds data but no _format marker " +
            "(written before format stamping, or by another tool) — " +
            "its signature format is unknown; rebuild the store")
      // atomic stamp: write to a temp name, then rename into place —
      // a crash mid-write can no longer leave a half-written marker
      // that wedges the store
      val tmp = new org.apache.hadoop.fs.Path(
        s"$storePath/._format.tmp-${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(tag.getBytes("UTF-8")) finally out.close()
      fs.delete(p, false)
      // landing loop: a lost rename race against a concurrent
      // initializer that stamped the SAME tag proceeds (the store is
      // fine either way); a momentarily-absent marker means the other
      // writer is mid delete→rename swap — retry, don't abort the
      // batch. Only a genuinely DIFFERENT landed tag is an error.
      var landedOk = false
      var attempts = 0
      while (!landedOk) {
        attempts += 1
        if (fs.rename(tmp, p)) landedOk = true
        else {
          val landed = readMarker()
          if (landed == tag) { fs.delete(tmp, false); landedOk = true }
          else if (landed != null && landed.nonEmpty) {
            fs.delete(tmp, false)
            require(false,
              s"could not land the _format marker at $p (concurrent " +
                s"writer stamped '$landed', this cadence expects '$tag')")
          } else if (attempts >= 1000) {
            fs.delete(tmp, false)
            require(false,
              s"could not land the _format marker at $p after " +
                s"$attempts attempts (marker flapping)")
          } else if (landed == null && fs.exists(tmp)) {
            // marker momentarily absent: retry the rename
          } else {
            // empty landed marker (another writer's crashed
            // first-write): remove it and retry
            fs.delete(p, false)
          }
        }
      }
    }
  }

  /** One micro-batch: candidates vs the store, then a surgical graph
    * update. `batch` needs (vec_id, label, embedding). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storePath: String, graphPath: String, cfg: KnnGraphConfig)
      : Unit = {
    val s = batch.sparkSession
    checkFormat(s, storePath, cfg.formatTag)
    // r8: the maintained graph uses s14's SELECTIVE banding
    // (Similarity.sparseBands) — the d5 3-bit refinement bands admit
    // every same-label pair as a candidate (the measured 30×
    // quadratic), which at ingest would make every batch's store join
    // corpus-sized. r9: width/confinement/floor come from the config,
    // so the same cadence maintains s15's cross-label search graph.
    val bands = graft.similarity.Similarity.sparseBands(batch, cfg.bits)
      .localCheckpoint(true)
    val vecs = Dedup.embVecs(batch).localCheckpoint(true)
    val bandDirs = StoreFs.priorBatchDirs(s, s"$storePath/bands", batchId)
    val storeBands = if (bandDirs.isEmpty) bands.limit(0)
      else s.read.parquet(bandDirs: _*)
    def bandCond(extra: Column): Column = {
      val base = col("a.band") === col("b.band") &&
        col("a.sig") === col("b.sig") && extra
      if (cfg.withinLabel) col("a.label") === col("b.label") && base
      else base
    }
    val cross = bands.as("a").join(storeBands.as("b"), bandCond(lit(true)))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("id1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id2"))
    val intra = bands.as("a").join(bands.as("b"),
        bandCond(col("a.vec_id") < col("b.vec_id")))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
    val cand = cross.union(intra).distinct()
    val vecDirs = StoreFs.priorBatchDirs(s, s"$storePath/vecs", batchId)
    val allVecs = if (vecDirs.isEmpty) vecs
      else vecs.unionByName(s.read.parquet(vecDirs: _*))
    val scored = Dedup.scoredCosine(cand, allVecs)
    val newPairs = cfg.floor.map(f => scored.filter(col("cos") >= f))
      .getOrElse(scored)
    // symmetric edges; exactly these vectors' lists can change
    val newEdges = newPairs
      .select(col("id1").as("vec_id"), col("id2").as("nbr"), col("cos"))
      .union(newPairs
        .select(col("id2").as("vec_id"), col("id1").as("nbr"), col("cos")))
      .localCheckpoint(true) // consumers: touched-pb probe + the merge
    val affected = newEdges.select("vec_id").distinct()
    val touchedPbs = affected.select(pbOf(col("vec_id"), cfg.nb).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (touchedPbs.nonEmpty) {
      // Prune on the STORED partition column, not a recomputed
      // pbOf(vec_id): filtering on `pb` reaches the parquet source as
      // partition pruning, so the scan (and the checkpoint behind it)
      // touches only the affected directories — a 2-of-64-partition
      // batch reads 2 directories, not the whole graph.
      val inPb = (if (StoreFs.exists(s, graphPath))
        s.read.parquet(graphPath)
          .filter(col("pb").isin(ArraySeq.unsafeWrapArray(touchedPbs): _*))
          .select("vec_id", "rk", "nbr", "cos").localCheckpoint(true)
      else newEdges.limit(0)
        .select(col("vec_id"), lit(0L).as("rk"), col("nbr"), col("cos")))
      // unchanged vectors in the touched partitions survive verbatim
      val keep = inPb.join(affected, Seq("vec_id"), "left_anti")
      // affected vectors: old list rows ∪ new edges, dedup by
      // neighbor (cosines are static — replayed edges collapse),
      // re-ranked top-k
      val fresh = inPb.join(affected, Seq("vec_id"), "left_semi")
        .select("vec_id", "nbr", "cos")
        .union(newEdges)
        .groupBy("vec_id", "nbr").agg(max("cos").as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id")
            .orderBy(col("cos").desc, col("nbr").asc)).cast("long"))
        .filter(col("rk") <= cfg.k)
        .select("vec_id", "rk", "nbr", "cos")
      keep.union(fresh)
        .withColumn("pb", pbOf(col("vec_id"), cfg.nb))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb").parquet(graphPath)
      // (a vector's list never empties — top-k changes content, the
      // vector stays — so no emptied-partition cleanup is needed)
    }
    bands.write.mode(SaveMode.Overwrite)
      .parquet(s"$storePath/bands/batch_$batchId")
    vecs.write.mode(SaveMode.Overwrite)
      .parquet(s"$storePath/vecs/batch_$batchId")
  }

  /** Streaming query: `embs` must have (vec_id, label, embedding). */
  def run(embs: DataFrame, storePath: String, graphPath: String,
      k: Int = 5, nb: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    embs.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      processBatch(b.toDF(), id, storePath, graphPath, k, nb)
    }
}
