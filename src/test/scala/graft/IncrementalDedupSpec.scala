package graft

import graft.dedup.Dedup
import graft.sources.Bucketed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** D9 incremental dedup: the persisted-sketch-store path (the 100 TB
  * cadence — corpus sketched once at ingest, batches join the store)
  * must return the same frame as the inline query form, with no
  * exchange on the store side of the band join; and its matches must
  * agree with d2's full self-join restricted to batch-vs-corpus
  * pairs. */
class IncrementalDedupSpec extends AnyFunSuite {
  import SparkTest._

  private def docs = Tables.documents(spark, sf)
  private def isBatch = col("doc_id") % 10 === 0

  test("persisted bucketed band store reproduces the inline result") {
    val store = Dedup.mhBands(docs.filter(!isBatch))
    Bucketed.write(store, "mh_band_store", "bkey", 8)
    // the store path threads the SAME full-count width as the
    // registered inline form (r12) — x = 0 at spec scale, but the
    // identity must hold by construction at any scale
    val x = Dedup.extraRowsFor(
      docs.filter(col("text").isNotNull).count())
    val viaStore = Dedup.incrementalMatch(
      Dedup.mhBands(docs.filter(isBatch)),
      Bucketed.read(spark, "mh_band_store"),
      docs.filter(isBatch).select("doc_id"), x)
    val inline = Dedup.d9IncrementalDedup(spark, sf)
    assert(viaStore.exceptAll(inline).isEmpty &&
      inline.exceptAll(viaStore).isEmpty)
    assert(inline.count() > 0)
  }

  test("store side of the band join plans NO exchange (bucket-join)") {
    GraftSession.scoped(spark, noBroadcast: _*) { c =>
      val fromStore = Bucketed.read(c, "mh_band_store")
      val j = Dedup.mhBands(Tables.documents(c, sf).filter(isBatch)).as("n")
        .join(fromStore.as("c"),
          col("n.bkey") === col("c.bkey") &&
            col("n.band") === col("c.band") && col("n.bh") === col("c.bh"))
        .select(col("n.doc_id"), col("c.doc_id").as("match_id"))
      j.queryExecution.executedPlan.execute().count()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly one shuffle: the arriving batch re-partitions to the
      // store's bucketing; the store itself reads co-located
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"store side shuffled:\n$plan")
    }
  }

  test("d13 incremental: frozen-df containment store waves ≡ the " +
      "one-shot pair set on the union") {
    val t = 0.9
    val store = docs.filter(col("doc_id") % 3 =!= 2)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val (dfDict, postings, sets) = Dedup.containmentStore(store)
    Bucketed.write(postings, "cont_postings", "k", 8)
    val dfd = dfDict.localCheckpoint(true)
    val ssets = sets.localCheckpoint(true)
    val inc = Dedup.containmentIncrement(ssets,
      Bucketed.read(spark, "cont_postings"), dfd, batch, t)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "containment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val accumulated = pairSet(Dedup.containmentPairs(store, t)) ++
      pairSet(inc)
    val oneShot = pairSet(Dedup.containmentPairs(docs, t))
    assert(accumulated == oneShot,
      s"missed ${(oneShot -- accumulated).size} / " +
        s"extra ${(accumulated -- oneShot).size}")
    assert(pairSet(inc).nonEmpty, "fixture produced no cross/intra pairs")
  }

  test("d13 incremental: store side of the postings probe plans NO " +
      "exchange (bucket-join)") {
    GraftSession.scoped(spark, noBroadcast: _*) { c =>
      val docs = Tables.documents(c, sf)
      val batch = docs.filter(col("doc_id") % 3 === 2)
      val (dfDict, storePostings, _) = Dedup.containmentStore(
        docs.filter(col("doc_id") % 3 =!= 2))
      // self-sufficient: write the store here (a -z filtered run must
      // not depend on the waves test having built it first)
      Bucketed.write(storePostings, "cont_postings_plan", "k", 8)
      val dfd = dfDict.localCheckpoint(true)
      val keyed = Dedup.containmentKeyed(
        batch.filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            explode(array_distinct(split(col("text"), " "))).as("tok")),
        dfd)
      // checkpoint the batch prefix so the asserted plan is ONLY the
      // probe join (the batch's own keying/sets aggregation shuffles
      // are batch-sized and not what this test pins)
      val bpre = Dedup.containmentPrefix(
        Dedup.containmentSets(keyed), 0.9).localCheckpoint(true)
      val j = bpre.as("p")
        .join(Bucketed.read(c, "cont_postings_plan").as("q"),
          col("p.k") === col("q.k") &&
            col("p.source") === col("q.source") &&
            col("p.doc_id") =!= col("q.doc_id"))
        .select(col("p.doc_id"), col("q.doc_id").as("container_id"))
      j.queryExecution.executedPlan.execute().count()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly one shuffle: the batch prefix re-partitions to the
      // store's bucketing; the store postings read co-located
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"store side shuffled:\n$plan")
    }
  }

  test("streaming incremental dedup ≡ the sequential batch cadence") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_sdedup").toString
    val (storePath, matchRoot) = (s"$root/store", s"$root/matches")
    // three arrival waves of the real corpus, split by doc_id mod 3
    val waves = (0 to 2).map(i =>
      docs.filter(col("doc_id") % 3 === i)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq)
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
        ms.toDF().toDF("doc_id", "text"), storePath, matchRoot)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    waves.foreach { w => ms.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$matchRoot/batch_*")
      .select("doc_id", "match_id", "jaccard_est").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch-mode fold: wave i matches against the union of waves 0..i-1
    val expected = (1 to 2).flatMap { i =>
      val prior = (0 until i).map(j => docs.filter(col("doc_id") % 3 === j))
        .reduce(_ unionAll _)
      val wave = docs.filter(col("doc_id") % 3 === i)
      Dedup.incrementalMatch(Dedup.mhBands(wave), Dedup.mhBands(prior),
          wave.select("doc_id"))
        .filter(col("is_dup"))
        .select("doc_id", "match_id", "jaccard_est").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty, "fixture produced no cross-wave dups")
  }

  test("streaming width law (ADVICE r12 #4): the cadence widens from " +
      "the ACCUMULATED corpus — extraRowsFor(store docs + batch docs) " +
      "from metadata-cheap band-row counts, 0 below the 8192-doc " +
      "threshold and 1 past it, so a maintained store never diverges " +
      "from the batch forms' width") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_accwidth").toString
    def bandsOf(lo: Long, hi: Long) = Dedup.mhBands(
      spark.range(lo, hi).select(col("id").as("doc_id"),
        concat(lit("tok "), col("id") % 997, lit(" payload body "),
          col("id")).as("text")))
    bandsOf(0, 8000).write.parquet(s"$root/batch_0")
    bandsOf(8000, 8400).write.parquet(s"$root/batch_1")
    val dirs = graft.streaming.StoreFs.priorBatchDirs(spark, root, 2)
    assert(dirs.size == 2)
    val batch = bandsOf(8400, 8700).localCheckpoint(true)
    // past the threshold: 8700 accumulated docs → width 1
    assert(Dedup.accExtraRows(spark, dirs, batch)
      == Dedup.extraRowsFor(8700))
    assert(Dedup.extraRowsFor(8700) == 1)
    // below it (store = one 400-doc slice): width 0 — the regime the
    // wave ≡ batch identity specs run in
    assert(Dedup.accExtraRows(spark,
      dirs.filter(_.endsWith("batch_1")), batch) == 0)
    // empty store: the batch alone decides
    assert(Dedup.accExtraRows(spark, Nil, batch) == 0)
  }

  test("replayed micro-batch is idempotent: no self-matches, same output") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sdedup_replay").toString
    val (storePath, matchRoot) = (s"$root/store", s"$root/matches")
    val b0 = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text")
    graft.streaming.StreamingDedup.processBatch(b0, 0, storePath, matchRoot)
    graft.streaming.StreamingDedup.processBatch(b1, 1, storePath, matchRoot)
    def readAll() = spark.read.parquet(s"$matchRoot/batch_*")
      .select("doc_id", "match_id", "jaccard_est").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val first = readAll()
    // at-least-once replay of batch 1: its own first-attempt store
    // slice exists on disk, but the match must not see it
    graft.streaming.StreamingDedup.processBatch(b1, 1, storePath, matchRoot)
    val replayed = readAll()
    assert(replayed == first, "replay changed the match output")
    assert(!replayed.exists(m => m._1 == m._2), "self-match leaked in")
    // store still holds exactly one slice per batch
    assert(graft.streaming.StoreFs
      .priorBatchDirs(spark, storePath, Long.MaxValue).size == 2)
    assert(first.nonEmpty, "fixture produced no cross-batch dups")
  }

  test("d11 production cadence: persisted band store + cluster map fold " +
      "reproduces the inline result") {
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    // persist both stores the way an ingest pipeline would: bucketed
    // band sketches (the d9 store) and the doc->cluster map
    Bucketed.write(Dedup.mhBands(corpus), "d11_band_store", "bkey", 8)
    val mapDir = java.nio.file.Files
      .createTempDirectory("graft_d11_map").toString
    val corpusPairs = Dedup.minhashPairs(corpus)
      .select(col("id1").as("src"), col("id2").as("dst"))
    corpus.select("doc_id")
      .join(Dedup.connectedComponentsStars(corpusPairs)
        .select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .write.mode("overwrite").parquet(mapDir)
    // the batch folds in reading ONLY the two stores + its own text
    val bb = Dedup.mhBands(batch)
    val edges = Dedup.incrementalEdges(bb, Bucketed.read(spark, "d11_band_store"))
      .union(Dedup.minhashPairs(batch)
        .select(col("id1").as("src"), col("id2").as("dst")))
    val folded = Dedup.mergeClusters(spark.read.parquet(mapDir), edges,
        batch.select("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.d11ClusterMaintain(spark, sf)
      .select("doc_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == inline)
    assert(folded.nonEmpty)
  }

  test("d11: three incremental waves fold to the one-shot cluster map") {
    // arrival waves by doc_id % 3; after the last fold the maintained
    // map must equal exact components over the FULL corpus — no merge
    // lost across wave boundaries (incl. clusters bridged by a later
    // wave's doc)
    def wave(i: Int) = docs.filter(col("doc_id") % 3 === i)
      .select("doc_id", "text")
    def mapOver(d: org.apache.spark.sql.DataFrame,
        lbl: org.apache.spark.sql.DataFrame) =
      d.select("doc_id")
        .join(lbl.select(col("id").as("doc_id"), col("lbl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster"))
    var map = mapOver(wave(0),
      Dedup.connectedComponentsStars(
        Dedup.minhashPairs(wave(0))
          .select(col("id1").as("src"), col("id2").as("dst"))))
    for (i <- 1 to 2) {
      val prior = (0 until i).map(wave).reduce(_ unionAll _)
      val edges = Dedup.incrementalEdges(
          Dedup.mhBands(wave(i)), Dedup.mhBands(prior))
        .union(Dedup.minhashPairs(wave(i))
          .select(col("id1").as("src"), col("id2").as("dst")))
      map = Dedup.mergeClusters(map, edges, wave(i).select("doc_id"))
        .localCheckpoint(true)
    }
    val folded = map.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = mapOver(docs,
      Dedup.connectedComponentsStars(
        Dedup.minhashPairs(docs.select("doc_id", "text"))
          .select(col("id1").as("src"), col("id2").as("dst"))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == oneShot)
    // the fixture must actually exercise a cross-wave merge: some
    // cluster must span docs from different waves
    val spanning = folded.groupBy(_._2).values
      .exists(g => g.map(_._1 % 3).toSet.size > 1)
    assert(spanning, "no cluster spans waves — fixture too weak")
  }

  test("streaming cluster maintenance: fold ≡ one-shot, small batch " +
      "rewrites few map partitions, replay converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sclusters").toString
    val nb = 64
    val big = docs.filter(col("doc_id") % 30 =!= 2).select("doc_id", "text")
    val small = docs.filter(col("doc_id") % 30 === 2).select("doc_id", "text")
    graft.streaming.StreamingClusters.processBatch(big, 0, root, nb)
    def snap(): Map[String, Seq[(String, Long)]] = {
      val mapDir = new java.io.File(s"$root/map")
      mapDir.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("pb=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sorted
      }.toMap
    }
    val before = snap()
    graft.streaming.StreamingClusters.processBatch(small, 1, root, nb)
    val after = snap()
    val unchanged = before.keys.filter(k => after.get(k).contains(before(k)))
    assert(unchanged.size * 2 >= before.size,
      s"a ~3% batch rewrote ${before.size - unchanged.size} of " +
        s"${before.size} map partitions — not surgical")
    def readMap() = spark.read.parquet(s"$root/map")
      .select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = readMap()
    val oneShot = {
      val lbl = Dedup.connectedComponentsStars(
        Dedup.minhashPairs(docs.select("doc_id", "text"))
          .select(col("id1").as("src"), col("id2").as("dst")))
      docs.select("doc_id")
        .join(lbl.select(col("id").as("doc_id"), col("lbl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == oneShot)
    // at-least-once replay of the small batch over the updated map
    graft.streaming.StreamingClusters.processBatch(small, 1, root, nb)
    assert(readMap() == oneShot, "replay diverged from the merged map")
  }

  test("d9 matches agree with d2's self-join restricted to mixed pairs") {
    val d2 = SparkEntry.queries("d2_minhash_lsh")(spark, sf)
      .filter((col("id1") % 10 === 0) =!= (col("id2") % 10 === 0))
      .select(
        when(col("id1") % 10 === 0, col("id1")).otherwise(col("id2"))
          .as("doc_id"),
        when(col("id1") % 10 === 0, col("id2")).otherwise(col("id1"))
          .as("match_id"),
        col("jaccard_est"))
    val expected = d2
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("jaccard_est").desc, col("match_id").asc)))
      .filter(col("rk") === 1).drop("rk")
    val got = Dedup.d9IncrementalDedup(spark, sf)
      .filter(col("is_dup")).drop("is_dup")
    assert(got.exceptAll(expected).isEmpty &&
      expected.exceptAll(got).isEmpty)
  }

  test("d16 bloom-prefiltered store match equals the plain join; " +
      "definitely-new rows are pruned before the join") {
    import graft.functions.{TextFunctions => T}
    val m = 1 << 16
    val hashes = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        T.md5Lo64(col("text")).bitwiseAND(lit(2147483647L)).as("hh"))
    val store = hashes.filter(!isBatch)
      .withColumnRenamed("doc_id", "store_id")
    // the batch re-ingests five store documents under new ids (the
    // duplicate-arrival case the store lookup exists for) alongside
    // the genuinely-new corpus slice
    val planted = store.orderBy("store_id").limit(5)
      .select((col("store_id") + 1000000L).as("doc_id"), col("hh"))
    val batch = hashes.filter(isBatch).unionByName(planted)
    val got = Dedup.bloomStoreMatch(batch, store, m)
      .select("hh", "doc_id", "store_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = batch.join(store, Seq("hh"))
      .select("hh", "doc_id", "store_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == plain, "bloom prefilter changed the match set")
    assert(got.nonEmpty, "fixture carries no exact cross-split dup")
    // the pure-map probe prunes genuinely-new rows BEFORE the join
    // (no false negatives: every matched row stays maybe)
    val bits = Dedup.bloomBits(store, m)
    val verdicts = Dedup.bloomMaybe(batch, bits, m).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val matchedIds = plain.map(_._2)
    matchedIds.foreach(id => assert(verdicts(id),
      s"false negative: matched doc $id pruned"))
    val pruned = verdicts.count(!_._2)
    assert(pruned > 0, "a mostly-new batch should prune some rows")
    assert(pruned + verdicts.values.count(identity) == verdicts.size)
  }

  test("x3's cross half (incrementalPairs) ≡ the full self-join " +
      "restricted to mixed pairs — d2's verified-pair contract on " +
      "the batch↔store join, at every forced width") {
    val full = docs.select("doc_id", "source", "text")
    val bb = Dedup.mhBands(docs.filter(isBatch))
    val cb = Dedup.mhBands(docs.filter(!isBatch))
    (0 to 4).foreach { x =>
      val got = Dedup.incrementalPairs(bb, cb, x).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mirror = Dedup.minhashPairs(full, extraRows = x)
        .filter((col("id1") % 10 === 0) =!= (col("id2") % 10 === 0))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == mirror,
        s"cross pairs diverge from the self-join restriction at x=$x")
    }
    assert(Dedup.incrementalPairs(bb, cb).count() > 0,
      "fixture carries no cross pairs")
  }

  test("d9/d11 width law (r12): the widened batch↔store joins mirror " +
      "the widened full self-join at every forced width — the oracle's " +
      "widened band CTE — and widening only prunes") {
    val full = docs.select("doc_id", "source", "text")
    val bb = Dedup.mhBands(docs.filter(isBatch)).localCheckpoint(true)
    val cb = Dedup.mhBands(docs.filter(!isBatch)).localCheckpoint(true)
    def edgesAt(x: Int) = Dedup.incrementalEdges(bb, cb, x).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    def mixedAt(x: Int) = Dedup.minhashPairs(full, extraRows = x)
      .filter((col("id1") % 10 === 0) =!= (col("id2") % 10 === 0))
    val e0 = edgesAt(0)
    assert(e0.nonEmpty, "fixture carries no cross pairs")
    (0 to 4).foreach { x =>
      val e = edgesAt(x)
      val m = mixedAt(x).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(e == m,
        s"widened cross edges diverge from the widened self-join at x=$x")
      assert(e.subsetOf(e0), s"widening ADDED an edge at x=$x")
    }
    // incrementalMatch at width x ≡ best-match over the widened mixed
    // pairs (jac desc, match_id asc — the d9 oracle's ranking)
    val ids = docs.filter(isBatch).select("doc_id")
    (0 to 4).foreach { x =>
      val got = Dedup.incrementalMatch(bb, cb, ids, x).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      val hits = mixedAt(x).select(
          when(col("id1") % 10 === 0, col("id1")).otherwise(col("id2"))
            .as("doc_id"),
          when(col("id1") % 10 === 0, col("id2")).otherwise(col("id1"))
            .as("match_id"),
          col("jaccard_est"))
      val best = hits.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id")
            .orderBy(col("jaccard_est").desc, col("match_id").asc)))
        .filter(col("rk") === 1)
      val expect = ids.join(best, Seq("doc_id"), "left").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(got == expect,
        s"widened incrementalMatch diverges from the widened mirror at x=$x")
    }
  }
}
