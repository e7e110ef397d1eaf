package graft

import graft.streaming.StreamingKnn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous kNN-graph maintenance: the 3-wave fold must equal the
  * one-shot s14 INIT graph on everything ingested (the banded
  * candidate top-k StreamingKnn's cadence generates; s14's descent
  * rounds are a periodic batch compaction over the maintained store,
  * not per-ingest work), a small batch must
  * rewrite only the graph partitions it touches, and a replayed batch
  * must converge to the same graph. */
class StreamingKnnSpec extends AnyFunSuite {
  import SparkTest._

  private val nb = 64

  private def readGraph(path: String)
      : Set[(Long, Long, Long, Double)] =
    spark.read.parquet(path).select("vec_id", "rk", "nbr", "cos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet

  test("3-wave streamed kNN graph ≡ one-shot s14; small batch is " +
      "surgical; replay idempotent") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn").toString
    val (store, graph) = (s"$root/store", s"$root/graph")
    val emb = Tables.embeddings(spark, sf)
    // two big waves, then a small third (~3%) for the surgical check
    val w0 = emb.filter(col("vec_id") % 2 === 0 &&
      col("vec_id") % 30 =!= 2)
    val w1 = emb.filter(col("vec_id") % 2 === 1 &&
      col("vec_id") % 30 =!= 2)
    val w2 = emb.filter(col("vec_id") % 30 === 2)
    StreamingKnn.processBatch(w0.toDF(), 0, store, graph, 5, nb)
    StreamingKnn.processBatch(w1.toDF(), 1, store, graph, 5, nb)
    def snap(): Map[String, Seq[(String, Long)]] = {
      val dir = new java.io.File(graph)
      dir.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("pb=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sorted
      }.toMap
    }
    val before = snap()
    StreamingKnn.processBatch(w2.toDF(), 2, store, graph, 5, nb)
    val after = snap()
    val unchanged = before.keys.filter(p => after.get(p).contains(before(p)))
    assert(unchanged.size * 2 >= before.size,
      s"a ~3% batch rewrote ${before.size - unchanged.size} of " +
        s"${before.size} graph partitions — not surgical")

    // the maintained graph equals the one-shot s14 INIT graph
    val expected = similarity.Similarity.s14InitGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val got = readGraph(graph)
    assert(got == expected,
      s"missing ${(expected -- got).size} / extra ${(got -- expected).size}")
    assert(got.nonEmpty)
    // the small wave genuinely contributed edges (fixture strength)
    assert(got.exists(e => e._1 % 30 == 2 || e._3 % 30 == 2),
      "wave-2 vectors never entered the graph — fixture too weak")

    // at-least-once replay of the last batch converges
    StreamingKnn.processBatch(w2.toDF(), 2, store, graph, 5, nb)
    assert(readGraph(graph) == expected, "replay diverged")
  }

  test("cross-label unfloored cadence maintains s15's SEARCH graph: " +
      "3-wave fold ≡ one-shot searchGraph; a mismatched-format store " +
      "fails loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn_s15").toString
    val (store, graph) = (s"$root/store", s"$root/graph")
    val cfg = graft.streaming.KnnGraphConfig.search(bits = 8)
    // the search graph's corpus (vec_id >= 10 — queries excluded)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") >= 10)
    val w0 = emb.filter(col("vec_id") % 3 === 0)
    val w1 = emb.filter(col("vec_id") % 3 === 1)
    val w2 = emb.filter(col("vec_id") % 3 === 2)
    StreamingKnn.processBatch(w0.toDF(), 0, store, graph, cfg)
    StreamingKnn.processBatch(w1.toDF(), 1, store, graph, cfg)
    StreamingKnn.processBatch(w2.toDF(), 2, store, graph, cfg)
    // bits=8 is what bitsFor picks at this corpus size — the
    // maintained store IS the one-shot navigable graph s15 walks
    assert(similarity.Similarity.bitsFor(emb.count()) == 8)
    val expected = similarity.Similarity.searchGraph(spark, sf, 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val got = readGraph(graph)
    assert(got == expected,
      s"missing ${(expected -- got).size} / extra ${(got -- expected).size}")
    assert(got.nonEmpty)
    // cross-label edges exist (the property s14's init graph lacks)
    val labelOf = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.exists(e => labelOf(e._1) != labelOf(e._3)),
      "no cross-label edge — this is not the navigable search graph")

    // the production shape end-to-end: s15's walk over THIS
    // maintained store answers identically to the registered
    // inline-build s15
    val walkStored = similarity.Similarity
      .s15GraphSearchStored(spark, sf, graph).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val walkInline = similarity.Similarity.s15GraphSearch(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(walkStored == walkInline,
      "walk over the maintained store diverged from the inline build")

    // ADVICE r8: a store stamped with one cadence refuses another —
    // mixed-format sigs would silently produce wrong candidates
    val bad = intercept[IllegalArgumentException] {
      StreamingKnn.processBatch(w2.toDF(), 3, store, graph,
        graft.streaming.KnnGraphConfig.init)
    }
    assert(bad.getMessage.contains("rebuild"),
      s"format mismatch not loud: ${bad.getMessage}")

    // a PRE-MARKER store (band data, no _format file) must refuse
    // adoption too — stamping it would join unknown-format sigs
    val legacyRoot = java.nio.file.Files
      .createTempDirectory("graft_sknn_legacy").toString
    val legacyStore = s"$legacyRoot/store"
    spark.range(1).toDF("x")
      .write.parquet(s"$legacyStore/bands/batch_0")
    val legacy = intercept[IllegalArgumentException] {
      StreamingKnn.processBatch(w2.toDF(), 1, legacyStore,
        s"$legacyRoot/graph", cfg)
    }
    assert(legacy.getMessage.contains("no _format marker"),
      s"unstamped store adopted silently: ${legacy.getMessage}")

    // ADVICE r9: an EMPTY marker over an EMPTY store is the crashed
    // first-write (pre-atomic stamp) — it must restamp and proceed,
    // not wedge every later batch
    val crashRoot = java.nio.file.Files
      .createTempDirectory("graft_sknn_crash").toString
    val crashStore = s"$crashRoot/store"
    new java.io.File(crashStore).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$crashStore/_format"), "")
    StreamingKnn.processBatch(w2.toDF(), 0, crashStore,
      s"$crashRoot/graph", cfg)
    val restamped = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$crashStore/_format"))
    assert(restamped.nonEmpty,
      "empty crash marker not restamped on an empty store")
    // but an empty marker over a store WITH data stays a loud refusal
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$legacyStore/_format"), "")
    val badCrash = intercept[IllegalArgumentException] {
      StreamingKnn.processBatch(w2.toDF(), 1, legacyStore,
        s"$legacyRoot/graph2", graft.streaming.KnnGraphConfig.init)
    }
    assert(badCrash.getMessage.contains("rebuild"),
      s"empty marker over non-empty store adopted: ${badCrash.getMessage}")
  }

  test("ADVICE r10: concurrent first-writers stamping the SAME tag " +
      "all succeed — a lost rename race against an identical landed " +
      "marker proceeds instead of aborting the batch") {
    val tag = "race-tag-v1"
    (1 to 30).foreach { i =>
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_sknn_race$i").toString
      val threads = (1 to 8).map { _ =>
        new Thread(() =>
          StreamingKnn.checkFormat(spark, store, tag))
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      threads.foreach(_.setUncaughtExceptionHandler((_, e) => errs.add(e)))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty,
        s"concurrent same-tag stamp failed: ${Option(errs.peek())}")
      val landed = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$store/_format"))
      assert(landed == tag, s"marker corrupted: '$landed'")
      // losers must clean up their temp markers
      val strays = new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("._format.tmp-"))
      assert(strays.isEmpty,
        s"stray temp markers left behind: ${strays.map(_.getName).toSeq}")
    }
    // and a DIFFERENT landed tag still refuses loudly
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_sknn_race_bad").toString
    StreamingKnn.checkFormat(spark, store2, "tag-a")
    val bad2 = intercept[IllegalArgumentException] {
      StreamingKnn.checkFormat(spark, store2, "tag-b")
    }
    assert(bad2.getMessage.contains("rebuild"))
  }

  test("s16's upper layer is a maintained store: 3-wave fold of the " +
      "level≥1 members under the search cadence at bitsSmall width " +
      "≡ the one-shot layer-1 graph") {
    import graft.similarity.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn_l1").toString
    val (store, graph) = (s"$root/store", s"$root/graph")
    val members = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 10)
      .filter(Similarity.levelOf(col("vec_id")) >= 1)
    val n1 = members.count()
    val bits = Similarity.bitsSmall(n1)
    assert(bits < 8, s"fixture too big — wanted a sub-8-bit layer, got $bits")
    val cfg = graft.streaming.KnnGraphConfig(bits = bits,
      withinLabel = false, floor = None, k = 8)
    val w = (0 until 3).map(i => members.filter(col("vec_id") % 3 === i))
    w.zipWithIndex.foreach { case (wave, i) =>
      StreamingKnn.processBatch(wave.toDF(), i, store, graph, cfg)
    }
    val expected = Similarity.knnFromPairs(
        graft.dedup.Dedup.scoredCosine(
          Similarity.sparseBandPairs(
            Similarity.sparseBands(members, bits), withinLabel = false),
          graft.dedup.Dedup.embVecs(members)), 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val got = readGraph(graph)
    assert(got == expected,
      s"missing ${(expected -- got).size} / extra ${(got -- expected).size}")
    assert(got.nonEmpty)
  }

  test("s16 END-TO-END on maintained stores: all four layer graphs " +
      "folded through the search cadence, the stored walk ≡ the " +
      "inline-build s16") {
    import graft.similarity.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn_s16").toString
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") >= 10)
    val n = emb.count()
    // layer 0: the s15 search graph (k=16 at bitsFor width)
    val cfg0 = graft.streaming.KnnGraphConfig(
      bits = Similarity.bitsFor(n), withinLabel = false,
      floor = None, k = 16)
    StreamingKnn.processBatch(emb.toDF(), 0, s"$root/s0", s"$root/g0",
      cfg0)
    // layers 1..3: level-filtered feeds at bitsSmall widths, k=8
    val upperPaths = (1 to 3).map { l =>
      val members = emb.filter(Similarity.levelOf(col("vec_id")) >= l)
      val cfg = graft.streaming.KnnGraphConfig(
        bits = Similarity.bitsSmall(members.count()),
        withinLabel = false, floor = None, k = 8)
      StreamingKnn.processBatch(members.toDF(), 0, s"$root/s$l",
        s"$root/g$l", cfg)
      s"$root/g$l"
    }
    val stored = Similarity
      .s16HnswStored(spark, sf, s"$root/g0", upperPaths).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val inline = Similarity.s16Hnsw(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(stored == inline,
      "s16 walk over maintained stores diverged from the inline build")
    assert(stored.nonEmpty)
    // the PERSISTED atlas: refresh it from the layer-0 store (the
    // fold-cadence call) and walk with it — no corpus-sized
    // computation left in the stored walk, answers still identical
    Similarity.s16WriteAtlas(spark, sf, s"$root/g0", s"$root/atlas")
    val storedAtlas = Similarity
      .s16HnswStored(spark, sf, s"$root/g0", upperPaths,
        atlasPath = Some(s"$root/atlas")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(storedAtlas == inline,
      "s16 walk over the persisted atlas diverged from the inline build")
  }

  test("registered s16_hnsw IS the stored walk: build-if-absent " +
      "stores + persisted atlas answer identically to the inline " +
      "build, and a second invocation reuses the stores") {
    import graft.similarity.Similarity
    val (g0P, upperPs, atlasP) = Similarity.s16EnsureStores(spark, sf)
    val marker = new java.io.File(
      new java.io.File(g0P).getParentFile, "_built")
    assert(marker.exists(), "store build left no completion marker")
    val stamp = marker.lastModified()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val reg = rows(SparkEntry.queries("s16_hnsw")(spark, sf))
    val inline = rows(Similarity.s16Hnsw(spark, sf))
    assert(reg == inline,
      "registered stored walk diverged from the inline build")
    assert(reg.nonEmpty)
    // reuse: same paths back, no rebuild landed over the marker
    val again = Similarity.s16EnsureStores(spark, sf)
    assert(again == ((g0P, upperPs, atlasP)))
    assert(marker.lastModified() == stamp,
      "second invocation rebuilt the persisted stores")
  }

  test("registered s15_graph_search IS the stored walk over the " +
      "SHARED ensure-store root (one maintained graph family, two " +
      "walk tiers): identical to the inline build") {
    import graft.similarity.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val reg = rows(SparkEntry.queries("s15_graph_search")(spark, sf))
    val inline = rows(Similarity.s15GraphSearch(spark, sf))
    assert(reg == inline,
      "registered stored s15 walk diverged from the inline build")
    assert(reg.nonEmpty)
  }

  test("the s15 and s16 walks leave the session's AQE and shuffle-" +
      "partition settings as they found them (each round's state " +
      "checkpoint runs with AQE off and 8 partitions, then restores)") {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions")
    def settings = keys.map(k => k -> spark.conf.get(k)).toMap
    val before = settings
    for (q <- Seq("s15_graph_search", "s16_hnsw")) {
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty)
      assert(settings == before, s"$q changed the session's settings")
    }
  }

  test("s16WriteAtlas threads the level cap: a levels=4 deployment's " +
      "persisted atlas + stores walk identically to the inline " +
      "levels=4 build (atlas entry ordering depends on the cap)") {
    import graft.similarity.Similarity
    val (g0P, upperPs, atlasP) =
      Similarity.s16EnsureStores(spark, sf, levels = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val stored = rows(Similarity.s16HnswStored(spark, sf, g0P, upperPs,
      atlasPath = Some(atlasP)))
    val inline = rows(Similarity.s16Hnsw(spark, sf, levels = 4))
    assert(stored == inline,
      "levels=4 stored walk diverged — atlas level cap not threaded")
  }

  test("r11: s18's per-predicate shard is MAINTAINABLE by the same " +
      "search cadence on the filtered feed — 3-wave fold ≡ the " +
      "ensure-built shard, and the stored walk over the maintained " +
      "shard ≡ the registered s18") {
    import graft.similarity.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn_s18").toString
    val (store, graph) = (s"$root/store", s"$root/graph")
    // r12: the cadence is the NAMED entry point (s18RefreshWave, the
    // s16RefreshWave analogue) and waves arrive RAW — the predicate
    // applies at ingest inside the callable, so rows outside the
    // shard's label set must never enter its band store
    (0 until 3).foreach { w =>
      Similarity.s18RefreshWave(spark, sf,
        Tables.embeddings(spark, sf).filter(col("vec_id") % 3 === w)
          .toDF(), w, root)
    }
    val got = readGraph(graph)
    val expected = Similarity
      .searchGraphOn(Similarity.filteredEmb(spark, sf), 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expected,
      s"missing ${(expected -- got).size} / extra ${(got -- expected).size}")
    assert(got.nonEmpty)
    // walk over the maintained shard ≡ the registered stored s18
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val walked = rows(Similarity.s18FilteredWalkStored(spark, sf, graph))
    val reg = rows(SparkEntry.queries("s18_filtered_walk")(spark, sf))
    assert(walked == reg,
      "walk over the maintained filtered shard diverged from the " +
        "registered s18")
  }

  test("r12: r1's dense-arm graph store is MAINTAINABLE by the same " +
      "search cadence over the %97 corpus feed — 3-wave fold ≡ the " +
      "ensure-built r1 store, and the prod fusion over the maintained " +
      "graph ≡ the registered r1_rrf_prod") {
    import graft.similarity.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft_sknn_r1").toString
    val (store, graph) = (s"$root/store", s"$root/graph")
    val feed = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 97 =!= 0)
    val cfg = graft.streaming.KnnGraphConfig.search(
      bits = Similarity.bitsFor(feed.count()))
    (0 until 3).foreach { w =>
      StreamingKnn.processBatch(
        feed.filter(col("vec_id") % 3 === w).toDF(), w, store, graph,
        cfg)
    }
    val got = readGraph(graph)
    val expected = Similarity
      .searchGraphCorpus(feed, 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expected,
      s"missing ${(expected -- got).size} / extra ${(got -- expected).size}")
    assert(got.nonEmpty)
    // the registered r1_rrf_prod (ensure-store walk) must equal the
    // fusion computed over the wave-maintained graph
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val reg = rows(SparkEntry.queries("r1_rrf_prod")(spark, sf))
    val ensured = spark.read
      .parquet(Similarity.r1EnsureStore(spark, sf))
      .select("vec_id", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val maintained = spark.read.parquet(graph)
      .select("vec_id", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == ensured,
      "maintained neighbor lists diverge from the ensure-built store")
    assert(reg.nonEmpty)
  }

  test("r11: s16RefreshWave — the store family's refresh cadence as " +
      "a first-class entry point: fold-then-walk ≡ rebuild-then-walk " +
      "on a DRIFTED corpus, drift arriving in later waves") {
    import graft.similarity.Similarity
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // drifted replicas of 40 corpus vectors: new ids, deterministic
    // small per-dim drift — the near-dup ingest the cadence exists for
    val drift = base.filter(_._1 >= 10).take(40).map { case (id, l, e) =>
      (id + 1000000L, l, e.zipWithIndex.map { case (x, i) =>
        x + (((id + i) % 7).toFloat - 3f) * 0.01f })
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_s16refresh").toString
    (base ++ drift).toSeq.toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft_s16refresh_store").toString
    val emb = Tables.embeddings(spark, dir)
    Similarity.s16RefreshWave(spark, dir,
      emb.filter(col("vec_id") < 1000000L).toDF(), 0, root)
    Similarity.s16RefreshWave(spark, dir,
      emb.filter(col("vec_id") >= 1000000L && col("vec_id") % 2 === 0)
        .toDF(), 1, root)
    Similarity.s16RefreshWave(spark, dir,
      emb.filter(col("vec_id") >= 1000000L && col("vec_id") % 2 === 1)
        .toDF(), 2, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val folded = rows(Similarity.s16HnswStored(spark, dir, s"$root/g0",
      (1 to 3).map(l => s"$root/g$l"),
      atlasPath = Some(s"$root/atlas")))
    val rebuilt = rows(Similarity.s16Hnsw(spark, dir))
    assert(folded == rebuilt,
      "walk over the wave-folded store family diverged from the " +
        "rebuild-from-scratch walk on the drifted corpus")
    assert(folded.nonEmpty)
  }

  test("registered s18_filtered_walk IS the stored walk over the " +
      "per-predicate graph shard: identical to the inline filtered " +
      "build, second invocation reuses the shard, and every answer " +
      "satisfies the predicate") {
    import graft.similarity.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val gp = Similarity.s18EnsureStore(spark, sf)
    val marker = new java.io.File(
      new java.io.File(gp).getParentFile, "_built")
    assert(marker.exists(), "shard build left no completion marker")
    val stamp = marker.lastModified()
    val reg = rows(SparkEntry.queries("s18_filtered_walk")(spark, sf))
    val inline = rows(Similarity.s18FilteredWalkInline(spark, sf))
    assert(reg == inline,
      "registered stored filtered walk diverged from the inline build")
    assert(reg.nonEmpty)
    // the predicate holds by construction on every answered row
    val okLabels = Similarity.s18Labels.toSet
    val labelOf = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    reg.foreach { case (_, _, cId, _) =>
      assert(okLabels.contains(labelOf(cId)),
        s"answer $cId violates the shard predicate") }
    // reuse: same path back, no rebuild landed over the marker
    assert(Similarity.s18EnsureStore(spark, sf) == gp)
    assert(marker.lastModified() == stamp,
      "second invocation rebuilt the per-predicate shard")
  }

  /** A small random embeddings corpus at `dir`: 2 queries, `n` docs. */
  private def emb(dir: String, seed: Int, n: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    // vec_id < 10 = queries, >= 10 = corpus (the house convention)
    ((0L until 2L) ++ (10L until (10L + n))).map(i =>
        (i, (i % 2).toInt, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("ADVICE r10 store identity: regenerated corpus re-keys the " +
      "store, relative ≡ absolute path, sanitizer collisions " +
      "disambiguated, storeRoot conf honored") {
    import graft.similarity.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_sid").toString
    val dirA = s"$base/a/b"; val dirB = s"$base/a_b"
    emb(dirA, 1, 30); emb(dirB, 1, 30)
    val rootA = Similarity.s16StoreRootFor(spark, dirA, 3).toString
    val rootB = Similarity.s16StoreRootFor(spark, dirB, 3).toString
    assert(rootA != rootB,
      s"sanitizer collision: 'a/b' and 'a_b' share the store $rootA")
    // relative path to the same corpus resolves to the same store
    val cwd = new java.io.File(".").getCanonicalPath
    if (dirA.startsWith(cwd + "/")) {
      val rel = dirA.stripPrefix(cwd + "/")
      assert(Similarity.s16StoreRootFor(spark, rel, 3).toString == rootA,
        "relative invocation of the same corpus keyed a different store")
    }
    // regeneration at the SAME path re-keys (content fingerprint):
    // a different row count forces a different file length, so fs
    // mtime granularity can't mask it
    emb(dirA, 7, 40)
    val rootA2 = Similarity.s16StoreRootFor(spark, dirA, 3).toString
    assert(rootA2 != rootA,
      "regenerated corpus at the same path reuses the stale store")
    // the configured root prefixes the store path
    GraftSession.scoped(spark, "spark.graft.storeRoot" -> s"$base/stores") { c =>
      val rooted = Similarity.s16StoreRootFor(c, dirA, 3).toString
      assert(rooted.startsWith(s"$base/stores/"),
        s"spark.graft.storeRoot not honored: $rooted")
      // and the full ensure-build lands under it and answers
      val (g0P, _, _) = Similarity.s16EnsureStores(c, dirA)
      assert(g0P.startsWith(s"$base/stores/"))
      assert(new java.io.File(
        new java.io.File(g0P).getParentFile, "_built").exists())
    }
  }

  test("an ensure re-keys on the store root: the same corpus ensured " +
      "under the default root, then under a scoped storeRoot, lands " +
      "and answers under the scoped root") {
    import graft.similarity.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_sroot").toString
    val dir = s"$base/corpus"
    emb(dir, 3, 30)
    val (g0Default, _, _) = Similarity.s16EnsureStores(spark, dir)
    assert(!g0Default.startsWith(s"$base/stores/"))
    GraftSession.scoped(spark, "spark.graft.storeRoot" -> s"$base/stores") { c =>
      val (g0P, upperPs, atlasP) = Similarity.s16EnsureStores(c, dir)
      assert(g0P.startsWith(s"$base/stores/"),
        s"second ensure answered from the first root: $g0P")
      assert(new java.io.File(
        new java.io.File(g0P).getParentFile, "_built").exists())
      (upperPs :+ atlasP).foreach(p =>
        assert(p.startsWith(s"$base/stores/") && new java.io.File(p).exists()))
      def graph(p: String) = c.read.parquet(p).collect().toSet
      assert(graph(g0P) == graph(g0Default))
    }
  }

  test("bitsFor: integer log2 law — 8 up to 4096, +1 per doubling, " +
      "capped at 16") {
    import similarity.Similarity.bitsFor
    assert(bitsFor(100) == 8 && bitsFor(4096) == 8)
    assert(bitsFor(4097) == 9 && bitsFor(8192) == 9)
    assert(bitsFor(60000) == 12)
    assert(bitsFor(1 << 19) == 15 && bitsFor((1L << 19) + 1) == 16)
    assert(bitsFor(1L << 40) == 16)
  }
}
