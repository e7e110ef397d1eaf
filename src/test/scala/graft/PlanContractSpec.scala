package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan CONTRACTS: structural properties of the executed physical
  * plans that the 100 TB design depends on — pushed filters, pruned
  * schemas, broadcast joins, exchange reuse (one corpus scan), hash
  * (not window/sort) aggregation. A regression that silently loses one
  * of these still returns correct ROWS at test scale but becomes a
  * scale-killer on a cluster; these tests make the plan shape itself
  * part of the test suite. Asserted on the FINAL adaptive plan (after
  * driving the dataset's own execution, so AQE has re-planned).
  */
class PlanContractSpec extends AnyFunSuite {
  import SparkTest._

  private def finalPlan(name: String): String = finalPlanOn(spark, name)

  private def finalPlanOn(s: SparkSession, name: String): String = {
    val df = SparkEntry.queries(name)(s, sf)
    // drive the dataset's OWN queryExecution: a df.count() would plan
    // a separate execution and leave this plan non-final
    df.queryExecution.executedPlan.execute().count()
    // AdaptiveSparkPlanExec prints BOTH the final and the initial plan
    // — keep only the final section, or scans double-count
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** At sf0.001 AQE (correctly) broadcasts the tiny self-join sides,
    * which re-computes the build subtree and hides the exchange reuse
    * that matters at scale. Disabling broadcast surfaces the
    * shuffle-path plan — the one a 100 TB corpus would run — so the
    * one-scan/reused-exchange contract is what gets asserted. */
  private def finalPlanNoBroadcast(name: String): String =
    GraftSession.scoped(spark, noBroadcast: _*)(finalPlanOn(_, name))

  private def scanCount(plan: String): Int =
    "FileScan parquet".r.findAllIn(plan).length

  test("q2: filter and projection reach the parquet scan") {
    val p = finalPlan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters on the scan")
    assert(p.contains("LessThan(l_shipdate") || p.contains("l_shipdate"),
      "ship-date predicate not pushed")
    // untouched wide columns must be pruned from the read schema
    assert(!p.contains("l_extendedprice"), "read schema not pruned")
  }

  test("q3: the customer dimension joins as a broadcast hash join") {
    val p = finalPlan("q3_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), "dim join did not broadcast")
    assert(!p.contains("SortMergeJoin"), "unexpected sort-merge join")
  }

  test("q5: top-k runs as TakeOrderedAndProject, not a global sort") {
    val p = finalPlan("q5_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k planned a full sort")
  }

  test("s1: query set broadcasts; no cartesian product") {
    val p = finalPlan("s1_ann_bruteforce")
    assert(p.contains("Broadcast"), "query set not broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian product in ANN plan")
  }

  test("d2: ONE corpus scan (signature subtree exchange-reused)") {
    val p = finalPlanNoBroadcast("d2_minhash_lsh")
    assert(scanCount(p) == 1, s"expected 1 documents scan, plan:\n$p")
    assert(p.contains("ReusedExchange"), "band exchange not reused")
  }

  test("d3: ONE corpus scan (sketch subtree exchange-reused)") {
    val p = finalPlanNoBroadcast("d3_simhash")
    assert(scanCount(p) == 1, s"expected 1 documents scan")
    assert(p.contains("ReusedExchange"), "band exchange not reused")
  }

  test("t5: tf/df branches share ONE full corpus scan (reused exchange)") {
    val p = finalPlanNoBroadcast("t5_tfidf")
    // two scans total: the shared tf/df scan + the column-pruned
    // count-only scalar branch (which reads no text)
    assert(scanCount(p) <= 2, s"expected <= 2 documents scans")
    assert(p.contains("ReusedExchange"), "tf/df exchange not reused")
  }

  test("h6: ordered merge is a two-phase aggregation, no window sort") {
    val p = finalPlan("h6_multivalue_merge")
    // max_by over a struct key plans as SortAggregate (struct buffer is
    // not mutable-hash-able) — the SCALE property is the partial
    // (map-side) phase, which bounds what shuffles to one row per
    // (entity, item, partition); a window formulation would shuffle
    // every event row
    assert("(Hash|Sort)Aggregate".r.findAllIn(p).length >= 2,
      "no map-side partial aggregation")
    assert(!p.contains("Window"), "unexpected window in last-op-wins merge")
  }

  test("s4: codebook broadcasts; argmin is a hash aggregation") {
    val p = finalPlan("s4_pq_encode")
    assert(p.contains("Broadcast"), "codebook not broadcast")
    assert(p.contains("HashAggregate"), "argmin not a hash aggregation")
    assert(!p.contains("Window"), "unexpected window in PQ argmin")
  }

  test("q1: aggregation is two-phase (map-side partial present)") {
    val p = finalPlan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "no map-side partial aggregation")
  }

  test("t10: line filter is one scan, no shuffle before the output sort") {
    val p = finalPlan("t10_line_filter")
    assert(scanCount(p) == 1, "expected a single documents scan")
    // the ONLY exchange allowed is the deterministic output ordering
    assert(!p.contains("hashpartitioning"),
      "line filtering must not shuffle the corpus")
    assert(!p.contains("Generate"), "explode crept into the map-only plan")
  }

  test("c5: per-source rates broadcast back; corpus never shuffles") {
    val p = finalPlan("c5_mixture_balance")
    assert(p.contains("BroadcastHashJoin"), "rates not broadcast-joined")
    // the corpus side must not hash-shuffle; only the tiny counts
    // aggregate and the output range sort may exchange
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the rate join")
  }

  test("b4: both report branches push filters and prune the read schema") {
    val p = finalPlan("b4_consistency_report")
    assert(p.contains("PushedFilters: [IsNotNull(event_id)"),
      "event_id filters not pushed to the scans")
    assert(!p.contains("value#") || !p.contains("event_type"),
      "unused event columns not pruned")
  }

  test("t12: tf aggregate exchange-reused; query terms broadcast") {
    val p = finalPlanNoBroadcast("t12_bm25")
    assert(p.contains("ReusedExchange"),
      "tf subtree not shared between dl/df/scoring branches")
    // the query-term side must broadcast even with auto-broadcast off
    // (explicit broadcast() hint on qterms)
    assert(p.contains("BroadcastHashJoin"), "query terms not broadcast")
  }

  test("o4: term-count exchange reused by the per-source totals") {
    val p = finalPlanNoBroadcast("o4_heavy_hitters")
    assert(p.contains("ReusedExchange"),
      "per-source totals re-scanned the corpus instead of reusing tf")
    assert(p.contains("WindowGroupLimit"),
      "top-k not pruned before the rank window")
  }

  test("c6: only the bucket-count frame goes single-partition; the " +
      "corpus ranks inside bucket partitions") {
    val p = finalPlan("c6_curriculum_order")
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1,
      "expected exactly one single-partition exchange (the tiny " +
        "prefix-sum frame)")
    assert(p.contains("Exchange hashpartitioning(bucket"),
      "corpus rank window not partitioned by bucket")
  }

  test("d4: candidates generated on the minhash band key, one sketch " +
      "scan, no bounded-cardinality self-join") {
    val p = finalPlanNoBroadcast("d4_ngram_jaccard")
    // the candidate shuffle must be keyed by the high-cardinality
    // (band, bh) pair — a (source, size-bucket) key would show here
    assert(p.contains("hashpartitioning(band"),
      "candidate join not keyed on the minhash band")
    assert(!p.contains("hashpartitioning(source"),
      "bounded-cardinality (source, bkt) key resurfaced")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "candidate join degenerated")
    // both sides of the band self-join share ONE sketch computation
    assert(p.contains("ReusedExchange"),
      "band self-join computed the sketch twice")
  }

  test("q14 plans the as-of operator on the shared session and on a " +
      "scoped clone from the session's own planner: no session's " +
      "extraStrategies is written") {
    assert(finalPlan("q14_asof_join").contains("AsOfJoin"),
      "as-of operator not planned on the shared session")
    GraftSession.scoped(spark) { c =>
      assert(finalPlanOn(c, "q14_asof_join").contains("AsOfJoin"),
        "as-of operator not planned on the scoped clone")
      assert(c.experimental.extraStrategies.isEmpty)
    }
    assert(spark.experimental.extraStrategies.isEmpty,
      "the as-of join wrote a strategy into the caller's session")
  }

  test("Tables.spread is for scan roots: a documents scan spreads to " +
      "the default parallelism with its rows intact; a frame with no " +
      "file relation is refused") {
    val docs = Tables.documents(spark, sf)
    val spread = Tables.spread(docs)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spread.collect().toSet == docs.collect().toSet)
    import spark.implicits._
    intercept[IllegalArgumentException](
      Tables.spread(Seq(1L, 2L).toDF("doc_id")))
  }

  test("q16: interval containment runs as the as-of merge scan, " +
      "never a nested-loop range join") {
    val p = finalPlan("q16_interval_join")
    assert(p.contains("AsOfJoin"), "as-of operator not planned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "range join degenerated to a nested loop")
  }

  test("c8: ONE corpus feature scan — the (doc, bucket, tf) aggregate " +
      "exchange feeds both the bucket distribution and the weights") {
    val p = finalPlanNoBroadcast("c8_dsir")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    assert(p.contains("ReusedExchange"), "bf exchange not reused")
  }

  test("d13: candidate and verification stages are hash joins with " +
      "WindowGroupLimit pruning — no cartesian anywhere") {
    val p = finalPlan("d13_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "containment join degenerated to a cross product")
    assert(p.contains("WindowGroupLimit"),
      "best-container rank not pruned before the full window")
    // per-doc token lists build through a hash-based object aggregate,
    // never a sort aggregate
    assert(!p.contains("SortAggregate"), "collect_list fell to sort agg")
  }

  test("s8: shortlist prunes to K rows per query BEFORE the single " +
      "group shuffle; corpus itself never hash-shuffles") {
    val p = finalPlan("s8_mmr_diversify")
    assert(p.contains("WindowGroupLimit"), "shortlist not group-limited")
    assert(p.contains("MapGroups"), "greedy fold not a grouped map")
    // only the shortlist's q_id exchange and the output ordering range
    // exchange may shuffle — the corpus reaches the join via broadcast
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"unexpected corpus shuffle:\n$p")
  }

  test("h16: both alignment sides run as as-of merge scans, " +
      "never a nested-loop overlap join") {
    val p = finalPlan("h16_temporal_align")
    assert("AsOfJoin".r.findAllIn(p).length >= 2,
      "temporal align did not plan both as-of scans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "interval alignment degenerated to a nested loop")
  }

  test("s9: the LSH shortlist join broadcasts the probed query side; " +
      "no cartesian anywhere") {
    val p = finalPlan("s9_mmr_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "shortlist degenerated to an all-pairs join")
  }

  test("t18: the encode+pack plan scans the corpus ONCE and shuffles " +
      "only for the packing window (rule table rides as a literal)") {
    // mining runs at CONSTRUCTION time (driver-collected tiny rows on
    // the sample); the returned frame must be scan → one-pass encode
    // map → window — its shape independent of rule count
    val p = finalPlan("t18_bpe_pack")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    assert("bpeencodeall".r.findAllIn(p.toLowerCase).length >= 1,
      "one-pass encoder missing from the plan")
    assert(!p.contains("Join"), "encode+pack must not join")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the window shuffle:\n$p")
  }

  test("o6: registers aggregate in one corpus scan (no spine rescan); " +
      "only the certification-only exact branch scans again " +
      "(certification form — retired to spec status r10, the prod " +
      "form is the registered query)") {
    val df = operators.Sketches.o6HllDistinct(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // register branch + exact branch; the production profile (drop
    // the exact certification column) is the register branch alone
    assert(scanCount(p) == 2, s"expected 2 lineitem scans:\n$p")
    // register max shuffles ≤ groups×64 rows: the (flag, reg) partial
    // aggregate must be present below its exchange
    assert(p.contains("partial_max"), "register max not map-side partial")
    assert(!p.contains("SortMergeJoin"),
      "tiny sketch frames must join as broadcasts")
  }

  test("o6 prod: register fold ONLY — the exact countDistinct " +
      "certification branch is ABSENT (one corpus scan)") {
    val p = finalPlan("o6_hll_prod")
    assert(scanCount(p) == 1, s"expected 1 lineitem scan:\n$p")
    assert(!p.toLowerCase.contains("distinct"),
      s"exact countDistinct branch survived into the prod plan:\n$p")
    assert(p.contains("partial_max"), "register max not map-side partial")
    assert(!p.contains("SortMergeJoin"),
      "tiny sketch frames must join as broadcasts")
  }

  test("o7: ONE corpus scan — the per-key count exchange is reused by " +
      "sketch, estimate, and report branches; sketch broadcasts " +
      "(certification form — retired to spec status r10, the prod " +
      "form is the registered query)") {
    val df = operators.Sketches.o7CmsFreq(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(scanCount(p) == 1, s"expected 1 events scan:\n$p")
    assert("ReusedExchange".r.findAllIn(p).length >= 2,
      s"count aggregate not shared across all three branches:\n$p")
    assert(p.contains("BroadcastHashJoin"), "2048-cell sketch not broadcast")
    assert(!p.contains("SortMergeJoin"), "sketch join degenerated to SMJ")
  }

  test("o7 prod: estimates only — ONE corpus scan, count exchange " +
      "reused between the sketch and estimate branches, no exact " +
      "report join (the certification branch is ABSENT)") {
    val p = finalPlan("o7_cms_prod")
    assert(scanCount(p) == 1, s"expected 1 events scan:\n$p")
    assert(p.contains("ReusedExchange"),
      s"count aggregate not shared between sketch and estimate:\n$p")
    assert(p.contains("BroadcastHashJoin"), "2048-cell sketch not broadcast")
    assert(!p.contains("SortMergeJoin"), "sketch join degenerated to SMJ")
    // exactly the sketch+estimate joins: the report join carrying the
    // exact count to the output is gone
    assert("BroadcastHashJoin".r.findAllIn(p).length == 1,
      s"extra join beyond the sketch estimate lookup:\n$p")
  }

  test("c10: salted two-phase top-k — map-side WindowGroupLimit prunes " +
      "at the scan; no unsalted full-stratum first pass") {
    val p = finalPlan("c10_weighted_reservoir")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    // phase 1 partitions by (source, salt); phase 2 re-ranks survivors
    // by source only — both rank passes must group-limit BEFORE their
    // exchange so no stratum ever shuffles whole
    assert("WindowGroupLimit .*, Partial".r.findAllIn(p).length == 2,
      s"expected a map-side group limit before each rank shuffle:\n$p")
    // plan prints top-down, so the DEEPEST (scan-side) rank pass is
    // the last Window node in the string — it must carry the salt key
    val scanSideWindow = p.substring(p.lastIndexOf("Window ["))
      .linesIterator.next()
    assert(scanSideWindow.contains("salt"),
      s"the scan-side rank pass is not salted:\n$p")
  }

  test("s10: MMR rides the PQ shortlist — nested-loop joins only " +
      "against the 8-row codebook, shortlist joins hash, no cartesian") {
    val p = finalPlan("s10_mmr_pq")
    assert(!p.contains("CartesianProduct"), "cartesian in the PQ chain")
    assert(!p.contains("SortMergeJoin"), "shortlist join degenerated to SMJ")
    // the only nested-loop joins are the codebook cross joins s7
    // itself performs (8-row broadcast side); anything more means a
    // corpus-sized side entered a nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"unexpected nested-loop join:\n$p")
    assert(p.contains("BroadcastHashJoin"), "ADC lookup join not broadcast")
    assert("MapGroups".r.findAllIn(p).length == 1,
      "expected exactly the one greedy-fold MapGroups")
  }

  test("c11: the BPE encode runs ONCE — the query reads only the " +
      "materialized narrow count frame; rates broadcast back") {
    val p = finalPlan("c11_bpe_mixture")
    // zero parquet scans: the one corpus encode pass happened at
    // checkpoint time and what persists is (doc_id, source, n_toks),
    // not the corpus text — re-encoding per consumer would show the
    // documents FileScan (and the BpeEncodeAll node) here
    assert(scanCount(p) == 0, s"corpus re-scanned past the checkpoint:\n$p")
    assert(!p.toLowerCase.contains("bpeencodeall"),
      "encode expression re-evaluated inside the mixture query")
    assert(p.contains("Scan ExistingRDD"), "checkpointed counts missing")
    assert(p.contains("BroadcastHashJoin"), "rates not broadcast back")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus-sized shuffle join in the mixture plan")
    // the only hash exchanges are the |sources|-row aggregates; the
    // counted corpus frame itself never hash-shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"unexpected corpus shuffle:\n$p")
  }

  test("o8: fertility report reads only the materialized narrow count " +
      "frame — one aggregate, no joins, no corpus rescan") {
    val p = finalPlan("o8_tokenizer_fertility")
    assert(scanCount(p) == 0, s"corpus re-scanned past the checkpoint:\n$p")
    assert(!p.toLowerCase.contains("bpeencodeall"),
      "encode expression re-evaluated inside the report query")
    assert(p.contains("Scan ExistingRDD"), "checkpointed counts missing")
    assert(!p.contains("Join"), "report must be a single aggregate, no join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source aggregate not map-side partial")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the sources aggregate exchange:\n$p")
  }

  test("s11: corpus touched through 16 bytes of packed bits; query " +
      "bit-table broadcasts; rerank joins hash") {
    val p = finalPlan("s11_binary_rerank")
    assert(!p.contains("CartesianProduct"), "cartesian in the binary tier")
    assert(p.contains("BroadcastExchange") || p.contains("Broadcast"),
      "query bits not broadcast")
    assert(!p.contains("SortMergeJoin"), "rerank fetch degenerated to SMJ")
    assert(p.contains("BroadcastHashJoin"),
      "shortlist vector fetch not a hash join")
  }

  test("o9: packing report = t18's one-scan encode+window plus two " +
      "tiny aggregates — no join, no extra corpus pass") {
    val p = finalPlan("o9_packing_report")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    assert("bpeencodeall".r.findAllIn(p.toLowerCase).length == 1,
      "encode must run exactly once")
    assert(!p.contains("Join"), "report must not join")
    // the (source, shard) window exchange is REUSED by the per-shard
    // aggregate (same keys); only the per-source rollup adds one more
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"unexpected extra shuffle:\n$p")
  }

  test("s12: MMR rides the binary shortlist — bits cross is the only " +
      "nested loop, rerank hash-joins, one greedy-fold MapGroups") {
    val p = finalPlan("s12_mmr_binary")
    assert(!p.contains("CartesianProduct"), "cartesian in the binary tier")
    assert(!p.contains("SortMergeJoin"), "rerank fetch degenerated to SMJ")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more nested loops than the one bits cross:\n$p")
    assert(p.contains("BroadcastHashJoin"), "vector fetch not a hash join")
    assert("MapGroups".r.findAllIn(p).length == 1,
      "expected exactly the one greedy-fold MapGroups")
  }

  test("c12: per-source rates broadcast back; corpus never shuffles") {
    val p = finalPlan("c12_temperature_mixture")
    assert(p.contains("BroadcastHashJoin"), "rates not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the rate join")
    // corpus-side exchanges: only the |sources|-row count aggregate
    // (computed twice: rates + min) and the output range sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"unexpected corpus shuffle:\n$p")
  }

  test("s13: IVF prune joins hash on the cell key; nested loops " +
      "bounded by the two tiny codebook crosses; no cartesian") {
    val p = finalPlan("s13_ivf_pq")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the corpus×centroid and query×centroid codebook crosses plus
    // the query×centroid probe cross are the only nested loops
    // (every build side is the 10-row centroid table — s7/s10's
    // bound plus s3's probe)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3,
      s"corpus-sized nested loop appeared:\n$p")
    // the probed-cell restriction and the ADC lookup join as
    // broadcast HASH joins — the corpus never shuffles in stage 1
    assert(p.contains("BroadcastHashJoin"), "probe/lookup not broadcast")
  }

  test("h17: the generated spine fills through the native as-of " +
      "merge scan — no nested-loop range join") {
    val p = finalPlan("h17_gapfill")
    assert(p.contains("AsOfJoin"), "as-of operator not planned")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"gap-fill degenerated to a nested loop:\n$p")
    // bounds + observations: two pushed-filter scans of events
    assert(scanCount(p) == 2, s"expected 2 events scans:\n$p")
  }

  test("o11 prod: filter stats only — ONE corpus scan, two hash " +
      "aggregates, ZERO joins (no exact branch, no probe sweep)") {
    val p = finalPlan("o11_bloom_prod")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    assert(!p.contains("Join"), s"a join appeared in the prod plan:\n$p")
    assert(p.toLowerCase.contains("partial_bit_or") ||
      p.toLowerCase.contains("partial_bitor"),
      s"word build lost its map-side partial:\n$p")
  }

  test("o11: bloom words build as ONE map-side-combined bit_or " +
      "aggregate; the filter table broadcasts for membership " +
      "(certification form — retired to spec status r10, the prod " +
      "form is the registered query)") {
    val df = operators.Sketches.o11BloomFilter(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the hash frame and the packed words each checkpointed (the
    // word build — a map-side bit_or hash agg — paid there), so the
    // final plan reads NO parquet at all: every branch derives from
    // the two narrow checkpoints
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "filter words must broadcast for the membership join")
    assert(!p.contains("SortMergeJoin"),
      "tiny sketch frames must not sort-merge")
    // the truth-set anti-join runs on RENAMED columns (t_src/t_hh) —
    // a same-name hh === hh self-join predicate would be silently
    // rescued by Catalyst's trivially-true-equals heuristic, which a
    // refactor (e.g. dropping the checkpoint) could invalidate.
    // Asserted on the OPTIMIZED logical plan: at test scale the FP
    // branch is empty and AQE's empty-relation propagation erases the
    // anti-join from the final physical plan entirely.
    val lp = operators.Sketches.o11BloomFilter(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("t_hh"),
      s"truth-set anti-join lost its disambiguating rename:\n$lp")
  }

  test("c13: cell rates broadcast; the corpus joins by id only — " +
      "no cluster-keyed corpus shuffle") {
    val p = finalPlan("c13_cluster_balance")
    assert(p.contains("BroadcastHashJoin"), "rates not broadcast")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the single BroadcastNestedLoopJoin is the 1-row min-count cross
    // join (c5's rate pattern — 1 × |cells| rows); anything more means
    // a corpus-sized nested loop appeared
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"corpus-sized nested loop:\n$p")
    // the corpus may exchange on the high-cardinality doc id (the
    // co-locatable doc↔vector join; Bucketed layouts remove it at
    // scale) but never on the low-cardinality cell id: the cell-count
    // aggregate (a map-side-partial pass over the checkpointed
    // assignment frame) paid at build, so the final plan must have
    // ZERO cluster-keyed exchanges
    assert("Exchange hashpartitioning\\(cluster".r.findAllIn(p).isEmpty,
      s"corpus join repartitioned on the cell id:\n$p")
  }

  test("c14: epochs table broadcast back; corpus never shuffles — " +
      "waterfilling runs on |sources|-row frames only") {
    val p = finalPlan("c14_unimax")
    assert(p.contains("BroadcastHashJoin"), "epochs table not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the epoch join")
    // the checkpointed |sources|-row count frame paid the only corpus
    // aggregate at build; the final plan's exchanges are tiny-frame
    // (cumsum spine, k* probe) plus the output range sort — the
    // corpus itself reads once for the epoch join and never
    // hash-shuffles
    assert(scanCount(p) == 1, s"corpus re-scanned:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0,
      s"unexpected corpus shuffle:\n$p")
  }

  test("t19: vocabulary stats exchange reused by the totals; weight " +
      "table and prior ride as broadcasts; term join never sorts") {
    val p = finalPlan("t19_nb_filter")
    assert(p.contains("ReusedExchange"),
      s"term stats aggregated twice:\n$p")
    assert(p.contains("BroadcastHashJoin"), "weight table not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "vocabulary-sized join planned as SMJ")
    // the corpus text column feeds exactly the two tf branches; every
    // other scan is pruned to id/lang columns
    val textScans = "ReadSchema: [^\n]*text:string".r.findAllIn(p).length
    assert(textScans <= 2, s"text read by $textScans scans:\n$p")
  }

  test("d15: no pairwise stage anywhere — span flags and text meet in " +
      "keyed hash/merge joins; one hash aggregate on the span hash") {
    val p = finalPlanNoBroadcast("d15_substr_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage appeared in the ExactSubstr plan:\n$p")
    // stride-1 window volume is bounded by corpus token count; the
    // only aggregates are the shared-hash agg and the per-doc flag
    // collect — both must be partial (map-side combined) hash aggs
    assert(p.contains("partial_count"),
      s"span-hash aggregate lost its map-side partial:\n$p")
    // the corpus text is read by the span branch and the rewrite
    // branch only
    assert(scanCount(p) <= 3, s"too many documents scans:\n$p")
  }

  test("o12: sketch fold is a map-side-combined min aggregate; both " +
      "branches derive from checkpoints — no parquet in the final plan " +
      "(certification form — retired to spec status r9 close-2, the " +
      "prod form is the registered query)") {
    val df = operators.Sketches.o12SourceSimilarity(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // signature + distinct-hash frames each checkpointed: the final
    // pair assembly reads NO parquet
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    // the |sources|-row signature pair cross is the single allowed
    // nested loop; anything more means a corpus-sized one appeared
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"corpus-sized nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "tiny size/intersection frames must broadcast")
  }

  test("c15: weight table broadcasts back; mixture math runs on " +
      "|sources|-row frames — the corpus scans once into the checkpoint") {
    val p = finalPlan("c15_doremi")
    assert(scanCount(p) == 0, s"parquet re-scanned past the checkpoint:\n$p")
    assert(p.contains("BroadcastHashJoin"), "rate table not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the rate join")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // totals, Z, and rmax ride as 1-row broadcast crosses — exactly 3
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3,
      s"corpus-sized nested loop:\n$p")
  }

  test("s14: kNN graph — banded equi-joins only (no pairwise stage), " +
      "top-k window partitioned on the high-cardinality vec id") {
    val p = finalPlanNoBroadcast("s14_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage appeared in the kNN plan:\n$p")
    // the per-vector top-k must partition by vec_id — a global
    // (unpartitioned) window would funnel the whole graph into one task
    assert("windowspecdefinition\\(vec_id".r.findAllIn(p).nonEmpty,
      s"top-k window not partitioned by vec_id:\n$p")
    // d5's slim candidate rule: the ×bands explode must not carry the
    // cast vector through the band self-join exchange
    assert(!"Exchange hashpartitioning\\(label[^\n]*embd".r
      .findAllIn(p).hasNext, s"vectors rode the band shuffle:\n$p")
  }

  test("s15: graph walk — final re-rank reads only checkpoints; a " +
      "round's expansion is hash equi-joins, no cartesian, window on " +
      "the query key") {
    val p = finalPlan("s15_graph_search")
    // the seed and every round's fold are checkpointed (each round's
    // join streams the graph store): the final top-k segment must
    // read NO parquet and contain no join at all
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).nonEmpty,
      s"final top-k window not partitioned by q_id:\n$p")
    // audit ONE round's expansion structure directly (checkpoints hide
    // interior rounds from the final plan): frontier->graph and
    // candidate->vector joins must be hash equi-joins even with
    // broadcast disabled — no nested-loop stage anywhere
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val graph = similarity.Similarity.s14KnnGraph(spark, sf)
      .filter(col("nbr") >= 10).select("vec_id", "nbr")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cv = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val visited = similarity.Similarity.lshShortlist(spark, sf, 8)
    val expand = similarity.Similarity.s15Expand(visited, graph, q, cv)
    // the same expansion keyed by lane, as s16's descent and layer-0
    // rounds run it: a lane-tagged frontier, unseen per (q_id, lane)
    val laned = visited.withColumn("lane", col("c_id") % 3)
    val laneRound = similarity.Similarity.efExpand(laned, laned, graph,
      q, cv, Seq("lane"))
    for ((form, e) <- Seq("s15" -> expand, "lane-keyed" -> laneRound))
      GraftSession.scoped(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
        val round = GraftSession.on(c, e)
        round.queryExecution.executedPlan.execute().count()
        val rp = round.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(!rp.contains("CartesianProduct") &&
          !rp.contains("BroadcastNestedLoopJoin"),
          s"$form round expansion degenerated to a nested loop:\n$rp")
        assert(rp.contains("SortMergeJoin") || rp.contains("ShuffledHashJoin") ||
          rp.contains("BroadcastHashJoin"),
          s"no hash equi-join in the $form round expansion:\n$rp")
      }
  }

  test("m5: banded equi-join only (no pairwise stage); the hashed " +
      "code frame checkpoints once (r10 width law: it feeds the " +
      "width count and both band sides) so no parquet re-scan") {
    val p = finalPlanNoBroadcast("m5_phash_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage appeared in the pHash plan:\n$p")
    assert(scanCount(p) == 0,
      s"parquet re-scanned past the hashed-code checkpoint:\n$p")
    assert(p.contains("ReusedExchange"), "band exchange not reused")
    // pair dedup is a map-side-combined hash aggregate on slim rows
    assert(p.contains("partial_min"),
      s"pair dedup lost its map-side partial:\n$p")
  }

  test("c16: weighted waterfill runs on tiny frames; epochs broadcast " +
      "back — zero parquet past the checkpoints") {
    val p = finalPlan("c16_capped_doremi")
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(p.contains("BroadcastHashJoin"), "epochs table not broadcast")
    assert(!p.contains("SortMergeJoin"), "tiny mixture frames sort-merged")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the 1-row crosses (Z, rmax, totals, k*) are the only nested loops
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 4,
      s"corpus-sized nested loop:\n$p")
  }

  test("d17: ONE corpus scan — the chunk sketch subtree exchange-reused " +
      "across both band sides, no pairwise stage") {
    val p = finalPlanNoBroadcast("d17_chunk_dedup")
    assert(scanCount(p) == 1, s"expected 1 documents scan:\n$p")
    assert(p.contains("ReusedExchange"), "chunk band exchange not reused")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage appeared in the chunk-dedup plan:\n$p")
  }

  test("o10: histogram sketch — bounds broadcast onto the scan, bin " +
      "counts are a map-side-combined hash aggregate, quantile " +
      "derivation runs on the tiny ≤groups×256 frame " +
      "(certification form — retired to spec status r10, the prod " +
      "form is the registered query)") {
    val df = operators.Sketches.o10QuantileSketch(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "bounds/exact tiny frames must broadcast")
    assert(p.contains("partial_count"),
      s"bin-count aggregate lost its map-side partial:\n$p")
    // histogram pass + certification-only exact branch in the final
    // plan; the checkpointed |groups|-row bounds frame paid its own
    // (third) pass at build — production keeps running bounds and
    // drops both extras
    assert(scanCount(p) == 2, s"expected 2 lineitem scans:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "tiny quantile frames must not sort-merge")
  }

  test("s16: HNSW — final re-rank reads only checkpoints, no " +
      "cartesian; the entry-atlas broadcast is the only nested loop") {
    // the registered query is the STORED walk (r10): layer graphs +
    // atlas read from build-if-absent persisted stores, so this
    // drive also proves the walk-only invocation path end-to-end
    val p = finalPlan("s16_hnsw")
    // entry/descent/beam rounds all checkpoint: the final top-k
    // segment reads NO parquet and joins nothing
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).nonEmpty,
      s"final top-k window not partitioned by q_id:\n$p")
  }

  test("s16: the stored walk's job ledger — a warm walk's build and " +
      "write runs a bounded job count, and exactly its 10 walk-state " +
      "checkpoints (1 seed + 6 descent + 3 ef): no store is copied") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_ledger")
      .toString
    def walk(): Unit = SparkEntry.queries("s16_hnsw")(spark, sf)
      .write.mode("overwrite").parquet(out)
    walk() // warm-up: builds (or finds) the stores
    // count only this thread's jobs (and the broadcast builds they
    // spawn, which inherit its tags): another suite's stray job must
    // not move the ledger
    val tag = "graft-walk-ledger"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ledger = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags"))).exists(_.contains(tag)))
          // the result stage (created last) carries the call site
          sites.add(j.stageInfos.maxByOption(_.stageId).fold("")(_.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(ledger)
    sc.addJobTag(tag)
    try walk()
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      sc.removeSparkListener(ledger)
    }
    val jobs = sites.asScala.toSeq
    val ledgerText = jobs.groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy(-_._2).mkString("\n")
    assert(jobs.count(_.startsWith("localCheckpoint")) == 10,
      s"walk-state checkpoints != 1 seed + 6 descent + 3 ef:\n$ledgerText")
    // 67 with the stores streamed: 10 checkpoints, the query batch
    // collect, one embeddings read, and the rounds' broadcast builds
    // and the final re-rank's stages
    assert(jobs.size <= 67, s"${jobs.size} jobs:\n$ledgerText")
  }

  test("s17: filtered ANN — the label predicate reaches the parquet " +
      "scan (PushedFilters In), probe/re-rank tiny frames broadcast") {
    val p = finalPlan("s17_filtered_ann")
    assert("PushedFilters: \\[[^\\]]*In\\(label".r.findAllIn(p).nonEmpty,
      s"label predicate not pushed into the embeddings scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "probe/centroid frames must broadcast, not sort-merge")
  }

  test("m6: frame dedup — the gram self-join is a hash equi-join " +
      "(decode exchange reused across the canonically-equal sides — " +
      "one decode pass without materialization, r12), NO broadcast " +
      "of any corpus-derived build side (per-doc counts ride the " +
      "gram frame), no cartesian") {
    val p = finalPlanNoBroadcast("m6_frame_dedup")
    // recompute form (r12): the gram self-join's sides are
    // canonically equal, so at most ONE decode scan appears in the
    // final plan (ADVICE r12 #1: the old == 0 assertion dated from
    // the checkpointed form and passed vacuously; PipelineSpec pins
    // the exactly-one-scan + ReusedExchange shape at sf0.1 where the
    // frame is non-trivial)
    assert(scanCount(p) <= 1,
      s"decode scan duplicated across the gram self-join sides:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in the gram join:\n$p")
    // with auto-broadcast disabled, ANY broadcast join left in the
    // plan is an explicit hint — and every frame here (grams, per-doc
    // counts) is corpus-proportional, so none may broadcast (the r11
    // plan force-hinted the per-doc count frame: a driver OOM wall at
    // 100 TB)
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-derived frame broadcast under an explicit hint:\n$p")
  }

  test("t19: NB filter — the vocabulary-sized weight table joins the " +
      "token frame by SHUFFLE on term (t5's no-dictionary-broadcast " +
      "law); only the 1-row totals/prior broadcast") {
    val p = finalPlanNoBroadcast("t19_nb_filter")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // with auto-broadcast disabled, a BroadcastHashJoin can only come
    // from an explicit hint — and the only equi-join here is
    // tf ⋈ weight-table on term, which must shuffle (the r11 plan
    // hinted the vocabulary-sized table: past any broadcast budget at
    // 100 TB)
    assert(!p.contains("BroadcastHashJoin"),
      s"term-table broadcast under an explicit hint:\n$p")
    // allowed: the two 1-row cross joins (corpus totals, class prior)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"more than the totals + prior 1-row broadcasts:\n$p")
  }

  test("h9: alias canonicalization — the per-user alias map (a " +
      "corpus-derived aggregate, one row per ever-signed-up user) " +
      "joins the event stream WITHOUT a broadcast hint: shuffle on " +
      "user_id when AQE can't prove it small (r12 verdict #1 — the " +
      "m6/t19 no-corpus-broadcast law, third application)") {
    val p = finalPlanNoBroadcast("h9_alias_canonical")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // with auto-broadcast disabled a BroadcastHashJoin can only come
    // from an explicit hint — and the only join here is
    // events ⋈ aliasMap on user_id, whose build side grows with the
    // corpus (driver/executor OOM class at 100 TB)
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-derived alias map broadcast under an explicit hint:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in the alias join:\n$p")
  }

  test("s18: filtered walk — final re-rank reads only checkpoints " +
      "(zero corpus-sized work at query time: graph from the shard " +
      "store, every stage checkpointed), no cartesian; the label " +
      "predicate reaches the parquet scan of the seed stage") {
    val p = finalPlan("s18_filtered_walk")
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).nonEmpty,
      s"final top-k window not partitioned by q_id:\n$p")
    // the walk's interior stages checkpoint, hiding their scans from
    // the final plan — audit the SEED stage's scan directly: the
    // disjunctive (queries OR label-filtered corpus) predicate must
    // push both sides into the embeddings read
    import org.apache.spark.sql.functions._
    val seed = similarity.Similarity.lshShortlistOn(
      similarity.Similarity.filteredEmb(spark, sf), 12)
    seed.queryExecution.executedPlan.execute().count()
    val sp = seed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PushedFilters: \\[[^\\]]*In\\(label".r.findAllIn(sp).nonEmpty,
      s"label predicate not pushed into the seed-stage scan:\n$sp")
  }

  test("r1: RRF fusion (3-arm) — the BM25 arm keeps t12's reused tf " +
      "exchange, the dense and binary arms' only nested loops are " +
      "their query broadcasts, no cartesian") {
    val p = finalPlan("r1_rrf_fusion")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // three allowed: t12's 1-row corpus-stats cross + the dense
    // query-vector broadcast + the binary packed-query broadcast;
    // anything more is a corpus-sized nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3,
      s"more than the stats + two query-broadcast nested loops:\n$p")
    assert(p.contains("ReusedExchange"),
      s"t12's tf exchange no longer reused inside the fusion plan:\n$p")
  }

  test("x3: every pair family (intra-wave and cross-store) is a hash " +
      "equi-join on the band keys over codegen'd band scans — no " +
      "cartesian, no nested loop, scan count bounded by the family " +
      "fan (bands recompute per consumer: measured faster than " +
      "eager checkpoints at 1x/30x/100x, PROBE_X3FORM)") {
    val p = finalPlanNoBroadcast("x3_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in a band join:\n$p")
    // five pair families (3 intra-wave self-joins + 2 cross joins),
    // all hash equi-joins on the band keys — AQE may eliminate a
    // family whose side proves empty at this tiny scale, so the
    // floor is 3
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length >= 3,
      s"pair families lost their equi-joins:\n$p")
    // 5 families × 2 sides + the width-law count = ≤ 11 parquet
    // touches of the one documents file; more means a consumer
    // started re-deriving something besides the band frame
    assert(scanCount(p) <= 11, s"scan fan exceeded the family fan:\n$p")
  }

  test("x4: the exact-verify cadence — every candidate family and " +
      "every token fetch is a hash equi-join, no cartesian, no " +
      "nested loop, scan fan bounded") {
    val p = finalPlanNoBroadcast("x4_incremental_verify")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // 5 candidate families + 3 per-wave verify stages (two token
    // fetches each) — AQE may fold empty families at this scale
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length >= 3,
      s"families lost their equi-joins:\n$p")
    // bands + token sets recompute per consumer; the documents file
    // is the only parquet source, touched once per family side /
    // verify side — anything past ~22 means a consumer re-derived
    // more than its own frame
    assert(scanCount(p) <= 22, s"scan fan exceeded the family fan:\n$p")
  }

  test("r1-prod: the dense arm rides the stored walk and the BM25 " +
      "arm rides the maintained lexical store (r13) — the exact " +
      "arm's corpus×query cosine nested loop is GONE, the corpus " +
      "text is read once (query terms only; the tf/df/dl derivation " +
      "lives in the persisted weight frame), no cartesian") {
    val p = finalPlan("r1_rrf_prod")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // r1_rrf_fusion allows THREE nested loops (stats + dense query
    // broadcast + binary query broadcast); the production form must
    // have at most TWO — the dense arm's full-float cosine scan is
    // exactly the corpus-sized stage this form retires. With the
    // stored lexical arm even t12's 1-row stats cross is gone (the
    // weights carry it), so the bound tightens further in practice.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"the dense arm's corpus-scan nested loop is back:\n$p")
    // r12 asserted t12's tf exchange REUSED here; r13 retires the tf
    // subtree entirely — the weights come from the lexical store, so
    // the plan must scan it and must NOT tokenize the corpus twice
    assert(p.contains("graft-r1lex"),
      s"the BM25 arm no longer reads the maintained lexical store:\n$p")
    // documents appears for the two QUERY-side frames only (BM25
    // query terms; the qv dense/binary query ids) — the corpus-wide
    // tokenize that fed tf/df/dl read it too before r13
    assert("FileScan parquet [^\\n]*documents".r.findAllIn(p).length <= 2,
      s"corpus text scanned beyond the two query-side reads:\n$p")
  }

  test("x2: dedup-before-index composition — the walk's final " +
      "re-rank reads only checkpoints (survivor frame and survivor " +
      "graph both materialized once), no cartesian") {
    val p = finalPlan("x2_dedup_index")
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).nonEmpty,
      s"final top-k window not partitioned by q_id:\n$p")
  }

  test("x5: survivor-built hierarchy (r14) — the stored walk's final " +
      "re-rank reads only checkpoints (layer graphs + atlas all " +
      "persisted), no cartesian, q_id-partitioned final window") {
    val p = finalPlan("x5_survivor_hnsw")
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).nonEmpty,
      s"final top-k window not partitioned by q_id:\n$p")
  }

  test("d5 prod: cell-confined candidates — the cell self-join is a " +
      "hash equi-join (no pairwise stage) and the 64-dim vectors do " +
      "not ride the cell shuffle") {
    val p = finalPlanNoBroadcast("d5_embedding_prod")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the kmeans assignment crosses a 4-row centroid table per round
    // (s13's codebook rule — broadcast-hinted, corpus×constant); the
    // candidate stage itself must never nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3,
      s"pairwise stage appeared in the cell-dedup plan:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(p).nonEmpty,
      s"no cell-keyed exchange — candidates not cell-confined:\n$p")
    assert(p.contains("ReusedExchange"),
      s"cell exchange not reused across the self-join sides:\n$p")
    // slim-candidate rule (d5's): only (vec_id, cell) rides the
    // self-join; vectors fetch back by id afterwards
    assert(!"Exchange hashpartitioning\\(cell[^\n]*emb".r
      .findAllIn(p).hasNext, s"vectors rode the cell shuffle:\n$p")
  }

  test("d12 prod: epsilon-groups over the cell pair graph — no " +
      "pairwise stage anywhere, corpus maps to groups via one " +
      "vec_id-keyed join") {
    val p = finalPlan("d12_semdedup_prod")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // centroid-table crosses only (the d5-prod rule)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3,
      s"nested-loop stage in the prod dedup plan:\n$p")
  }

  test("o10 prod: histogram-only — the certification branch is gone " +
      "(no exact-percentile aggregate, ONE corpus scan), bin counts " +
      "keep their map-side partial") {
    val p = finalPlan("o10_quantile_prod")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "bounds tiny frame must broadcast")
    assert(p.contains("partial_count"),
      s"bin-count aggregate lost its map-side partial:\n$p")
    assert(!p.contains("approx_percentile"),
      s"certification branch leaked into the prod plan:\n$p")
    assert(scanCount(p) == 1, s"expected 1 lineitem scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "tiny quantile frames must not sort-merge")
  }

  test("o12 prod: signature-only — the pair assembly reads nothing " +
      "but the checkpointed |sources|x32 fold (zero parquet, no " +
      "exact shingle-set branch)") {
    val p = finalPlan("o12_source_similarity_prod")
    assert(scanCount(p) == 0, s"parquet re-scanned past checkpoints:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the |sources|-row signature cross is the single allowed nested
    // loop; the exact-branch intersection join must be absent
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more than the signature cross:\n$p")
  }

  test("b5: the end-to-end ETL composition adds only narrow map " +
      "stages over b2 + c2 — no cartesian, no nested loop, and the " +
      "wire rendering introduces no extra corpus scan") {
    val p = finalPlan("b5_full_etl")
    val b2P = finalPlan("b2_nested_history")
    val p3P = finalPlan("p3_privacy_delete")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the b2 chain's |singleFields|-row literal cross (the backward
    // anchor's field spine) is the only allowed nested loop — the
    // composition may not ADD one
    def bnlj(s: String) = "BroadcastNestedLoopJoin".r.findAllIn(s).length
    assert(bnlj(p) <= bnlj(b2P) + bnlj(p3P),
      s"composition added nested loops (b2=${bnlj(b2P)}):\n$p")
    // bugs arm: the b2 chain's scans; comments arm: ONE documents
    // scan; delete arm: the p3 chain's scans — rendering is concat
    // projections, not new reads
    assert(scanCount(p) <= scanCount(b2P) + 1 + scanCount(p3P),
      s"wire rendering added scans (b2=${scanCount(b2P)}, " +
        s"p3=${scanCount(p3P)}):\n$p")
  }

  test("b6: the run-length membership form maps interval bounds " +
      "through as-of merge scans — never an interval-filter nested " +
      "loop") {
    val p = finalPlan("b6_membership_intervals")
    assert("AsOfJoin".r.findAllIn(p).length >= 2,
      s"expected the two versionAt as-of scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bound mapping degenerated to a nested loop:\n$p")
  }
}
