package graft

import graft.operators.{History, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q4StarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational / query core
    "q1_agg" -> (Relational.q1Agg _),
    "q2_filter_project" -> (Relational.q2FilterProject _),
    "q3_broadcast_join" -> (Relational.q3BroadcastJoin _),
    "q4_star_join" -> (Relational.q4StarJoin _),
    "q5_topk" -> (Relational.q5TopK _),
    "q6_window" -> (Relational.q6Window _),
    "q7_semi_join" -> (Relational.q7SemiJoin _),
    "q8_anti_join" -> (Relational.q8AntiJoin _),
    "q9_distinct_agg" -> (Relational.q9DistinctAgg _),
    "q10_rollup" -> (Relational.q10Rollup _),
    "q11_conditional_pivot" -> (Relational.q11ConditionalPivot _),
    "q12_scalar_subquery" -> (Relational.q12ScalarSubquery _),
    "q13_percentiles" -> (Relational.q13Percentiles _),
    "q14_asof_join" -> (operators.AsOf.q14AsofJoin _),
    "h16_temporal_align" -> (operators.AsOf.h16TemporalAlign _),
    "q15_grouping_sets" -> (Relational.q15GroupingSets _),
    "q16_interval_join" -> (operators.AsOf.q16IntervalJoin _),
    "c1_curation" -> (operators.Curation.c1Curation _),
    "c3_sample_split" -> (operators.Curation.c3SampleSplit _),
    "c4_quality_resample" -> (operators.Curation.c4QualityResample _),
    "c5_mixture_balance" -> (operators.Curation.c5MixtureBalance _),
    "c9_token_mixture" -> (operators.Curation.c9TokenMixture _),
    "c11_bpe_mixture" -> ((s: SparkSession, d: String) =>
      operators.Curation.c11BpeMixture(s, d)),
    "o8_tokenizer_fertility" -> ((s: SparkSession, d: String) =>
      operators.Sketches.o8TokenizerFertility(s, d)),
    "c12_temperature_mixture" ->
      (operators.Curation.c12TemperatureMixture _),
    "c13_cluster_balance" -> (operators.Curation.c13ClusterBalance _),
    "c15_doremi" -> (operators.Curation.c15Doremi _),
    "c16_capped_doremi" -> (operators.Curation.c16CappedDoremi _),
    "c14_unimax" -> (operators.Curation.c14Unimax _),
    "o9_packing_report" -> ((s: SparkSession, d: String) =>
      operators.Sketches.o9PackingReport(s, d)),
    // r10: o10's certification twin retired to spec status (the prod
    // form below is the registered query — the r9 d5/d12/o12 move)
    "o10_quantile_prod" -> ((s: SparkSession, d: String) =>
      operators.Sketches.o10QuantileSketchProd(s, d)),
    // r10: o11's certification form (exact count + FP probe sweep)
    // retired to spec status; the registered query is the
    // filter-stats production form — completing the o6/o7/o10/o12 set
    "o11_bloom_prod" -> (operators.Sketches.o11BloomProd _),
    "o12_source_similarity_prod" -> ((s: SparkSession, d: String) =>
      operators.Sketches.o12SourceSimilarityProd(s, d)),
    "c6_curriculum_order" -> (operators.Curation.c6CurriculumOrder _),
    "c7_global_shuffle" -> (operators.Curation.c7GlobalShuffle _),
    "c8_dsir" -> ((s: SparkSession, d: String) =>
      operators.Curation.c8Dsir(s, d)),
    "x1_curation_pipeline" ->
      (operators.CurationPipeline.x1CurationPipeline _),
    // r10: the measured dedup-before-index law as a registered
    // composition — d12-prod survivors → survivor-width search graph
    // → s15's seeded ef walk. r13: the registered form is the STORED
    // walk over the build-if-absent survivor-index store (the
    // s15/s16/r1 precedent — the bench measures the per-query walk,
    // not a re-dedup + index rebuild per invocation); stored ≡ inline
    // is spec-pinned, so the composed oracle is unchanged
    "x2_dedup_index" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.x2DedupIndexStored(s, d)),
    "e1_embedding_quantize" -> (operators.Curation.e1EmbeddingQuantize _),
    "e2_matryoshka_truncate" -> ((s: SparkSession, d: String) =>
      operators.Curation.e2MatryoshkaTruncate(s, d)),
    "o1_profile" -> (operators.Curation.o1Profile _),
    "o2_drift" -> (operators.Curation.o2Drift _),
    "o3_expectations" -> (operators.Curation.o3Expectations _),
    "o4_heavy_hitters" -> ((s: SparkSession, d: String) =>
      operators.Curation.o4HeavyHitters(s, d)),
    "o5_source_report" -> (operators.Curation.o5SourceReport _),
    // r10: o6/o7 certification forms (exact branch beside the
    // estimator) retired to spec status; the registered queries are
    // the sketch-only production forms
    "o6_hll_prod" -> (operators.Sketches.o6HllProd _),
    "o7_cms_prod" -> (operators.Sketches.o7CmsProd _),
    "c10_weighted_reservoir" -> ((s: SparkSession, d: String) =>
      operators.Sketches.c10WeightedReservoir(s, d)),
    "n1_nested_flatten" -> (operators.Nested.n1NestedFlatten _),
    // ETL / history
    "h1_snapshot_history" -> (History.h1SnapshotHistory _),
    "h2_latest_state" -> (History.h2LatestState _),
    "h3_incremental_delta" -> (History.h3IncrementalDelta _),
    "h4_dedup_consecutive" -> (History.h4DedupConsecutive _),
    "h5_state_at_time" -> (History.h5StateAtTime _),
    "h6_multivalue_merge" -> (History.h6MultivalueMerge _),
    "h6b_multivalue_setdiff" -> (History.h6bMultivalueSetdiff _),
    "h7_flag_parse" -> (History.h7FlagParse _),
    "h8_json_props" -> (History.h8JsonProps _),
    "h9_alias_canonical" -> (History.h9AliasCanonical _),
    "h10_normalize_scrub" -> (History.h10NormalizeScrub _),
    "h11_sessionize" -> (History.h11Sessionize _),
    "h12_es_docs" -> (History.h12EsDocs _),
    "h17_gapfill" -> (History.h17Gapfill _),
    "b1_bug_history" -> (operators.HistoryDriver.b1BugHistory _),
    "p1_privacy_screen" -> (operators.Screening.p1PrivacyScreen _),
    "p2_field_screen" -> (operators.Screening.p2FieldScreen _),
    "p3_privacy_delete" -> (operators.Screening.p3PrivacyDelete _),
    "a1_alias_analysis" -> (operators.HistoryDriver.a1AliasAnalysis _),
    "b2_nested_history" -> (operators.HistoryDriver.b2NestedHistory _),
    "b3_diff_history" -> (operators.DiffHistory.b3DiffHistory _),
    "c2_comments_stream" -> (operators.Comments.c2CommentsStream _),
    "h13_flag_lifecycle" -> (History.h13FlagLifecycle _),
    "h14_normalize_dates" -> (History.h14NormalizeDates _),
    "h15_truncation_tolerance" -> (History.h15TruncationTolerance _),
    "b4_consistency_report" -> (operators.Consistency.b4ConsistencyReport _),
    // r15: the reference's END-TO-END program (bz_etl.py:123
    // run_both_etl) as one registered query — reconstruct → nest →
    // normalize → ES bulk wire lines, bugs + comments streams
    "b5_full_etl" -> (graft.etl.FullEtl.b5FullEtl _),
    // r15 (verdict #7): b1's membership stage with RUN-LENGTH output —
    // (item, from_version, to_version) presence runs, O(churn) not
    // versions × live items
    "b6_membership_intervals" -> ((s: SparkSession, d: String) => {
      val (cur, act, segB) = operators.HistoryDriver.b1Parts(s, d)
      operators.BugHistory.membershipIntervals(cur, act, Seq("cc"),
          Seq("summary"), segB)
        .orderBy("id", "item", "from_version")
    }),
    "t10_line_filter" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t10LineFilter(s, d)),
    "t13_boilerplate" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t13Boilerplate(s, d)),
    "t14_bpe_merges" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t14BpeMerges(s, d)),
    "t15_chunk" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t15Chunk(s, d)),
    "t16_bpe_encode" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t16BpeEncode(s, d)),
    "t17_bpe_tokenize" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t17BpeTokenize(s, d)),
    "t18_bpe_pack" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t18BpePack(s, d)),
    "t19_nb_filter" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t19NbFilter(s, d)),
    "t11_perplexity" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t11Perplexity(s, d)),
    "t12_bm25" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t12Bm25(s, d)),
    // Dedup family
    "d1_exact_dedup" -> (graft.dedup.Dedup.d1ExactDedup _),
    "d2_minhash_lsh" -> (graft.dedup.Dedup.d2MinhashLsh _),
    "d3_simhash" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d3Simhash(s, d)),
    "d4_ngram_jaccard" -> (graft.dedup.Dedup.d4NgramJaccard _),
    // r9: the REGISTERED d5/d12 are the measured-linear cell-confined
    // prod forms (r8 verdict #1); the banded exact forms stay as
    // spec-covered reference code with the (bands, r) knob
    "d5_embedding_prod" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d5EmbeddingProd(s, d)),
    "d6_decontaminate" -> (graft.dedup.Dedup.d6Decontaminate _),
    "d7_span_dedup" -> (graft.dedup.Dedup.d7SpanDedup _),
    "d15_substr_dedup" -> (graft.dedup.Dedup.d15SubstrDedup _),
    "d17_chunk_dedup" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d17ChunkDedup(s, d)),
    "d8_dup_clusters" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d8DupClusters(s, d)),
    "d9_incremental_dedup" -> (graft.dedup.Dedup.d9IncrementalDedup _),
    "x3_incremental_dedup" -> (graft.dedup.Dedup.x3IncrementalDedup _),
    "x4_incremental_verify" -> (graft.dedup.Dedup.x4IncrementalVerify _),
    "d10_cc_stars" -> (graft.dedup.Dedup.d10CcStars _),
    "d11_cluster_maintain" -> (graft.dedup.Dedup.d11ClusterMaintain _),
    "d12_semdedup_prod" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d12SemDedupProd(s, d)),
    "d13_containment" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d13ContainmentJoin(s, d)),
    "d14_eval_containment" -> ((s: SparkSession, d: String) =>
      graft.dedup.Dedup.d14EvalContainment(s, d)),
    // Similarity search
    "s1_ann_bruteforce" -> (graft.similarity.Similarity.s1AnnBruteForce _),
    "s2_ann_lsh" -> (graft.similarity.Similarity.s2AnnLsh _),
    "s3_ivf_ann" -> (graft.similarity.Similarity.s3IvfAnn _),
    "s17_filtered_ann" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s17FilteredAnn(s, d)),
    // r11: filtered ANN at the WALK tier — s15's stored-walk shape
    // over a per-predicate graph shard (ensure-built once per
    // (corpus, predicate)); stored ≡ inline is spec-pinned, the
    // oracle re-derives the filtered graph + walk from scratch
    "s18_filtered_walk" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s18FilteredWalk(s, d)),
    "r1_rrf_fusion" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.r1RrfFusion(s, d)),
    "r1_rrf_prod" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.r1RrfProd(s, d)),
    "s6_ann_recall" -> (graft.similarity.Similarity.s6AnnRecall _),
    "s4_pq_encode" -> (graft.similarity.Similarity.s4PqEncode _),
    "s7_two_stage" -> (graft.similarity.Similarity.s7TwoStage _),
    "s13_ivf_pq" -> (graft.similarity.Similarity.s13IvfPq _),
    "s14_knn_graph" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s14KnnGraph(s, d)),
    // r10: the registered s15 is the STORED walk too — its navigable
    // graph IS s16's layer 0, so one ensure-store root serves both
    // walk tiers (exactly the production shape: one maintained graph
    // family, two query tiers); stored ≡ inline is spec-pinned
    "s15_graph_search" -> ((s: SparkSession, d: String) => {
      val (g0, _, _) = graft.similarity.Similarity.s16EnsureStores(s, d)
      graft.similarity.Similarity.s15GraphSearchStored(s, d, g0)
    }),
    // the REGISTERED s16 is the production shape: a walk over
    // persisted maintained stores + atlas (built once per corpus by
    // s16EnsureStores — nobody rebuilds an ANN index per query);
    // StreamingKnnSpec pins stored ≡ inline, so the oracle still
    // re-derives the whole build from scratch every Verify run
    "s16_hnsw" -> ((s: SparkSession, d: String) => {
      val (g0, uppers, atlas) =
        graft.similarity.Similarity.s16EnsureStores(s, d)
      graft.similarity.Similarity.s16HnswStored(s, d, g0, uppers,
        atlasPath = Some(atlas))
    }),
    // x5 (r14): the s16-tier dedup-before-index composition — the
    // survivors-only precondition EXECUTABLE: d12 survivors get their
    // own full hierarchy (layers + atlas, widths from survivor
    // counts) and the registered query walks the persisted store
    "x5_survivor_hnsw" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.x5SurvivorHnsw(s, d)),
    "s8_mmr_diversify" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s8MmrDiversify(s, d)),
    "s9_mmr_lsh" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s9MmrLsh(s, d)),
    "s10_mmr_pq" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s10MmrPq(s, d)),
    "s11_binary_rerank" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s11BinaryRerank(s, d)),
    "s12_mmr_binary" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s12MmrBinary(s, d)),
    "e3_binary_quantize" -> (operators.Curation.e3BinaryQuantize _),
    "s5_kmeans_refine" -> ((s: SparkSession, d: String) =>
      graft.similarity.Similarity.s5KmeansRefine(s, d)),
    // Text analysis
    "t1_langid" -> (graft.text.TextAnalysis.t1LangId _),
    "t2_quality_score" -> (graft.text.TextAnalysis.t2QualityScore _),
    "t3_token_count" -> (graft.text.TextAnalysis.t3TokenCount _),
    "t4_fingerprint" -> (graft.text.TextAnalysis.t4Fingerprint _),
    "t5_tfidf" -> (graft.text.TextAnalysis.t5Tfidf _),
    "t6_normalize_text" -> (graft.text.TextAnalysis.t6NormalizeText _),
    "t7_seq_pack" -> ((s: SparkSession, d: String) =>
      graft.text.TextAnalysis.t7SeqPack(s, d)),
    "t8_repetition" -> (graft.text.TextAnalysis.t8Repetition _),
    "t9_pii_redact" -> (graft.text.TextAnalysis.t9PiiRedact _),
    // Multimodal
    "m1_multimodal_meta" -> (graft.multimodal.Multimodal.m1MultimodalMeta _),
    "m2_frame_sample" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.m2FrameSample(s, d)),
    "m3_feature_extract" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.m3FeatureExtract(s, d)),
    "m4_crossmodal_gate" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.m4CrossModalGate(s, d)),
    "m6_frame_dedup" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.m6FrameDedup(s, d)),
    "m5_phash_dedup" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.m5PhashDedup(s, d)),
  )

  /** Shared CTE chain reproducing HistoryDriver's event→activity
    * shaping plus BugHistory.reconstruct (version timeline, single-
    * value as-of states, multi-value presence intervals) in pure SQL —
    * the hard oracle for the engine's core operator. Ends with a
    * trailing comma so callers append their own final CTEs/SELECT. */
  private val bugHistoryCte: String =
    """WITH ev AS (
      |  SELECT user_id AS id, epoch_ms(ts) AS ts, event_id, event_type,
      |    regexp_extract(props, '"k": (\d+)', 1) AS k
      |  FROM events),
      |status_chg AS (
      |  SELECT id, ts, 'status' AS field, old_value, event_type AS new_value FROM (
      |    SELECT id, ts, event_id, event_type,
      |      lag(event_type) OVER (PARTITION BY id ORDER BY ts, event_id) AS old_value
      |    FROM ev)
      |  WHERE old_value IS NOT NULL AND old_value <> event_type),
      |cc_chg AS (
      |  SELECT id, ts, 'cc' AS field,
      |    CASE WHEN event_type='error' THEN 'k'||k ELSE '' END AS old_value,
      |    CASE WHEN event_type='click' THEN 'k'||k ELSE '' END AS new_value
      |  FROM ev WHERE event_type IN ('click','error')),
      |spur AS (
      |  SELECT id, ts, event_id, 'sum'||k||'_u'||id AS summary FROM ev
      |  WHERE event_type='purchase'),
      |sum_chg AS (
      |  SELECT id, ts, 'summary' AS field, old_full AS old_value,
      |    summary AS new_value
      |  FROM (SELECT id, ts, summary, lag(summary) OVER (PARTITION BY id
      |          ORDER BY ts, event_id) AS old_full FROM spur)
      |  WHERE old_full IS NOT NULL AND old_full <> summary),
      |cur_sum AS (
      |  SELECT id, summary FROM (
      |    SELECT id, summary, row_number() OVER (PARTITION BY id
      |      ORDER BY ts DESC, event_id DESC) AS prn FROM spur)
      |  WHERE prn = 1),
      |activity AS (SELECT * FROM status_chg UNION ALL SELECT * FROM cc_chg
      |  UNION ALL SELECT * FROM sum_chg),
      |cur AS (
      |  SELECT id, min(ts) AS created_ts,
      |    max(CASE WHEN rn=1 THEN event_type END) AS status,
      |    'u'||id AS owner
      |  FROM (SELECT *, row_number() OVER (PARTITION BY id
      |          ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
      |  GROUP BY id),
      |timeline AS (
      |  SELECT DISTINCT id, ts FROM (
      |    SELECT id, ts FROM activity UNION ALL SELECT id, created_ts FROM cur)),
      |versions AS (
      |  SELECT id, ts,
      |    COALESCE(lead(ts) OVER (PARTITION BY id ORDER BY ts), 9999999999000) AS expires_on,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY ts) AS BIGINT) AS version
      |  FROM timeline),
      |chg AS (SELECT id, field, ts, old_value, new_value FROM activity
      |        WHERE field IN ('status','owner','summary')),
      |-- BACKWARD-ANCHORED (the reference walks back from the current
      |-- row): a version's value is the NEXT change's old_value, and
      |-- the newest segment is the current value
      |u AS (
      |  SELECT id, field, ts, old_value AS value, 0 AS kind FROM chg
      |  UNION ALL
      |  SELECT v.id, f.field, v.ts, NULL AS value, 1 AS kind
      |  FROM versions v
      |  CROSS JOIN (VALUES ('status'),('owner'),('summary')) f(field)),
      |states0 AS (
      |  SELECT * FROM (
      |    SELECT id, field, ts, kind,
      |      first_value(value IGNORE NULLS) OVER (PARTITION BY id, field
      |        ORDER BY ts, kind, value DESC
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS state
      |    FROM u)
      |  WHERE kind = 1),
      |states AS (
      |  SELECT s.id, s.field, s.ts, s.kind,
      |    COALESCE(s.state, CASE s.field WHEN 'status' THEN c.status
      |      WHEN 'owner' THEN c.owner WHEN 'summary' THEN cs.summary END)
      |      AS state
      |  FROM states0 s JOIN cur c ON c.id = s.id
      |  LEFT JOIN cur_sum cs ON cs.id = s.id),
      |sv AS (
      |  SELECT id, ts,
      |    max(CASE WHEN field='status' THEN state END) AS status,
      |    max(CASE WHEN field='owner' THEN state END) AS owner,
      |    max(CASE WHEN field='summary' THEN state END) AS summary
      |  FROM states GROUP BY id, ts),
      |mev AS (
      |  SELECT * FROM (
      |    SELECT id, ts, new_value AS item, 1 AS delta FROM activity WHERE field='cc'
      |    UNION ALL
      |    SELECT id, ts, old_value AS item, -1 AS delta FROM activity WHERE field='cc')
      |  WHERE item <> ''),
      |-- BACKWARD-ANCHORED presence: the segment between two events is
      |-- decided by the NEXT event (add => absent, remove => present);
      |-- the newest segment by the current membership (= the last
      |-- event per item being an add, in this synthetic mapping)
      |mord AS (
      |  SELECT *,
      |    lag(ts) OVER (PARTITION BY id, item ORDER BY ts, delta) AS prev_ts,
      |    row_number() OVER (PARTITION BY id, item
      |      ORDER BY ts DESC, delta DESC) AS rlast
      |  FROM mev),
      |intervals AS (
      |  SELECT id, item, COALESCE(prev_ts, -9223372036854775808) AS start_ts,
      |    ts AS end_ts
      |  FROM mord WHERE delta = -1
      |  UNION ALL
      |  SELECT id, item, ts AS start_ts, 9999999999000 AS end_ts
      |  FROM mord WHERE rlast = 1 AND delta = 1),
      |member AS (
      |  SELECT v.id, v.ts, i.item FROM versions v JOIN intervals i ON v.id=i.id
      |  WHERE v.ts >= i.start_ts AND v.ts < i.end_ts),
      |ccv AS (
      |  SELECT id, ts, string_agg(DISTINCT item, ',' ORDER BY item) AS cc
      |  FROM member GROUP BY id, ts),
      |chn AS (SELECT id, ts, count(*) AS n FROM activity GROUP BY id, ts),
      |""".stripMargin

  /** Scala doubles as a DuckDB DOUBLE[] literal. Double.toString is
    * the shortest round-trip representation, so DuckDB parses back the
    * exact same IEEE bits. */
  private def doubleList(xs: Array[Double]): String =
    xs.mkString("[", ", ", "]") + "::DOUBLE[]"

  /** Left-to-right sequential dot product of a DOUBLE[] column with a
    * plane literal — the same accumulation order as the native VecDot,
    * so hyperplane SIGNS (discrete bucket membership) agree exactly. */
  private def seqDot(embExpr: String, planeList: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(64), i -> $embExpr[i + 1] * ($planeList)[i + 1])), " +
      "(acc, x) -> acc + x)"

  /** The m1/m2 stub payload hash in SQL: rolling (h*31 + codepoint)
    * mod 1e9+7 over the text's Unicode codepoints, seed 5381 — DuckDB
    * `ascii`/`length` are codepoint-based, and the native
    * [[graft.multimodal.Multimodal.payloadHash]] walks codepoints too,
    * so the two sides agree for non-ASCII documents as well. */
  private val payloadHashSql: String =
    """list_reduce(list_prepend(CAST(5381 AS BIGINT),
      |      list_transform(range(1, length(text) + 1),
      |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** s5's two-round Lloyd refinement CTE chain, shared by the s5
    * oracle and c13's cluster-balancing oracle (c13 strata ARE s5's
    * final assignment). `dist`/`assign`/`recompute` unroll the same
    * deterministic rounds the engine runs. */
  private lazy val (s5KmeansSql, c13ClusterSql, semCellsCteBody)
      : (String, String, String) = {
    def dist(emb: String, cen: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(64), i -> ($emb[i + 1] - $cen[i + 1]) * " +
        s"($emb[i + 1] - $cen[i + 1]))), (a, b) -> a + b)"
    def assign(ctab: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dist("e.emb", "c.centroid")}, c.cid) AS rn
         |    FROM e CROSS JOIN $ctab c)
         |  WHERE rn = 1)""".stripMargin
    def recompute(atab: String, cpos: String, cout: String) =
      s"""$cpos AS (
         |  SELECT $atab.cid, i, avg(e.emb[i + 1]) AS c
         |  FROM $atab JOIN e USING (vec_id) CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |$cout AS (SELECT cid, list(c ORDER BY i) AS centroid FROM $cpos
         |          GROUP BY cid)""".stripMargin
    val ctesBody =
      s"""e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |cp0 AS (
         |  SELECT label AS cid, i, avg(emb[i + 1]) AS c
         |  FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |c0 AS (SELECT cid, list(c ORDER BY i) AS centroid FROM cp0 GROUP BY cid),
         |${assign("c0", "a1")},
         |${recompute("a1", "cp1", "c1")},
         |${assign("c1", "a2")},
         |${recompute("a2", "cp2", "c2")}""".stripMargin
    val ctes = s"WITH $ctesBody"
    val s5 =
      s"""$ctes
         |SELECT vec_id, cid AS cluster, round(d, 3) AS dist2 FROM (
         |  SELECT e.vec_id, c.cid, ${dist("e.emb", "c.centroid")} AS d,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e.emb", "c.centroid")}, c.cid) AS rn
         |  FROM e CROSS JOIN c2 c)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
    val c13 =
      s"""$ctes,
         |${assign("c2", "af")},
         |cnts AS (SELECT cid, count(*) AS cnt FROM af GROUP BY 1),
         |mn AS (SELECT min(cnt) AS min_cnt FROM cnts),
         |r AS (SELECT cid, CAST(min_cnt AS DOUBLE) / cnt AS rate
         |      FROM cnts CROSS JOIN mn)
         |SELECT d.doc_id, d.source, af.cid AS cluster,
         |  round(r.rate, 4) AS rate,
         |  (((d.doc_id % 2147483648) * 2654435761) % 4294967296
         |    % 10000)::DOUBLE / 10000.0 < r.rate AS sampled
         |FROM documents d JOIN af ON d.doc_id = af.vec_id
         |JOIN r USING (cid)
         |ORDER BY d.doc_id""".stripMargin
    // the SemDeDup cell assignment (d5/d12 prod forms): final k-means
    // assignment, hash-sub-sharded at cellCap=256 with the house
    // portable coin — the oracle twin of Dedup.semCells
    val cellsBody =
      s"""$ctesBody,
         |${assign("c2", "af")},
         |csz AS (SELECT cid, count(*) AS n FROM af GROUP BY 1),
         |cells AS (
         |  SELECT af.vec_id,
         |    CAST(af.cid AS VARCHAR) || '#' || CAST(
         |      ((af.vec_id % 2147483648) * 2654435761) % 4294967296 %
         |      greatest(CAST(ceil(csz.n / 256.0) AS BIGINT), 1) AS VARCHAR)
         |      AS cell
         |  FROM af JOIN csz USING (cid))""".stripMargin
    (s5, c13, cellsBody)
  }

  /** The cell-confined verified pair body shared by the d5/d12 prod
    * oracles (expects the [[semCellsCteBody]] CTEs in scope). */
  private lazy val semCellPairsSelect: String =
    """SELECT id1, id2, cos FROM (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
      |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN e e1 ON e1.vec_id = a.vec_id
      |  JOIN e e2 ON e2.vec_id = b.vec_id)
      |WHERE cos >= 0.3""".stripMargin

  /** t12's BM25 CTE chain (corpus tf/df/dl/avgdl, query terms, the
    * quantized score fold, the per-query rank) — shared by the t12
    * oracle (rk ≤ 5, unbounded query set) and r1's fusion oracle
    * (rk ≤ 20 text arm, fixed 64-slot query workload via qPred). */
  private def bm25Ctes(
      qPred: String = "doc_id % 97 = 0"): String =
    s"""tf0 AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id % 97 <> 0),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tf0
      |       WHERE term <> '' GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n,
      |  CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
      |    AS DOUBLE) / count(*) AS avgdl
      |  FROM documents WHERE doc_id % 97 <> 0),
      |qt AS (
      |  SELECT doc_id AS query_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents WHERE $qPred),
      |w AS (
      |  SELECT tf.doc_id, tf.term,
      |    ln((n - df + 0.5) / (df + 0.5) + 1.0) *
      |      (tf::DOUBLE * 2.2) /
      |      (tf::DOUBLE + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / avgdl))
      |      AS w
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |sc AS (
      |  SELECT q.query_id, w.doc_id,
      |    round(CAST(sum(CAST(floor(w * 1048576.0 + 0.5) AS BIGINT))
      |      AS DOUBLE) / 1048576.0, 4) AS score
      |  FROM w JOIN (SELECT query_id, term FROM qt WHERE term <> '') q
      |    USING (term)
      |  GROUP BY 1, 2),
      |rk AS (SELECT query_id, doc_id, score,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |  FROM sc)""".stripMargin

  /** s1's exact brute-force oracle — also the baseline side of s6. */
  private lazy val s1AnnSql: String =
    """SELECT q_id, rank, c_id, cos FROM (
      | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) AS cos,
      |  CAST(row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) DESC,
      |            c.vec_id ASC) AS BIGINT) AS rank
      | FROM embeddings q CROSS JOIN embeddings c
      | WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** s8's oracle: the same greedy MMR unrolled as m SQL rounds over
    * the s1 shortlist — integer thousandth-quantized rel/sims (the
    * floor(x·1000+0.5) house rounding), exact integer scores, c_id
    * tie-break. Shared CTEs are MATERIALIZED: the round chain
    * references each selall twice and DuckDB inlining would re-derive
    * the shortlist exponentially (the d8 gotcha). */
  /** The greedy MMR unrolled as m SQL rounds over a given shortlist
    * CTE body (must yield q_id, c_id, reli, c_emb) — integer
    * thousandth-quantized rel AND pairwise sims (both round the
    * cosine to 3 decimals FIRST, then apply the floor(x·1000+0.5)
    * house quantization — the reli treatment, so no 1-ulp boundary
    * can flip a greedy pick between engines), exact integer scores,
    * c_id tie-break. Shared CTEs are MATERIALIZED: the round chain
    * references each selall twice and DuckDB inlining would re-derive
    * the shortlist exponentially (the d8 gotcha). */
  private def mmrSqlOver(shortBody: String, m: Int = 5): String = {
    val lcs = "list_cosine_similarity"
    val rounds = (2 to m).map { r =>
      s"""pool$r AS MATERIALIZED (
         |  SELECT sh.q_id, sh.c_id, sh.reli FROM short sh
         |  LEFT JOIN selall${r - 1} s ON sh.q_id = s.q_id AND sh.c_id = s.c_id
         |  WHERE s.c_id IS NULL),
         |sc$r AS MATERIALIZED (
         |  SELECT p.q_id, p.c_id, 700 * p.reli - 300 * max(ms.simi) AS si
         |  FROM pool$r p
         |  JOIN sims ms ON ms.q_id = p.q_id AND ms.i = p.c_id
         |  JOIN selall${r - 1} s ON s.q_id = ms.q_id AND s.c_id = ms.j
         |  GROUP BY p.q_id, p.c_id, p.reli),
         |sel$r AS MATERIALIZED (
         |  SELECT q_id, c_id, CAST($r AS BIGINT) AS sel_rank, si FROM (
         |    SELECT q_id, c_id, si, row_number() OVER (PARTITION BY q_id
         |      ORDER BY si DESC, c_id ASC) AS rk FROM sc$r)
         |  WHERE rk = 1),
         |selall$r AS MATERIALIZED (
         |  SELECT * FROM selall${r - 1} UNION ALL SELECT * FROM sel$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH short AS MATERIALIZED (
       |$shortBody),
       |sims AS MATERIALIZED (
       |  SELECT a.q_id, a.c_id AS i, b.c_id AS j,
       |    CAST(floor(round($lcs(a.c_emb, b.c_emb), 3) * 1000 + 0.5)
       |      AS BIGINT) AS simi
       |  FROM short a JOIN short b
       |    ON a.q_id = b.q_id AND a.c_id <> b.c_id),
       |sel1 AS MATERIALIZED (
       |  SELECT q_id, c_id, CAST(1 AS BIGINT) AS sel_rank,
       |    700 * reli AS si FROM (
       |    SELECT q_id, c_id, reli, row_number() OVER (PARTITION BY q_id
       |      ORDER BY reli DESC, c_id ASC) AS rk FROM short)
       |  WHERE rk = 1),
       |selall1 AS MATERIALIZED (SELECT * FROM sel1),
       |$rounds
       |SELECT q_id, sel_rank, c_id, si / 1000000.0 AS score
       |FROM selall$m ORDER BY q_id, sel_rank""".stripMargin
  }

  private lazy val s8MmrSql: String = {
    val lcs = "list_cosine_similarity"
    mmrSqlOver(
      s"""  SELECT q_id, c_id, reli, c_emb FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |      CAST(floor(round($lcs(q.embedding::DOUBLE[],
         |        c.embedding::DOUBLE[]), 3) * 1000 + 0.5) AS BIGINT) AS reli,
         |      c.embedding::DOUBLE[] AS c_emb,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round($lcs(q.embedding::DOUBLE[],
         |          c.embedding::DOUBLE[]), 3) DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q CROSS JOIN embeddings c
         |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
         |  WHERE rank <= 10""".stripMargin)
  }

  /** s9's oracle: the same MMR rounds over the s2 multi-probe LSH
    * shortlist (bucketing replayed from the driver-folded plane
    * literals, as s2AnnSql). */
  private lazy val s9MmrSql: String = {
    val lcs = "list_cosine_similarity"
    val planes = (0 until 4).map(j =>
      doubleList(graft.functions.VectorFunctions.planeValues(j, 64)))
    val dots = (0 until 4).map(j =>
      s"${seqDot("emb", planes(j))} AS d$j").mkString(",\n    ")
    val bucket = (0 until 4).map(j =>
      s"CASE WHEN d$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    mmrSqlOver(
      s"""  WITH e AS (
         |    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |  bkt AS (
         |    SELECT vec_id, emb, $bucket AS bucket FROM (
         |      SELECT vec_id, emb,
         |      $dots
         |      FROM e)),
         |  q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS b0
         |        FROM bkt WHERE vec_id < 10),
         |  qp AS (SELECT q_id, q_emb, unnest(
         |      [b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket
         |    FROM q),
         |  c AS (SELECT vec_id AS c_id, emb AS c_emb, bucket
         |        FROM bkt WHERE vec_id >= 10)
         |  SELECT q_id, c_id, reli, c_emb FROM (
         |    SELECT q_id, c_id,
         |      CAST(floor(round($lcs(q_emb, c_emb), 3) * 1000 + 0.5)
         |        AS BIGINT) AS reli,
         |      c_emb,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY round($lcs(q_emb, c_emb), 3) DESC,
         |                 c_id ASC) AS rank
         |    FROM c JOIN qp USING (bucket))
         |  WHERE rank <= 10""".stripMargin)
  }

  /** s10's oracle: the same MMR rounds over s7's PQ/ADC two-stage
    * shortlist — the full codes/lookup-table/approx-rank/exact-rerank
    * chain replayed (s7's CTEs), top-10 by exact cosine feeding the
    * diversifier. */
  private lazy val s10MmrSql: String = {
    val lcs = "list_cosine_similarity"
    val sq = "(e.emb[j.j*8 + i + 1] - c.centroid[j.j*8 + i + 1])"
    val sqSum = s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(8), i -> $sq * $sq)),
       |      (a, b) -> a + b)""".stripMargin
    val adistSum = (0 until 8).map(j =>
      s"max(CASE WHEN cds.sub = $j THEN qdv END)").mkString(" + ")
    mmrSqlOver(
      s"""  WITH e AS (
         |    SELECT vec_id, label, embedding::DOUBLE[] AS emb
         |    FROM embeddings),
         |  cpos AS (
         |    SELECT label, i, avg(emb[i + 1]) AS c
         |    FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |  cent AS MATERIALIZED (SELECT label, list(c ORDER BY i)
         |    AS centroid FROM cpos GROUP BY label),
         |  cds AS MATERIALIZED (
         |    SELECT c_id, sub, label AS code FROM (
         |      SELECT *, row_number() OVER (PARTITION BY c_id, sub
         |        ORDER BY dist, label) AS rn FROM (
         |        SELECT e.vec_id AS c_id, c.label, j.j AS sub,
         |          $sqSum AS dist
         |        FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |        WHERE e.vec_id >= 10))
         |    WHERE rn = 1),
         |  qdt AS MATERIALIZED (
         |    SELECT e.vec_id AS q_id, c.label, j.j AS sub, $sqSum AS qdv
         |    FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |    WHERE e.vec_id < 10),
         |  approx AS (
         |    SELECT q_id, c_id, round($adistSum, 3) AS adist
         |    FROM cds JOIN qdt ON cds.sub = qdt.sub AND cds.code = qdt.label
         |    GROUP BY 1, 2),
         |  sh0 AS (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist, c_id) AS srank FROM approx),
         |  rr AS (
         |    SELECT s.q_id, s.c_id,
         |      round($lcs(q.embedding::DOUBLE[], c.embedding::DOUBLE[]),
         |        3) AS cos,
         |      c.embedding::DOUBLE[] AS c_emb
         |    FROM (SELECT * FROM sh0 WHERE srank <= 20) s
         |    JOIN embeddings q ON q.vec_id = s.q_id
         |    JOIN embeddings c ON c.vec_id = s.c_id)
         |  SELECT q_id, c_id, reli, c_emb FROM (
         |    SELECT q_id, c_id,
         |      CAST(floor(cos * 1000 + 0.5) AS BIGINT) AS reli, c_emb,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, c_id ASC) AS rank FROM rr)
         |  WHERE rank <= 10""".stripMargin)
  }

  /** s12's oracle: the shared MMR rounds over s11's binary-Hamming
    * shortlist (bits packed by the same Horner fold, re-ranked by
    * exact cosine, top-10 feeds the diversifier). */
  private lazy val s12MmrSql: String = {
    val lcs = "list_cosine_similarity"
    def half(sl: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(emb[$sl],
         |      x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
         |    (a, x) -> a * 2 + x)""".stripMargin
    mmrSqlOver(
      s"""  WITH e AS (
         |    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |  bb AS (
         |    SELECT vec_id,
         |      ${half("1:32")} AS bits_hi,
         |      ${half("33:64")} AS bits_lo
         |    FROM e),
         |  qq AS (SELECT vec_id AS q_id, bits_hi AS q_hi, bits_lo AS q_lo
         |        FROM bb WHERE vec_id < 10),
         |  cc AS (SELECT vec_id AS c_id, bits_hi, bits_lo
         |        FROM bb WHERE vec_id >= 10),
         |  hh AS (
         |    SELECT q_id, c_id,
         |      bit_count(xor(bits_hi, q_hi)) +
         |      bit_count(xor(bits_lo, q_lo)) AS hamming
         |    FROM cc CROSS JOIN qq),
         |  sh2 AS (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY hamming, c_id) AS srank FROM hh),
         |  rr AS (
         |    SELECT s.q_id, s.c_id,
         |      round($lcs(qe.embedding::DOUBLE[],
         |        ce.embedding::DOUBLE[]), 3) AS cos,
         |      ce.embedding::DOUBLE[] AS c_emb
         |    FROM (SELECT * FROM sh2 WHERE srank <= 20) s
         |    JOIN embeddings qe ON qe.vec_id = s.q_id
         |    JOIN embeddings ce ON ce.vec_id = s.c_id)
         |  SELECT q_id, c_id, reli, c_emb FROM (
         |    SELECT q_id, c_id,
         |      CAST(floor(cos * 1000 + 0.5) AS BIGINT) AS reli, c_emb,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, c_id ASC) AS rank FROM rr)
         |  WHERE rank <= 10""".stripMargin)
  }

  /** s2's LSH oracle (bucketing replayed from the driver-folded plane
    * literals) — also the approximate side of s6. */
  private lazy val s2AnnSql: String = {
    val planes = (0 until 4).map(j =>
      doubleList(graft.functions.VectorFunctions.planeValues(j, 64)))
    val dots = (0 until 4).map(j =>
      s"${seqDot("emb", planes(j))} AS d$j").mkString(",\n    ")
    val bucket = (0 until 4).map(j =>
      s"CASE WHEN d$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |bkt AS (
       |  SELECT vec_id, emb, $bucket AS bucket FROM (
       |    SELECT vec_id, emb,
       |    $dots
       |    FROM e)),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS b0
       |      FROM bkt WHERE vec_id < 10),
       |qp AS (SELECT q_id, q_emb, unnest(
       |    [b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket
       |  FROM q),
       |c AS (SELECT vec_id AS c_id, emb AS c_emb, bucket
       |      FROM bkt WHERE vec_id >= 10)
       |SELECT q_id, rank, c_id, cos FROM (
       |  SELECT q_id, c_id,
       |    round(list_cosine_similarity(q_emb, c_emb), 3) AS cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(list_cosine_similarity(q_emb, c_emb), 3) DESC,
       |               c_id ASC) AS BIGINT) AS rank
       |  FROM c JOIN qp USING (bucket))
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** s15's oracle: the s14 graph CTE + the s2 seed chain + the beam
    * walk UNROLLED round by round (frontier = top-beam of the visited
    * set, expand through the graph, score only unseen candidates,
    * fold). Every intermediate visited set is MATERIALIZED — each
    * round reads its predecessor three times, and DuckDB inlines
    * multiply-referenced CTEs. */
  /** The sparse banding's width-stable plane table, one VALUES row
    * per (band, bit index j, weight 2^j) — mirrors
    * Similarity.sparseBands' seed layout: j < 8 keeps the r8 seeds
    * (2000+b·8+j), j ≥ 8 is the widening family (4000+b·8+(j−8))
    * whose signSig lands in the high byte (weight 2^j). Shared by the
    * s14 and s15 oracles (both auto-width: j < the beff CTE's bits —
    * s14 counts the full embeddings table, s15 the vec_id >= 10
    * corpus, mirroring each engine body's count). */
  private lazy val sparsePlaneRows: String =
    (for (b <- 0 until 12; j <- 0 until 16) yield {
      val seed = if (j < 8) 2000 + b * 8 + j else 4000 + b * 8 + (j - 8)
      val pl = doubleList(
        graft.functions.VectorFunctions.planeValues(seed, 64))
      s"    ($b, $j, ${1L << j}, $pl)"
    }).mkString(",\n")

  /** s14's oracle: within-label sparse-band init edges (unfloored) +
    * the NN-Descent rounds unrolled — each round's
    * neighbor-of-neighbor candidates (minus known edges) score and
    * fold into the edge set — then the d5 floor and top-5. Every
    * multi-referenced CTE MATERIALIZED. */
  private lazy val s14KnnGraphSql: String = {
    val descentK = 8
    val rounds = (1 to 2).map { r =>
      s"""kg${r - 1} AS MATERIALIZED (
         |  SELECT vec_id, nbr FROM (
         |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr) AS rk
         |    FROM (SELECT id1 AS vec_id, id2 AS nbr, cos FROM ke${r - 1}
         |          UNION ALL SELECT id2, id1, cos FROM ke${r - 1}))
         |  WHERE rk <= $descentK),
         |kc$r AS (
         |  SELECT DISTINCT least(x.vec_id, y.nbr) AS id1,
         |    greatest(x.vec_id, y.nbr) AS id2
         |  FROM kg${r - 1} x JOIN kg${r - 1} y ON x.nbr = y.vec_id
         |  WHERE x.vec_id <> y.nbr),
         |kn$r AS (
         |  SELECT id1, id2 FROM kc$r c
         |  WHERE NOT EXISTS (SELECT 1 FROM ke${r - 1} e
         |    WHERE e.id1 = c.id1 AND e.id2 = c.id2)),
         |ks$r AS (
         |  SELECT id1, id2,
         |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
         |  FROM kn$r JOIN e e1 ON e1.vec_id = id1
         |  JOIN e e2 ON e2.vec_id = id2),
         |ke$r AS MATERIALIZED (
         |  SELECT * FROM ke${r - 1} UNION ALL SELECT * FROM ks$r),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |spt(b, j, w, plane) AS (VALUES
       |$sparsePlaneRows),
       |nv AS (SELECT count(*) AS n FROM embeddings),
       |beff AS (
       |  SELECT 8 + (n > 4096)::INT + (n > 8192)::INT + (n > 16384)::INT
       |    + (n > 32768)::INT + (n > 65536)::INT + (n > 131072)::INT
       |    + (n > 262144)::INT + (n > 524288)::INT AS bits FROM nv),
       |sge AS (
       |  SELECT vec_id, label, b,
       |    CAST(sum(CASE WHEN ${seqDot("emb", "plane")} > 0
       |      THEN w ELSE 0 END) AS BIGINT) AS sig
       |  FROM e CROSS JOIN spt CROSS JOIN beff
       |  WHERE j < bits GROUP BY 1, 2, 3),
       |scand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sge a JOIN sge b ON a.label = b.label AND a.b = b.b
       |    AND a.sig = b.sig AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |ke0 AS MATERIALIZED (
       |  SELECT id1, id2,
       |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
       |  FROM scand JOIN e e1 ON e1.vec_id = id1
       |  JOIN e e2 ON e2.vec_id = id2),
       |$rounds
       |p AS (SELECT id1, id2, cos FROM ke2 WHERE cos >= 0.3),
       |sym AS (SELECT id1 AS vec_id, id2 AS nbr, cos FROM p
       |        UNION ALL SELECT id2, id1, cos FROM p)
       |SELECT vec_id, rk, nbr, cos FROM (
       |  SELECT vec_id, nbr, cos, CAST(row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, nbr) AS BIGINT) AS rk
       |  FROM sym)
       |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin
  }

  private lazy val s15GraphSearchSql: String = s15WalkSqlOver(
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |nv AS (SELECT count(*) AS n FROM embeddings WHERE vec_id >= 10)"""
      .stripMargin, "e")

  /** s18's oracle: the s15 walk SQL verbatim over the PREDICATE-
    * FILTERED corpus (queries kept, corpus label-filtered) — graph
    * width from the filtered count, LSH seed and ef rounds on
    * surviving vectors only; re-derives the shard build the
    * registered query amortizes behind the ensure-store. */
  private lazy val s18FilteredWalkSql: String = {
    val inList = graft.similarity.Similarity.s18Labels.mkString(", ")
    s15WalkSqlOver(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
         |  FROM embeddings WHERE vec_id < 10 OR label IN ($inList)),
         |nv AS (SELECT count(*) AS n FROM e WHERE vec_id >= 10)"""
        .stripMargin, "e")
  }

  /** x2's oracle: the d12-prod CTE chain (k-means cells → sub-shard →
    * within-cell verified pairs → recursive closure) derives the
    * SURVIVOR set, then s15's full walk SQL runs over it — graph
    * width from the survivor count (the beff CTE), LSH seed and ef
    * rounds on survivors only. The whole composition re-derived
    * independently, end-to-end. */
  private lazy val x2DedupIndexSql: String = s15WalkSqlOver(
    s"""WITH RECURSIVE $semCellsCteBody,
       |p0 AS MATERIALIZED (
       |$semCellPairsSelect),
       |eg AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM p0
       |      UNION SELECT id2, id1 FROM p0),
       |reach(u, v) AS (
       |  SELECT u, v FROM eg
       |  UNION
       |  SELECT r.u, eg.v FROM reach r JOIN eg ON r.v = eg.u),
       |lbl AS (SELECT u AS id, least(u, min(v)) AS lbl
       |        FROM reach GROUP BY u),
       |es AS MATERIALIZED (
       |  SELECT x.vec_id, x.emb FROM e x LEFT JOIN lbl l ON l.id = x.vec_id
       |  WHERE l.lbl IS NULL OR l.lbl = x.vec_id),
       |nv AS (SELECT count(*) AS n FROM es WHERE vec_id >= 10)"""
      .stripMargin, "es")

  /** s15's walk SQL over a parameterized corpus CTE `src`: `header`
    * must open the WITH chain and define `src(vec_id, emb)` plus
    * `nv(n)` — the ≥10 corpus count feeding the bitsFor width law.
    * The registered s15 passes the whole embeddings table; x2 passes
    * the d12-survivor subset. */
  /** r1's fusion SQL around a caller-supplied dense-arm body (a
    * SELECT yielding (query_id, doc_id, rk ≤ 20)) — shared by the
    * exact certification form and the walk-tier production form. */
  private def r1FusionSqlWith(denseVrk: String): String = {
    // the binary arm's packed sign codes — e3's fold verbatim
    def half(src: String, sl: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform($src[$sl],
         |      x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
         |    (a, x) -> a * 2 + x)""".stripMargin
    s"""WITH ${bm25Ctes("doc_id % 97 = 0 AND doc_id < 6208")},
       |bmtop AS (SELECT query_id, doc_id, rk FROM rk WHERE rk <= 20),
       |qv AS (
       |  SELECT d.doc_id AS query_id, e.embedding::DOUBLE[] AS q_emb
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  WHERE d.doc_id % 97 = 0 AND d.doc_id < 6208),
       |cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS c_emb
       |       FROM embeddings WHERE vec_id % 97 <> 0),
       |vrk AS (
       |  $denseVrk),
       |qb AS (SELECT query_id, ${half("q_emb", "1:32")} AS q_hi,
       |              ${half("q_emb", "33:64")} AS q_lo FROM qv),
       |cbin AS (SELECT doc_id, ${half("c_emb", "1:32")} AS c_hi,
       |              ${half("c_emb", "33:64")} AS c_lo FROM cv),
       |brk AS (
       |  SELECT query_id, doc_id, rk FROM (
       |    SELECT q.query_id, c.doc_id,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY bit_count(xor(c.c_hi, q.q_hi))
       |          + bit_count(xor(c.c_lo, q.q_lo)) ASC, c.doc_id ASC)
       |        AS BIGINT) AS rk
       |    FROM qb q CROSS JOIN cbin c)
       |  WHERE rk <= 20),
       |fused AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(1000000 // (60 + rk)) AS BIGINT) AS rrf
       |  FROM (SELECT * FROM bmtop UNION ALL SELECT * FROM vrk
       |        UNION ALL SELECT * FROM brk)
       |  GROUP BY 1, 2)
       |SELECT query_id, rk, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rk
       |  FROM fused)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  private def s15WalkSqlOver(header: String, src: String,
      qPred: String = "vec_id < 10", cPred: String = "vec_id >= 10",
      kOut: Int = 5): String = {
    val planes = (0 until 4).map(j =>
      doubleList(graft.functions.VectorFunctions.planeValues(j, 64)))
    val dots = (0 until 4).map(j =>
      s"${seqDot("emb", planes(j))} AS d$j").mkString(",\n    ")
    val bucket = (0 until 4).map(j =>
      s"CASE WHEN d$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val ptRows = sparsePlaneRows
    val rounds = (1 to 3).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id) AS rk FROM v${r - 1} v
         |    WHERE NOT EXISTS (SELECT 1 FROM e${r - 1} x
         |      WHERE x.q_id = v.q_id AND x.c_id = v.c_id))
         |  WHERE rk <= 12),
         |e$r AS MATERIALIZED (
         |  SELECT q_id, c_id FROM e${r - 1}
         |  UNION ALL SELECT q_id, c_id FROM f$r),
         |n$r AS (
         |  SELECT DISTINCT f.q_id, g.nbr AS c_id
         |  FROM f$r f JOIN g ON g.vec_id = f.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} v
         |    WHERE v.q_id = f.q_id AND v.c_id = g.nbr)),
         |sc$r AS (
         |  SELECT n.q_id, n.c_id,
         |    round(list_cosine_similarity(q.q_emb, ce.c_emb), 3) AS cos
         |  FROM n$r n JOIN q ON q.q_id = n.q_id
         |  JOIN ce ON ce.c_id = n.c_id),
         |v$r AS MATERIALIZED (
         |  SELECT * FROM v${r - 1} UNION ALL SELECT * FROM sc$r),""".stripMargin
    }.mkString("\n")
    s"""$header,
       |spt(b, j, w, plane) AS (VALUES
       |$ptRows),
       |beff AS (
       |  SELECT 8 + (n > 4096)::INT + (n > 8192)::INT + (n > 16384)::INT
       |    + (n > 32768)::INT + (n > 65536)::INT + (n > 131072)::INT
       |    + (n > 262144)::INT + (n > 524288)::INT AS bits FROM nv),
       |sge AS (
       |  SELECT vec_id, b,
       |    CAST(sum(CASE WHEN ${seqDot("emb", "plane")} > 0
       |      THEN w ELSE 0 END) AS BIGINT) AS sig
       |  FROM $src CROSS JOIN spt CROSS JOIN beff
       |  WHERE ($cPred) AND j < bits GROUP BY 1, 2),
       |scand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sge a JOIN sge b ON a.b = b.b AND a.sig = b.sig
       |    AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |sp AS MATERIALIZED (
       |  SELECT id1, id2,
       |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
       |  FROM scand JOIN $src e1 ON e1.vec_id = id1
       |  JOIN $src e2 ON e2.vec_id = id2),
       |g AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nbr) AS rk
       |    FROM (SELECT id1 AS vec_id, id2 AS nbr, cos FROM sp
       |          UNION ALL SELECT id2, id1, cos FROM sp))
       |  WHERE rk <= 16),
       |bkt AS (
       |  SELECT vec_id, emb, $bucket AS bucket FROM (
       |    SELECT vec_id, emb,
       |    $dots
       |    FROM $src)),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS b0
       |      FROM bkt WHERE $qPred),
       |qp AS (SELECT q_id, q_emb, unnest(
       |    [b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket
       |  FROM q),
       |ce AS (SELECT vec_id AS c_id, emb AS c_emb FROM $src
       |       WHERE $cPred),
       |cb AS (SELECT vec_id AS c_id, emb AS c_emb, bucket
       |      FROM bkt WHERE $cPred),
       |v0 AS MATERIALIZED (
       |  SELECT q_id, c_id, cos FROM (
       |    SELECT q_id, c_id,
       |      round(list_cosine_similarity(q_emb, c_emb), 3) AS cos,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY round(list_cosine_similarity(q_emb, c_emb), 3) DESC,
       |                 c_id ASC) AS rk
       |    FROM cb JOIN qp USING (bucket))
       |  WHERE rk <= 12),
       |e0 AS (SELECT q_id, c_id FROM v0 WHERE FALSE),
       |$rounds
       |unused AS (SELECT 1)
       |SELECT q_id, rank, c_id, cos FROM (
       |  SELECT q_id, c_id, cos, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank FROM v3)
       |WHERE rank <= $kOut ORDER BY q_id, rank""".stripMargin
  }

  /** s16's oracle: levels from the portable coin, the s15 layer-0
    * graph CTEs verbatim, per-layer upper graphs at bitsSmall widths,
    * the entry atlas (exact layer-0 components via recursive
    * min-label propagation — the filter `lbl < u` is lossless for
    * the final min because a component's minimum is smaller than
    * every node it must reach — crossed with label), the 6 greedy
    * descent steps and all 3 beam rounds unrolled. */
  private lazy val s16HnswSql: String = s16HnswSqlOver(
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)",
    "e")

  /** x5's oracle (r14): the d12-prod survivor chain (x2's header,
    * keeping label) feeding the ENTIRE s16 hierarchy — layer widths,
    * level coin, components, atlas, descent and ef rounds all derived
    * over the survivor CTE `se`. */
  private lazy val x5SurvivorHnswSql: String = s16HnswSqlOver(
    s"""$semCellsCteBody,
       |p0 AS MATERIALIZED (
       |$semCellPairsSelect),
       |eg AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM p0
       |      UNION SELECT id2, id1 FROM p0),
       |reach(u, v) AS (
       |  SELECT u, v FROM eg
       |  UNION
       |  SELECT r.u, eg.v FROM reach r JOIN eg ON r.v = eg.u),
       |lbl AS (SELECT u AS id, least(u, min(v)) AS lbl
       |        FROM reach GROUP BY u),
       |se AS MATERIALIZED (
       |  SELECT x.vec_id, x.label, x.emb FROM e x
       |  LEFT JOIN lbl l ON l.id = x.vec_id
       |  WHERE l.lbl IS NULL OR l.lbl = x.vec_id)""".stripMargin,
    "se")

  /** The s16 oracle body over a parameterized corpus CTE `src`
    * (vec_id, label, emb): `header` opens the WITH chain and must
    * define `e` (the RAW table — queries and vector lookups read it)
    * plus `src` when it differs. The registered s16 passes the whole
    * table; x5 passes the d12-survivor subset — every width law,
    * level, component and atlas below derives from `src`. */
  private def s16HnswSqlOver(header: String, src: String): String = {
    val ptRows = sparsePlaneRows
    val coin = "((vec_id % 2147483648) * 2654435761) % 4294967296"
    val upperLayers = (1 to 3).map { l =>
      val bitsSum = (6 to 19).map(t => s"(n > ${1L << t})::INT")
        .mkString(" + ")
      s"""nL$l AS (SELECT count(*) AS n FROM lvl WHERE level >= $l),
         |bL$l AS (SELECT 2 + $bitsSum AS bits FROM nL$l),
         |sgeL$l AS (
         |  SELECT e.vec_id, b,
         |    CAST(sum(CASE WHEN ${seqDot("emb", "plane")} > 0
         |      THEN w ELSE 0 END) AS BIGINT) AS sig
         |  FROM e JOIN lvl ON lvl.vec_id = e.vec_id
         |  CROSS JOIN spt CROSS JOIN bL$l
         |  WHERE lvl.level >= $l AND j < bL$l.bits GROUP BY 1, 2),
         |scL$l AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM sgeL$l a JOIN sgeL$l b
         |    ON a.b = b.b AND a.sig = b.sig AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |spL$l AS MATERIALIZED (
         |  SELECT id1, id2,
         |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
         |  FROM scL$l JOIN e e1 ON e1.vec_id = id1
         |  JOIN e e2 ON e2.vec_id = id2),
         |gL$l AS MATERIALIZED (
         |  SELECT vec_id, nbr FROM (
         |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr) AS rk
         |    FROM (SELECT id1 AS vec_id, id2 AS nbr, cos FROM spL$l
         |          UNION ALL SELECT id2, id1, cos FROM spL$l))
         |  WHERE rk <= 8),""".stripMargin
    }.mkString("\n")
    val descent = (1 to 6).map { i =>
      val l = 3 - (i - 1) / 2
      s"""ucand$i AS (
         |  SELECT DISTINCT u.q_id, g.nbr AS c_id, u.lane
         |  FROM u${i - 1} u JOIN gL$l g ON g.vec_id = u.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} p
         |    WHERE p.q_id = u.q_id AND p.c_id = g.nbr
         |      AND p.lane = u.lane)),
         |usc$i AS (
         |  SELECT c.q_id, c.c_id,
         |    round(list_cosine_similarity(q.q_emb, ce.c_emb), 3) AS cos,
         |    c.lane
         |  FROM ucand$i c JOIN q ON q.q_id = c.q_id
         |  JOIN ce ON ce.c_id = c.c_id),
         |u$i AS MATERIALIZED (
         |  SELECT q_id, c_id, cos, lane FROM (
         |    SELECT q_id, c_id, cos, lane, row_number() OVER (
         |      PARTITION BY q_id, lane ORDER BY cos DESC, c_id) AS rk
         |    FROM (SELECT q_id, c_id, cos, lane FROM u${i - 1}
         |          UNION ALL SELECT q_id, c_id, cos, lane FROM usc$i))
         |  WHERE rk <= 4),""".stripMargin
    }.mkString("\n")
    val rounds = (1 to 3).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT q_id, c_id, cos, lane FROM (
         |    SELECT v.q_id, v.c_id, v.cos, v.lane, ql.quota,
         |      row_number() OVER (PARTITION BY v.q_id, v.lane
         |        ORDER BY v.cos DESC, v.c_id) AS rk
         |    FROM v${r - 1} v JOIN qlanes ql
         |      ON ql.q_id = v.q_id AND ql.lane = v.lane
         |    WHERE NOT EXISTS (SELECT 1 FROM e${r - 1} x
         |      WHERE x.q_id = v.q_id AND x.c_id = v.c_id
         |        AND x.lane = v.lane))
         |  WHERE rk <= quota),
         |e$r AS MATERIALIZED (
         |  SELECT q_id, c_id, lane FROM e${r - 1}
         |  UNION ALL SELECT q_id, c_id, lane FROM f$r),
         |n$r AS (
         |  SELECT DISTINCT f.q_id, g.nbr AS c_id, f.lane
         |  FROM f$r f JOIN g ON g.vec_id = f.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} v
         |    WHERE v.q_id = f.q_id AND v.c_id = g.nbr
         |      AND v.lane = f.lane)),
         |sc$r AS (
         |  SELECT n.q_id, n.c_id,
         |    round(list_cosine_similarity(q.q_emb, ce.c_emb), 3) AS cos,
         |    n.lane
         |  FROM n$r n JOIN q ON q.q_id = n.q_id
         |  JOIN ce ON ce.c_id = n.c_id),
         |v$r AS MATERIALIZED (
         |  SELECT * FROM v${r - 1} UNION ALL SELECT * FROM sc$r),""".stripMargin
    }.mkString("\n")
    s"""WITH RECURSIVE $header,
       |spt(b, j, w, plane) AS (VALUES
       |$ptRows),
       |nv AS (SELECT count(*) AS n FROM $src WHERE vec_id >= 10),
       |beff AS (
       |  SELECT 8 + (n > 4096)::INT + (n > 8192)::INT + (n > 16384)::INT
       |    + (n > 32768)::INT + (n > 65536)::INT + (n > 131072)::INT
       |    + (n > 262144)::INT + (n > 524288)::INT AS bits FROM nv),
       |sge AS (
       |  SELECT vec_id, b,
       |    CAST(sum(CASE WHEN ${seqDot("emb", "plane")} > 0
       |      THEN w ELSE 0 END) AS BIGINT) AS sig
       |  FROM $src CROSS JOIN spt CROSS JOIN beff
       |  WHERE vec_id >= 10 AND j < bits GROUP BY 1, 2),
       |scand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sge a JOIN sge b ON a.b = b.b AND a.sig = b.sig
       |    AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |sp AS MATERIALIZED (
       |  SELECT id1, id2,
       |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
       |  FROM scand JOIN e e1 ON e1.vec_id = id1
       |  JOIN e e2 ON e2.vec_id = id2),
       |g AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nbr) AS rk
       |    FROM (SELECT id1 AS vec_id, id2 AS nbr, cos FROM sp
       |          UNION ALL SELECT id2, id1, cos FROM sp))
       |  WHERE rk <= 16),
       |lvl AS (
       |  SELECT vec_id, label,
       |    (CASE WHEN $coin < 1073741824 THEN 1 ELSE 0 END +
       |     CASE WHEN $coin < 268435456 THEN 1 ELSE 0 END +
       |     CASE WHEN $coin < 67108864 THEN 1 ELSE 0 END) AS level
       |  FROM $src WHERE vec_id >= 10),
       |$upperLayers
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
       |ce AS (SELECT vec_id AS c_id, emb AS c_emb FROM $src WHERE vec_id >= 10),
       |gsym AS MATERIALIZED (
       |  SELECT vec_id AS u, nbr AS v FROM g
       |  UNION SELECT nbr, vec_id FROM g),
       |lp(id, lbl) AS (
       |  SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM gsym)
       |  UNION
       |  SELECT g2.u AS id, lp.lbl FROM lp JOIN gsym g2 ON g2.v = lp.id
       |  WHERE lp.lbl < g2.u),
       |comp AS MATERIALIZED (SELECT id, min(lbl) AS comp FROM lp GROUP BY id),
       |entry AS (
       |  SELECT vec_id AS c_id, ecomp, csize FROM (
       |    SELECT l.vec_id, coalesce(c.comp, l.vec_id) AS ecomp,
       |      count(*) OVER (PARTITION BY coalesce(c.comp, l.vec_id))
       |        AS csize,
       |      row_number() OVER (
       |      PARTITION BY l.label, coalesce(c.comp, l.vec_id)
       |      ORDER BY l.level DESC, l.vec_id) AS rk
       |    FROM lvl l LEFT JOIN comp c ON c.id = l.vec_id)
       |  WHERE rk <= 4),
       |u0 AS MATERIALIZED (
       |  SELECT q_id, c_id, cos, ecomp AS lane, csize FROM (
       |    SELECT q_id, c_id, cos, ecomp, csize,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, c_id) AS rk,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY csize DESC, ecomp) AS rs
       |    FROM (
       |      SELECT q.q_id, en.c_id, en.ecomp, en.csize,
       |        round(list_cosine_similarity(q.q_emb, ce.c_emb), 3) AS cos,
       |        row_number() OVER (PARTITION BY q.q_id, en.ecomp
       |          ORDER BY round(list_cosine_similarity(q.q_emb, ce.c_emb), 3)
       |            DESC, en.c_id) AS rc
       |      FROM q CROSS JOIN entry en JOIN ce ON ce.c_id = en.c_id)
       |    WHERE rc = 1)
       |  WHERE rk <= 4 OR rs = 1),
       |qlanes AS MATERIALIZED (
       |  SELECT q_id, lane, greatest(1,
       |    (12 * csize) // (sum(csize) OVER (PARTITION BY q_id))) AS quota
       |  FROM u0),
       |$descent
       |v0 AS MATERIALIZED (SELECT q_id, c_id, cos, lane FROM u6),
       |e0 AS (SELECT q_id, c_id, lane FROM u6 WHERE FALSE),
       |$rounds
       |unused AS (SELECT 1)
       |SELECT q_id, rank, c_id, cos FROM (
       |  SELECT q_id, c_id, cos, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM (SELECT DISTINCT q_id, c_id, cos FROM v3))
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** d2's MinHash-LSH oracle (md5-based permutations interpolated from
    * MinHashParams) — also the edge set of d8's clustering oracle. */
  /** Shared minhash sketch CTE chain (through `band`) — the oracle
    * twin of Dedup.mhBands, reused by d2 (self-join) and d9
    * (batch-vs-corpus). */
  private def minhashBandCte(from: String = "documents",
      countFrom: String = ""): String = {
    // the width-law unit count — d17 counts DOCUMENTS (its banded
    // units are chunks, but the engine's law counts docs to avoid
    // materializing the chunk pipeline twice; the mirror must count
    // the same frame)
    val cf = if (countFrom.isEmpty) from else countFrom
    val a = graft.expressions.MinHashParams.A.take(32)
      .mkString("[", ", ", "]")
    val b = graft.expressions.MinHashParams.B.take(32)
      .mkString("[", ", ", "]")
    s"""sh AS (
       |  SELECT doc_id, unnest(CASE WHEN length(text) <= 5 THEN [text]
       |    ELSE list_distinct(list_transform(range(1, length(text) - 3),
       |      i -> substr(text, CAST(i AS INT), 5))) END) AS shingle
       |  FROM $from WHERE text IS NOT NULL),
       |hx AS (
       |  SELECT doc_id,
       |    CAST(md5_number_lower(shingle) % 4294967296 AS BIGINT) AS x
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, j, min((A[j + 1] * x + B[j + 1]) % 2147483647) AS h
       |  FROM hx CROSS JOIN range(32) r(j)
       |  CROSS JOIN (SELECT $a AS A, $b AS B) p
       |  GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM mh GROUP BY doc_id),
       |ndw AS (SELECT count(*) AS n FROM $cf WHERE text IS NOT NULL),
       |xw AS (SELECT (n > 8192)::INT + (n > 32768)::INT
       |  + (n > 131072)::INT + (n > 524288)::INT AS x FROM ndw),
       |band AS MATERIALIZED (
       |  SELECT doc_id, sig, b AS band,
       |    sig[b * 4 + 1 : b * 4 + 4] ||
       |      sig[((b + 1) % 8) * 4 + 1 : ((b + 1) % 8) * 4 + x] AS bv
       |  FROM sig CROSS JOIN range(8) r(b) CROSS JOIN xw)""".stripMargin
  }

  /** Exact-components oracle shared by d10 and d11: round-free
    * recursive-CTE transitive closure over the symmetrized d2 pair
    * graph; component label = min reachable id. The engines run to
    * exact fixpoints (star contraction; incremental merge), so no
    * round-count assumption links the formulations. */
  private lazy val ccExactSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($d2MinhashSql)),
       |e AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM pairs
       |      UNION SELECT id2, id1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |lbl AS (SELECT u AS id, least(u, min(v)) AS lbl
       |        FROM reach GROUP BY u)
       |SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster,
       |  l.lbl IS NOT NULL AS in_dup_set
       |FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** d5's banded-pair oracle body (plane literals interpolated from
    * VectorFunctions.planeValues, same sequential dot order) — the
    * hash check pins the query's actual LSH semantics, and d12 closes
    * the same graph transitively. Plane table unrolled into VALUES:
    * indexing a nested list literal from inside the dot-product
    * lambda makes DuckDB re-materialize the whole 32x64 literal per
    * element (measured: minutes); as a joined column reference the
    * same arithmetic is milliseconds. */
  private lazy val d5PairsSql: String = {
    val planeRows = (for (b <- 0 until 32; j <- 0 until 3) yield
      s"($b, ${1L << j}, " +
        doubleList(graft.functions.VectorFunctions.planeValues(1000 + b * 3 + j, 64)) +
        ")").mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |pt(b, w, plane) AS (VALUES
       |    $planeRows),
       |sg AS (
       |  SELECT vec_id, label, b,
       |    CAST(sum(CASE WHEN ${seqDot("emb", "plane")} > 0
       |      THEN w ELSE 0 END) AS BIGINT) AS sig
       |  FROM e CROSS JOIN pt GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sg a JOIN sg b ON a.label = b.label AND a.b = b.b
       |    AND a.sig = b.sig AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, cos FROM (
       |  SELECT id1, id2,
       |    round(list_cosine_similarity(e1.emb, e2.emb), 3) AS cos
       |  FROM cand JOIN e e1 ON e1.vec_id = id1 JOIN e e2 ON e2.vec_id = id2)
       |WHERE cos >= 0.3""".stripMargin
  }

  /** c15's DoReMi alpha chain (through the smoothed per-source weight
    * CTE `w`) — shared by the c15 rate oracle and c16's weighted
    * water-filling oracle. */
  private lazy val doremiAlphaCte: String =
    """t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    CAST(round(abs(0.3 - (len(list_filter(string_split(text, ' '),
      |      x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE /
      |      len(string_split(text, ' ')))) * 1e6) AS BIGINT) AS loss6
      |  FROM documents WHERE text IS NOT NULL),
      |src AS (SELECT source, CAST(sum(loss6 * n_toks) AS BIGINT) AS lw,
      |        CAST(sum(n_toks) AS BIGINT) AS toks FROM t GROUP BY source),
      |tot AS (SELECT CAST(sum(lw) AS BIGINT) AS tlw,
      |        CAST(sum(toks) AS BIGINT) AS ttoks, count(*) AS m FROM src),
      |tilt AS (
      |  SELECT source, m,
      |    CAST(toks AS DOUBLE) / ttoks AS prior,
      |    greatest(0.0, CAST(lw AS DOUBLE) / toks / 1e6
      |      - CAST(tlw AS DOUBLE) / ttoks / 1e6) AS excess
      |  FROM src CROSS JOIN tot),
      |t6 AS (SELECT source, prior, excess, m,
      |    CAST(round(prior * exp(10.0 * excess) * 1e6) AS BIGINT) AS t6
      |  FROM tilt),
      |z AS (SELECT CAST(sum(t6) AS BIGINT) AS z FROM t6),
      |w AS (SELECT source, prior, excess,
      |    0.9 * CAST(t6 AS DOUBLE) / z + 0.1 / m AS alpha
      |  FROM t6 CROSS JOIN z)""".stripMargin

  /** d4's oracle — shared verbatim by x4_incremental_verify (the
    * cadence must reproduce d4 on the union row-for-row). */
  private lazy val d4NgramSql: String =
    s"""WITH ${minhashBandCte()},
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |tk AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT id1, id2, jac FROM (
       |  SELECT id1, id2,
       |    round(len(list_filter(t1.toks, x -> list_contains(t2.toks, x)))::DOUBLE /
       |          len(list_distinct(list_concat(t1.toks, t2.toks))), 3) AS jac
       |  FROM cand JOIN tk t1 ON t1.doc_id = id1 JOIN tk t2 ON t2.doc_id = id2)
       |WHERE jac >= 0.7 ORDER BY id1, id2""".stripMargin

  private lazy val d2MinhashSql: String =
    s"""WITH ${minhashBandCte()},
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    len(list_filter(range(32), i -> a.sig[i + 1] = b.sig[i + 1])) / 32.0 AS jac
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id1, id2, max(jac) AS jaccard_est FROM cand WHERE jac >= 0.5
       |GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin

  /** DuckDB oracle SQL per query (same parquet tables, same column
    * aliases, same deterministic ORDER BY, floats rounded identically). */
  def oracleSql: Map[String, String] = Map(
    // ---- md5-based sketches: the SAME mixing arithmetic as the native
    // expressions (md5_number_lower/upper ≡ Md5Helper, permutation
    // constants interpolated from MinHashParams) ----
    "d2_minhash_lsh" -> d2MinhashSql,
    "x1_curation_pipeline" -> {
      // full pipeline re-derivation: quality gate → exact dedup →
      // minhash pairs ON THE SURVIVORS → EXACT components (recursive
      // closure, matching the engine's adaptive exact entry) →
      // SEMANTIC components (the d5 banded pair graph restricted to
      // survivors², transitively closed — per-vector banding is
      // corpus-independent, so subset pairs = full pairs filtered) →
      // within-source CONTAINMENT (all-pairs exact form: the prefix
      // filter is recall-1.0, spec-proven, so brute force is the
      // strongest check) → decontamination vs the raw-corpus eval
      // grams → split counts
      s"""WITH RECURSIVE q AS MATERIALIZED (
         |  SELECT * FROM documents
         |  WHERE doc_id % 97 <> 0 AND text IS NOT NULL AND n_chars >= 100),
         |ex AS MATERIALIZED (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text, row_number() OVER (
         |      PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
         |  WHERE rn = 1),
         |${minhashBandCte("ex")},
         |mcand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    len(list_filter(range(32), i -> a.sig[i + 1] = b.sig[i + 1])) / 32.0 AS jac
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |pairs AS MATERIALIZED (
         |  SELECT id1, id2 FROM mcand WHERE jac >= 0.5 GROUP BY id1, id2),
         |me AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM pairs
         |      UNION ALL SELECT id2, id1 FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM me
         |  UNION
         |  SELECT r.u, me.v FROM reach r JOIN me ON r.v = me.u),
         |lbl AS MATERIALIZED (SELECT u AS id, least(u, min(v)) AS lbl
         |        FROM reach GROUP BY u),
         |nd AS MATERIALIZED (
         |  SELECT ex.doc_id, ex.source, ex.text FROM ex
         |  LEFT JOIN lbl ON lbl.id = ex.doc_id
         |  WHERE lbl.lbl IS NULL OR lbl.lbl = ex.doc_id),
         |semp AS MATERIALIZED (
         |  SELECT id1, id2 FROM ($d5PairsSql)
         |  WHERE id1 IN (SELECT doc_id FROM nd)
         |    AND id2 IN (SELECT doc_id FROM nd)),
         |se AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM semp
         |      UNION ALL SELECT id2, id1 FROM semp),
         |sreach(u, v) AS (
         |  SELECT u, v FROM se
         |  UNION
         |  SELECT r.u, se.v FROM sreach r JOIN se ON r.v = se.u),
         |slbl AS MATERIALIZED (SELECT u AS id, least(u, min(v)) AS lbl
         |        FROM sreach GROUP BY u),
         |sem AS MATERIALIZED (
         |  SELECT nd.doc_id, nd.source, nd.text FROM nd
         |  LEFT JOIN slbl ON slbl.id = nd.doc_id
         |  WHERE slbl.lbl IS NULL OR slbl.lbl = nd.doc_id),
         |ssets AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(
         |      range(0, len(string_split(text, ' ')) - 2),
         |      i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))
         |      AS ts
         |  FROM sem),
         |scontained AS MATERIALIZED (
         |  SELECT DISTINCT CASE WHEN n1 < n2 OR (n1 = n2 AND id1 > id2)
         |    THEN id1 ELSE id2 END AS doc_id FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2,
         |      len(a.ts) AS n1, len(b.ts) AS n2,
         |      round(len(list_filter(a.ts, x -> list_contains(b.ts, x)))::DOUBLE /
         |        least(len(a.ts), len(b.ts)), 3) AS c
         |    FROM ssets a JOIN ssets b
         |      ON a.source = b.source AND a.doc_id < b.doc_id)
         |  WHERE c >= 0.8),
         |co AS MATERIALIZED (
         |  SELECT * FROM sem
         |  WHERE doc_id NOT IN (SELECT doc_id FROM scontained)),
         |g AS (
         |  SELECT doc_id,
         |    list_transform(range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')) AS grams
         |  FROM documents),
         |bench AS MATERIALIZED (
         |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
         |cont AS (
         |  SELECT doc_id FROM (
         |    SELECT co.doc_id, unnest(
         |      list_transform(range(0, len(string_split(co.text,' ')) - 2),
         |        i -> array_to_string(string_split(co.text,' ')[i+1:i+3], ' ')))
         |      AS gram
         |    FROM co) t
         |  JOIN bench USING (gram)
         |  GROUP BY doc_id HAVING count(DISTINCT gram) >= 3),
         |clean AS MATERIALIZED (
         |  SELECT * FROM co WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |split_counts AS (
         |  SELECT CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |    count(*) AS rows
         |  FROM (SELECT ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 AS b
         |        FROM clean) GROUP BY 1),
         |splits AS (
         |  SELECT 'split_' || l.split AS stage, coalesce(c.rows, 0) AS rows
         |  FROM (VALUES ('train'), ('val'), ('test')) l(split)
         |  LEFT JOIN split_counts c ON c.split = l.split)
         |SELECT stage, rows FROM (
         |  SELECT 'raw' AS stage, count(*) AS rows FROM documents
         |  UNION ALL SELECT 'quality', count(*) FROM q
         |  UNION ALL SELECT 'exact_dedup', count(*) FROM ex
         |  UNION ALL SELECT 'near_dup', count(*) FROM nd
         |  UNION ALL SELECT 'semantic', count(*) FROM sem
         |  UNION ALL SELECT 'containment', count(*) FROM co
         |  UNION ALL SELECT 'decontam', count(*) FROM clean
         |  UNION ALL SELECT stage, rows FROM splits)
         |ORDER BY stage""".stripMargin
    },
    "d9_incremental_dedup" ->
      s"""WITH ${minhashBandCte()},
         |hits AS (
         |  SELECT n.doc_id AS doc_id, c.doc_id AS match_id,
         |    max(len(list_filter(range(32),
         |      i -> n.sig[i + 1] = c.sig[i + 1])) / 32.0) AS jac
         |  FROM band n JOIN band c ON n.band = c.band AND n.bv = c.bv
         |  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |  GROUP BY 1, 2
         |  HAVING max(len(list_filter(range(32),
         |    i -> n.sig[i + 1] = c.sig[i + 1])) / 32.0) >= 0.5),
         |best AS (
         |  SELECT doc_id, match_id, jac,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jac DESC, match_id) AS rk
         |  FROM hits)
         |SELECT d.doc_id, b.match_id, b.jac AS jaccard_est,
         |  b.match_id IS NOT NULL AS is_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // d8 now runs EXACT components (the adaptive union-find /
    // star-contraction entry), so its oracle is the same transitive
    // closure as d10/d11 — the former 4-round unrolled propagation
    // oracle encoded the old engine's fixed-round semantics and
    // diverged at sf0.1 where 4 rounds had not converged.
    "d8_dup_clusters" -> ccExactSql,
    "d10_cc_stars" -> ccExactSql,
    // d11 maintains the map incrementally (batch folded into a
    // persisted corpus map); the oracle recomputes the SAME exact
    // components from scratch — the strongest possible check that the
    // incremental fold loses nothing.
    "d11_cluster_maintain" -> ccExactSql,
    "d3_simhash" -> {
      // r11: the oracle mirrors the BANDED candidate generation with
      // the width law as a CTE (the d5/m5 precedent: the hash check
      // gates the query's actual LSH semantics; the banded ≡
      // all-pairs recall bound lives in PipelineSpec, and every
      // oracle scale runs x = 0 where the ≤ 10 pigeonhole is exact)
      def bandSql(k: Int): String = {
        val (off, w) = graft.dedup.Dedup.d3BandDefs(k)
        if (off + w <= 64) s"((lo >> $off) & ${(1L << w) - 1})"
        else if (off >= 64) s"((hi >> ${off - 64}) & ${(1L << w) - 1})"
        else s"(((lo >> $off) & ${(1L << (64 - off)) - 1}) + " +
          s"((hi & ${(1L << (w - (64 - off))) - 1}) * ${1L << (64 - off)}))"
      }
      val bandCase = graft.dedup.Dedup.d3BandDefs.indices.map { k =>
        val w = graft.dedup.Dedup.d3BandDefs(k)._2
        s"WHEN $k THEN ${bandSql(k)} + " +
          s"((${bandSql((k + 1) % 11)} & ((CAST(1 AS BIGINT) << x) - 1))" +
          s" * ${1L << w})"
      }.mkString("\n        |      ")
      val xSum = (14 to 23).map(t => s"(n > ${1L << t})::INT")
        .mkString(" + ")
      s"""WITH t AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |hb AS (
        |  SELECT doc_id, md5_number_lower(tok) AS lo, md5_number_upper(tok) AS hi
        |  FROM t),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN b < 64
        |      THEN CASE WHEN (lo >> b) & 1 = 1 THEN 1 ELSE -1 END
        |      ELSE CASE WHEN (hi >> (b - 64)) & 1 = 1 THEN 1 ELSE -1 END END) AS v
        |  FROM hb CROSS JOIN range(128) r(b) GROUP BY 1, 2),
        |sig AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 AND b < 64 THEN
        |      CASE WHEN b = 63 THEN -9223372036854775808
        |           ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN v > 0 AND b >= 64 THEN
        |      CASE WHEN b = 127 THEN -9223372036854775808
        |           ELSE (CAST(1 AS BIGINT) << CAST(b - 64 AS INT)) END
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM votes GROUP BY doc_id),
        |nd3 AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |xw3 AS (SELECT least(10, $xSum) AS x FROM nd3),
        |bd AS MATERIALIZED (
        |  SELECT doc_id, lo, hi, b AS band,
        |    CASE b
        |      $bandCase
        |    END AS bv
        |  FROM sig CROSS JOIN range(11) r(b) CROSS JOIN xw3),
        |cand AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
        |      AS hamming
        |  FROM bd a JOIN bd b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT id1, id2, min(hamming) AS hamming FROM cand
        |WHERE hamming <= 10 GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin
    },
    "s2_ann_lsh" -> s2AnnSql,
    "s15_graph_search" -> s15GraphSearchSql,
    "s18_filtered_walk" -> s18FilteredWalkSql,
    "x2_dedup_index" -> x2DedupIndexSql,
    // x3 replays the ingest cadence (3 arrival waves, accumulated
    // band store) and must land row-identical to d2 on the union —
    // so its oracle IS d2's SQL: the strongest possible check that
    // the cadence loses no pair across wave boundaries.
    "x3_incremental_dedup" -> d2MinhashSql,
    "s16_hnsw" -> s16HnswSql,
    "x5_survivor_hnsw" -> x5SurvivorHnswSql,
    "s6_ann_recall" ->
      s"""WITH exact AS (SELECT q_id, c_id FROM ($s1AnnSql)),
         |approx AS (SELECT q_id, c_id FROM ($s2AnnSql)),
         |hits AS (
         |  SELECT e.q_id, count(*) AS hits FROM exact e
         |  JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
         |  GROUP BY e.q_id),
         |kk AS (SELECT q_id, count(*) AS k FROM exact GROUP BY q_id)
         |SELECT kk.q_id, kk.k, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
         |  coalesce(h.hits, 0)::DOUBLE / kk.k AS recall
         |FROM kk LEFT JOIN hits h USING (q_id) ORDER BY q_id""".stripMargin,
    "s13_ivf_pq" -> {
      val sq = "(e.emb[j.j*8 + i + 1] - c.centroid[j.j*8 + i + 1])"
      val sqSum = s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(8), i -> $sq * $sq)),
         |      (a, b) -> a + b)""".stripMargin
      val adistSum = (0 until 8).map(j =>
        s"max(CASE WHEN cds.sub = $j THEN qdv END)").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
         |  FROM embeddings),
         |cpos AS (
         |  SELECT label, i, avg(emb[i + 1]) AS c
         |  FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |cent AS MATERIALIZED (
         |  SELECT label, list(c ORDER BY i) AS centroid FROM cpos
         |  GROUP BY label),
         |pr AS MATERIALIZED (
         |  SELECT q_id, label AS cell FROM (
         |    SELECT q.vec_id AS q_id, c.label,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.emb, c.centroid) DESC,
         |                 c.label ASC) AS crank
         |    FROM (SELECT * FROM e WHERE vec_id < 10) q
         |    CROSS JOIN cent c)
         |  WHERE crank <= 2),
         |cds AS MATERIALIZED (
         |  SELECT c_id, cell, sub, label AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY c_id, sub
         |      ORDER BY dist, label) AS rn FROM (
         |      SELECT e.vec_id AS c_id, e.label AS cell, c.label,
         |        j.j AS sub, $sqSum AS dist
         |      FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |      WHERE e.vec_id >= 10))
         |  WHERE rn = 1),
         |qdt AS MATERIALIZED (
         |  SELECT e.vec_id AS q_id, c.label, j.j AS sub, $sqSum AS qdv
         |  FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |  WHERE e.vec_id < 10),
         |approx AS (
         |  SELECT pr.q_id, cds.c_id, round($adistSum, 3) AS adist
         |  FROM cds JOIN pr ON cds.cell = pr.cell
         |  JOIN qdt ON qdt.q_id = pr.q_id AND qdt.sub = cds.sub
         |    AND qdt.label = cds.code
         |  GROUP BY 1, 2),
         |sh AS (
         |  SELECT q_id, c_id, adist, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adist, c_id) AS srank
         |  FROM approx)
         |SELECT q_id, rank, c_id, cos, adist FROM (
         |  SELECT s.q_id, s.c_id, s.adist,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[],
         |      c.embedding::DOUBLE[]), 3) AS cos,
         |    CAST(row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
         |        c.embedding::DOUBLE[]), 3) DESC, s.c_id ASC) AS BIGINT)
         |      AS rank
         |  FROM (SELECT * FROM sh WHERE srank <= 20) s
         |  JOIN embeddings q ON q.vec_id = s.q_id
         |  JOIN embeddings c ON c.vec_id = s.c_id)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    "s3_ivf_ann" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |cpos AS (
        |  SELECT label, i, avg(emb[i + 1]) AS c
        |  FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM cpos
        |         GROUP BY label),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
        |pr AS (
        |  SELECT q_id, q_emb, label FROM (
        |    SELECT q.q_id, q.q_emb, c.label,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.q_emb, c.centroid) DESC,
        |                 c.label ASC) AS crank
        |    FROM q CROSS JOIN cent c)
        |  WHERE crank <= 2)
        |SELECT q_id, rank, c_id, cos FROM (
        |  SELECT pr.q_id, c.vec_id AS c_id,
        |    round(list_cosine_similarity(pr.q_emb, c.emb), 3) AS cos,
        |    CAST(row_number() OVER (PARTITION BY pr.q_id
        |      ORDER BY round(list_cosine_similarity(pr.q_emb, c.emb), 3) DESC,
        |               c.vec_id ASC) AS BIGINT) AS rank
        |  FROM pr JOIN e c ON c.label = pr.label AND c.vec_id >= 10)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // r10: filtered ANN — centroids, probe, and re-rank all over the
    // predicate-filtered corpus (the pre-filter form)
    "s17_filtered_ann" ->
      """WITH f AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings
        |  WHERE vec_id >= 10 AND label IN (0, 2, 4, 6, 8)),
        |cpos AS (
        |  SELECT label, i, avg(emb[i + 1]) AS c
        |  FROM f CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM cpos
        |         GROUP BY label),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
        |      FROM embeddings WHERE vec_id < 10),
        |pr AS (
        |  SELECT q_id, q_emb, label FROM (
        |    SELECT q.q_id, q.q_emb, c.label,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.q_emb, c.centroid) DESC,
        |                 c.label ASC) AS crank
        |    FROM q CROSS JOIN cent c)
        |  WHERE crank <= 2)
        |SELECT q_id, rank, c_id, cos FROM (
        |  SELECT pr.q_id, c.vec_id AS c_id,
        |    round(list_cosine_similarity(pr.q_emb, c.emb), 3) AS cos,
        |    CAST(row_number() OVER (PARTITION BY pr.q_id
        |      ORDER BY round(list_cosine_similarity(pr.q_emb, c.emb), 3) DESC,
        |               c.vec_id ASC) AS BIGINT) AS rank
        |  FROM pr JOIN f c ON c.label = pr.label)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "m5_phash_dedup" -> {
      val P = 1000000007L
      // the 60-bit stub code as a sum of six disjoint 10-bit pieces
      // (|= over disjoint ranges ≡ +), constants Scala-folded; the
      // width-law extension bits come from the CODE ITSELF — band k
      // widened with the next band's low-x bits (Multimodal.widenedBand)
      val phTerms = (0 until 6).map { k =>
        val c = ((k + 1) * 2654435761L) % P
        s"((hv * $c) % $P % 1024) * ${1L << (10 * k)}"
      }.mkString(" + ")
      // the width law (extraBitsFor): one extra band bit per corpus
      // doubling past 2^14, capped at 10 — integer threshold tests
      val xbSum = (14 to 23).map(t => s"(n > ${1L << t})::INT")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT doc_id, $payloadHashSql AS hv FROM documents WHERE text IS NOT NULL),
         |nd AS (SELECT count(*) AS n FROM h),
         |xb AS (SELECT least(10, $xbSum) AS x FROM nd),
         |p AS MATERIALIZED (
         |  SELECT doc_id, $phTerms AS ph FROM h),
         |bb AS (
         |  SELECT doc_id, ph, band,
         |    ((ph >> CAST(band * 10 AS INT)) & 1023) +
         |      (((ph >> CAST(((band + 1) % 6) * 10 AS INT)) & 1023)
         |        % (1 << x)) * 1024 AS bv
         |  FROM p CROSS JOIN (SELECT unnest(range(6)) AS band)
         |  CROSS JOIN xb),
         |cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
         |  FROM bb a JOIN bb b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT id1, id2, min(hamming) AS hamming FROM cand
         |WHERE hamming <= 5 GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin
    },
    "m6_frame_dedup" ->
      // m2's frame cadence with CONTENT-ONLY signatures (no doc_id in
      // the mix), consecutive-pair grams; r13: the CANDIDATE tier is
      // published — grams band on (h1*31+h2) mod 2^bits (bits from
      // the doc-count width law, mirrored below as a range() count)
      // and every banded pair carries (n_band, n_common, n_union) and
      // the integer 2n >= union verdict as a 0/1 dup column, so the
      // gate compares real arithmetic even where no exact-duplicate
      // payloads exist (sf0.001/0.01 — the r12 verdict's vacuity note)
      s"""WITH h AS (
         |  SELECT doc_id, $payloadHashSql AS hv FROM documents WHERE text IS NOT NULL),
         |bits AS (
         |  SELECT 13 + count(*) AS b FROM range(9, 40) t(t)
         |  WHERE (SELECT count(*) FROM h) > (CAST(1 AS BIGINT) << t)),
         |fr AS (
         |  SELECT doc_id, hv, 1 + (hv // 307200) % 32 AS frames FROM h),
         |sig AS (
         |  SELECT doc_id, f,
         |    ((hv * 131) % 1000000007 + f * 977) % 1000000007 AS fsig
         |  FROM fr, unnest(range(0, frames, 8)) AS t(f)),
         |g AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id, a.fsig AS h1, b.fsig AS h2
         |  FROM sig a JOIN sig b
         |    ON b.doc_id = a.doc_id AND b.f = a.f + 8),
         |sz AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
         |gb AS MATERIALIZED (
         |  SELECT doc_id, h1, h2,
         |    ((h1 * 31 + h2) % 1000000007)
         |      % (CAST(1 AS BIGINT) << (SELECT b FROM bits)) AS cb
         |  FROM g),
         |cand AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |    count(*) AS n_band,
         |    sum(CASE WHEN a.h1 = b.h1 AND a.h2 = b.h2 THEN 1 ELSE 0 END)
         |      AS n_common
         |  FROM gb a JOIN gb b
         |    ON a.cb = b.cb AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc1, doc2, CAST(n_band AS BIGINT) AS n_band,
         |  CAST(n_common AS BIGINT) AS n_common,
         |  CAST(sa.ng + sb.ng - n_common AS BIGINT) AS n_union,
         |  CAST(CASE WHEN n_common * 2 >= sa.ng + sb.ng - n_common
         |    THEN 1 ELSE 0 END AS BIGINT) AS dup
         |FROM cand
         |JOIN sz sa ON sa.doc_id = doc1
         |JOIN sz sb ON sb.doc_id = doc2
         |ORDER BY doc1, doc2""".stripMargin,
    "m1_multimodal_meta" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, CAST(length(text) AS INT) AS n_chars,
         |    $payloadHashSql AS hv
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, source, n_chars,
         |  CAST(16 + hv % 640 AS INT) AS width,
         |  CAST(16 + (hv // 640) % 480 AS INT) AS height,
         |  CAST(1 + (hv // 307200) % 32 AS INT) AS frames
         |FROM h ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, $payloadHashSql AS hv FROM documents WHERE text IS NOT NULL),
         |dims AS (
         |  SELECT doc_id, hv, 16 + hv % 640 AS w, 16 + (hv // 640) % 480 AS ht,
         |    1 + (hv // 307200) % 32 AS frames
         |  FROM h),
         |fr AS (
         |  SELECT doc_id, hv, w, ht, unnest(range(0, frames, 8)) AS f FROM dims)
         |SELECT doc_id, CAST(f AS INT) AS frame_idx,
         |  CAST(greatest(1, CAST(trunc(w * (224.0 / greatest(w, ht))) AS BIGINT))
         |    AS INT) AS frame_w,
         |  CAST(greatest(1, CAST(trunc(ht * (224.0 / greatest(w, ht))) AS BIGINT))
         |    AS INT) AS frame_h,
         |  ((hv * 131) % 1000000007 + doc_id * 977 + f) % 1000000007 AS frame_hash
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,
    "m4_crossmodal_gate" ->
      s"""WITH h AS (
         |  SELECT doc_id, $payloadHashSql AS hv FROM documents WHERE text IS NOT NULL),
         |tf AS (
         |  SELECT doc_id, list_transform(range(8),
         |    j -> CAST((hv * (((j + 1) * 2654435761) % 1000000007))
         |         % 1000000007 AS DOUBLE)) AS tf
         |  FROM h),
         |e AS (
         |  SELECT vec_id AS doc_id, (embedding::DOUBLE[])[1:8] AS ef
         |  FROM embeddings),
         |sc AS (
         |  SELECT tf.doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(8), i -> tf.tf[i+1] * e.ef[i+1])),
         |      (a, b) -> a + b) AS dot,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(tf.tf, x -> x * x)), (a, b) -> a + b) AS nt,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(e.ef, x -> x * x)), (a, b) -> a + b) AS ne
         |  FROM tf JOIN e USING (doc_id))
         |SELECT doc_id, round(dot / sqrt(nt * ne), 6) AS clip_score,
         |  dot >= 0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "m3_feature_extract" ->
      s"""WITH h AS (
         |  SELECT doc_id, $payloadHashSql AS hv FROM documents WHERE text IS NOT NULL),
         |f AS (
         |  SELECT doc_id, list_transform(range(8),
         |    j -> (hv * (((j + 1) * 2654435761) % 1000000007))
         |         % 1000000007) AS fs
         |  FROM h)
         |SELECT doc_id, CAST(8 AS INT) AS dim, fs[1] AS e0, fs[8] AS e7,
         |  list_reduce(fs, (a, b) -> a + b) AS l1
         |FROM f ORDER BY doc_id""".stripMargin,
    "b1_bug_history" -> (bugHistoryCte +
      """dummy AS (SELECT 1)
        |SELECT v.id, v.ts AS valid_from, v.expires_on, v.version,
        |  sv.status, sv.owner, sv.summary, COALESCE(ccv.cc, '') AS cc,
        |  COALESCE(chn.n, 0) AS n_changes
        |FROM versions v
        |LEFT JOIN sv ON v.id=sv.id AND v.ts=sv.ts
        |LEFT JOIN ccv ON v.id=ccv.id AND v.ts=ccv.ts
        |LEFT JOIN chn ON v.id=chn.id AND v.ts=chn.ts
        |ORDER BY v.id, v.version""".stripMargin),
    "b2_nested_history" -> (bugHistoryCte +
      """pur AS (
        |  SELECT user_id AS id, epoch_ms(ts) AS ts,
        |    CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS VARCHAR) AS subId
        |  FROM events WHERE event_type = 'purchase'),
        |atts AS (SELECT id, subId, min(ts) AS created FROM pur GROUP BY 1, 2),
        |natt AS (
        |  SELECT v.id, v.ts, count(*) AS n,
        |    CAST(sum(CASE WHEN CAST(a.subId AS BIGINT) % 3 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_patch,
        |    min(CASE WHEN CAST(a.subId AS BIGINT) % 2 = 0
        |      THEN 'text/plain' ELSE 'image/png' END) AS mime_min
        |  FROM versions v JOIN atts a ON v.id = a.id AND a.created <= v.ts
        |  GROUP BY 1, 2)
        |SELECT v.id, v.version, v.ts AS valid_from, v.expires_on, sv.status,
        |  COALESCE(natt.n, 0) AS n_atts,
        |  COALESCE(natt.n_patch, 0) AS n_patch, natt.mime_min AS mime_min
        |FROM versions v
        |LEFT JOIN sv ON v.id = sv.id AND v.ts = sv.ts
        |LEFT JOIN natt ON v.id = natt.id AND v.ts = natt.ts
        |ORDER BY v.id, v.version""".stripMargin),
    // the run-length membership form: the b1 chain's presence
    // intervals mapped to version ranks (first version at-or-after
    // each bound; pre-history starts -> version 1, open tails null)
    "b6_membership_intervals" -> (bugHistoryCte +
      """ivals AS (
        |  SELECT id, item, start_ts, max(end_ts) AS end_ts
        |  FROM intervals GROUP BY 1, 2, 3)
        |SELECT i.id, 'cc' AS field, i.item,
        |  CASE WHEN i.start_ts = -9223372036854775808
        |    THEN CAST(1 AS BIGINT)
        |    ELSE min(CASE WHEN v.ts >= i.start_ts THEN v.version END)
        |  END AS from_version,
        |  min(CASE WHEN v.ts >= i.end_ts THEN v.version END) AS to_version
        |FROM ivals i JOIN versions v ON v.id = i.id
        |GROUP BY i.id, i.item, i.start_ts, i.end_ts
        |ORDER BY i.id, i.item, from_version""".stripMargin),
    // the end-to-end ETL: the b2 CTE chain rendered as ES bulk wire
    // payloads (action line + source line, chr(10)-joined) plus the
    // c2 comment stream's payloads — field order, null renderings,
    // and the escape ladder mirror FullEtl.jstr byte for byte
    "b5_full_etl" -> (bugHistoryCte +
      """pur AS (
        |  SELECT user_id AS id, epoch_ms(ts) AS ts,
        |    CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS VARCHAR) AS subId
        |  FROM events WHERE event_type = 'purchase'),
        |atts AS (SELECT id, subId, min(ts) AS created FROM pur GROUP BY 1, 2),
        |natt AS (
        |  SELECT v.id, v.ts, count(*) AS n,
        |    CAST(sum(CASE WHEN CAST(a.subId AS BIGINT) % 3 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_patch,
        |    min(CASE WHEN CAST(a.subId AS BIGINT) % 2 = 0
        |      THEN 'text/plain' ELSE 'image/png' END) AS mime_min
        |  FROM versions v JOIN atts a ON v.id = a.id AND a.created <= v.ts
        |  GROUP BY 1, 2),
        |b2v AS (
        |  SELECT v.id, v.version, v.ts AS valid_from, v.expires_on, sv.status,
        |    COALESCE(natt.n, 0) AS n_atts,
        |    COALESCE(natt.n_patch, 0) AS n_patch, natt.mime_min AS mime_min
        |  FROM versions v
        |  LEFT JOIN sv ON v.id = sv.id AND v.ts = sv.ts
        |  LEFT JOIN natt ON v.id = natt.id AND v.ts = natt.ts),
        |bug_lines AS (
        |  SELECT id || '_' || valid_from AS _id,
        |    '{"index":{"_index":"snapshots","_id":"' || id || '_' ||
        |      valid_from || '"}}' || chr(10) ||
        |    '{"id":' || id || ',"version":' || version ||
        |    ',"valid_from":' || valid_from ||
        |    ',"expires_on":' || expires_on ||
        |    ',"status":' || CASE WHEN status IS NULL THEN 'null'
        |      ELSE '"' || status || '"' END ||
        |    ',"n_atts":' || n_atts || ',"n_patch":' || n_patch ||
        |    ',"mime_min":' || CASE WHEN mime_min IS NULL THEN 'null'
        |      ELSE '"' || mime_min || '"' END || '}' AS line
        |  FROM b2v),
        |cmt AS (
        |  SELECT doc_id AS comment_id, doc_id % 100 AS bug_id,
        |    'u' || (doc_id % 50) || '@example.com' AS modified_by,
        |    1704067200000 + doc_id * 3600000 AS modified_ts,
        |    CASE WHEN n_chars < 150 THEN '[screened]' ELSE text END AS comment
        |  FROM documents WHERE source <> 'src0'),
        |comment_lines AS (
        |  SELECT 'c' || comment_id AS _id,
        |    '{"index":{"_index":"comments","_id":"c' || comment_id ||
        |      '"}}' || chr(10) ||
        |    '{"comment_id":' || comment_id || ',"bug_id":' || bug_id ||
        |    ',"modified_by":' || CASE WHEN modified_by IS NULL THEN 'null'
        |      ELSE '"' || modified_by || '"' END ||
        |    ',"modified_ts":' || modified_ts ||
        |    ',"comment":' || CASE WHEN comment IS NULL THEN 'null'
        |      ELSE '"' || replace(replace(replace(comment, '\', '\\'),
        |        '"', '\"'), chr(10), '\n') || '"' END || '}' AS line
        |  FROM cmt),
        |nowp AS (
        |  SELECT id FROM (
        |    SELECT id, event_type, row_number() OVER (PARTITION BY id
        |      ORDER BY ts DESC, event_id DESC) AS prn FROM ev)
        |  WHERE prn = 1 AND event_type = 'error'),
        |delete_lines AS (
        |  SELECT DISTINCT 'd' || id || '_' || ts AS _id,
        |    '{"delete":{"_index":"snapshots","_id":"' || id || '_' ||
        |      ts || '"}}' AS line
        |  FROM ev WHERE id IN (SELECT id FROM nowp))
        |SELECT _id, line FROM bug_lines
        |UNION ALL SELECT _id, line FROM comment_lines
        |UNION ALL SELECT _id, line FROM delete_lines
        |ORDER BY _id""".stripMargin),
    // NOTE: this oracle hand-unrolls exactly TWO matching rounds
    // (scored1/best1, scored2/best2). AliasAnalysis.analyze runs up to
    // rounds=3 with a convergence check; on the driver's testdata the
    // fold converges after round 2 (round 3 finds nothing), so the
    // unroll is exact HERE. If the events generator changes and a
    // dataset only converges in round 3, extend the unroll — a
    // mismatch on this query is more likely this assumption than an
    // engine bug.
    "a1_alias_analysis" ->
      """WITH cc AS (
        |  SELECT user_id AS bug_id,
        |    'p' || (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 40) || '@old.example' AS old_value,
        |    'p' || (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 40) || '@new.example' AS new_value
        |  FROM events WHERE event_type = 'purchase'),
        |sign AS (
        |  SELECT bug_id, lower(new_value) AS email, -1 AS delta FROM cc
        |  UNION ALL SELECT bug_id, lower(old_value) AS email, 1 AS delta FROM cc),
        |base AS (
        |  SELECT bug_id, email, CAST(sum(delta) AS BIGINT) AS cnt FROM sign
        |  WHERE email <> '' GROUP BY 1, 2 HAVING sum(delta) <> 0),
        |scored1 AS (
        |  SELECT p.email AS problem, s.email AS solution, sum(s.cnt) AS score
        |  FROM (SELECT bug_id, email FROM base
        |        WHERE cnt < 0 AND email <> 'p0@new.example') p
        |  JOIN (SELECT bug_id, email, cnt FROM base WHERE cnt > 0) s USING (bug_id)
        |  GROUP BY 1, 2),
        |best1 AS (
        |  SELECT problem AS alias, solution AS canonical FROM (
        |    SELECT *, row_number() OVER w AS rk,
        |      score - COALESCE(lead(score) OVER w, 0) AS margin
        |    FROM scored1 WINDOW w AS (PARTITION BY problem ORDER BY score DESC, solution ASC))
        |  WHERE rk = 1 AND margin >= 2),
        |folded AS (
        |  SELECT b.bug_id, COALESCE(a.canonical, b.email) AS email,
        |    CAST(sum(b.cnt) AS BIGINT) AS cnt
        |  FROM base b LEFT JOIN best1 a ON b.email = a.alias
        |  GROUP BY 1, 2 HAVING sum(b.cnt) <> 0),
        |scored2 AS (
        |  SELECT p.email AS problem, s.email AS solution, sum(s.cnt) AS score
        |  FROM (SELECT bug_id, email FROM folded
        |        WHERE cnt < 0 AND email <> 'p0@new.example') p
        |  JOIN (SELECT bug_id, email, cnt FROM folded WHERE cnt > 0) s USING (bug_id)
        |  GROUP BY 1, 2),
        |best2 AS (
        |  SELECT problem AS alias, solution AS canonical FROM (
        |    SELECT *, row_number() OVER w AS rk,
        |      score - COALESCE(lead(score) OVER w, 0) AS margin
        |    FROM scored2 WINDOW w AS (PARTITION BY problem ORDER BY score DESC, solution ASC))
        |  WHERE rk = 1 AND margin >= 2),
        |remapped AS (
        |  SELECT a.alias, COALESCE(b.canonical, a.canonical) AS canonical
        |  FROM best1 a LEFT JOIN best2 b ON a.canonical = b.alias),
        |final AS (
        |  SELECT alias, min(canonical) AS canonical FROM (
        |    SELECT * FROM remapped UNION ALL SELECT * FROM best2)
        |  GROUP BY alias HAVING alias <> min(canonical))
        |SELECT alias, canonical FROM final ORDER BY alias""".stripMargin,
    "b3_diff_history" ->
      """SELECT user_id AS id, epoch_ms(ts) AS ts, event_id,
        | string_agg('k=' || regexp_extract(props, '"k": (\d+)', 1) ||
        |     ' e=' || event_id, chr(10))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS story
        |FROM events WHERE event_type = 'view'
        |ORDER BY id, ts, event_id""".stripMargin,
    "c2_comments_stream" ->
      """SELECT doc_id AS comment_id, doc_id % 100 AS bug_id,
        | 'u' || (doc_id % 50) || '@example.com' AS modified_by,
        | 1704067200000 + doc_id * 3600000 AS modified_ts,
        | CASE WHEN n_chars < 150 THEN '[screened]' ELSE text END AS comment
        |FROM documents WHERE source <> 'src0' ORDER BY comment_id""".stripMargin,
    "h13_flag_lifecycle" ->
      """WITH fe AS (
        |  SELECT user_id AS id, epoch_ms(ts) AS ts, event_id,
        |    event_type AS flag_type, value,
        |    'u' || (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 40) % 20
        |      || '@x.com' AS requestee,
        |    CASE WHEN value >= 50 THEN 1 ELSE -1 END AS delta
        |  FROM events),
        |tr AS (
        |  SELECT * FROM (
        |    SELECT *, lag(delta) OVER (PARTITION BY id, flag_type, requestee
        |        ORDER BY ts, event_id) AS prev
        |    FROM fe)
        |  WHERE prev IS NULL OR prev <> delta),
        |lc AS (
        |  SELECT *, lead(ts) OVER (PARTITION BY id, flag_type, requestee
        |      ORDER BY ts, event_id) AS removed_ts
        |  FROM tr)
        |SELECT id, flag_type, requestee, ts AS granted_ts, removed_ts,
        |  removed_ts - ts AS duration_ms,
        |  CASE WHEN removed_ts IS NOT NULL THEN 'd'
        |       WHEN value >= 100 THEN '+' ELSE '?' END AS status
        |FROM lc WHERE delta = 1
        |ORDER BY id, flag_type, requestee, granted_ts""".stripMargin,
    "h14_normalize_dates" ->
      """WITH r AS (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_id % 4 = 0 THEN strftime(ts, '%Y/%m/%d %H:%M:%S') ||
        |        '.' || strftime(ts, '%g')
        |      WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |      WHEN event_id % 4 = 2 THEN strftime(ts, '%Y/%m/%d')
        |      ELSE CAST(epoch_ms(ts) AS VARCHAR) END AS raw,
        |    (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10) || ','
        |      || ((CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) * 7) % 10)
        |      || ',' || (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 3)
        |      AS raw_list
        |  FROM events)
        |SELECT event_id, raw,
        |  CASE
        |    WHEN regexp_matches(raw, '^\d{12,13}$') THEN CAST(raw AS BIGINT)
        |    WHEN regexp_matches(raw, '^\d{4}[/-]\d{2}[/-]\d{2} \d{2}:\d{2}:\d{2}\.\d{3}')
        |      THEN epoch_ms(strptime(replace(raw, '-', '/'), '%Y/%m/%d %H:%M:%S.%g'))
        |    WHEN regexp_matches(raw, '^\d{4}[/-]\d{2}[/-]\d{2} \d{2}:\d{2}:\d{2}')
        |      THEN epoch_ms(strptime(replace(raw, '-', '/'), '%Y/%m/%d %H:%M:%S'))
        |    WHEN regexp_matches(raw, '^\d{4}[/-]\d{2}[/-]\d{2}')
        |      THEN epoch_ms(strptime(replace(raw[1:10], '/', '-'), '%Y-%m-%d'))
        |  END AS date_ms,
        |  array_to_string(list_sort(list_transform(string_split(raw_list, ','),
        |    x -> CAST(x AS INT))), ',') AS ints_sorted
        |FROM r ORDER BY event_id""".stripMargin,
    "h15_truncation_tolerance" ->
      """WITH base AS (
        |  SELECT user_id AS id, epoch_ms(ts) AS ts_ms, event_id,
        |    (['cc','blocked','dependson','keywords'])[CAST(event_id % 4 + 1 AS INT)]
        |      AS field,
        |    CASE WHEN event_id % 5 = 0 THEN '?'
        |         WHEN event_id % 5 = 1 THEN '? ?'
        |         WHEN event_id % 5 = 2
        |           THEN '? v' || CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
        |         ELSE 'v' || CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
        |    END AS raw
        |  FROM events),
        |c AS (
        |  SELECT id, ts_ms, event_id, field,
        |    CASE WHEN raw IN ('?', '? ?') THEN NULL
        |         WHEN raw LIKE '? %' THEN raw[3:]
        |         ELSE raw END AS value_clean,
        |    CASE WHEN raw IN ('?', '? ?') OR raw LIKE '? %' THEN ts_ms END AS u_ts
        |  FROM base)
        |SELECT id, ts_ms, event_id, field, value_clean,
        |  CASE WHEN max(u_ts) OVER (PARTITION BY id) IS NOT NULL
        |        AND ts_ms < max(u_ts) OVER (PARTITION BY id)
        |       THEN 1 ELSE 0 END AS uncertain
        |FROM c ORDER BY id, ts_ms, event_id""".stripMargin,
    "b4_consistency_report" -> {
      val kmk = operators.Consistency.KnownMissingKeywords
        .map(q => s"'$q'").mkString(", ")
      s"""WITH ev AS (
         |  SELECT user_id AS id, epoch_ms(ts) AS ts_ms, event_id,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
         |  FROM events),
         |ops AS (
         |  SELECT id, ts_ms, event_id,
         |    (['cc','keywords','blocked','dependson'])[CAST(k % 4 + 1 AS INT)]
         |      AS field,
         |    CASE WHEN (k + event_id) % 3 = 0 THEN 'remove' ELSE 'add' END AS op,
         |    (['dogfood','beta1','i2','i3','i4','i5'])[CAST(k % 6 + 1 AS INT)]
         |      AS item
         |  FROM ev WHERE event_id % 2 = 0),
         |mv0 AS (
         |  SELECT *, lag(op) OVER (PARTITION BY id, field, item
         |    ORDER BY ts_ms, event_id) AS prev_op
         |  FROM ops),
         |mv AS (
         |  SELECT id, ts_ms, event_id, field, kind, item AS detail FROM (
         |    SELECT *, CASE
         |      WHEN op = 'add' AND prev_op = 'add' THEN 'redundant_add'
         |      WHEN op = 'remove' AND prev_op = 'remove' THEN 'remove_absent'
         |    END AS kind FROM mv0)
         |  WHERE kind IS NOT NULL
         |    AND field <> 'cc'
         |    AND NOT (kind = 'remove_absent' AND field IN ('blocked', 'dependson'))
         |    AND NOT (field = 'keywords' AND item IN ($kmk))),
         |chg0 AS (
         |  SELECT id, ts_ms, event_id, k,
         |    (['status','cf_blocking_b2g','cf_last_resolved','qa_contact'])
         |      [CAST(k % 4 + 1 AS INT)] AS field
         |  FROM ev WHERE event_id % 2 = 1),
         |chg1 AS (
         |  SELECT *, CASE
         |      WHEN field = 'cf_blocking_b2g'
         |        THEN (['1.5','2.0'])[CAST(k % 2 + 1 AS INT)]
         |      WHEN field = 'cf_last_resolved' THEN 'r' || (k % 3)
         |      WHEN field = 'qa_contact' THEN 'u' || (k % 20) || '@x.com'
         |      ELSE 'v' || (k % 4) END AS new_value
         |  FROM chg0),
         |chg2 AS (
         |  SELECT *, lag(new_value) OVER (PARTITION BY id, field
         |    ORDER BY ts_ms, event_id) AS prev_new
         |  FROM chg1),
         |chg AS (
         |  SELECT id, ts_ms, event_id, field, prev_new,
         |    CASE WHEN event_id % 7 = 0 THEN CASE
         |        WHEN field = 'cf_blocking_b2g'
         |          THEN (['2.0','9.9'])[CAST(k % 2 + 1 AS INT)]
         |        WHEN field = 'cf_last_resolved' THEN 'r9'
         |        WHEN field = 'qa_contact' THEN CAST(k % 20 AS VARCHAR)
         |        ELSE 'v9' END
         |      ELSE coalesce(prev_new, new_value) END AS old_value
         |  FROM chg2),
         |sv AS (
         |  SELECT id, ts_ms, event_id, field, 'inconsistent_change' AS kind,
         |    prev_new || ' != ' || old_value AS detail
         |  FROM chg
         |  WHERE prev_new IS NOT NULL AND prev_new <> old_value
         |    AND field NOT IN ('cf_last_resolved', 'cf_crash_signature')
         |    AND field NOT IN ('cc', 'assigned_to', 'modified_by',
         |                      'created_by', 'qa_contact', 'bug_mentor')
         |    AND NOT (field = 'cf_blocking_b2g' AND prev_new = '1.5'
         |             AND old_value IN ('2.0')))
         |SELECT * FROM (SELECT * FROM mv UNION ALL SELECT * FROM sv)
         |ORDER BY event_id""".stripMargin
    },
    "t10_line_filter" ->
      """WITH l AS (
        |  SELECT doc_id, string_split(text, ' line ') AS lines FROM documents),
        |k AS (
        |  SELECT doc_id, len(lines) AS n_lines,
        |    list_filter(lines, x ->
        |      len(list_filter(string_split(x, ' '), w -> w <> '')) >= 5
        |      AND NOT list_has_any(
        |        list_filter(string_split(x, ' '), w -> w <> ''), ['dup'])
        |      AND (list_filter(string_split(x, ' '), w -> w <> ''))[-1]
        |        IN ('value', 'table', 'fast', 'scan', 'key', 'row', 'data',
        |            'join', 'hash', 'order', 'column', 'group')) AS kept
        |  FROM l)
        |SELECT doc_id, n_lines, len(kept) AS n_kept,
        |  coalesce(array_to_string(kept, ' | '), '') AS text_clean,
        |  len(kept) >= 2 AS keep
        |FROM k ORDER BY doc_id""".stripMargin,
    "t13_boilerplate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))))
        |    AS gram
        |  FROM documents WHERE text IS NOT NULL),
        |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |t AS (SELECT count(*) AS total FROM documents WHERE text IS NOT NULL)
        |SELECT gram, df, round(df::DOUBLE / total, 6) AS share
        |FROM df CROSS JOIN t
        |ORDER BY df DESC, gram LIMIT 20""".stripMargin,
    // t14: the 3 BPE rounds replayed — pair counts, deterministic
    // top-1, and the SAME greedy left-to-right non-overlap fold
    // (list_reduce over singleton lists with a prepended empty
    // accumulator ≡ Spark's aggregate lambda). MATERIALIZED per
    // round: each tN feeds both the next counts and the next fold.
    "t14_bpe_merges" -> {
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM t${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r, freq FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def tn(i: Int) =
        s"""t$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM t${i - 1} CROSS JOIN r$i)""".stripMargin
      s"""WITH t0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |${pc(1)},
         |${tn(1)},
         |${pc(2)},
         |${tn(2)},
         |${pc(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, l AS "left", r AS "right",
         |    freq FROM r1
         |  UNION ALL SELECT 2, l, r, freq FROM r2
         |  UNION ALL SELECT 3, l, r, freq FROM r3)
         |ORDER BY round""".stripMargin
    },
    "t15_chunk" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0,
        |      greatest(0, CAST(ceil((n - 64) / 48.0) AS BIGINT)) + 1))
        |      AS chunk_id
        |  FROM t0),
        |c AS (
        |  SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |    list_slice(toks, chunk_id * 48 + 1,
        |      least(chunk_id * 48 + 64, n)) AS ctoks
        |  FROM st)
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ctoks, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "t16_bpe_encode" -> {
      // t14's trainer replay with doc_id carried through every round,
      // plus the round-3 apply — pins the fully-encoded sequences.
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM t${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def tn(i: Int) =
        s"""t$i AS MATERIALIZED (
           |  SELECT doc_id, n_raw, $fold AS toks
           |  FROM t${i - 1} CROSS JOIN r$i)""".stripMargin
      s"""WITH t0 AS MATERIALIZED (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n_raw
         |  FROM documents WHERE text IS NOT NULL),
         |${pc(1)},
         |${tn(1)},
         |${pc(2)},
         |${tn(2)},
         |${pc(3)},
         |${tn(3)}
         |SELECT doc_id, CAST(n_raw AS BIGINT) AS n_tokens_raw,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(toks, chr(1))) AS seq_md5
         |FROM t3 ORDER BY doc_id""".stripMargin
    },
    "t17_bpe_tokenize" -> {
      // t17's trainer replay: 16 mining rounds on the doc_id % 10
      // sample (pair counts → deterministic top-1 → the t14 greedy
      // fold applied to the SAMPLE state), then the 16 mined rules
      // applied IN RANK ORDER to the full corpus — the oracle's
      // per-rule fold chain is exactly the sequential replay the
      // engine's one-pass BpeEncodeAll is spec-equivalent to. All
      // CTEs MATERIALIZED (each feeds two successors; DuckDB would
      // otherwise inline exponentially — the d8 gotcha).
      val rounds = 16
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM m${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def mn(i: Int) =
        s"""m$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM m${i - 1} CROSS JOIN r$i)""".stripMargin
      def en(i: Int) =
        s"""e$i AS MATERIALIZED (
           |  SELECT doc_id, n_raw, $fold AS toks
           |  FROM e${i - 1} CROSS JOIN r$i)""".stripMargin
      val mining = (1 to rounds).map(i =>
        if (i < rounds) pc(i) + ",\n" + mn(i) else pc(i)).mkString(",\n")
      val encodes = (1 to rounds).map(en).mkString(",\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 0),
         |$mining,
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n_raw
         |  FROM documents WHERE text IS NOT NULL),
         |$encodes
         |SELECT doc_id, CAST(n_raw AS BIGINT) AS n_tokens_raw,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(toks, chr(1))) AS seq_md5
         |FROM e$rounds ORDER BY doc_id""".stripMargin
    },
    "t18_bpe_pack" -> {
      // t17's trainer replay (16 sample-mining rounds, then the
      // rank-order fold chain over the full corpus — all CTEs
      // MATERIALIZED, the d8 inlining gotcha), with t7's shard
      // packing window run over the ENCODED lengths instead of the
      // whitespace counts. Window sum cast to BIGINT (HUGEINT).
      val rounds = 16
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM m${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def mn(i: Int) =
        s"""m$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM m${i - 1} CROSS JOIN r$i)""".stripMargin
      def en(i: Int) =
        s"""e$i AS MATERIALIZED (
           |  SELECT doc_id, source, $fold AS toks
           |  FROM e${i - 1} CROSS JOIN r$i)""".stripMargin
      val mining = (1 to rounds).map(i =>
        if (i < rounds) pc(i) + ",\n" + mn(i) else pc(i)).mkString(",\n")
      val encodes = (1 to rounds).map(en).mkString(",\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 0),
         |$mining,
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |$encodes,
         |packed AS (
         |  SELECT doc_id, source, doc_id % 8 AS shard,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(sum(len(toks)) OVER (
         |      PARTITION BY source, doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM e$rounds)
         |SELECT doc_id, source, shard, n_tokens,
         |  CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS bin,
         |  CAST((cum - n_tokens) % 256 AS BIGINT) AS bin_offset
         |FROM packed ORDER BY doc_id""".stripMargin
    },
    "o9_packing_report" -> {
      // t18's full replay (mining + encode + packing window), then
      // the per-source bin-efficiency aggregate on exact integers.
      val rounds = 16
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM m${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def mn(i: Int) =
        s"""m$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM m${i - 1} CROSS JOIN r$i)""".stripMargin
      def en(i: Int) =
        s"""e$i AS MATERIALIZED (
           |  SELECT doc_id, source, $fold AS toks
           |  FROM e${i - 1} CROSS JOIN r$i)""".stripMargin
      val mining = (1 to rounds).map(i =>
        if (i < rounds) pc(i) + ",\n" + mn(i) else pc(i)).mkString(",\n")
      val encodes = (1 to rounds).map(en).mkString(",\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 0),
         |$mining,
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |$encodes,
         |packed AS (
         |  SELECT doc_id, source, doc_id % 8 AS shard,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(sum(len(toks)) OVER (
         |      PARTITION BY source, doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM e$rounds),
         |shards AS (
         |  SELECT source, shard, count(*) AS n,
         |    CAST(sum(n_tokens) AS BIGINT) AS tot,
         |    CAST(floor((sum(n_tokens) - 1) / 256) + 1 AS BIGINT)
         |      AS windows
         |  FROM packed GROUP BY 1, 2)
         |SELECT source,
         |  CAST(sum(n) AS BIGINT) AS n_docs,
         |  CAST(sum(tot) AS BIGINT) AS tokens,
         |  CAST(sum(windows) AS BIGINT) AS n_bins,
         |  CAST(sum(windows) * 256 AS BIGINT) AS capacity,
         |  round(CAST(sum(tot) AS DOUBLE) / (sum(windows) * 256), 4)
         |    AS fill_rate,
         |  CAST(sum(windows) * 256 - sum(tot) AS BIGINT) AS waste
         |FROM shards GROUP BY source ORDER BY source""".stripMargin
    },
    "t11_perplexity" ->
      """WITH tf0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfg AS (SELECT doc_id, term, count(*) AS tf FROM tf0
        |        WHERE term <> '' GROUP BY 1, 2),
        |cnt AS (SELECT term, sum(tf) AS cnt FROM tfg GROUP BY 1),
        |tot AS (SELECT sum(tf) AS total FROM tfg),
        |parts AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    list(tf::DOUBLE * ln(cnt::DOUBLE / total::DOUBLE)
        |         ORDER BY term) AS wlls
        |  FROM tfg JOIN cnt USING (term) CROSS JOIN tot GROUP BY doc_id),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    round(exp(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), wlls),
        |      (a, b) -> a + b) / n_tokens), 4) AS ppl
        |  FROM parts)
        |SELECT doc_id, n_tokens, ppl, ppl <= 30.1 AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "t12_bm25" ->
      s"""WITH ${bm25Ctes()}
         |SELECT query_id, rk, doc_id, score FROM rk WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    // r10: hybrid retrieval — BM25 top-20 and cosine top-20 fused by
    // integer reciprocal rank (1e6 div (60 + rank), exact BIGINT);
    // the query workload is the FIXED first-64-slot set (no-op at
    // every oracle scale — sf0.1 has 51 queries)
    "r1_rrf_fusion" -> r1FusionSqlWith(
      // the EXACT dense arm: every (query, corpus) cosine
      """SELECT query_id, doc_id, rk FROM (
        |    SELECT q.query_id, c.doc_id,
        |      CAST(row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.q_emb, c.c_emb), 3)
        |          DESC, c.doc_id ASC) AS BIGINT) AS rk
        |    FROM qv q CROSS JOIN cv c)
        |  WHERE rk <= 20""".stripMargin),
    // the production form: the dense arm is the s15 walk SQL verbatim
    // under r1's query protocol (parameterized q/c predicates, top-20)
    // — re-derives the graph the engine amortizes in its ensure-store
    "r1_rrf_prod" -> r1FusionSqlWith(
      s"""SELECT q_id AS query_id, c_id AS doc_id, rank AS rk FROM (
         |${s15WalkSqlOver(
            """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
              |  FROM embeddings),
              |nv AS (SELECT count(*) AS n FROM embeddings
              |       WHERE vec_id % 97 <> 0)""".stripMargin,
            "e",
            // ADVICE r12 #2: the walk arm's query set must equal the
            // qv CTE (documents ⋈ embeddings) — an embeddings row
            // with no documents row must not become a walk query
            qPred = "vec_id % 97 = 0 AND vec_id < 6208 AND EXISTS " +
              "(SELECT 1 FROM documents dd WHERE dd.doc_id = vec_id)",
            cPred = "vec_id % 97 <> 0",
            kOut = 20)})""".stripMargin),
    "t1_langid" ->
      """WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['der','und','von','schnell'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(['the','and','of','fast','slow'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(['el','y','de','rapido'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(['le','et','de','vite'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(['de','he','kuai'], x))) AS s_zh
        | FROM t)
        |SELECT doc_id, lang AS actual,
        | CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, greatest(length(text), 1) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "h17_gapfill" ->
      """WITH obs AS (
        |  SELECT user_id AS o_user, epoch_ms(ts) AS obs_ms,
        |    round(max_by(value, event_id), 2) AS obs_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, epoch_ms(date_trunc('hour', min(ts))) AS t0,
        |    epoch_ms(max(ts)) AS t1
        |  FROM events GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS tick_ms
        |  FROM bounds)
        |SELECT s.user_id, s.tick_ms, o.obs_value AS value_ff,
        |  s.tick_ms - o.obs_ms AS staleness_ms
        |FROM spine s ASOF LEFT JOIN obs o
        |  ON s.user_id = o.o_user AND o.obs_ms <= s.tick_ms
        |ORDER BY s.user_id, s.tick_ms""".stripMargin,
    "h12_es_docs" ->
      """SELECT user_id || '_' || epoch_ms(ts) AS _id,
        |  '{"user_id":' || user_id || ',"event_type":"' || event_type ||
        |  '","value":' || CAST(value AS VARCHAR) || ',"modified_ts":' ||
        |  epoch_ms(ts) || '}' AS doc
        |FROM events ORDER BY _id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_price, round(avg(l_discount),4) AS avg_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity,2) AS qty, epoch_ms(l_shipdate) AS ship_ms
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00' AND l_quantity <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_broadcast_join" ->
      """SELECT c_mktsegment, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_star_join" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q5_topk" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q6_window" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, run_qty FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER w AS rn,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run_qty
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,
    "q7_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q8_anti_join" ->
      """SELECT c_custkey, round(c_acctbal,2) AS acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin,
    "q9_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_rollup" ->
      """SELECT CASE WHEN GROUPING(r_name)=1 THEN 'ALL' ELSE r_name END AS r,
        | CASE WHEN GROUPING(n_name)=1 THEN 'ALL' ELSE n_name END AS n,
        | count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY r, n""".stripMargin,
    "q15_grouping_sets" ->
      """SELECT CASE WHEN GROUPING(r_name)=1 THEN 'ALL' ELSE r_name END AS r,
        | CASE WHEN GROUPING(n_name)=1 THEN 'ALL' ELSE n_name END AS n,
        | CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
        | count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY gid, r, n""".stripMargin,
    "q11_conditional_pivot" ->
      """SELECT user_id,
        | count(CASE WHEN event_type='click' THEN 1 END) AS n_click,
        | count(CASE WHEN event_type='view' THEN 1 END) AS n_view,
        | count(CASE WHEN event_type='purchase' THEN 1 END) AS n_purchase,
        | count(CASE WHEN event_type='signup' THEN 1 END) AS n_signup,
        | count(CASE WHEN event_type='error' THEN 1 END) AS n_error,
        | round(sum(value),2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n_above, round(sum(l_extendedprice),2) AS sum_above
        |FROM lineitem WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_percentiles" ->
      """SELECT l_returnflag, round(quantile_disc(l_extendedprice, 0.25),2) AS p25,
        | round(quantile_disc(l_extendedprice, 0.5),2) AS p50,
        | round(quantile_disc(l_extendedprice, 0.75),2) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_asof_join" ->
      """SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
        | s.signup_ms, s.signup_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id AS s_user, epoch_ms(ts) AS signup_ms,
        |    round(max_by(value, event_id), 2) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2) s
        | ON e.user_id = s.s_user AND s.signup_ms <= epoch_ms(e.ts)
        |WHERE e.event_type <> 'signup'
        |ORDER BY e.event_id""".stripMargin,
    "h16_temporal_align" ->
      """WITH ev AS (
        |  SELECT user_id AS id, epoch_ms(ts) AS ts, event_id, event_type,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |  FROM events),
        |lchg AS (
        |  SELECT id, ts AS valid_from, event_type AS status FROM (
        |    SELECT id, ts, event_type, lag(event_type) OVER (
        |      PARTITION BY id ORDER BY ts, event_id) AS prev FROM ev)
        |  WHERE prev IS NULL OR prev <> event_type),
        |lscd AS (
        |  SELECT id, valid_from, COALESCE(lead(valid_from) OVER (
        |      PARTITION BY id ORDER BY valid_from), 9999999999000)
        |    AS expires_on, status
        |  FROM lchg),
        |rchg AS (
        |  SELECT id, ts AS valid_from, grp FROM (
        |    SELECT id, ts, 'g' || (k % 3) AS grp, lag('g' || (k % 3)) OVER (
        |      PARTITION BY id ORDER BY ts, event_id) AS prev
        |    FROM ev WHERE event_type = 'purchase')
        |  WHERE prev IS NULL OR prev <> grp),
        |rscd AS (
        |  SELECT id, valid_from, COALESCE(lead(valid_from) OVER (
        |      PARTITION BY id ORDER BY valid_from), 9999999999000)
        |    AS expires_on, grp
        |  FROM rchg),
        |spine AS (
        |  SELECT DISTINCT id, ts FROM (
        |    SELECT id, valid_from AS ts FROM lscd
        |    UNION ALL SELECT id, expires_on FROM lscd
        |      WHERE expires_on <> 9999999999000
        |    UNION ALL SELECT id, valid_from FROM rscd
        |    UNION ALL SELECT id, expires_on FROM rscd
        |      WHERE expires_on <> 9999999999000)),
        |seg AS (
        |  SELECT id, ts AS valid_from, COALESCE(lead(ts) OVER (
        |      PARTITION BY id ORDER BY ts), 9999999999000) AS expires_on
        |  FROM spine)
        |SELECT s.id, s.valid_from, s.expires_on, l.status, r.grp
        |FROM seg s
        |LEFT JOIN lscd l ON l.id = s.id
        |  AND s.valid_from >= l.valid_from AND s.valid_from < l.expires_on
        |LEFT JOIN rscd r ON r.id = s.id
        |  AND s.valid_from >= r.valid_from AND s.valid_from < r.expires_on
        |ORDER BY s.id, s.valid_from""".stripMargin,
    "q16_interval_join" ->
      """WITH st0 AS (
        |  SELECT user_id AS s_user, epoch_ms(ts) AS valid_from,
        |    max_by(event_type, event_id) AS state
        |  FROM events WHERE event_type IN ('signup', 'purchase')
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT s_user, state, valid_from,
        |    CAST(row_number() OVER (PARTITION BY s_user ORDER BY valid_from)
        |      AS BIGINT) AS state_version,
        |    coalesce(lead(valid_from) OVER (PARTITION BY s_user
        |      ORDER BY valid_from), 9999999999000) AS valid_to
        |  FROM st0),
        |f AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        |  WHERE event_type NOT IN ('signup', 'purchase'))
        |SELECT f.event_id, f.user_id, f.ts_ms, s.state, s.state_version,
        |  s.valid_from, s.valid_to
        |FROM f LEFT JOIN st s
        |  ON f.user_id = s.s_user
        |  AND f.ts_ms >= s.valid_from AND f.ts_ms < s.valid_to
        |ORDER BY f.event_id""".stripMargin,
    "c1_curation" ->
      """WITH sc AS (SELECT source, doc_id,
        |  round(n_chars * (1.0 - abs(0.3 -
        |   (len(list_filter(string_split(text, ' '),
        |     x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE /
        |    len(string_split(text, ' '))))), 4) AS score
        | FROM documents)
        |SELECT source, rk, doc_id, score FROM (
        | SELECT source, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        | FROM sc)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "c3_sample_split" ->
      """SELECT doc_id, source,
        | ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 AS bucket,
        | CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |      WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t9_pii_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text || ' contact u' || (doc_id % 50) ||
        |    '@mail.example from 10.' || (doc_id % 200) || '.0.7' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM r ORDER BY doc_id""".stripMargin,
    "c4_quality_resample" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    1.0 - abs(0.3 - (len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE /
        |      len(string_split(text, ' ')))) AS w,
        |    (((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE / 10000.0 AS u
        |  FROM documents)
        |SELECT doc_id, source, round(w, 4) AS weight, u, u < w AS sampled
        |FROM s ORDER BY doc_id""".stripMargin,
    "c9_token_mixture" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, sum(n_toks) AS toks FROM t GROUP BY source),
        |m AS (SELECT min(toks) AS min_toks FROM c),
        |r AS (SELECT source, CAST(min_toks AS DOUBLE) / toks AS rate
        |      FROM c CROSS JOIN m)
        |SELECT t.doc_id, t.source, t.n_toks, round(r.rate, 6) AS rate,
        |  (((t.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE / 10000.0
        |    < r.rate AS sampled,
        |  round(t.n_toks * r.rate, 4) AS exp_tokens
        |FROM t JOIN r USING (source) ORDER BY doc_id""".stripMargin,
    "c11_bpe_mixture" -> {
      // t17's trainer replay (16 sample-mining rounds + the
      // rank-order fold chain over the full corpus — all CTEs
      // MATERIALIZED, the d8 inlining gotcha), then c9's exact
      // integer-sum rate derivation on the ENCODED lengths.
      val rounds = 16
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM m${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def mn(i: Int) =
        s"""m$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM m${i - 1} CROSS JOIN r$i)""".stripMargin
      def en(i: Int) =
        s"""e$i AS MATERIALIZED (
           |  SELECT doc_id, source, $fold AS toks
           |  FROM e${i - 1} CROSS JOIN r$i)""".stripMargin
      val mining = (1 to rounds).map(i =>
        if (i < rounds) pc(i) + ",\n" + mn(i) else pc(i)).mkString(",\n")
      val encodes = (1 to rounds).map(en).mkString(",\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 0),
         |$mining,
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |$encodes,
         |t AS (
         |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks
         |  FROM e$rounds),
         |c AS (SELECT source, sum(n_toks) AS toks FROM t GROUP BY source),
         |m AS (SELECT min(toks) AS min_toks FROM c),
         |r AS (SELECT source, CAST(min_toks AS DOUBLE) / toks AS rate
         |      FROM c CROSS JOIN m)
         |SELECT t.doc_id, t.source, t.n_toks, round(r.rate, 6) AS rate,
         |  (((t.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE / 10000.0
         |    < r.rate AS sampled,
         |  round(t.n_toks * r.rate, 4) AS exp_tokens
         |FROM t JOIN r USING (source) ORDER BY doc_id""".stripMargin
    },
    "o8_tokenizer_fertility" -> {
      // t17's trainer replay, with n_words/n_chars carried through
      // the fold chain, then the per-source fertility aggregate on
      // exact integer bases (sums cast BIGINT — dtype parity).
      val rounds = 16
      val fold =
        """list_reduce(
          |    list_prepend(CAST([] AS VARCHAR[]),
          |      list_transform(toks, t -> [t])),
          |    (acc, x) -> CASE
          |      WHEN len(acc) > 0 AND acc[-1] = l AND x[1] = r
          |      THEN acc[1:len(acc)-1] || [l || r]
          |      ELSE acc || x END)""".stripMargin
      def pc(i: Int) =
        s"""pc$i AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(range(0, len(toks) - 1),
           |      i -> {'l': toks[i+1], 'r': toks[i+2]})) AS p FROM m${i - 1})
           |  GROUP BY 1, 2),
           |r$i AS MATERIALIZED (
           |  SELECT l, r FROM pc$i
           |  ORDER BY freq DESC, l, r LIMIT 1)""".stripMargin
      def mn(i: Int) =
        s"""m$i AS MATERIALIZED (
           |  SELECT $fold AS toks
           |  FROM m${i - 1} CROSS JOIN r$i)""".stripMargin
      def en(i: Int) =
        s"""e$i AS MATERIALIZED (
           |  SELECT doc_id, source, n_chars, n_words, $fold AS toks
           |  FROM e${i - 1} CROSS JOIN r$i)""".stripMargin
      val mining = (1 to rounds).map(i =>
        if (i < rounds) pc(i) + ",\n" + mn(i) else pc(i)).mkString(",\n")
      val encodes = (1 to rounds).map(en).mkString(",\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 0),
         |$mining,
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, source, n_chars,
         |    string_split(text, ' ') AS toks,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |  FROM documents WHERE text IS NOT NULL),
         |$encodes,
         |cnt AS (
         |  SELECT doc_id, source, n_chars, n_words,
         |    CAST(len(toks) AS BIGINT) AS n_bpe
         |  FROM e$rounds)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS words,
         |  CAST(sum(n_bpe) AS BIGINT) AS bpe_toks,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  CAST(sum(CASE WHEN n_bpe < n_words THEN 1 ELSE 0 END)
         |    AS BIGINT) AS compressed_docs,
         |  round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 4)
         |    AS fertility,
         |  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 4)
         |    AS chars_per_tok
         |FROM cnt GROUP BY source ORDER BY source""".stripMargin
    },
    "c5_mixture_balance" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |m AS (SELECT min(cnt) AS min_cnt FROM c),
        |r AS (SELECT source, CAST(min_cnt AS DOUBLE) / cnt AS rate
        |      FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source, round(r.rate, 4) AS rate,
        |  (((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE / 10000.0
        |    < r.rate AS sampled
        |FROM documents d JOIN r USING (source) ORDER BY doc_id""".stripMargin,
    "e3_binary_quantize" -> {
      def half(sl: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(emb[$sl],
           |      x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
           |    (a, x) -> a * 2 + x)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b AS (
         |  SELECT vec_id,
         |    ${half("1:32")} AS bits_hi,
         |    ${half("33:64")} AS bits_lo
         |  FROM e)
         |SELECT vec_id, bits_hi, bits_lo,
         |  CAST(bit_count(bits_hi) + bit_count(bits_lo) AS BIGINT) AS n_pos
         |FROM b ORDER BY vec_id""".stripMargin
    },
    "s11_binary_rerank" -> {
      def half(sl: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(emb[$sl],
           |      x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
           |    (a, x) -> a * 2 + x)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b AS (
         |  SELECT vec_id,
         |    ${half("1:32")} AS bits_hi,
         |    ${half("33:64")} AS bits_lo
         |  FROM e),
         |q AS (SELECT vec_id AS q_id, bits_hi AS q_hi, bits_lo AS q_lo
         |      FROM b WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, bits_hi, bits_lo
         |      FROM b WHERE vec_id >= 10),
         |h AS (
         |  SELECT q_id, c_id,
         |    CAST(bit_count(xor(bits_hi, q_hi)) +
         |         bit_count(xor(bits_lo, q_lo)) AS BIGINT) AS hamming
         |  FROM c CROSS JOIN q),
         |sh AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY hamming, c_id) AS srank FROM h),
         |rr AS (
         |  SELECT s.q_id, s.c_id, s.hamming,
         |    round(list_cosine_similarity(qe.embedding::DOUBLE[],
         |      ce.embedding::DOUBLE[]), 3) AS cos
         |  FROM (SELECT * FROM sh WHERE srank <= 20) s
         |  JOIN embeddings qe ON qe.vec_id = s.q_id
         |  JOIN embeddings ce ON ce.vec_id = s.c_id),
         |fin AS (
         |  SELECT q_id, c_id, cos, hamming,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id) AS BIGINT) AS rank FROM rr)
         |SELECT q_id, rank, c_id, cos, hamming
         |FROM fin WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    "c12_temperature_mixture" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |m AS (SELECT min(cnt) AS min_cnt FROM c),
        |r AS (SELECT source, sqrt(CAST(min_cnt AS DOUBLE) / cnt) AS rate
        |      FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source, round(r.rate, 6) AS rate,
        |  (((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE / 10000.0
        |    < r.rate AS sampled
        |FROM documents d JOIN r USING (source) ORDER BY doc_id""".stripMargin,
    "c15_doremi" ->
      // one exponentiated-gradient DoReMi step: fixed-point micro-unit
      // loss sums (exact, order-free), integer re-quantized tilt so Z
      // is an exact bigint, then the smoothed weight/rate table
      s"""WITH $doremiAlphaCte,
         |r AS (SELECT source, prior, excess, alpha, alpha / prior AS r0 FROM w),
         |rm AS (SELECT max(r0) AS rmax FROM r),
         |rates AS (SELECT source, round(prior, 6) AS prior,
         |    round(excess, 6) AS excess, round(alpha, 6) AS weight,
         |    r0 / rmax AS rate
         |  FROM r CROSS JOIN rm)
         |SELECT t.doc_id, t.source, t.n_toks, rates.prior, rates.excess,
         |  rates.weight, round(rates.rate, 6) AS rate,
         |  (((t.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE
         |    / 10000.0 < rates.rate AS sampled
         |FROM t JOIN rates USING (source) ORDER BY doc_id""".stripMargin,
    "c16_capped_doremi" ->
      // c15's alpha chain, then WEIGHTED water-filling: capped prefix
      // in saturation (cap/α) order, the prefix test multiplied
      // through by α6 to stay all-integer, uncapped sources share λ
      s"""WITH $doremiAlphaCte,
         |cnt AS (SELECT source, count(*) AS n FROM t GROUP BY source),
         |capw AS (SELECT w.source, CAST(round(w.alpha * 1e6) AS BIGINT) AS a6,
         |        cnt.n, cnt.n * 2 AS cap
         |        FROM w JOIN cnt USING (source)),
         |tots AS (SELECT CAST(sum(a6) AS BIGINT) AS a6t,
         |         CAST(sum(n) AS BIGINT) AS totn, count(*) AS m FROM capw),
         |ord AS (SELECT capw.*, a6t, m,
         |        CAST(floor(0.6 * totn) AS BIGINT) AS budget,
         |        CAST(row_number() OVER (ORDER BY CAST(cap AS DOUBLE) / a6,
         |          source) AS BIGINT) AS rk,
         |        CAST(sum(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / a6,
         |          source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
         |        CAST(sum(a6) OVER (ORDER BY CAST(cap AS DOUBLE) / a6,
         |          source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma
         |        FROM capw CROSS JOIN tots),
         |probe AS (SELECT *,
         |  cumc * a6 + cap * (a6t - cuma) <= budget * a6 AS capped FROM ord),
         |kf AS (SELECT
         |  CAST(coalesce(max(CASE WHEN capped THEN rk END), 0) AS BIGINT) AS k,
         |  CAST(coalesce(max(CASE WHEN capped THEN cumc END), 0) AS BIGINT) AS cumck,
         |  CAST(coalesce(max(CASE WHEN capped THEN cuma END), 0) AS BIGINT) AS cumak,
         |  max(m) AS m, max(budget) AS budget, max(a6t) AS a6t FROM probe),
         |eps AS (SELECT source, round(CAST(a6 AS DOUBLE) / 1e6, 6) AS weight,
         |  CASE WHEN k = m THEN CAST(cap AS DOUBLE) / n
         |  ELSE least(CAST(cap AS DOUBLE),
         |    (budget - cumck) * 1e6 / (a6t - cumak) * a6 / 1e6) / n END AS epochs
         |  FROM capw CROSS JOIN kf)
         |SELECT t.doc_id, t.source, eps.weight,
         |  round(eps.epochs, 4) AS epochs,
         |  CAST(floor(eps.epochs) AS BIGINT) + CASE WHEN
         |    (((t.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000)::DOUBLE
         |    / 10000.0 < eps.epochs - floor(eps.epochs) THEN 1 ELSE 0 END
         |    AS n_copies
         |FROM t JOIN eps USING (source) ORDER BY doc_id""".stripMargin,
    "s7_two_stage" -> {
      val sq = "(e.emb[j.j*8 + i + 1] - c.centroid[j.j*8 + i + 1])"
      val sqSum = s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(8), i -> $sq * $sq)),
         |      (a, b) -> a + b)""".stripMargin
      val adistSum = (0 until 8).map(j =>
        s"max(CASE WHEN codes.sub = $j THEN qd END)").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |cpos AS (
         |  SELECT label, i, avg(emb[i + 1]) AS c
         |  FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |cent AS MATERIALIZED (SELECT label, list(c ORDER BY i) AS centroid
         |  FROM cpos GROUP BY label),
         |cdist AS (
         |  SELECT e.vec_id AS c_id, c.label, j.j AS sub, $sqSum AS dist
         |  FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |  WHERE e.vec_id >= 10),
         |codes AS MATERIALIZED (
         |  SELECT c_id, sub, label AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY c_id, sub
         |      ORDER BY dist, label) AS rn FROM cdist)
         |  WHERE rn = 1),
         |qd AS MATERIALIZED (
         |  SELECT e.vec_id AS q_id, c.label, j.j AS sub, $sqSum AS qd
         |  FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)
         |  WHERE e.vec_id < 10),
         |approx AS (
         |  SELECT q_id, c_id, round($adistSum, 3) AS adist
         |  FROM codes JOIN qd ON codes.sub = qd.sub AND codes.code = qd.label
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT q_id, c_id, adist, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adist, c_id) AS srank FROM approx),
         |rr AS (
         |  SELECT s.q_id, s.c_id, s.adist,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[],
         |      c.embedding::DOUBLE[]), 3) AS cos
         |  FROM (SELECT * FROM short WHERE srank <= 20) s
         |  JOIN embeddings q ON q.vec_id = s.q_id
         |  JOIN embeddings c ON c.vec_id = s.c_id),
         |fin AS (
         |  SELECT q_id, c_id, cos, adist,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id) AS BIGINT) AS rank FROM rr)
         |SELECT q_id, rank, c_id, cos, adist FROM fin
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    "s4_pq_encode" -> {
      val sq = "(e.emb[j.j*8 + i + 1] - c.centroid[j.j*8 + i + 1])"
      val codeCols = (0 until 8).map(j =>
        s"max(CASE WHEN sub = $j THEN code END) AS c$j").mkString(",\n  ")
      val errSum = (0 until 8).map(j =>
        s"max(CASE WHEN sub = $j THEN dist END)").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |cpos AS (
         |  SELECT label, i, avg(emb[i + 1]) AS c
         |  FROM e CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM cpos
         |         GROUP BY label),
         |dist AS (
         |  SELECT e.vec_id, c.label, j.j AS sub,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(8), i -> $sq * $sq)),
         |      (a, b) -> a + b) AS dist
         |  FROM e CROSS JOIN cent c CROSS JOIN range(8) j(j)),
         |best AS (
         |  SELECT vec_id, sub, label AS code, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY dist, label) AS rn FROM dist)
         |  WHERE rn = 1)
         |SELECT vec_id,
         |  $codeCols,
         |  round($errSum, 3) AS recon_err
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    "s5_kmeans_refine" -> s5KmeansSql,
    "c13_cluster_balance" -> c13ClusterSql,
    "t6_normalize_text" ->
      """SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_clean_chars
        |FROM (
        | SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    'https?://[^ ]+', ' ', 'g'), '[^ ]+@[^ ]+', ' ', 'g'),
        |    ' +', ' ', 'g')) AS clean
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t7_seq_pack" ->
      """SELECT doc_id, source, shard, n_tokens,
        | CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS bin,
        | CAST((cum - n_tokens) % 256 AS BIGINT) AS bin_offset
        |FROM (
        | SELECT doc_id, source, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(string_split(text, ' '))) OVER (
        |    PARTITION BY source, doc_id % 8
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t8_repetition" ->
      """SELECT doc_id, dup_tok_frac, dup_3gram_frac,
        | dup_tok_frac < 0.8 AND dup_3gram_frac < 0.6 AS keep
        |FROM (
        | SELECT doc_id,
        |  round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 4)
        |    AS dup_tok_frac,
        |  CASE WHEN len(toks) >= 3 THEN
        |    round(1.0 - len(list_distinct(list_transform(
        |      range(0, len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))::DOUBLE
        |      / (len(toks) - 2), 4)
        |   ELSE 0.0 END AS dup_3gram_frac
        | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "e1_embedding_quantize" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        | FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        | CAST(list_sum(list_transform(emb, x -> abs(CAST(floor(x/scale + 0.5) AS INT)))) AS BIGINT) AS l1_q,
        | CAST(CAST(floor(emb[1]/scale + 0.5) AS INT) AS BIGINT) AS q0
        |FROM s ORDER BY vec_id""".stripMargin,
    "c7_global_shuffle" ->
      """WITH sc AS (
        |  SELECT doc_id, ((doc_id % 2147483648) * 2654435761) % 4294967296 AS k
        |  FROM documents)
        |SELECT doc_id, CAST(k AS BIGINT) AS shuffle_key,
        |  CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS pos
        |FROM sc ORDER BY pos""".stripMargin,
    "c8_dsir" ->
      """WITH tk AS (
        |  SELECT doc_id, doc_id % 97 = 0 AS is_t,
        |    string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |feats AS (
        |  SELECT doc_id, is_t,
        |    unnest(toks || list_transform(range(0, len(toks) - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS f
        |  FROM tk),
        |bf AS (
        |  SELECT doc_id, is_t,
        |    CAST(md5_number_lower(f) & 1023 AS BIGINT) AS b,
        |    count(*) AS tf
        |  FROM feats GROUP BY 1, 2, 3),
        |cnt AS (
        |  SELECT b,
        |    sum(CASE WHEN is_t THEN tf ELSE 0 END) AS ct,
        |    sum(CASE WHEN NOT is_t THEN tf ELSE 0 END) AS cr
        |  FROM bf GROUP BY 1),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM cnt),
        |lam AS (
        |  SELECT b, CAST(floor(ln(((ct + 0.5) / (tt + 512.0)) /
        |    ((cr + 0.5) / (tr + 512.0))) * 1048576.0 + 0.5) AS BIGINT) AS q
        |  FROM cnt CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
        |    CAST(sum(tf * q) AS BIGINT) AS wq
        |  FROM bf JOIN lam USING (b) WHERE NOT is_t GROUP BY 1)
        |SELECT doc_id, n_feats, round(wq / 1048576.0, 4) AS logratio,
        |  wq > 0 AS keep
        |FROM w ORDER BY doc_id""".stripMargin,
    "c6_curriculum_order" ->
      // the oracle IS the naive global window the distributed
      // prefix-sum formulation must reproduce exactly
      """WITH sc AS (
        |  SELECT doc_id,
        |    floor(n_chars * (1.0 - abs(0.3 -
        |      (len(list_filter(string_split(text, ' '),
        |        x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE /
        |       len(string_split(text, ' ')))))
        |      * 10000.0 + 0.5) / 10000.0 AS score
        |  FROM documents)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC NULLS LAST, doc_id)
        |    AS BIGINT) AS global_idx
        |FROM sc ORDER BY global_idx""".stripMargin,
    "e2_matryoshka_truncate" ->
      """WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |t AS (
        |  SELECT vec_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(emb[1:16], x -> x * x)), (a, b) -> a + b) AS ss_k,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(emb, x -> x * x)), (a, b) -> a + b) AS ss_all,
        |    emb[1] AS x0
        |  FROM s)
        |SELECT vec_id, round(ss_k / ss_all, 6) AS energy,
        |  round(x0 / sqrt(ss_k), 6) AS r0
        |FROM t ORDER BY vec_id""".stripMargin,
    "o1_profile" ->
      """SELECT count(*) AS rows, count(c_name) AS name_nonnull,
        | count(DISTINCT c_mktsegment) AS segments,
        | round(min(c_acctbal),2) AS min_bal, round(max(c_acctbal),2) AS max_bal,
        | round(avg(c_acctbal),2) AS avg_bal,
        | count(DISTINCT c_nationkey) AS nations
        |FROM customer""".stripMargin,
    "o5_source_report" ->
      """WITH p AS (
        |  SELECT source, lang, md5(text) AS h,
        |    CAST(length(text) AS BIGINT) AS len,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is'], x)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |      AS BIGINT) AS n_punct
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, count(*) AS n_docs,
        |  count(DISTINCT h) AS n_distinct_texts,
        |  round(sum(len)::DOUBLE / count(*), 2) AS avg_len,
        |  round(sum(n_stop)::DOUBLE / sum(n_toks), 6) AS stop_share,
        |  round(sum(n_punct)::DOUBLE / sum(len), 6) AS punct_share,
        |  count(DISTINCT lang) AS n_langs
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    // r10: o6's production form — register fold only, no exact
    // countDistinct certification branch (the oracle keeps the
    // explicit 64-register spine as the independent derivation)
    "o6_hll_prod" ->
      """WITH keyed AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(((l_orderkey % 2147483648) * 2654435761)
        |      % 4294967296 AS BIGINT) AS h
        |  FROM lineitem),
        |rho AS (
        |  SELECT flag, CAST(h % 64 AS INT) AS reg,
        |    CASE WHEN h // 64 = 0 THEN 27 ELSE
        |      CAST(round(log2((h // 64) & -(h // 64))) AS INT) + 1
        |    END AS rho
        |  FROM keyed),
        |regs AS (
        |  SELECT flag, reg, max(rho) AS mr FROM rho GROUP BY 1, 2),
        |spine AS (
        |  SELECT flag, CAST(unnest(range(64)) AS INT) AS reg
        |  FROM (SELECT DISTINCT flag FROM keyed)),
        |full_regs AS (
        |  SELECT spine.flag, spine.reg, COALESCE(regs.mr, 0) AS mr
        |  FROM spine LEFT JOIN regs
        |    ON spine.flag = regs.flag AND spine.reg = regs.reg),
        |agg AS (
        |  SELECT flag, sum(1.0 / CAST(1 << mr AS DOUBLE)) AS ssum,
        |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS v0
        |  FROM full_regs GROUP BY 1)
        |SELECT flag,
        |  round(CASE WHEN (0.709 * 4096) / ssum <= 160.0 AND v0 > 0
        |    THEN 64.0 * ln(64.0 / v0)
        |    ELSE (0.709 * 4096) / ssum END, 4) AS hll_est
        |FROM agg ORDER BY flag""".stripMargin,
    // r10: o7's production form — per-key estimates only; the exact
    // count feeds the sketch build but never rides to the output
    "o7_cms_prod" ->
      """WITH cnts AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |cells AS (
        |  SELECT user_id, cnt, i,
        |    CASE i
        |      WHEN 0 THEN ((101 * user_id + 17) % 2147483647) % 512
        |      WHEN 1 THEN ((1009 * user_id + 29) % 2147483647) % 512
        |      WHEN 2 THEN ((10007 * user_id + 71) % 2147483647) % 512
        |      ELSE ((100003 * user_id + 113) % 2147483647) % 512
        |    END AS cell
        |  FROM cnts, (SELECT CAST(unnest(range(4)) AS INT) AS i)),
        |sketch AS (
        |  SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS csum
        |  FROM cells GROUP BY 1, 2),
        |est AS (
        |  SELECT user_id, min(csum) AS cms_est
        |  FROM cells JOIN sketch USING (i, cell) GROUP BY 1)
        |SELECT user_id, cms_est FROM est
        |ORDER BY user_id""".stripMargin,
    "c10_weighted_reservoir" ->
      """WITH keyed AS (
        |  SELECT doc_id, source, n_chars,
        |    round(-ln((CAST(((doc_id % 2147483648) * 2654435761)
        |      % 4294967296
        |      AS BIGINT) + 1) / 4294967297.0) / n_chars, 9) AS ekey
        |  FROM documents),
        |rk AS (
        |  SELECT source, doc_id, n_chars, ekey,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ekey, doc_id) AS BIGINT) AS rk
        |  FROM keyed)
        |SELECT source, rk, doc_id, n_chars, ekey
        |FROM rk WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    "t19_nb_filter" ->
      """WITH docs AS (
        |  SELECT doc_id, lang = 'en' AS pos, text FROM documents),
        |tf AS (
        |  SELECT doc_id, pos, term FROM (
        |    SELECT doc_id, pos,
        |      unnest(string_split(text, ' ')) AS term
        |    FROM docs)
        |  WHERE term <> ''),
        |stats AS (
        |  SELECT term,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
        |  FROM tf GROUP BY 1),
        |tot AS (
        |  SELECT sum(cp) AS pt, sum(cn) AS nt, count(*) AS v
        |  FROM stats),
        |wtab AS (
        |  SELECT term,
        |    CAST(round((ln((cp + 1) / CAST(pt + v AS DOUBLE)) -
        |      ln((cn + 1) / CAST(nt + v AS DOUBLE))) * 1000000)
        |      AS BIGINT) AS w6
        |  FROM stats, tot),
        |prior AS (
        |  SELECT CAST(round(ln(
        |      (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1) /
        |      CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1
        |        AS DOUBLE))
        |    * 1000000) AS BIGINT) AS prior6
        |  FROM docs),
        |scored AS (
        |  SELECT doc_id, CAST(sum(w6) AS BIGINT) AS sw6
        |  FROM tf JOIN wtab USING (term) GROUP BY 1)
        |SELECT docs.doc_id, pos AS label,
        |  COALESCE(sw6, 0) + prior6 AS score6,
        |  COALESCE(sw6, 0) + prior6 > 0 AS pred
        |FROM docs LEFT JOIN scored ON docs.doc_id = scored.doc_id
        |CROSS JOIN prior
        |ORDER BY docs.doc_id""".stripMargin,
    "o4_heavy_hitters" ->
      """WITH tf AS (
        |  SELECT source, term, count(*) AS cnt FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term <> '' GROUP BY 1, 2),
        |tot AS (SELECT source, sum(cnt) AS total FROM tf GROUP BY 1),
        |rk AS (
        |  SELECT tf.source, term, cnt,
        |    round(cnt::DOUBLE / total, 6) AS share,
        |    CAST(row_number() OVER (PARTITION BY tf.source
        |      ORDER BY cnt DESC, term) AS BIGINT) AS rk
        |  FROM tf JOIN tot ON tf.source = tot.source)
        |SELECT source, rk, term, cnt, share FROM rk WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "o2_drift" ->
      """WITH b AS (
        |  SELECT greatest(least(CAST(floor(value / 50) AS INT), 9), 0) AS bin,
        |    ts < TIMESTAMP '2024-01-15 00:00:00' AS early
        |  FROM events),
        |c AS (
        |  SELECT bin, count(CASE WHEN early THEN 1 END) AS n_early,
        |    count(CASE WHEN NOT early THEN 1 END) AS n_late
        |  FROM b GROUP BY bin),
        |f AS (
        |  SELECT s.bin, COALESCE(c.n_early, 0) AS n_early,
        |    COALESCE(c.n_late, 0) AS n_late
        |  FROM (SELECT CAST(unnest(range(10)) AS INT) AS bin) s
        |  LEFT JOIN c USING (bin)),
        |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS t_early,
        |             CAST(sum(n_late) AS BIGINT) AS t_late FROM f)
        |SELECT bin, n_early, n_late,
        |  round(((n_early + 1)::DOUBLE / (t_early + 10) -
        |         (n_late + 1)::DOUBLE / (t_late + 10)) *
        |    ln(((n_early + 1)::DOUBLE / (t_early + 10)) /
        |       ((n_late + 1)::DOUBLE / (t_late + 10))), 4) AS psi_contrib
        |FROM f CROSS JOIN t ORDER BY bin""".stripMargin,
    "o3_expectations" ->
      """WITH a AS (
        |  SELECT count(*) AS n, count(c_name) AS n_name,
        |    count(DISTINCT c_custkey) AS n_key, min(c_acctbal) AS min_bal
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT 'completeness' AS "check", 'c_name' AS "column",
        |    round(n_name::DOUBLE / n, 4) AS observed, 1.0 AS threshold,
        |    n_name = n AS pass FROM a
        |  UNION ALL
        |  SELECT 'uniqueness', 'c_custkey', round(n_key::DOUBLE / n, 4),
        |    1.0, n_key = n FROM a
        |  UNION ALL
        |  SELECT 'min_bound', 'c_acctbal', round(min_bal, 4), -1000.0,
        |    min_bal >= -1000.0 FROM a
        |  UNION ALL
        |  SELECT 'nonneg_bound', 'c_acctbal', round(min_bal, 4), 0.0,
        |    min_bal >= 0.0 FROM a)
        |ORDER BY "check", "column"""".stripMargin,
    "n1_nested_flatten" ->
      """SELECT l_orderkey AS orderkey,
        | count(*) OVER (PARTITION BY l_orderkey) AS n_items,
        | l_linenumber AS linenumber, round(l_quantity,2) AS qty,
        | round(l_extendedprice,2) AS price
        |FROM lineitem ORDER BY orderkey, linenumber""".stripMargin,
    "h1_snapshot_history" ->
      """SELECT user_id, event_id, event_type, round(value,2) AS value, epoch_ms(ts) AS valid_from,
        | COALESCE(lead(epoch_ms(ts)) OVER w, 9999999999000) AS valid_to,
        | CAST(row_number() OVER w AS BIGINT) AS version
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "h2_latest_state" ->
      """SELECT user_id, event_type AS last_type, round(value,2) AS last_value, epoch_ms(ts) AS ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "h3_incremental_delta" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        | CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS delta_version
        |FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY user_id, delta_version""".stripMargin,
    "h4_dedup_consecutive" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
        |FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NULL OR prev_type <> event_type
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "h5_state_at_time" ->
      """SELECT user_id, event_type AS state_at, epoch_ms(ts) AS ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // reference-ordered set replay: last operation on (user, item) wins
    "h6_multivalue_merge" ->
      """SELECT user_id, k FROM (
        | SELECT user_id,
        |   CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
        |   event_type,
        |   row_number() OVER (
        |     PARTITION BY user_id, regexp_extract(props, '"k": (\d+)', 1)
        |     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events WHERE event_type IN ('click', 'error'))
        |WHERE rn = 1 AND event_type = 'click'
        |ORDER BY user_id, k""".stripMargin,
    "h6b_multivalue_setdiff" ->
      """SELECT user_id, k FROM (
        | SELECT DISTINCT user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        | FROM events WHERE event_type = 'click'
        | EXCEPT
        | SELECT DISTINCT user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        | FROM events WHERE event_type = 'error')
        |ORDER BY user_id, k""".stripMargin,
    "h7_flag_parse" ->
      """SELECT event_id, flag,
        | regexp_extract(flag, '^(.*?)([?+-])(\((.*)\))?$', 1) AS f_type,
        | regexp_extract(flag, '^(.*?)([?+-])(\((.*)\))?$', 2) AS f_status,
        | regexp_extract(flag, '^(.*?)([?+-])(\((.*)\))?$', 4) AS f_requestee
        |FROM (SELECT event_id,
        |  event_type || CASE WHEN value >= 100 THEN '+' WHEN value >= 50 THEN '?' ELSE '-' END ||
        |  CASE WHEN user_id % 2 = 0 THEN '(u' || CAST(user_id AS VARCHAR) || '@x.com)' ELSE '' END AS flag
        | FROM events)
        |ORDER BY event_id""".stripMargin,
    "h8_json_props" ->
      """SELECT user_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "h9_alias_canonical" ->
      """WITH amap AS (
        | SELECT user_id, least(user_id, min(k % 25)) AS canonical
        | FROM (SELECT user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |       FROM events WHERE event_type = 'signup')
        | GROUP BY user_id)
        |SELECT COALESCE(a.canonical, e.user_id) AS canonical, count(*) AS n_events,
        | count(DISTINCT e.user_id) AS n_users
        |FROM events e LEFT JOIN amap a ON e.user_id = a.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "h10_normalize_scrub" ->
      """SELECT event_id,
        | CASE WHEN event_type IN ('', '--', '---') THEN NULL ELSE event_type END AS et,
        | CASE WHEN value = 0 THEN NULL ELSE round(value,2) END AS v,
        | strftime(ts, '%Y/%m/%d') AS date_str,
        | epoch_ms(strptime(strftime(ts, '%Y/%m/%d'), '%Y/%m/%d')) AS date_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "h11_sessionize" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        | CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |FROM (SELECT *, CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |  THEN 1 ELSE 0 END AS is_new FROM events)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "p1_privacy_screen" ->
      """SELECT doc_id, source,
        | CASE WHEN n_chars < 150 THEN '[screened]' ELSE text END AS text,
        | n_chars < 150 AS screened
        |FROM documents WHERE source NOT IN ('src0', 'src1')
        |ORDER BY doc_id""".stripMargin,
    "p2_field_screen" ->
      """SELECT doc_id, source,
        | CASE WHEN source IN ('src1','src3') THEN '[screened]' ELSE text END AS text,
        | CASE WHEN source IN ('src1','src3') THEN NULL ELSE lang END AS lang,
        | n_chars, source IN ('src1','src3') AS screened
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p3_privacy_delete" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type
        |  FROM events),
        |latest AS (
        |  SELECT user_id, event_type AS latest_type FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_ms DESC, event_id DESC) AS rn FROM ev)
        |  WHERE rn = 1),
        |nowp AS (SELECT user_id FROM latest WHERE latest_type = 'error'),
        |everp AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'error'),
        |del AS (
        |  SELECT DISTINCT 'delete' AS kind, user_id || '_' || ts_ms AS id
        |  FROM ev WHERE user_id IN (SELECT user_id FROM nowp)),
        |ref AS (
        |  SELECT 'refresh' AS kind, CAST(user_id AS VARCHAR) AS id
        |  FROM everp WHERE user_id NOT IN (SELECT user_id FROM nowp))
        |SELECT * FROM (SELECT * FROM del UNION ALL SELECT * FROM ref)
        |ORDER BY kind, id""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n
        |FROM documents GROUP BY md5(text) ORDER BY rep_id""".stripMargin,
    // d4's oracle replicates the BANDED candidate generation (the d2
    // minhash band CTE), then the exact token-set Jaccard on candidate
    // pairs — the hash check pins the query's actual banded semantics,
    // not an all-pairs claim; the banded-vs-all-pairs recall bound
    // lives in PipelineSpec.
    "d4_ngram_jaccard" -> d4NgramSql,
    // x4 replays d4 as the ingest cadence (3 arrival waves, slim
    // banded candidates intra-wave + against the accumulated band
    // store, per-wave exact verification) and must land row-identical
    // to d4 on the union — so its oracle IS d4's SQL (the x3 device
    // applied to the exact-verify regime).
    "x4_incremental_verify" -> d4NgramSql,
    // d5's oracle replicates the BANDED candidate generation itself
    // (plane literals interpolated from VectorFunctions.planeValues,
    // same sequential dot order), so the hash check is an exact check
    // of the query's actual LSH semantics — not an all-pairs claim
    // that only holds when recall happens to be 1.0 on this corpus.
    // The recall-vs-all-pairs bound lives in the PipelineSpec instead.
    // r9: cell-confined prod form — k-means cells (s5's own CTE
    // chain), sub-sharded by the portable coin, exact pairwise within
    // cell; an INDEPENDENT re-derivation of Dedup.semCells+verify
    "d5_embedding_prod" ->
      s"""WITH $semCellsCteBody
         |$semCellPairsSelect
         |ORDER BY id1, id2""".stripMargin,
    "d17_chunk_dedup" ->
      // t15's chunk frame re-keyed as a synthetic chunk corpus, then
      // d2's whole band CTE chain over it; cross-document pairs only
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |st AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(0,
         |      greatest(0, CAST(ceil((n - 64) / 48.0) AS BIGINT)) + 1))
         |      AS chunk_id
         |  FROM t0),
         |ch AS (
         |  SELECT doc_id * 1000000 + chunk_id AS doc_id,
         |    array_to_string(list_slice(toks, chunk_id * 48 + 1,
         |      least(chunk_id * 48 + 64, n)), ' ') AS text
         |  FROM st),
         |${minhashBandCte("ch", countFrom = "documents")},
         |cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    len(list_filter(range(32), i -> a.sig[i + 1] = b.sig[i + 1])) / 32.0 AS jac
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT id1, id2, max(jac) AS jaccard_est FROM cand
         |  WHERE jac >= 0.5 GROUP BY id1, id2)
         |SELECT id1 // 1000000 AS doc1, id1 % 1000000 AS chunk1,
         |  id2 // 1000000 AS doc2, id2 % 1000000 AS chunk2, jaccard_est
         |FROM pairs WHERE id1 // 1000000 <> id2 // 1000000
         |ORDER BY doc1, chunk1, doc2, chunk2""".stripMargin,
    "s14_knn_graph" -> s14KnnGraphSql,
    // d12 prod = exact components over the cell-confined pair graph:
    // the oracle re-derives the cells, closes the within-cell verified
    // pairs transitively, and keeps each group's min id.
    "d12_semdedup_prod" ->
      s"""WITH RECURSIVE $semCellsCteBody,
         |p0 AS MATERIALIZED (
         |$semCellPairsSelect),
         |eg AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM p0
         |      UNION SELECT id2, id1 FROM p0),
         |reach(u, v) AS (
         |  SELECT u, v FROM eg
         |  UNION
         |  SELECT r.u, eg.v FROM reach r JOIN eg ON r.v = eg.u),
         |lbl AS (SELECT u AS id, least(u, min(v)) AS lbl
         |        FROM reach GROUP BY u)
         |SELECT x.vec_id, coalesce(l.lbl, x.vec_id) AS grp,
         |  (l.lbl IS NULL OR l.lbl = x.vec_id) AS keep
         |FROM embeddings x LEFT JOIN lbl l ON l.id = x.vec_id
         |ORDER BY x.vec_id""".stripMargin,
    // d13's oracle mirrors the prefix-filter candidate generation
    // (exact-recall: smaller side's rarest-⌊(1-t)n⌋+1 prefix must hit
    // the partner's postings); the ≡-all-pairs bound is the
    // PipelineSpec's job, same split as d4/d5. The prefix fraction is
    // interpolated from the SAME Scala double the engine folds.
    "d13_containment" ->
      s"""WITH dt AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
         |keyed AS (
         |  SELECT doc_id, source, printf('%012d', df) || '|' || tok AS k
         |  FROM dt JOIN dfreq USING (tok)),
         |sorted AS (
         |  SELECT doc_id, source, list_sort(list(k)) AS ks
         |  FROM keyed GROUP BY doc_id, source),
         |pre AS (
         |  SELECT doc_id, source,
         |    unnest(ks[1:CAST(floor(${1.0 - 0.9} * len(ks) + 0.000001) + 1
         |      AS BIGINT)]) AS k
         |  FROM sorted),
         |cand AS (
         |  SELECT DISTINCT least(p.doc_id, q.doc_id) AS id1,
         |    greatest(p.doc_id, q.doc_id) AS id2
         |  FROM pre p JOIN keyed q ON p.k = q.k AND p.source = q.source
         |  WHERE p.doc_id <> q.doc_id),
         |sets AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
         |  FROM documents WHERE text IS NOT NULL),
         |v AS (
         |  SELECT id1, id2, len(a.ts) AS n1, len(b.ts) AS n2,
         |    round(len(list_intersect(a.ts, b.ts))::DOUBLE /
         |      least(len(a.ts), len(b.ts)), 3) AS containment
         |  FROM cand JOIN sets a ON a.doc_id = cand.id1
         |  JOIN sets b ON b.doc_id = cand.id2
         |  WHERE round(len(list_intersect(a.ts, b.ts))::DOUBLE /
         |      least(len(a.ts), len(b.ts)), 3) >= 0.9),
         |ori AS (
         |  SELECT CASE WHEN n1 < n2 OR (n1 = n2 AND id1 > id2)
         |    THEN id1 ELSE id2 END AS doc_id,
         |  CASE WHEN n1 < n2 OR (n1 = n2 AND id1 > id2)
         |    THEN id2 ELSE id1 END AS container_id,
         |  containment FROM v),
         |best AS (
         |  SELECT doc_id, container_id, containment,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY containment DESC, container_id ASC) AS rk
         |  FROM ori)
         |SELECT doc_id, container_id, containment FROM best
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // d14's oracle is the INDEPENDENT all-pairs formulation (eval ×
    // train cross join + exact containment): prefix filtering is
    // exact for containment (recall-1.0, spec-proven), so the banded
    // mirror d4/d5/d13 need is unnecessary — the strongest check is
    // the brute-force one the engine must equal.
    "d14_eval_containment" ->
      """WITH g AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 10 = 0 AS is_eval,
        |    list_distinct(list_transform(
        |      range(0, len(string_split(text, ' ')) - 2),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))
        |      AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS MATERIALIZED (SELECT doc_id, ts FROM g WHERE NOT is_eval),
        |ev AS MATERIALIZED (SELECT doc_id, ts FROM g WHERE is_eval),
        |q AS MATERIALIZED (
        |  SELECT eval_id, train_id, containment FROM (
        |    SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
        |      round(len(list_filter(e.ts, x -> list_contains(t.ts, x)))::DOUBLE
        |        / len(e.ts), 3) AS containment
        |    FROM ev e CROSS JOIN tr t)
        |  WHERE containment >= 0.8),
        |agg AS (SELECT eval_id, count(*) AS n_containers FROM q GROUP BY 1),
        |best AS (
        |  SELECT eval_id, train_id, containment FROM (
        |    SELECT *, row_number() OVER (PARTITION BY eval_id
        |      ORDER BY containment DESC, train_id ASC) AS rk FROM q)
        |  WHERE rk = 1)
        |SELECT e.doc_id, coalesce(agg.n_containers, 0) AS n_containers,
        |  best.train_id AS best_container_id, best.containment,
        |  coalesce(agg.n_containers, 0) > 0 AS contaminated
        |FROM ev e
        |LEFT JOIN agg ON agg.eval_id = e.doc_id
        |LEFT JOIN best ON best.eval_id = e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    "d6_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(string_split(text,' ')) - 2),
        |      i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')) AS grams
        |  FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |shared AS (
        |  SELECT doc_id, count(DISTINCT gram) AS n_shared
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0) t
        |  JOIN bench USING (gram)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.n_shared, 0) AS n_shared,
        |  COALESCE(s.n_shared, 0) >= 3 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN shared s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d7_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(CAST(ceil(len(toks) / 16.0) AS BIGINT)),
        |    i -> {'i': i, 'h': md5(array_to_string(toks[i*16+1 : i*16+16], ' '))}))
        |    AS u
        |  FROM t),
        |spans AS (SELECT doc_id, u.i AS chunk_idx, u.h AS h FROM c),
        |shared AS (
        |  SELECT h, count(DISTINCT doc_id) AS n_docs FROM spans
        |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT s.doc_id, s.chunk_idx, s.h, s.n_docs
        |FROM (SELECT spans.*, shared.n_docs FROM spans JOIN shared USING (h)) s
        |ORDER BY doc_id, chunk_idx, h""".stripMargin,
    // r9: o12's production form — signature fold + pair estimates
    // only, no exact shingle-set certification branch
    "o12_source_similarity_prod" -> {
      val a = graft.expressions.MinHashParams.A.take(32)
        .mkString("[", ", ", "]")
      val b = graft.expressions.MinHashParams.B.take(32)
        .mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT source, unnest(CASE WHEN length(text) <= 5 THEN [text]
         |    ELSE list_distinct(list_transform(range(1, length(text) - 3),
         |      i -> substr(text, CAST(i AS INT), 5))) END) AS shingle
         |  FROM documents WHERE text IS NOT NULL),
         |hx AS MATERIALIZED (
         |  SELECT DISTINCT source,
         |    CAST(md5_number_lower(shingle) % 4294967296 AS BIGINT) AS x
         |  FROM sh),
         |mh AS (
         |  SELECT source, j, min((A[j + 1] * x + B[j + 1]) % 2147483647) AS h
         |  FROM hx CROSS JOIN range(32) r(j)
         |  CROSS JOIN (SELECT $a AS A, $b AS B) p
         |  GROUP BY 1, 2),
         |sig AS (SELECT source, list(h ORDER BY j) AS sig FROM mh
         |        GROUP BY source)
         |SELECT a.source AS src1, b.source AS src2,
         |  round(len(list_filter(range(32), i -> a.sig[i + 1] = b.sig[i + 1]))
         |    / 32.0, 6) AS est_jac
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY src1, src2""".stripMargin
    },
    // r10: o11's production form — filter occupancy + estimate only,
    // no exact countDistinct, no FP probe sweep
    "o11_bloom_prod" ->
      """WITH h AS (
        |  SELECT source,
        |    CAST(md5_number_lower(text) & 2147483647 AS BIGINT) AS hh
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT source, hh,
        |    CAST(((CASE i WHEN 0 THEN 101 WHEN 1 THEN 1009 ELSE 10007 END
        |      * hh + CASE i WHEN 0 THEN 17 WHEN 1 THEN 29 ELSE 71 END)
        |      % 2147483647) % 2048 AS BIGINT) AS p
        |  FROM h CROSS JOIN range(3) r(i)),
        |words AS (
        |  SELECT source, CAST(p // 32 AS BIGINT) AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1, 2),
        |stats AS (
        |  SELECT source, CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set
        |  FROM words GROUP BY 1)
        |SELECT source, bits_set,
        |  CASE WHEN bits_set >= 2048 THEN NULL ELSE
        |    round(-2048.0 / 3.0 * ln(1.0 - bits_set / 2048.0), 2)
        |  END AS est_n
        |FROM stats ORDER BY source""".stripMargin,
    "c14_unimax" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT source, count(*) AS n, count(*) * 2 AS cap
        |  FROM documents GROUP BY 1),
        |cums AS MATERIALIZED (
        |  SELECT source, n, cap,
        |    CAST(sum(cap) OVER (ORDER BY cap, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS rk
        |  FROM counts),
        |tot AS MATERIALIZED (
        |  SELECT CAST(sum(n) AS BIGINT) AS tot_n, count(*) AS m
        |  FROM counts),
        |probe AS MATERIALIZED (
        |  SELECT cums.*, tot.m AS m,
        |    CAST(floor(tot_n * 0.6) AS BIGINT) AS budget,
        |    cum + (tot.m - rk) * cap <=
        |      CAST(floor(tot_n * 0.6) AS BIGINT) AS capped
        |  FROM cums CROSS JOIN tot),
        |kf AS MATERIALIZED (
        |  SELECT COALESCE(max(CASE WHEN capped THEN rk END), 0) AS k,
        |    COALESCE(max(CASE WHEN capped THEN cum END), 0) AS cumk,
        |    max(m) AS m, max(budget) AS budget
        |  FROM probe),
        |rates AS MATERIALIZED (
        |  SELECT source, n,
        |    least(CAST(cap AS DOUBLE),
        |      CASE WHEN kf.k = kf.m THEN 1.7976931348623157e308
        |        ELSE CAST(budget - cumk AS DOUBLE) /
        |          CAST(m - kf.k AS DOUBLE)
        |      END) / CAST(n AS DOUBLE) AS epochs
        |  FROM counts CROSS JOIN kf)
        |SELECT d.doc_id, d.source, round(epochs, 4) AS epochs,
        |  CAST(floor(epochs) + CASE WHEN
        |    (((d.doc_id % 2147483648) * 2654435761) % 4294967296
        |      % 10000)::DOUBLE / 10000.0 < epochs - floor(epochs)
        |    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |FROM documents d JOIN rates USING (source)
        |ORDER BY d.doc_id""".stripMargin,
    "o10_quantile_prod" ->
      """WITH b AS (
        |  SELECT l_returnflag AS flag, min(l_extendedprice) AS lo,
        |    max(l_extendedprice) AS hi, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |binned AS (
        |  SELECT b.flag,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(CAST(floor((l_extendedprice - lo) /
        |        ((hi - lo) / 256)) AS BIGINT), 255)
        |    END AS bin,
        |    count(*) AS cnt
        |  FROM lineitem l JOIN b ON l.l_returnflag = b.flag
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT flag, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS BIGINT)
        |      AS cum
        |  FROM binned),
        |est AS (
        |  SELECT c.flag,
        |    max(CASE WHEN cum - cnt < CAST(ceil(0.5 * n) AS BIGINT)
        |          AND cum >= CAST(ceil(0.5 * n) AS BIGINT)
        |      THEN lo + (hi - lo) / 256 * (bin +
        |        (CAST(ceil(0.5 * n) AS BIGINT) - (cum - cnt)) /
        |        CAST(cnt AS DOUBLE)) END) AS e50,
        |    max(CASE WHEN cum - cnt < CAST(ceil(0.9 * n) AS BIGINT)
        |          AND cum >= CAST(ceil(0.9 * n) AS BIGINT)
        |      THEN lo + (hi - lo) / 256 * (bin +
        |        (CAST(ceil(0.9 * n) AS BIGINT) - (cum - cnt)) /
        |        CAST(cnt AS DOUBLE)) END) AS e90,
        |    max(CASE WHEN cum - cnt < CAST(ceil(0.99 * n) AS BIGINT)
        |          AND cum >= CAST(ceil(0.99 * n) AS BIGINT)
        |      THEN lo + (hi - lo) / 256 * (bin +
        |        (CAST(ceil(0.99 * n) AS BIGINT) - (cum - cnt)) /
        |        CAST(cnt AS DOUBLE)) END) AS e99
        |  FROM cum c JOIN b USING (flag) GROUP BY 1)
        |SELECT flag, n,
        |  round(e50, 4) AS p50_est, round(e90, 4) AS p90_est,
        |  round(e99, 4) AS p99_est
        |FROM est JOIN b USING (flag)
        |ORDER BY flag""".stripMargin,
    "d15_substr_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |spans AS (
        |  SELECT doc_id, i AS st, doc_id * 1048576 + i AS occ,
        |    md5(array_to_string(toks[i+1 : i+16], ' ')) AS h
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 15)) AS i
        |        FROM tok WHERE len(toks) >= 16)),
        |shared AS (
        |  SELECT h, min(occ) AS keeper FROM spans
        |  GROUP BY h HAVING count(*) >= 2),
        |fl AS (
        |  SELECT doc_id, list_sort(list(st)) AS fl
        |  FROM spans JOIN shared USING (h)
        |  WHERE occ <> keeper GROUP BY doc_id),
        |joined AS (
        |  SELECT t.doc_id, toks, COALESCE(fl, CAST([] AS BIGINT[])) AS fl
        |  FROM tok t LEFT JOIN fl USING (doc_id)),
        |cleaned AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    list_transform(
        |      list_filter(range(0, len(toks)),
        |        p -> len(list_filter(fl, s -> p >= s AND p < s + 16)) = 0),
        |      p -> toks[p + 1]) AS kept
        |  FROM joined)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
        |FROM cleaned ORDER BY doc_id""".stripMargin,
    "s1_ann_bruteforce" -> s1AnnSql,
    "s8_mmr_diversify" -> s8MmrSql,
    "s9_mmr_lsh" -> s9MmrSql,
    "s10_mmr_pq" -> s10MmrSql,
    "s12_mmr_binary" -> s12MmrSql,
    "t2_quality_score" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | round(len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE /
        |  len(string_split(text, ' ')), 4) AS stop_ratio,
        | round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE /
        |  length(text), 4) AS punct_ratio,
        | round((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE /
        |  len(string_split(text, ' ')), 4) AS mean_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_tfidf" ->
      """SELECT doc_id, rk, term, score FROM (
        | SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln((n.n + 1.0)/(df.df + 1.0)), 4) AS score,
        |  CAST(row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY round(tf.tf * ln((n.n + 1.0)/(df.df + 1.0)), 4) DESC,
        |             tf.term ASC) AS BIGINT) AS rk
        | FROM (SELECT doc_id, term, count(*) AS tf FROM (
        |         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |       GROUP BY 1,2) tf
        | JOIN (SELECT term, count(DISTINCT doc_id) AS df FROM (
        |         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |       GROUP BY 1) df ON tf.term = df.term
        | CROSS JOIN (SELECT count(*) AS n FROM documents) n)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // Every query key has an oracle: the former rows-only set
    // (d2, d3, s2, s3, m1, m2) became hash-checkable by building the
    // sketches on md5 (≡ DuckDB md5_number_lower/upper), interpolating
    // the driver-folded hyperplane literals into the SQL, and keeping
    // the multimodal stub hash inside mod-1e9+7 arithmetic.
  )
}
