package graft.dedup

import graft.{GraftSession, Tables}
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale training-data pipelines.
  *
  * Scale design: every near-dup variant is candidate-generation via a
  * bucket key (LSH band, simhash prefix, (source, size-bucket)) followed
  * by verification *within* buckets only — the join key is always
  * high-cardinality and uniform, so there is no cross product and the
  * shuffle partitions stay balanced at 100 TB. Exact dedup is a single
  * hash aggregation with map-side combine.
  *
  * Broadcast-hint boundedness ledger (r12 verdict #1 sweep): hinted
  * build sides here are eval-suite-sized (`prefix`, `evalSorted`,
  * `benchGrams` — decontamination suites are tiny next to the
  * training corpus by construction, see the d13 candidate-theory
  * note), batch-sized (`broadcastPost = true` only on the
  * incremental path's arriving-batch postings), or |cells|-row
  * (d12's per-cluster `sizes`). Corpus-sized frames (full postings,
  * signatures, token arrays) always shuffle on their band/bucket
  * keys.
  */
object Dedup {

  /** D1: exact dedup — content-hash groupBy, keep the minimum id as the
    * canonical representative. */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n"))
      .select("rep_id", "n")
      .orderBy("rep_id")

  /** D2: MinHash + LSH — 5-char shingles → 32-wide minhash signature →
    * 8 bands of 4 → bucket-join candidates → MinHash-estimated Jaccard
    * ≥ 0.5. Only (band, slice, id) tuples enter the bucket shuffle and
    * only 32-long signatures enter verification — the shingle sets
    * never leave the scan stage, which is what keeps this
    * corpus-size-independent per candidate at 100 TB.
    * The signature hash is md5-derived ([[graft.expressions.MinHashSig]]),
    * so the whole pipeline — sketch included — is hash-checked against
    * the DuckDB oracle (md5_number_lower + the same permutations). */
  /** MinHash parameters shared by d2 (self-join dedup) and d9
    * (incremental batch-vs-store dedup). */
  val MhK = 32; val MhBands = 8

  /** Banded minhash signatures: one row per (doc, band) carrying the
    * full signature — the shared sketch of d2/d9 and the schema of the
    * persisted band STORE in the incremental flow. `bkey` is a scalar
    * determined by (band, bh): the store buckets on it (bucketed scans
    * are planner-disabled for array-typed keys) and the batch join
    * includes it, so the store side reads co-located with no
    * exchange. */
  private[graft] def mhBands(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      // fused shingle+minhash: same bits as
      // minhashSignature(shingleSet(text, 5), k), one pass, no
      // per-window allocation — the sketch stage is the d2 bottleneck
      // (single-row-group local files scan on one task)
      .select(col("doc_id"),
        T.minhashSignatureText(col("text"), 5, MhK).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(T.bandSlices(col("sig"), MhK, MhBands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .withColumn("bkey", xxhash64(col("band"), col("bh")))

  def d2MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashPairs(Tables.documents(s, d)).orderBy("id1", "id2")

  /** d2/d17's band-width law (r11 — the m5 width-law recipe at the
    * minhash tier, closing the last ledgered 100× knee): extra band
    * ROWS = one per corpus QUADRUPLING past 2^13 banded units,
    * capped at 4. Fixed (8 band × 4 row) keys stop pruning once
    * dup-group size grows with the corpus — every group member
    * shares band buckets, so the self-join output goes Σ group²
    * (measured 14–71 s at 100× mutated). Widening a band with the
    * FIRST x ROWS of the next band is the classic LSH r-knob: the
    * extension rows are minhash rows of the SAME signature, so for a
    * genuinely similar pair each agrees with probability j — the
    * correlated family, never avalanche — and per-band collision
    * falls j⁴ → j⁴⁺ˣ. Identical texts (equal signatures) collide at
    * EVERY width; the borderline-j candidate tail thins exactly as
    * the LSH S-curve predicts (at j = 0.9: ≥ 0.98 through x = 4; at
    * the 0.5 threshold the banding was already 40%-recall at x = 0 —
    * the oracle mirrors the law, so both engines agree at every
    * scale). Integer threshold tests; 0 at every oracle scale
    * (≤ 6,923 banded units), so registered outputs stay
    * bit-identical there. */
  private[graft] def extraRowsFor(n: Long): Int =
    Seq(13, 15, 17, 19).count(t => n > (1L << t))

  /** The width law for a STREAMING cadence's joins: [[extraRowsFor]]
    * at the ACCUMULATED corpus size (persisted band-store docs + the
    * arriving batch), so a maintained store matches the batch forms'
    * width (d2/d9/d11 widen from the full corpus count) for every
    * batch from the point it arrives (ADVICE r12 #4). Scope (ADVICE
    * r13): edges already folded by EARLIER batches used the width the
    * corpus had THEN and persist in the monotone min-id map — a
    * stream that crosses a width threshold mid-run matches the batch
    * width for all batches AFTER the crossing; exact historical
    * equality at the new width needs a recompaction/replay of the
    * prior slices. Doc counts come from band-frame row counts / MhBands —
    * each doc writes exactly MhBands band rows, and an unfiltered
    * parquet count is metadata-cheap at any store size. */
  private[graft] def accExtraRows(s: SparkSession, bandDirs: Seq[String],
      batchBands: DataFrame): Int = {
    val storeDocs = if (bandDirs.isEmpty) 0L
      else s.read.parquet(bandDirs: _*).count() / MhBands
    extraRowsFor(storeDocs + batchBands.count() / MhBands)
  }

  /** The d2 pair body over an arbitrary documents frame (composable —
    * the curation pipeline runs it on exact-dedup survivors). Band
    * width from the unit count ([[extraRowsFor]] — one bounded count
    * action, the m5 rule); `extraRows` ≥ 0 forces a width (specs,
    * fixed-width stores). */
  private[graft] def minhashPairs(docs: DataFrame,
      extraRows: Int = -1): DataFrame = {
    val x = if (extraRows >= 0) extraRows
      else extraRowsFor(docs.filter(col("text").isNotNull).count())
    pairsFromBands(mhBands(docs), x)
  }

  /** d2's band self-join over an ALREADY-BANDED frame — callers that
    * reuse one sketch for several joins (d11 folds the corpus bands
    * into pairs AND a store-side band join) checkpoint the bands once
    * and feed them here. `extraRows` > 0 widens each band key with
    * the first x rows of the NEXT band ([[extraRowsFor]]); the
    * widened key is derived from the `sig` column the banded frame
    * already carries, so persisted band STORES need no schema change
    * — the streaming cadences keep x = 0 (their joins are
    * batch-proportional, never corpus self-joins). x = 0 leaves the
    * plan byte-identical to the pre-law form. */
  /** The width law's key extension on an already-banded frame: the
    * first `extraRows` rows of the NEXT band, derived from the `sig`
    * column the frame already carries (so persisted band STORES need
    * no schema change). Shared by the corpus self-joins
    * ([[pairsFromBands]]) AND the incremental batch↔store joins
    * (d9/d11) so the whole dedup family — and the oracle's shared
    * band CTE — agree on ONE widened key at every scale. */
  private[graft] def widenBands(banded: DataFrame,
      extraRows: Int): DataFrame =
    if (extraRows <= 0) banded
    else banded.withColumn("bhx", slice(col("sig"),
      (col("band") + 1) % MhBands * 4 + 1, lit(extraRows)))

  private[graft] def pairsFromBands(banded: DataFrame,
      extraRows: Int = 0): DataFrame = {
    val k = MhK
    val wide = widenBands(banded, extraRows)
    def extraCond = if (extraRows <= 0) lit(true)
      else col("a.bhx") === col("b.bhx")
    // The Jaccard estimate is a pure function of the pair, so it is
    // computed inside the join projection (identical value for every
    // band a pair collides in) and the duplicate-collision dedup
    // becomes groupBy(id1,id2).max(jac): a HashAggregate with map-side
    // partials over 24-byte rows, instead of dropDuplicates carrying
    // both 256-byte signatures through a SortAggregate (first() on
    // array types forces the sort-based path). Filtering < 0.5 BEFORE
    // the pair shuffle also drops most collisions map-side.
    wide.as("a")
      .join(wide.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          extraCond && col("a.doc_id") < col("b.doc_id"))
      // n/32 is exactly representable in float64 in BOTH engines, so
      // the estimate ships unrounded and hash-checks bit-for-bit.
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        T.minhashJaccardEst(col("a.sig"), col("b.sig"), k).as("jac"))
      .filter(col("jac") >= 0.5)
      .groupBy("id1", "id2")
      .agg(max("jac").as("jaccard_est"))
  }

  /** D3: SimHash near-dup — 128-bit simhash (md5-vote based, so the
    * sketch is DuckDB-oracle-checkable), Hamming distance ≤ 10,
    * candidates via PIGEONHOLE BANDING: the 128 bits split into 11
    * disjoint bands (7×12 + 4×11 bits); a pair differing in ≤ 10 bits
    * must agree EXACTLY on at least one band (11 bands, ≤10 "holes"),
    * so bucketing on (band, band-bits) guarantees 100% recall — unlike
    * a fixed prefix bucket, which silently misses any pair differing
    * in the prefix. Precision is restored by the exact Hamming filter,
    * applied in the join projection BEFORE the pair-dedup shuffle.
    * Scale: per-band bucket population is corpus/2^width per value;
    * every band is ≥ 11 bits (≥ 2048 values), which removes the
    * 64-bit variant's 5–6-bit band ceiling (quadratic within-bucket
    * pair growth at corpus scale).
    *
    * OUTPUT CONTRACT under the width law (r12, per the r11 advisor):
    * at x = 0 — every oracle scale, i.e. corpora ≤ 2^14 docs — the
    * 11-band pigeonhole is exact and recall is 100% through the
    * emitted Hamming ≤ 10 threshold. At x > 0 the widened key keeps
    * ≥ 11 − 2d surviving buckets, so recall stays PROVABLY exact only
    * through Hamming ≤ 5; pairs at Hamming 6–10 are still emitted but
    * approximately (measured −0.023% of output at the 100× probe).
    * Callers needing exact recall past Hamming 5 at width-law scales
    * should route through the incremental cadence, whose
    * batch↔store joins keep x = 0. */
  /** d3's 11 disjoint bands over the 128 simhash bits; band 5
    * (offset 60, width 12) crosses the lo/hi boundary and is
    * assembled from both halves. Shared with the oracle builder and
    * the width-law spec. */
  private[graft] val d3BandDefs: Seq[(Int, Int)] =
    Seq((0, 12), (12, 12), (24, 12), (36, 12), (48, 12),
      (60, 12), (72, 12), (84, 11), (95, 11), (106, 11), (117, 11))

  /** Scalar twin of d3's band extraction — the width-law property
    * spec runs on it. */
  private[graft] def d3BandVal(lo: Long, hi: Long, band: Int): Long = {
    val (off, w) = d3BandDefs(band)
    if (off + w <= 64) (lo >>> off) & ((1L << w) - 1)
    else if (off >= 64) (hi >>> (off - 64)) & ((1L << w) - 1)
    else (lo >>> off) | ((hi & ((1L << (w - (64 - off))) - 1)) << (64 - off))
  }

  /** d3's widened (band, value) key — the m5 width-law recipe on the
    * 128-bit simhash (r11, closing the knee d3's own 100× probe
    * found: 69 s warm on 3.3× the 30× data — band MULTIPLICITY, a
    * true pair colliding in up to 11 buckets, amplifies the
    * group-quadratic join): band k's own bits plus the low `x` bits
    * of band (k+1) mod 11 of the SAME code, shifted above them.
    * Correlated under small Hamming distance: a pair at Hamming d
    * keeps ≥ 11 − 2d of its 11 widened buckets, so Hamming ≤ 5 loses
    * NOTHING at any width — and every oracle scale runs x = 0, where
    * the key is the band value itself and the full ≤ 10 pigeonhole
    * guarantee stands. */
  private[graft] def d3WidenedBand(lo: Long, hi: Long, band: Int,
      x: Int): Long =
    d3BandVal(lo, hi, band) +
      (d3BandVal(lo, hi, (band + 1) % 11) & ((1L << x) - 1)) *
        (1L << d3BandDefs(band)._2)

  def d3Simhash(s: SparkSession, d: String,
      extraBits: Int = -1): DataFrame = {
    val bandDefs = d3BandDefs
    def bandVal(lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column, off: Int, w: Int) =
      if (off + w <= 64)
        shiftrightunsigned(lo, off).bitwiseAND(lit((1L << w) - 1))
      else if (off >= 64)
        shiftrightunsigned(hi, off - 64).bitwiseAND(lit((1L << w) - 1))
      else // crossing band: low bits from lo's top, high bits from hi's bottom
        shiftrightunsigned(lo, off).bitwiseOR(
          shiftleft(hi.bitwiseAND(lit((1L << (w - (64 - off))) - 1)), 64 - off))
    // band width from corpus size — m5's extraBitsFor law verbatim
    // (same code-banding pigeonhole, same thresholds: one bit per
    // doubling past 2^14, cap 10); 0 at every oracle scale, where
    // the widened key degenerates to the band value and the full
    // Hamming ≤ 10 pigeonhole holds — which is why the ORACLE can
    // stay the banded mirror with the law as a CTE
    val x = if (extraBits >= 0) extraBits
      else graft.multimodal.Multimodal.extraBitsFor(
        Tables.documents(s, d).filter(col("text").isNotNull).count())
    // knownNotNull: the band values become join keys, and without it
    // the inferred isnotnull(key) constraint re-evaluates the sketch
    // per row inside the scan filter — doubling its cost. The explicit
    // text IS NOT NULL filter makes the assertion locally true instead
    // of assumed from the data generator.
    // The 16-byte hash RIDES the band join and hamming is evaluated
    // per collision, BEFORE the pair-dedup shuffle: measured 2x
    // faster than the dedup-pairs-then-fetch-hashes shape (hamming
    // is two codegen'd xor+popcounts; the exact filter prunes the
    // shuffle, while a distinct-first plan shuffles every collision
    // and pays two more joins).
    // spread the unsplittable scan before the per-byte simhash walk
    // and the band self-join's map side (r15 opt: the single-row-group
    // local file serialized the whole sketch+exchange-write onto one
    // task; measured 3.9 → 1.0 s warm at sf0.1 — see Tables.spread)
    val banded = Tables.spread(Tables.documents(s, d)
        .filter(col("text").isNotNull))
      // fused split+distinct+simhash: same bits as
      // simhash(tokenSet(text)), one byte walk (spec-asserted)
      .select(col("doc_id"),
        T.knownNotNull(T.simhashText(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh"),
        posexplode(array(bandDefs.zipWithIndex.map { case ((off, w), k) =>
          val base = bandVal(col("sh.lo"), col("sh.hi"), off, w)
          if (x == 0) base
          else {
            val (offN, wN) = bandDefs((k + 1) % bandDefs.size)
            base + bandVal(col("sh.lo"), col("sh.hi"), offN, wN)
              .bitwiseAND(lit((1L << x) - 1)) * lit(1L << w)
          }
        }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        T.hamming128(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= 10)
      .groupBy("id1", "id2")
      .agg(min("hamming").as("hamming"))
      .orderBy("id1", "id2")
  }

  /** D4: EXACT token-set Jaccard verification — the SQL-checkable
    * exact cousin of D2's estimate. Candidates come from the d2
    * MinHash BAND key ((band, bh): high-cardinality, uniform), not
    * from an attribute bucket: the earlier (source, size-bucket) key
    * had BOUNDED cardinality, so each bucket's population — and the
    * self-join's pair count — grew quadratically with the corpus.
    * Banded generation keeps per-bucket population ~corpus/2^bits,
    * and only (band, bh, id) triples enter the candidate shuffle; the
    * token arrays are fetched back by id for deduped candidate pairs
    * only (d5's slim-pair shape). Recall transfers from d2's
    * OR-construction: token Jaccard ≥ 0.7 implies shingle Jaccard far
    * above the 0.5 design point, where the 8-band×4-row catch
    * probability is ≥ 1-(1-0.7⁴)⁸ ≈ 0.89 at exactly 0.7 and →1
    * rapidly above it (exact on the test corpora — PipelineSpec
    * asserts banded ≡ all-pairs at this threshold). */
  def d4NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // candidates ride d2's band machinery, so they ride its width
    // law too ([[extraRowsFor]] — the oracle's shared band CTE
    // already carries it); the widened key computes BEFORE the slim
    // (band, bh[, bhx], id) projection, keeping the candidate
    // shuffle token-free
    val x = extraRowsFor(docs.filter(col("text").isNotNull).count())
    // widenBands is the family's ONE widened-key definition (ADVICE
    // r12 #3 — x4's slim already routes through it; d4 must too)
    val banded = widenBands(mhBands(docs), x)
      .select((Seq("doc_id", "band", "bh") ++
        (if (x > 0) Seq("bhx") else Nil)).map(col): _*)
    def extraCond = if (x <= 0) lit(true)
      else col("a.bhx") === col("b.bhx")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          extraCond && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    tokenJaccardVerify(cand, docs).orderBy("id1", "id2")
  }

  /** d4's exact token-set verification over a deduped candidate pair
    * frame — token sets fetched back BY ID for candidates only (the
    * d5 slim-pair shape). Shared by d4 and the x4 ingest cadence. */
  private[graft] def tokenJaccardVerify(cand: DataFrame,
      docs: DataFrame): DataFrame = {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), T.tokenSet(col("text")).as("toks"))
    cand
      .join(toks.select(col("doc_id").as("id1"), col("toks").as("t1")),
        Seq("id1"))
      .join(toks.select(col("doc_id").as("id2"), col("toks").as("t2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), round(
        size(array_intersect(col("t1"), col("t2"))).cast("double") /
          size(array_union(col("t1"), col("t2"))), 3).as("jac"))
      .filter(col("jac") >= 0.7)
  }

  /** X4: the INGEST-CADENCE form of d4's EXACT near-dup verify —
    * x3's wave protocol applied to the true-answer-quadratic regime
    * the width-law rows route d4's 100× walls to (r12): three
    * arrival waves (doc_id % 3); each wave generates its SLIM banded
    * candidates intra-wave and against the ACCUMULATED band-key
    * store (same widened keys as d4 — one full-count width
    * everywhere, so every candidate is generated exactly once), then
    * verifies ONLY ITS OWN candidates exactly, fetching token sets
    * back by id (batch side: the wave's own docs; store side: an
    * output-sized by-id fetch from the corpus — in production the
    * persisted doc store). Per-wave cost O(wave + collisions +
    * new-pair verifies); a pair lands in exactly one wave's family
    * (intra at its wave, cross at the later endpoint's wave), so the
    * union of the per-wave verified outputs IS d4 on the union —
    * **the oracle is d4's SQL verbatim**. Band frames recompute per
    * consumer (the x3 measurement). */
  def x4IncrementalVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val x = extraRowsFor(docs.filter(col("text").isNotNull).count())
    def slim(b: DataFrame) = widenBands(b, x)
      .select((Seq("doc_id", "band", "bh") ++
        (if (x > 0) Seq("bhx") else Nil)).map(col): _*)
    def extraCond = if (x <= 0) lit(true)
      else col("a.bhx") === col("b.bhx")
    val wb = (0 until 3).map(i =>
      slim(mhBands(docs.filter(col("doc_id") % 3 === i))))
    def candOf(nb: DataFrame, cb: DataFrame, cross: Boolean) = {
      val idCond = if (cross) col("a.doc_id") =!= col("b.doc_id")
        else col("a.doc_id") < col("b.doc_id")
      nb.as("a")
        .join(cb.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bh") === col("b.bh") && extraCond && idCond)
        .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
        .distinct()
    }
    var store = wb(0)
    var out = tokenJaccardVerify(candOf(wb(0), wb(0), cross = false), docs)
    for (i <- 1 until 3) {
      // intra (both endpoints in wave i) and cross (exactly one) are
      // disjoint and each already deduped — the union is unique
      val waveCand = candOf(wb(i), wb(i), cross = false)
        .union(candOf(wb(i), store, cross = true))
      out = out.union(tokenJaccardVerify(waveCand, docs))
      store = store.union(wb(i))
    }
    // families are pair-disjoint by the wave protocol, so the union
    // is already one row per pair — no final dedup shuffle needed
    out.orderBy("id1", "id2")
  }

  /** D13: CONTAINMENT join — near-SUBSET detection: pairs where the
    * smaller token set is ≥ 90% contained in the larger (C(A,B) =
    * |A∩B| / min(|A|,|B|)), the truncation/quote/wrapper-page dup
    * mode SYMMETRIC measures miss by construction: a 10-token doc
    * inside a 100-token doc has containment 1.0 but Jaccard 0.1, so
    * d2's minhash bands (recall curve centered on Jaccard 0.5)
    * provably under-recall it — this operator needs a DIFFERENT
    * candidate theory, not a threshold tweak.
    *
    * Candidates come from PREFIX FILTERING (Chaudhuri et al. 2006;
    * Xiao et al. 2011 PPJoin), which is EXACT for containment: order
    * every doc's tokens by ascending global document frequency
    * (rarest first, ties by token); if C(A,B) ≥ t with |A| ≤ |B|,
    * then A has at most ⌊(1-t)·|A|⌋ tokens outside B, so among A's
    * first ⌊(1-t)·|A|⌋+1 ordered tokens at least one lies in B —
    * probing the full inverted index with ONLY the small prefix
    * cannot lose a qualifying pair (spec: prefix candidates ≡
    * all-pairs on the corpus, plus the subset case bands miss).
    *
    * Scale shape: df aggregate + df-ordered per-doc token list (one
    * collect+sort per doc, linear), prefix explode is ~(1-t)·|doc|
    * tokens per doc, and the candidate join keys on (df|token) —
    * rarest-first prefixes make the hot postings lists the SHORT
    * ones, the published frequency-ordering trick that bounds join
    * fan-out. Verification fetches token sets back by id for deduped
    * candidates only (d4's slim-pair shape). No all-pairs stage at
    * any size. */
  def d13ContainmentJoin(s: SparkSession, d: String,
      t: Double = 0.9): DataFrame =
    containmentBest(Tables.documents(s, d), t)

  /** The d13 body over an arbitrary (doc_id, source, text) frame —
    * composable, and the spec feeds it the synthetic subset fixtures
    * minhash banding provably misses. `gramN` picks the set elements:
    * 0 = distinct tokens (d13's reporting form), n ≥ 1 = distinct
    * word n-grams — the DISCRIMINATING choice when a drop stage
    * composes this operator (x1): on a bounded vocabulary token SETS
    * saturate (most docs' token sets are near-contained in a
    * same-source partner — d13 flags 480/500 on the fixture corpus,
    * fine as a report, pathological as a drop), while n-gram sets
    * only saturate for genuine truncation/quote dups. */
  private[graft] def containmentBest(docsIn: DataFrame,
      t: Double, gramN: Int = 0, materialize: Boolean = false): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull)
    // scoped WITHIN source (d5's within-label precedent): the
    // truncation/wrapper dup mode lives inside a crawl/domain, and the
    // scope bounds within-bucket population the same way d5's label
    // does — the candidate key is (source, rare-token), never a
    // corpus-wide token alone
    val pairs = containmentPairs(docs, t, gramN, materialize)
    // report the ACTIONABLE frame, not the (fixture-quadratic) pair
    // list: per CONTAINED doc (the smaller set; ties by larger id),
    // its best container (max containment, then min id) — the row a
    // dedup pass drops. Output is ≤ one row per doc at any scale.
    val oriented = pairs.select(
      when(col("n1") < col("n2") ||
        (col("n1") === col("n2") && col("id1") > col("id2")), col("id1"))
        .otherwise(col("id2")).as("doc_id"),
      when(col("n1") < col("n2") ||
        (col("n1") === col("n2") && col("id1") > col("id2")), col("id2"))
        .otherwise(col("id1")).as("container_id"),
      col("containment"))
    oriented
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("containment").desc, col("container_id").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("container_id"), col("containment"))
      .orderBy("doc_id")
  }

  /** (doc_id, source, tok) elements — distinct tokens (gramN = 0) or
    * distinct word n-grams (the x1 drop form). */
  private def containmentElems(docs: DataFrame, gramN: Int): DataFrame =
    if (gramN <= 0)
      docs.select(col("doc_id"), col("source"),
        explode(T.tokenSet(col("text"))).as("tok"))
    else
      docs.select(col("doc_id"), col("source"),
          T.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(wordGrams(col("toks"), gramN))).as("tok"))

  /** Postings keys under a GIVEN df dictionary. The sort key encodes
    * (df, tok) as one string: identical lexicographic semantics in
    * both engines, and the candidate join can key on it directly
    * (same tok ⟺ same key under one dictionary). Tokens missing from
    * the dictionary key at df 0 — the prefix bound is ORDER-
    * INDEPENDENT, so a frozen (stale) dictionary only costs candidate
    * efficiency, never recall. */
  private[graft] def containmentKeyed(elems: DataFrame,
      dfDict: DataFrame): DataFrame =
    elems.join(dfDict, Seq("tok"), "left")
      .select(col("doc_id"), col("source"),
        concat(lpad(coalesce(col("df"), lit(0L)).cast("string"), 12, "0"),
          lit("|"), col("tok")).as("k"))

  /** Per-doc df-sorted key arrays. */
  private[graft] def containmentSets(keyed: DataFrame): DataFrame =
    keyed.groupBy("doc_id", "source")
      .agg(sort_array(collect_list(col("k"))).as("ks"))

  /** The rarest-⌊(1-t)·n⌋+1 prefix of every doc's key array, with the
    * key's POSITION in the df order and the doc's set size (the
    * positional-filter operands). The 1e-6 guard makes the float
    * floor equal the MATHEMATICAL floor at exact boundaries: (1-0.9)
    * is slightly below 0.1 in binary, so (1-t)·10 evaluates to 0.999…
    * and floors to 0 where exact arithmetic gives 1 — one prefix key
    * short, and a pair at containment exactly t with a 10-token
    * smaller side could be missed (found: the waves-≡-one-shot spec
    * caught pair (125, 445) at exactly 0.9). Biasing the prefix UP
    * can only add candidates, never lose one, so the guard is
    * recall-safe by construction. */
  private[graft] def containmentPrefix(sets: DataFrame,
      t: Double): DataFrame =
    sets.select(col("doc_id"), col("source"), size(col("ks")).as("n"),
      posexplode(slice(col("ks"), lit(1),
        (floor(lit(1.0 - t) * size(col("ks")) + lit(1e-6)) + 1)
          .cast("int"))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "k")

  /** Full postings of every doc's key array with df-order positions —
    * the probed side of the candidate joins. */
  private[graft] def containmentPostings(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("source"), size(col("ks")).as("n"),
      posexplode(col("ks")))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "k")

  /** PPJoin POSITIONAL FILTER (Xiao et al. 2011 §3.2, adapted to the
    * min-denominator containment): a candidate row matching prefix
    * position i of doc P to postings position j of doc Q bounds the
    * overlap — every OTHER common key sorts after both (when the row
    * is the pair's FIRST common key: any earlier common key would
    * itself be an earlier prefix hit), so |P∩Q| ≤ 1 + min(n_p-i-1,
    * n_q-j-1). Rows whose bound cannot reach t·min(n_p, n_q) are
    * pruned BEFORE the candidate-dedup shuffle. Exactness: a
    * qualifying pair's first-common-key row always passes (the bound
    * ≥ the true overlap ≥ t·min on that row), and the pair survives
    * if ANY row survives. This is what bounds fan-out on HOT postings
    * — a near-uniform vocabulary where even rarest-first prefixes
    * carry corpus-scale postings lists (skew-probed in the spec). */
  private def positionalOk(t: Double): org.apache.spark.sql.Column =
    lit(1) + least(col("p.n") - col("p.i") - 1,
      col("q.n") - col("q.j") - 1) >=
      lit(t) * least(col("p.n"), col("q.n")) - lit(1e-6)

  /** Candidate pairs of a prefix frame probing a postings frame:
    * key+source match, positional filter, canonical orientation,
    * dedup. */
  private[graft] def candidatePairs(pre: DataFrame, post: DataFrame,
      t: Double, broadcastPost: Boolean = false): DataFrame =
    pre.as("p")
      .join(if (broadcastPost) broadcast(post.as("q")) else post.as("q"),
        col("p.k") === col("q.k") && col("p.source") === col("q.source") &&
          col("p.doc_id") =!= col("q.doc_id"))
      .filter(positionalOk(t))
      .select(least(col("p.doc_id"), col("q.doc_id")).as("id1"),
        greatest(col("p.doc_id"), col("q.doc_id")).as("id2"))

  /** Exact verification of deduped candidates on the ALREADY-BUILT
    * sorted key arrays: k = df|tok is a bijection of the token under
    * one dictionary, so |∩| and sizes over ks equal those over the
    * raw token sets — no second corpus tokenization. The native
    * linear-merge count replaces the per-pair hash-set
    * array_intersect (spec-asserted equal). */
  private[graft] def verifyContainment(cand: DataFrame, sets: DataFrame,
      t: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("id1"), col("ks").as("t1")),
        Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("ks").as("t2")),
        Seq("id2"))
      .select(col("id1"), col("id2"),
        size(col("t1")).as("n1"), size(col("t2")).as("n2"),
        round(
          T.sortedIntersectCount(col("t1"), col("t2")).cast("double") /
            least(size(col("t1")), size(col("t2"))), 3).as("containment"))
      .filter(col("containment") >= t)

  /** Verified containment pairs (the report-free d13 core): self-df
    * prefix candidates, positional pruning, exact verification. */
  private[graft] def containmentPairs(docsIn: DataFrame, t: Double,
      gramN: Int = 0, materialize: Boolean = false): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull)
    // `materialize` checkpoints the gram frame and the sorted key
    // arrays (each has 2-3 consumers whose branches can't share an
    // exchange). MEASURED both ways at sf0.1: inside x1 — whose input
    // is itself a checkpointed survivor frame reused downstream — the
    // materializations win (containment stage 3.1 -> 1.2 s); for the
    // standalone d13 query the pipelined one-shot plan wins instead
    // (2.6 -> 3.4 s WITH checkpoints: eager materialization serializes
    // stages AQE would pipeline). Callers pick per the measurement.
    def m(df: DataFrame) = if (materialize) df.localCheckpoint(true) else df
    val elems = m(containmentElems(docs, gramN))
    val dfDict = elems.groupBy("tok").agg(count(lit(1)).as("df"))
    val keyed = containmentKeyed(elems, dfDict)
    val sorted = m(containmentSets(keyed))
    val cand = candidatePairs(containmentPrefix(sorted, t),
      containmentPostings(sorted), t).distinct()
    verifyContainment(cand, sorted.select(col("doc_id"), col("ks")), t)
  }

  /** The d13 index STORE for a corpus under its own — thereafter
    * FROZEN — df dictionary: (dfDict, postings, sets). The production
    * cadence persists postings BUCKETED on k (the batch probe join
    * reads the store co-located, no exchange — d9's band-store
    * pattern) and refreshes the dictionary with a periodic rebuild,
    * the published incremental-PPJoin compromise: df drift between
    * rebuilds costs candidate efficiency only (the prefix bound holds
    * under ANY fixed order), never a missed pair. */
  private[graft] def containmentStore(docsIn: DataFrame, gramN: Int = 0)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = docsIn.filter(col("text").isNotNull)
    val elems = containmentElems(docs, gramN)
    val dfDict = elems.groupBy("tok").agg(count(lit(1)).as("df"))
    val sets = containmentSets(containmentKeyed(elems, dfDict))
    (dfDict, containmentPostings(sets), sets)
  }

  /** D13 INCREMENTAL: every verified containment pair an arriving
    * batch forms — cross pairs against the store plus intra-batch
    * pairs — WITHOUT re-keying or re-shuffling the corpus. The batch
    * keys under the store's frozen dictionary; exact candidate
    * coverage needs both prefix directions (the smaller side of a
    * qualifying pair contributes the probing prefix): the batch's
    * prefixes probe the bucketed store postings (store side
    * exchange-free), and the store's prefixes — a per-row slice of
    * the persisted sets, no corpus shuffle — probe the BROADCAST
    * batch postings. Accumulated wave pairs ≡ the one-shot d13 pair
    * set on the union (spec), because verification is df-independent:
    * containment is a property of the token sets alone. */
  private[graft] def containmentIncrement(storeSets: DataFrame,
      storePostings: DataFrame, dfDict: DataFrame, batch: DataFrame,
      t: Double, gramN: Int = 0): DataFrame =
    containmentIncrementParts(storeSets, storePostings, dfDict,
      batch, t, gramN)._1

  /** [[containmentIncrement]] plus the batch's own keyed sets — the
    * slice a store-maintaining caller (StreamingContainment) persists
    * so the NEXT batch can probe this one without re-keying it. */
  private[graft] def containmentIncrementParts(storeSets: DataFrame,
      storePostings: DataFrame, dfDict: DataFrame, batch: DataFrame,
      t: Double, gramN: Int = 0): (DataFrame, DataFrame) = {
    val elems = containmentElems(batch.filter(col("text").isNotNull), gramN)
    val bsets = containmentSets(containmentKeyed(elems, dfDict))
      .localCheckpoint(true)
    val bpost = containmentPostings(bsets)
    val bpre = containmentPrefix(bsets, t)
    val spre = containmentPrefix(storeSets, t)
    val cand = candidatePairs(bpre, storePostings, t)
      .union(candidatePairs(spre, bpost, t, broadcastPost = true))
      .union(candidatePairs(bpre, bpost, t, broadcastPost = true))
      .distinct()
    (verifyContainment(cand,
      storeSets.select(col("doc_id"), col("ks"))
        .union(bsets.select(col("doc_id"), col("ks"))), t), bsets)
  }

  /** D14: CROSS-SOURCE eval-contamination CONTAINMENT — the
    * asymmetric cousin of d13 and the NORMALIZED upgrade of d6: per
    * eval doc E, training docs T covering C(E,T) = |G(E)∩G(T)| /
    * |G(E)| ≥ t of E's distinct word 3-grams — the published "dirty
    * eval example" rule (the GPT-3 appendix-C / PaLM decontamination
    * family measures the FRACTION of an eval doc's n-grams found in
    * training). d6's absolute shared-gram COUNT both over-flags (a
    * long train doc sharing 3 incidental grams = 3% coverage) and
    * under-flags (a short eval doc quoted whole carries < 3 distinct
    * grams); d13's within-source scope is blind to quotation ACROSS
    * crawls. The eval stand-in is doc_id % 10 (d9's held-out batch
    * convention — it HAS planted near-dup partners in the corpus;
    * the % 97 stand-in provably shares < 6% gram coverage with every
    * training doc, all-pairs-verified, so it carries no containment
    * signal).
    *
    * Candidate theory: d13's prefix-filter exactness, ASYMMETRIC —
    * the denominator is always |G(E)|, so only the EVAL side needs
    * prefixes: if C(E,T) ≥ t then E has at most ⌊(1-t)·|G(E)|⌋ grams
    * outside T, so among E's first ⌊(1-t)·|G(E)|⌋+1 grams (ANY fixed
    * order — rarest-first by TRAIN df minimizes fan-out) at least
    * one lies in G(T). Eval suites are tiny next to the corpus by
    * construction, so the exploded eval prefix BROADCASTS and the
    * training corpus is probed in place — one map-side join against
    * the corpus gram postings, no corpus self-join. Spec: prefix
    * candidates ≡ all-pairs, including a cross-source short-quote
    * fixture d6 under-flags and d13's scope misses. Output: ONE row
    * per eval doc (d6's report shape — never empty): container
    * count, best container, flag. */
  def d14EvalContainment(s: SparkSession, d: String,
      t: Double = 0.8): DataFrame =
    evalContainment(Tables.documents(s, d), col("doc_id") % 10 === 0, t)

  /** The d14 body over an arbitrary (doc_id, text) frame with an
    * eval-membership predicate — composable; the spec feeds it the
    * cross-source fixtures. */
  private[graft] def evalContainment(docsIn: DataFrame,
      isEval: org.apache.spark.sql.Column, t: Double): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull)
      .withColumn("is_eval", isEval)
    // the gram frame feeds BOTH the df aggregate and the keying join,
    // and the two branches filter differently (train-only vs all) so
    // exchange reuse cannot unify them — materialize the
    // tokenize+gram explode once instead of running it twice
    val dt = docs
      .select(col("doc_id"), col("is_eval"),
        T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_eval"),
        explode(array_distinct(wordGrams(col("toks"), 3))).as("tok"))
      .localCheckpoint(true)
    // postings order = TRAIN-side document frequency (the indexed
    // corpus); eval-only grams get df 0 — they probe no postings but
    // the prefix bound is order-independent, so exactness holds
    val dfreq = dt.filter(!col("is_eval"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // keyed is the one corpus-sized frame and feeds three consumers
    // (eval sets, the candidate probe, candidate-container sets):
    // checkpoint once instead of re-tokenizing per consumer
    val keyed = dt.join(dfreq, Seq("tok"), "left")
      .select(col("doc_id"), col("is_eval"),
        concat(lpad(coalesce(col("df"), lit(0L)).cast("string"), 12, "0"),
          lit("|"), col("tok")).as("k"))
      .localCheckpoint(true)
    // sorted key ARRAYS are built only where they are read: for every
    // eval doc (prefix + verification) and — below — for candidate
    // containers only, never for the whole training corpus (the
    // all-docs sort-collect was d14's dominant stage)
    val evalSorted = keyed.filter(col("is_eval"))
      .groupBy(col("doc_id").as("eval_id"))
      .agg(sort_array(collect_list(col("k"))).as("eks"))
    val prefix = evalSorted
      .select(col("eval_id"), explode(slice(col("eks"), lit(1),
        (floor(lit(1.0 - t) * size(col("eks")) + lit(1e-6)) + 1)
          .cast("int"))).as("k"))
    val cand = keyed.filter(!col("is_eval"))
      .join(broadcast(prefix), Seq("k"))
      .select(col("eval_id"), col("doc_id").as("train_id")).distinct()
    val trainSorted = keyed.filter(!col("is_eval"))
      .join(cand.select(col("train_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id").as("train_id"))
      .agg(sort_array(collect_list(col("k"))).as("tks"))
    // verify on the sorted key arrays (k ↔ tok is a bijection under
    // one shared df map, so |∩| over ks ≡ |∩| over raw token sets —
    // d13's two-scans-saved rule)
    val q = cand.join(broadcast(evalSorted), Seq("eval_id"))
      .join(trainSorted, Seq("train_id"))
      .select(col("eval_id"), col("train_id"),
        round(T.sortedIntersectCount(col("eks"), col("tks")).cast("double") /
          size(col("eks")), 3).as("containment"))
      .filter(col("containment") >= t)
    val agg = q.groupBy("eval_id").agg(count(lit(1)).as("n_containers"))
    val best = q.withColumn("rk", row_number().over(
        Window.partitionBy("eval_id")
          .orderBy(col("containment").desc, col("train_id").asc)))
      .filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id").as("best_container_id"),
        col("containment"))
    docs.filter(col("is_eval")).select(col("doc_id"))
      .join(agg.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .join(best.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_containers"), lit(0L)).as("n_containers"),
        col("best_container_id"), col("containment"))
      .withColumn("contaminated", col("n_containers") > 0)
      .orderBy("doc_id")
  }

  /** Distinct word-3-gram explode of a (doc_id, text) frame — the
    * d14 gram alphabet. */
  private def evalGrams(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("toks"), 3))).as("tok"))

  private def dfKey: org.apache.spark.sql.Column =
    concat(lpad(coalesce(col("df"), lit(0L)).cast("string"), 12, "0"),
      lit("|"), col("tok"))

  /** D14 INGEST-TIME pieces: the FROZEN eval gram index — built ONCE
    * from the (static) eval suite under a seed train corpus's df
    * dictionary, then probed by every arriving training batch. The
    * dictionary freezes like StreamingContainment's: candidate
    * exactness holds under ANY fixed key order (a covering pair puts
    * at most ⌊(1-t)·|G(E)|⌋ of E's grams outside T, so any
    * ⌊(1-t)·|G(E)|⌋+1 of them contain a shared gram) and
    * verification is a property of the gram sets alone — seed-df
    * staleness costs candidate efficiency only. Returns (dict,
    * evalSorted, prefix); all three are eval/vocabulary-sized. */
  private[graft] def evalGramIndex(seedTrain: DataFrame,
      evalDocs: DataFrame, t: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val dict = evalGrams(seedTrain).groupBy("tok")
      .agg(count(lit(1)).as("df"))
    val evalSorted = evalGrams(evalDocs).join(dict, Seq("tok"), "left")
      .select(col("doc_id"), dfKey.as("k"))
      .groupBy(col("doc_id").as("eval_id"))
      .agg(sort_array(collect_list(col("k"))).as("eks"))
    val prefix = evalSorted
      .select(col("eval_id"), explode(slice(col("eks"), lit(1),
        (floor(lit(1.0 - t) * size(col("eks")) + lit(1e-6)) + 1)
          .cast("int"))).as("k"))
    (dict, evalSorted, prefix)
  }

  /** Every verified (eval_id, train_id, containment) pair an arriving
    * training batch adds against the frozen eval index — the d14
    * verification run batch-sized: batch grams key under the frozen
    * dict, the BROADCAST eval prefix finds candidates, container
    * arrays are built for candidate docs only, verification reuses
    * the persisted eval arrays. No corpus-sized state anywhere —
    * per-batch cost is O(batch + candidates) at any corpus size. */
  private[graft] def evalContainmentBatch(dict: DataFrame,
      evalSorted: DataFrame, prefix: DataFrame, batch: DataFrame,
      t: Double): DataFrame = {
    val bkeyed = evalGrams(batch).join(dict, Seq("tok"), "left")
      .select(col("doc_id"), dfKey.as("k"))
      .localCheckpoint(true)
    val cand = bkeyed.join(broadcast(prefix), Seq("k"))
      .select(col("eval_id"), col("doc_id").as("train_id")).distinct()
    val trainSorted = bkeyed
      .join(cand.select(col("train_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id").as("train_id"))
      .agg(sort_array(collect_list(col("k"))).as("tks"))
    cand.join(broadcast(evalSorted), Seq("eval_id"))
      .join(trainSorted, Seq("train_id"))
      .select(col("eval_id"), col("train_id"),
        round(T.sortedIntersectCount(col("eks"), col("tks")).cast("double") /
          size(col("eks")), 3).as("containment"))
      .filter(col("containment") >= t)
  }

  /** D6: benchmark decontamination — flag training documents that
    * overlap an evaluation set by shared word n-grams, the standard
    * pretraining hygiene step (GPT-3's appendix uses 13-gram overlap;
    * 3-grams here — the longest span this corpus actually repeats
    * across documents, so the flag carries live signal). The benchmark is a
    * DIMENSION: its distinct n-gram set broadcasts (eval suites are
    * tiny next to the corpus) and the corpus side is one scan +
    * explode + broadcast semi-ish join — no shuffle of the corpus at
    * any size. Deterministic benchmark stand-in: doc_id % 97 == 0. */
  /** Word n-grams over an ALREADY-MATERIALIZED tokens column; empty
    * for texts shorter than n grams (explicit step: sequence(0,
    * negative, 1) is EMPTY where the step-less form would count
    * downward).
    *
    * `toks` must be a projected attribute (`.select(T.tokens(...)
    * .as("toks"))` first), NOT an inline tokenize expression: higher-
    * order functions run interpreted with no subexpression
    * elimination, so a subtree spliced into the lambda body is
    * re-evaluated per ELEMENT per use — an inline tokens(text) here
    * re-tokenized every document ~3x per gram (measured 5.2 s → 0.75 s
    * on the t13 aggregate at sf0.1). */
  private[graft] def wordGrams(toks: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), size(toks) - n, lit(1)),
      i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + j)): _*))

  def d6Decontaminate(s: SparkSession, d: String): DataFrame = {
    val n = 3
    val docs = Tables.documents(s, d)
    def grams(side: DataFrame) = side
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(wordGrams(col("toks"), n)).as("gram"))
    val benchGrams = grams(docs.filter(col("doc_id") % 97 === 0))
      .select("gram").distinct()
    val shared = grams(docs.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("n_shared"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= 3)
      .orderBy("doc_id")
  }

  /** D7: repeated-SPAN detection — dedup below document granularity:
    * token windows of 16 (stride 16) are hashed, and any span whose
    * hash appears in ≥ 2 DISTINCT documents is flagged with its
    * sharing count (the chunk-level variant of "deduplicating
    * training data makes language models better"-style repeated-span
    * removal — a downstream pass can drop or mask exactly those
    * windows instead of whole near-dup documents). Scale shape: one
    * scan → explode to spans → hash aggregate on the 32-hex span hash
    * (high-cardinality, uniform), then a hash join back to the spans;
    * no pairwise anything, no low-cardinality key. */
  def d7SpanDedup(s: SparkSession, d: String): DataFrame = {
    val w = 16
    // toks projected before the lambda — see [[wordGrams]]: a spliced
    // split() would re-split the text once per chunk
    val toks = col("toks")
    val chunks = transform(
      sequence(lit(0), ceil(size(toks).cast("double") / w).cast("long") - 1),
      i => concat_ws(" ", slice(toks, (i * w + 1).cast("int"), lit(w))))
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(chunks))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        md5(col("col")).as("h"))
    val shared = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2)
    spans.join(shared, Seq("h"))
      .select(col("doc_id"), col("chunk_idx"), col("h"), col("n_docs"))
      .orderBy("doc_id", "chunk_idx", "h")
  }

  /** D15: exact-SUBSTRING dedup with span REMOVAL — the APPLY verb to
    * d7's detect (ExactSubstr; Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): any 16-token
    * window whose content occurs at ≥ 2 positions in the corpus
    * (across documents OR repeated inside one) is a duplicated span;
    * every occurrence except the lexicographically FIRST
    * (min (doc_id, position)) is removed from the text, and the
    * cleaned document is emitted with removal accounting. d7 flags
    * non-overlapping aligned chunks; d15 slides STRIDE-1 windows, so
    * any repeated run of ≥ 16 tokens is caught regardless of
    * alignment — a shared run of length L ≥ 16 at positions a..a+L−1
    * yields shared windows at starts a..a+L−16 whose coverage union
    * is exactly the run — and the text is actually rewritten, which
    * is what the paper does (they resolve each duplicate cluster by
    * keeping one occurrence; the deterministic keep-first policy here
    * makes the result replayable).
    *
    * Scale shape: one scan → stride-1 window explode (≈ corpus token
    * count rows — tokenizer-pass volume) → ONE hash aggregate on the
    * 32-hex span hash (high-cardinality, uniform, map-side combine) →
    * only slim (doc_id, start) flag rows shuffle back by doc_id → the
    * text is fetched ONCE by doc_id for the rewrite. No pairwise
    * stage anywhere; span text never rides a shuffle (it is hashed in
    * place at the scan). The rewrite is a pure array-HOF map: both
    * engines fold the same coverage lambda left-to-right. The
    * occurrence key packs (doc_id, start) as doc_id·2^20 + start —
    * positions are bounded by per-document token counts (web
    * documents are ≪ 2^20 tokens; a struct-min drops the bound if
    * ever needed) and the product stays well inside int64 for
    * billions of documents. */
  def d15SubstrDedup(s: SparkSession, d: String): DataFrame =
    substrDedupFrame(Tables.documents(s, d))

  /** d15's stride-1 span-occurrence frame (doc_id, st, occ, h) —
    * shared by the batch rewrite and [[graft.streaming
    * .StreamingCuration]]'s cross-batch span stage. */
  private[graft] def spanOccurrences(docsIn: DataFrame): DataFrame = {
    val w = 16
    docsIn
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), size(col("toks")).cast("long") - w))
          .as("st"))
      .select(col("doc_id"), col("st"),
        (col("doc_id") * lit(1048576L) + col("st")).as("occ"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("st") + 1).cast("int"), lit(w)))).as("h"))
  }

  /** The d15 coverage rewrite: drop every token covered by a flagged
    * 16-token span start. `fl` is the sorted start array. */
  private[graft] val spanRewriteExpr: String =
    "transform(filter(sequence(0L, cast(size(toks) as bigint) - 1), " +
      "p -> NOT exists(fl, s -> p >= s AND p < s + 16)), " +
      "p -> element_at(toks, cast(p + 1 as int)))"

  /** d15's body over an arbitrary (doc_id, text) frame — exposed so
    * the spec can drive hand-built fixtures (shared runs at odd
    * alignments, within-doc repeats, sub-threshold runs). */
  private[graft] def substrDedupFrame(docsIn: DataFrame): DataFrame = {
    val tok = docsIn
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val spans = spanOccurrences(docsIn)
    val shared = spans.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min("occ").as("keeper"))
      .filter(col("cnt") >= 2)
    val fl = spans.join(shared, Seq("h"))
      .filter(col("occ") =!= col("keeper"))
      .groupBy("doc_id").agg(sort_array(collect_list("st")).as("fl"))
    tok.join(fl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("fl"), array().cast("array<bigint>")).as("fl"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(spanRewriteExpr).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** D16 (spec-proven, no oracle by design): BLOOM-prefiltered
    * exact-store matching — the ingest accelerator composing o11's
    * filter into the d9/StreamingDedup cadence: the persisted store's
    * content hashes fold once into an m-bit bloom whose packed words
    * ride the plan as a LITERAL (the d5 hyperplane / c6 tiny-frame
    * pattern — m/32 longs, ~16 KB at m=2^16), so an arriving batch
    * tests membership in a PURE MAP and only maybe-present rows pay
    * the store join. A bloom has no false negatives, so the filtered
    * inner join ≡ the plain inner join (spec); false positives cost
    * one wasted lookup each, never a wrong result. At 100 TB the
    * store join is the ingest bottleneck and a mostly-new batch
    * becomes a near-no-op: the spec pins both the equality and that
    * definitely-new rows were actually pruned before the join. */
  def bloomStoreMatch(batch: DataFrame, store: DataFrame,
      m: Int = 1 << 16): DataFrame =
    bloomMaybe(batch, bloomBits(store, m), m)
      .filter(col("maybe")).drop("maybe")
      .join(store, Seq("hh"))

  /** The store's hashes folded to packed 32-bit bloom words, fetched
    * to the driver — ≤ m/32 longs regardless of store size (the c6
    * tiny-frame probe pattern). Input needs an `hh` column in
    * [0, 2^31). */
  private[graft] def bloomBits(store: DataFrame, m: Int): Array[Long] = {
    val words = store.selectExpr(
        s"stack(3, ((101 * hh + 17) % 2147483647) % $m, " +
          s"((1009 * hh + 29) % 2147483647) % $m, " +
          s"((10007 * hh + 71) % 2147483647) % $m) as (p)")
      .groupBy(expr("p div 32").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bits"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    Array.tabulate(m / 32)(i => words.getOrElse(i, 0L))
  }

  /** Batch rows flagged with bloom membership — a pure map against
    * the word-array literal (no join, no shuffle). */
  private[graft] def bloomMaybe(batch: DataFrame, bits: Array[Long],
      m: Int): DataFrame = {
    def test(a: Long, b: Long) = {
      val p = s"((($a * hh + $b) % 2147483647) % $m)"
      s"((element_at(bloom_words, cast($p div 32 as int) + 1) " +
        s">> cast($p % 32 as int)) & 1) = 1"
    }
    batch
      .withColumn("bloom_words",
        org.apache.spark.sql.functions.typedLit(bits.toSeq))
      .withColumn("maybe", expr(
        s"${test(101, 17)} AND ${test(1009, 29)} AND ${test(10007, 71)}"))
      .drop("bloom_words")
  }

  /** D5: embedding-cosine near-dup — pairs within the same cluster
    * (label) whose cosine ≥ 0.3; float64 math to match the oracle.
    *
    * Candidate generation is label + BANDED random-hyperplane signs
    * (32 bands × 3 planes, seeded/deterministic): a pair is a
    * candidate when it agrees on all 3 signs in at least one band.
    * The label alone is a bounded key — within-label all-pairs grows
    * quadratically with the corpus — whereas each (label, band, sig)
    * bucket holds ~1/8 of a label's vectors, bounding the per-bucket
    * pair blowup. OR-construction recall at the 0.3 threshold is
    * 1-(1-p³)³² ≥ 0.9995 per pair (p = 1-θ/π ≥ 0.597); the spec
    * verifies EXACT equality with the all-pairs formulation on the
    * test corpora (fixed seed ⇒ deterministic). */
  def d5EmbeddingDedup(s: SparkSession, d: String): DataFrame =
    embeddingPairs(s, d).orderBy("id1", "id2")

  /** d5's pair body without the output sort — also the edge set of
    * d12's epsilon-grouping. */
  private[graft] def embeddingPairs(s: SparkSession, d: String): DataFrame =
    embeddingPairsFrame(Tables.embeddings(s, d))

  /** The d5 pair body over an arbitrary (vec_id, label, embedding)
    * frame — composable: per-vector banding is corpus-independent, so
    * pairs over a SUBSET equal the full pair set restricted to both
    * endpoints in the subset (x1's semantic stage runs it on
    * survivors; the oracle filters the full pair set the same way).
    *
    * SELECTIVITY LAW (measured, r8 mutation probes): a random
    * same-label pair collides in a given band with 2^-r, so expected
    * collisions per pair = bands·2^-r — at the default (32, r=3) that
    * is 4, i.e. the candidate set IS all same-label pairs and the
    * stage is quadratic (the r8 probes measured s14's old build at
    * 40+ GB of spill at 30× before it moved to selective banding +
    * NN-Descent). The knob is r: selectivity must shrink like
    * 1/poly(n) (r grows with log n). What r buys depends on the
    * THRESHOLD: at d5's permissive 0.3 floor (needed for pairs to
    * exist at all in this synthetic corpus — random 64-dim vectors
    * rarely clear cos 0.5), per-plane agreement for a barely-passing
    * pair is ~0.6 and (12, r=8) banding keeps only ~19% of them — at
    * low thresholds LSH cannot be both selective and complete (the
    * ρ-exponent bound). In the production dedup regime the epsilon is
    * HIGH (SemDeDup uses ~0.95, near-dup dedup ≥ 0.8, per-plane
    * agreement ≥ 0.8), where (32, r=12) keeps recall
    * 1−(1−0.8¹²)³² ≈ 0.9 at 2^-12 selectivity — the honest setting a
    * 100 TB run uses, measured in §4a via the (bandsN, r) override. */
  private[graft] def embeddingPairsFrame(embIn: DataFrame,
      bandsN: Int = 32, r: Int = 3): DataFrame = {
    // Slim candidate generation: only (label, band, sig, vec_id) enters
    // the band self-join — the 64-dim vectors do NOT ride the ×bands
    // explode through the shuffle. Pairs are deduped BEFORE
    // verification (a pair colliding in several bands costs one
    // cosine, not one per band), then the two vectors are fetched back
    // by vec_id — high-cardinality hash joins, no low-cardinality key
    // anywhere in the plan.
    val banded = embBands(embIn, bandsN, r)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    verifyCosine(pairs, embVecs(embIn))
  }

  /** d5's banded sign signatures of a (vec_id, label, embedding)
    * frame — per-vector, corpus-independent, so a batch's bands can
    * join a persisted store's (StreamingEmbDedup). embd materialized
    * before the 96 dot nodes: asDouble is an interpreted transform,
    * and as a shared SUBTREE (not an attribute) it would re-cast the
    * vector once per plane per row — see wordGrams for the general
    * rule. */
  private[graft] def embBands(embIn: DataFrame,
      bands: Int = 32, r: Int = 3): DataFrame = {
    val dim = 64; val seedBase = 1000
    embIn
      .select(col("label"), col("vec_id"),
        V.asDouble(col("embedding")).as("embd"))
      .select(col("label"), col("vec_id"),
        posexplode(array((0 until bands).map { b =>
          V.signSig(col("embd"), seedBase + b * r, r, dim)
        }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
  }

  /** The verification side: vectors as doubles with their norms. */
  private[graft] def embVecs(embIn: DataFrame): DataFrame =
    embIn
      .select(col("vec_id"), V.asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", V.norm2(col("emb")))

  /** Exact-cosine scoring of deduped candidate pairs against a vector
    * lookup frame — no threshold (s15's search graph ranks ALL banded
    * candidates; an absolute floor is a dedup concern). */
  private[graft] def scoredCosine(cand: DataFrame,
      vecs: DataFrame): DataFrame =
    cand
      .join(vecs.select(col("vec_id").as("id1"), col("emb").as("e1"),
        col("nrm").as("n1")), Seq("id1"))
      .join(vecs.select(col("vec_id").as("id2"), col("emb").as("e2"),
        col("nrm").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(V.dot(col("e1"), col("e2")) /
          sqrt(col("n1") * col("n2")), 3).as("cos"))

  /** Exact-cosine verification of deduped candidate pairs against a
    * vector lookup frame (d5's threshold). */
  private[graft] def verifyCosine(cand: DataFrame,
      vecs: DataFrame): DataFrame =
    scoredCosine(cand, vecs).filter(col("cos") >= 0.3)

  /** D12: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") — doc-level
    * SEMANTIC dedup: embeddings are grouped into epsilon-clusters
    * (cosine ≥ the d5 threshold, transitively closed — components over
    * the banded d5 pair graph, so candidate generation stays
    * bucketed), and exactly ONE representative per group is kept (the
    * minimum vec_id — deterministic; the paper keeps low-centroid-
    * similarity points, a policy swap on the same grouping). Output:
    * every vector with its group id and the keep decision — the frame
    * a curation pipeline anti-joins against. Plan: d5's slim banded
    * pairs + adaptive exact components + one left join; the corpus
    * of vectors never shuffles. */
  def d12SemDedup(s: SparkSession, d: String): DataFrame = {
    val pairs = embeddingPairs(s, d)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = connectedComponentsAdaptive(pairs)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels.select(col("id").as("vec_id"), col("lbl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("grp"),
        (col("lbl").isNull || col("lbl") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  /** d12 in its PRODUCTION shape — the SemDeDup paper's own design
    * (Abbas et al. 2023 §2: k-means the corpus, then compare pairs
    * ONLY within a cluster): CELL-CONFINED exact pairwise, so the
    * candidate stage is Σ|cell|² — linear when cell size is bounded.
    * This is the linear path the measured selectivity law demands at
    * d12's permissive 0.3 epsilon, where no sign-LSH banding can be
    * simultaneously selective and complete (§4a round 8: the banded
    * default DNF'd at 30×). Cells are s5's k-means assignment,
    * HASH-SUB-SHARDED so no cell exceeds `cellCap` — the budgeted
    * stand-in for "train n/B centroids" (a real deployment trains
    * that many; sub-sharding keeps the same complexity bound with a
    * deterministic, oracle-stable split). Cross-cell near-dup pairs
    * are invisible BY DESIGN — the paper's accepted recall tradeoff,
    * which the spec measures rather than hides. Epsilon-groups =
    * exact components within cell; keep = the group's min vec_id
    * (d12's policy). */
  def d12SemDedupProd(s: SparkSession, d: String,
      cellCap: Int = 256, probes: Int = 1): DataFrame = {
    val cells = semCells(s, d, cellCap, probes)
    val pairs = verifyCosine(semCandPairs(cells, probes),
        embVecs(Tables.embeddings(s, d)))
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = connectedComponentsAdaptive(pairs)
    val universe = if (probes > 1) cells.select("vec_id").distinct()
      else cells.select("vec_id")
    universe
      .join(labels.select(col("id").as("vec_id"), col("lbl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("grp"),
        (col("lbl").isNull || col("lbl") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  /** D5 in its PRODUCTION shape — the same cell-confined candidate
    * generation as [[d12SemDedupProd]], reporting the verified pairs
    * themselves (id1, id2, cos ≥ 0.3) instead of the epsilon-groups:
    * the scale-safe registered form of the pair query the measured
    * selectivity law demands (the banded [[d5EmbeddingDedup]] default
    * is all-same-label-pairs at the 0.3 threshold — DNF at 30× — and
    * stays as the exact/reference form with the (bands, r) knob).
    * Recall tradeoff, stated: pairs CROSSING a k-means cell are
    * invisible by design (the SemDeDup paper's accepted loss); true
    * near-dups (high cosine) co-locate in a cell with high
    * probability, while the 0.3-floor synthetic tail does not — the
    * spec MEASURES the recovered share instead of hiding it.
    * `probes` > 1 is the MULTI-PROBE knob (boundary vectors join
    * their `probes` nearest cells — the measured recall lever for
    * the cross-cell blind spot, at ≤ probes× candidate cost; spec
    * measures the recovery, SURVEY §4a publishes it). */
  def d5EmbeddingProd(s: SparkSession, d: String,
      cellCap: Int = 256, probes: Int = 1): DataFrame =
    verifyCosine(semCandPairs(semCells(s, d, cellCap, probes), probes),
        embVecs(Tables.embeddings(s, d)))
      .orderBy("id1", "id2")

  /** The SemDeDup cell assignment both prod forms confine candidates
    * to: s5's k-means cluster, HASH-SUB-SHARDED so no cell exceeds
    * `cellCap` — the budgeted stand-in for "train n/B centroids" (a
    * real deployment trains that many; sub-sharding keeps the same
    * Σ|cell|² complexity bound with a deterministic, oracle-stable
    * split). The shard coin is the house portable hash
    * ((id mod 2³¹)·2654435761 mod 2³² — c3/c13's coin), NOT xxhash64:
    * the oracle re-derives the exact same cells in SQL. */
  private[graft] def semCells(s: SparkSession, d: String,
      cellCap: Int, probes: Int = 1): DataFrame =
    semCellsFrame(Tables.embeddings(s, d), cellCap, probes)

  /** The cell assignment over an ARBITRARY (vec_id, label, embedding)
    * frame — x1's cell-semantic knob trains cells on the SURVIVORS
    * (the SemDeDup deployment shape: cells are retrained on the
    * corpus being deduped, periodically in production). */
  private[graft] def semCellsFrame(embIn: DataFrame,
      cellCap: Int, probes: Int = 1): DataFrame = {
    // two consumers (sizes + the cells join) — checkpoint or the
    // whole kmeans subtree re-runs once per consumer (the o10 bounds
    // rule). probes > 1: each vector holds MEMBERSHIPS in its
    // `probes` nearest cells. The shard grid is sized by NEAREST
    // (rank-1) counts only, so every probe-1 cell survives the
    // probe-2 split verbatim — the recall lever is structurally
    // MONOTONE (a cell-mate pair can never be lost by resharding;
    // sizing by memberships would split formerly shared cells). The
    // price: per-cell membership is cellCap nearest members plus
    // second-probe inflow — bounded in expectation by the k-means
    // balance (probes× total volume), no longer a hard per-cell cap.
    val assign = (if (probes <= 1)
        graft.similarity.Similarity.kmeansAssign(embIn)
          .select(col("vec_id"), col("cluster"), lit(1).as("rk"))
      else graft.similarity.Similarity.kmeansAssignTop(embIn, probes))
      .localCheckpoint(true)
    val sizes = assign.filter(col("rk") === 1)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
    val shard = ((col("vec_id") % lit(2147483648L)) * lit(2654435761L)) %
      lit(4294967296L) %
      greatest(ceil(coalesce(col("n"), lit(1L)) / cellCap).cast("long"),
        lit(1L))
    // left join: a cluster can be someone's SECOND-nearest while
    // holding no rank-1 members after the final re-assignment — keep
    // those memberships in a single shard rather than dropping them
    assign.join(broadcast(sizes), Seq("cluster"), "left")
      .select(col("vec_id"),
        concat(col("cluster").cast("string"), lit("#"),
          shard.cast("string")).as("cell"))
  }

  /** Within-cell candidate pairs — the Σ|cell|²-bounded self-join. */
  private[graft] def semCellPairs(cells: DataFrame): DataFrame =
    cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))

  /** [[semCellPairs]] with the multi-probe distinct: two vectors
    * sharing BOTH their probed cells would emit the pair twice —
    * dedup on the slim pair frame (one shuffle of pairs, never the
    * corpus) before the cosine verify prices each pair once.
    * probes = 1 keeps the registered single-probe plan untouched. */
  private[graft] def semCandPairs(cells: DataFrame,
      probes: Int): DataFrame =
    if (probes <= 1) semCellPairs(cells)
    else semCellPairs(cells).distinct()

  /** D8: duplicate-cluster assignment — pairs are not actionable at
    * 100 TB (keeping "one of each pair" over-deletes across chains);
    * dedup needs per-document CLUSTER ids. Edges = the d2 MinHash-LSH
    * pairs; components give each near-dup group its minimum doc_id as
    * the canonical representative; the full corpus then maps
    * doc → cluster (its own id when unpaired) via one broadcast-sized
    * left join — the corpus itself never shuffles. */
  def d8DupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(s, d))
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = connectedComponentsAdaptive(pairs)
    Tables.documents(s, d)
      .join(labels.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"),
        col("lbl").isNotNull.as("in_dup_set"))
      .orderBy("doc_id")
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") run to an EXACT edge-set fixpoint, the
    * form for adversarial diameters: min-label propagation needs
    * diameter-many shuffles (a million-hop chain = a million rounds),
    * the star contraction
    * provably converges in O(log² n) rounds on ANY graph shape.
    *
    * large-star: every node points its strictly-larger neighbors at
    * its minimum neighbor-or-self; small-star: points its
    * smaller-or-equal neighbors there. Both are one hash aggregation
    * (per-node min) joined back to the edge frame — no neighbor
    * lists are ever materialized, so a hub node of any degree costs
    * its edge rows, not a collected array. At the fixpoint the edge
    * set IS the component map {(v, component-min)}. The driver only
    * probes a per-round DIGEST for convergence — one aggregate action
    * producing (count, xor of per-edge hashes): the edge set is
    * distinct, so equal digests round-over-round mean "no edge added
    * or removed" up to an xxhash64 xor collision, and a final
    * exceptAll double-check runs ONCE on digest match (belt and
    * braces, not per round — the r4 three-job probe was d10's whole
    * latency story). maxRounds bounds a pathological input. Returns
    * (id, lbl) like [[connectedComponentsAdaptive]]. */
  def connectedComponentsStars(edges: DataFrame,
      maxRounds: Int = 30,
      setAsideEdges: Long = 2000000L): DataFrame = {
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // order-free edge-set digest in ONE action: (count, xor of
    // xxhash64(u, v)); bit_xor (not sum) so the fold can't overflow
    // under ANSI arithmetic
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var eDigest = digest(e)
    // round parallelism sized to the data: the per-round joins and
    // aggregations shuffle the EDGE frame, which is usually orders
    // smaller than the corpus — planning them at the session's
    // corpus-sized parallelism just multiplies task-scheduling
    // latency by rounds (measured 2x per round at sf0.1). Target ~2M
    // edges per partition, floor 1, never above the session default.
    // Scoped PER QUERY by repartitioning on the round's keys (hash
    // partitioning on `u` satisfies every downstream groupBy/join
    // ClusteredDistribution, so no second exchange appears) — NOT by
    // a session-wide spark.sql.shuffle.partitions.
    val s = e.sparkSession
    val sessionParallelism = s.conf.get("spark.sql.shuffle.partitions")
    val roundParallelism = math.max(1L,
      math.min(sessionParallelism.toLong, eDigest._1 / 2000000L + 1)).toInt
    var done = false
    var round = 0
    // SETTLED-STAR SET-ASIDE (r10 — the ef-frontier lesson applied to
    // the star fold): a component whose active edges form a perfect
    // star with members appearing NOWHERE else in the active set is
    // FINAL — edges never cross components and the contraction
    // preserves within-component connectivity, so no later round can
    // reference it; its (member, min) rows leave the active set
    // instead of riding every remaining round's shuffles. Measured at
    // 30× mutated (dup-chain-heavy, the 100 TB shape): 96% of round
    // 2's 142k-edge volume was settled stars that the pre-set-aside
    // fold re-shuffled for three more rounds. BUT the filter itself
    // costs ~3 jobs per round, and below ~10⁶ edges a round is
    // SCHEDULING-latency-bound, not volume-bound — measured +2.4 s at
    // sf0.1 organic and ±0 at 30× (157k edges) for the unconditional
    // form. So the set-aside GATES on round volume (the same 2M-edge
    // constant the roundParallelism law targets per partition): it
    // activates exactly where a round's shuffle volume is the cost —
    // the 100 TB regime the audit numbers describe — and stays out of
    // the way below it. Settled frames defer to ONE union at the end
    // (their parents are checkpointed).
    val settledParts = scala.collection.mutable.ListBuffer[DataFrame]()
    // AQE stays OFF inside the round loop (r16 opt): every exchange
    // in a round is explicitly sized by the 2M-edges/partition law
    // (the repartitions above/below), the joins are co-partitioned on
    // those keys (no exchange for AQE to re-plan or skew-split), and
    // aggregations cannot be AQE-split at all — so adaptive execution
    // contributes only its one-scheduler-job-per-stage overhead,
    // measured at 80 jobs ≈ 5 s for d10's 6 rounds on a 1.5k-edge
    // sf0.1 graph (PlanAudit r16). This is scale-independent
    // reasoning: at 100 TB the law raises roundParallelism, not the
    // exchange count. Scoped to one clone; the final union runs with AQE.
    GraftSession.scoped(s, "spark.sql.adaptive.enabled" -> "false") { c =>
      e = GraftSession.on(c, e)
      while (!done && round < maxRounds) {
        // large-star over the symmetrized neighborhood; the explicit
        // u-hash repartition pins the round's parallelism and is reused
        // by the aggregate and both joins below
        val nbr = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
          .repartition(roundParallelism, col("u"))
        val minN = nbr.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        // NOT distinct'd: duplicate (u, v) rows only fan the small-star
        // join out by their multiplicity (bounded by band-collision
        // dups), while a dedup here costs one more full exchange per
        // round; small-star's own distinct canonicalizes the output
        val large = nbr.filter(col("v") > col("u"))
          .join(minN, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(roundParallelism, col("u"))
        // small-star over the to-smaller orientation (u > v by canon)
        val minS = large.groupBy("u").agg(min("v").as("m"))
        val small = large.join(minS, "u")
          .select(
            // every smaller neighbor v and u itself point at m
            explode(array(struct(col("v").as("a"), col("m").as("b")),
              struct(col("u").as("a"), col("m").as("b")))).as("p"))
          .select(greatest(col("p.a"), col("p.b")).as("u"),
            least(col("p.a"), col("p.b")).as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(roundParallelism, col("u"), col("v")).distinct()
          .localCheckpoint(true)
        // fixpoint: the canonical edge set stopped changing — digest
        // compare first (one job), exact exceptAll only on digest match
        val smallDigest = digest(small)
        done = smallDigest == eDigest && small.exceptAll(e).isEmpty
        if (done || smallDigest._1 <= setAsideEdges) {
          e = small
          eDigest = smallDigest
        } else {
          // settled-star detection on the round's output: member
          // degree 1 everywhere, root degree = star size (so neither
          // the root nor any member is referenced by any other edge)
          val nodeDeg = small
            .select(explode(array(col("u"), col("v"))).as("id"))
            .groupBy("id").agg(count(lit(1)).as("deg"))
          val rootOk = small
            .join(nodeDeg.withColumnRenamed("id", "u")
              .withColumnRenamed("deg", "du"), "u")
            .groupBy("v").agg(count(lit(1)).as("sz"),
              max("du").as("maxdu"))
            .join(nodeDeg.withColumnRenamed("id", "v"), "v")
            .filter(col("maxdu") === 1 && col("deg") === col("sz"))
            .select(col("v"))
          // the settled half is only read by the final union — its
          // parents (small) are checkpointed, so defer it; the active
          // half drives the next round and checkpoints now
          settledParts += small.join(rootOk, Seq("v"), "left_semi")
          e = small.join(rootOk, Seq("v"), "left_anti")
            .localCheckpoint(true)
          eDigest = digest(e)
          done = eDigest._1 == 0L
        }
        round += 1
      }
    }
    val all = (settledParts :+ e).map(GraftSession.on(s, _))
      .reduceLeft(_ unionAll _)
      .localCheckpoint(true) // consumers: roots anti-join + the output
    val roots = all.select(col("v").as("id")).distinct()
      .join(all.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
    all.select(col("u").as("id"), col("v").as("lbl"))
      .union(roots.select(col("id"), col("id").as("lbl")))
  }

  /** Exact component labels for a SMALL canonical edge frame in ONE
    * distributed stage: the whole graph is shuffled to a single task
    * and solved with a path-compressed union-find (union-by-min, so
    * the root IS the component minimum). Executor-side, not driver —
    * the frame never leaves the cluster. Memory bounds the input:
    * ~4M edges ≈ a few hundred MB of open-addressed LongMap, far
    * inside one task's headroom. */
  private[graft] def unionFindLabels(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var y = x0
          while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = r; y = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }.toDF("id", "lbl")
  }

  /** Adaptive exact components — the engine's default entry. The pair
    * graph of a banded dedup is orders of magnitude smaller than the
    * corpus (only colliding docs appear), so at most scales it fits a
    * single task: solve it in one stage with [[unionFindLabels]]
    * instead of 5-6 driver-synchronized star rounds (measured 3.8 s →
    * ~0.5 s at sf0.1 — the rounds were pure stage latency on a 1.5k-
    * edge frame). Past `smallGraphEdges` (the analogue of Spark's
    * autoBroadcastJoinThreshold: a deliberate, documented size cutoff)
    * it falls back to the O(log² n) star contraction, which handles
    * any graph size and shape. The count that picks the path is one
    * aggregate on the already-checkpointed canonical edge frame. */
  def connectedComponentsAdaptive(edges: DataFrame,
      smallGraphEdges: Long = 4000000L): DataFrame = {
    val e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    if (e.count() <= smallGraphEdges) unionFindLabels(e)
    else connectedComponentsStars(
      e.select(col("u").as("src"), col("v").as("dst")))
  }

  /** D10: duplicate-cluster assignment via the star contraction —
    * identical output contract to d8 (doc → cluster, component min as
    * canonical id) with the O(log² n)-round engine, exact-fixpoint
    * run. The oracle is round-free: a recursive-CTE transitive
    * closure over the same d2 pair graph. */
  def d10CcStars(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(s, d))
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = connectedComponentsStars(pairs)
    Tables.documents(s, d)
      .join(labels.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"),
        col("lbl").isNotNull.as("in_dup_set"))
      .orderBy("doc_id")
  }

  /** The arriving-batch half of incremental dedup: band-join the new
    * batch's sketches against a corpus band store (inline or read back
    * from a persisted bucketed table), verify by estimated Jaccard,
    * keep each batch doc's best corpus match (highest estimate,
    * lowest id on ties). `batchIds` is the batch universe, so docs
    * with no match still get a row (is_dup = false). */
  def incrementalMatch(batchBands: DataFrame, storeBands: DataFrame,
      batchIds: DataFrame, extraRows: Int = 0): DataFrame = {
    // extraRows > 0 applies the d2 band-width law to the batch↔store
    // join (the widened key derives from `sig`, so persisted stores
    // need no schema change and the extension only PRUNES — the
    // store-side bucketing on bkey still satisfies the clustered
    // distribution, no new exchange). The registered d9 form widens
    // from the full corpus count so the engine mirrors the oracle's
    // widened band CTE past 8192 docs; streaming cadences widen from
    // the ACCUMULATED corpus via [[accExtraRows]] (ADVICE r12 #4) so
    // a maintained store never diverges from the batch forms.
    val nb = widenBands(batchBands, extraRows)
    val cb = widenBands(storeBands, extraRows)
    def extraCond = if (extraRows <= 0) lit(true)
      else col("n.bhx") === col("c.bhx")
    val hits = nb.as("n")
      .join(cb.as("c"),
        col("n.bkey") === col("c.bkey") &&
          col("n.band") === col("c.band") && col("n.bh") === col("c.bh") &&
          extraCond &&
          // a doc must never match itself: a store that (wrongly or
          // transiently) contains the batch's own sketches would
          // otherwise report every doc as its own dup at jac = 1.0
          col("n.doc_id") =!= col("c.doc_id"))
      .select(col("n.doc_id").as("doc_id"), col("c.doc_id").as("match_id"),
        T.minhashJaccardEst(col("n.sig"), col("c.sig"), MhK).as("jac"))
      // the estimate is identical in every colliding band, so
      // filter-before-dedup ≡ dedup-then-filter — and it prunes the
      // pair shuffle map-side, same as d2
      .filter(col("jac") >= 0.5)
      .groupBy("doc_id", "match_id").agg(max("jac").as("jac"))
    val best = hits.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("jac").desc, col("match_id").asc)))
      .filter(col("rk") === 1)
    batchIds.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"),
        col("jac").as("jaccard_est"),
        col("match_id").isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  /** D9: INCREMENTAL near-dup — dedup an arriving batch against the
    * already-ingested corpus without re-sketching or re-shuffling it.
    * At 100 TB dedup cannot be a periodic full self-join; the workable
    * cadence is: corpus band signatures are persisted ONCE at ingest
    * as a bucketed sketch store ([[graft.sources.Bucketed]] on the
    * band-hash key), each new batch sketches only itself and
    * bucket-joins the store, so per-batch cost is
    * O(batch + collisions) — independent of corpus text size, and the
    * store side of the join plans NO exchange (spec-proven). Batch
    * stand-in: doc_id % 10 == 0. The query form computes the store
    * inline (the oracle re-derives the same sketches); the
    * IncrementalDedupSpec drives the persisted-store path and proves
    * it returns the identical frame. */
  def d9IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // width from the FULL corpus count — the oracle's shared band CTE
    // widens from the documents table, and the mirror must agree past
    // 8192 docs (r12: before this the engine kept x = 0, so its
    // candidate set was a strict superset of the oracle's at 10×+ and
    // best-match rows could silently diverge)
    val x = extraRowsFor(docs.filter(col("text").isNotNull).count())
    incrementalMatch(
      mhBands(docs.filter(col("doc_id") % 10 === 0)),
      mhBands(docs.filter(col("doc_id") % 10 =!= 0)),
      docs.filter(col("doc_id") % 10 === 0).select("doc_id"), x)
  }

  /** ALL store matches ≥ the d2 threshold for an arriving batch —
    * unlike [[incrementalMatch]]'s best-match-per-doc report, cluster
    * maintenance needs EVERY qualifying edge: a batch doc adjacent to
    * two different corpus clusters is precisely what merges them, and
    * keeping only its best match would silently drop the bridge.
    * Same join shape (store side bucket-co-located, estimate filtered
    * before the pair shuffle). */
  private[graft] def incrementalEdges(batchBands: DataFrame,
      storeBands: DataFrame, extraRows: Int = 0): DataFrame = {
    val nb = widenBands(batchBands, extraRows)
    val cb = widenBands(storeBands, extraRows)
    def extraCond = if (extraRows <= 0) lit(true)
      else col("n.bhx") === col("c.bhx")
    nb.as("n")
      .join(cb.as("c"),
        col("n.bkey") === col("c.bkey") &&
          col("n.band") === col("c.band") && col("n.bh") === col("c.bh") &&
          extraCond && col("n.doc_id") =!= col("c.doc_id"))
      .select(col("n.doc_id").as("src"), col("c.doc_id").as("dst"),
        T.minhashJaccardEst(col("n.sig"), col("c.sig"), MhK).as("jac"))
      .filter(col("jac") >= 0.5)
      .select("src", "dst").distinct()
  }

  /** The cross half of the ingest cadence in d2's OUTPUT contract —
    * every (id1 < id2, jaccard_est) pair with one endpoint in the
    * batch and one in the store, widened by the same law as the
    * corpus self-join. [[incrementalEdges]] keeps the edge-list shape
    * cluster maintenance wants; this keeps the verified-pair shape so
    * wave-accumulated pairs can be compared 1:1 against d2 on the
    * union (x3's contract). */
  private[graft] def incrementalPairs(batchBands: DataFrame,
      storeBands: DataFrame, extraRows: Int = 0): DataFrame = {
    val nb = widenBands(batchBands, extraRows)
    val cb = widenBands(storeBands, extraRows)
    def extraCond = if (extraRows <= 0) lit(true)
      else col("n.bhx") === col("c.bhx")
    nb.as("n")
      .join(cb.as("c"),
        col("n.bkey") === col("c.bkey") &&
          col("n.band") === col("c.band") && col("n.bh") === col("c.bh") &&
          extraCond && col("n.doc_id") =!= col("c.doc_id"))
      .select(least(col("n.doc_id"), col("c.doc_id")).as("id1"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("id2"),
        T.minhashJaccardEst(col("n.sig"), col("c.sig"), MhK).as("jac"))
      .filter(col("jac") >= 0.5)
      .groupBy("id1", "id2").agg(max("jac").as("jaccard_est"))
  }

  /** X3: the INGEST-CADENCE near-dup form as a registered, benched
    * query — the regime the width laws' output-bound 100× walls are
    * routed to, measured instead of asserted (r12, per the r11
    * verdict). The corpus arrives in three waves (doc_id % 3); each
    * wave sketches ONLY itself, pairs intra-wave via the banded
    * self-join, and band-joins the ACCUMULATED store of prior waves'
    * sketches for cross pairs — so per-wave cost is O(wave +
    * collisions), never a corpus re-sketch or full self-join, and the
    * store union is sketch rows, not text. Every pair is generated
    * exactly once (intra-wave at its wave, cross at the later
    * endpoint's wave), and all three join families ride ONE width
    * from the full corpus count, so the accumulated output is
    * row-identical to d2 on the union — the oracle IS d2's SQL (the
    * wave≡batch spec promoted to the driver gate). In production the
    * store is the persisted bucketed band store (IncrementalDedupSpec
    * proves the no-exchange store join); here it accumulates inline
    * so the driver can replay the whole cadence from the parquet
    * tables. */
  def x3IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val x = extraRowsFor(docs.filter(col("text").isNotNull).count())
    // bands RECOMPUTE per consumer — measured BOTH ways at 1×/30×/100×
    // (PROBE_X3FORM): eager wave-band checkpoints lose cold at every
    // scale (4.7 vs 2.1 s at sf0.1; 50.3 vs 39.5 at 100×) and warm at
    // 1×/30×, winning only 100×-warm by ~8% — the d13 standalone-
    // pipeline exception to the x1 multi-consumer rule: the fused
    // shingle+minhash scan is codegen'd and cheap, while materializing
    // the exploded band frame (8 rows × 256-byte sig per doc) is not
    val waves = (0 until 3).map(i =>
      mhBands(docs.filter(col("doc_id") % 3 === i)))
    var store = waves(0)
    var pairs = pairsFromBands(waves(0), x)
    for (i <- 1 until 3) {
      pairs = pairs.union(pairsFromBands(waves(i), x))
        .union(incrementalPairs(waves(i), store, x))
      store = store.union(waves(i))
    }
    // a pair lands in exactly one wave's family, so this final group
    // only restores d2's one-row-per-pair contract shape
    pairs.groupBy("id1", "id2").agg(max("jaccard_est").as("jaccard_est"))
      .orderBy("id1", "id2")
  }

  /** D11 core: fold a batch's new edges into a PERSISTED doc→cluster
    * map WITHOUT recomputing components for the corpus. The corpus
    * endpoints of the new edges are PROJECTED to their cluster labels
    * (one hash join against the map), so the merge graph's vertices
    * are {batch ids} ∪ {labels of touched clusters} — batch-sized,
    * not corpus-sized; contracting each existing cluster to its label
    * preserves connectivity, so exact components of the merge graph
    * are exact components of the full graph. The star contraction
    * then runs to fixpoint on that small graph, and the corpus map
    * updates via ONE hash join on cluster id (a cluster label is the
    * component MIN doc id, so the merged component's label is again
    * the global min). Per-batch cost: O(batch + touched clusters) —
    * the composition that makes the d9 ingest cadence end-to-end
    * actionable at 100 TB.
    *
    * @param clusterMap (doc_id, cluster) for every already-ingested doc
    * @param newEdges   (src, dst) over batch ∪ corpus ids — the
    *                   store matches plus intra-batch pairs
    * @param batchIds   (doc_id) of the arriving batch
    * @return the updated full map (corpus ∪ batch) */
  def mergeClusters(clusterMap: DataFrame, newEdges: DataFrame,
      batchIds: DataFrame): DataFrame = {
    val proj = newEdges
      .join(clusterMap.select(col("doc_id").as("src"),
        col("cluster").as("c1")), Seq("src"), "left")
      .join(clusterMap.select(col("doc_id").as("dst"),
        col("cluster").as("c2")), Seq("dst"), "left")
      .select(coalesce(col("c1"), col("src")).as("src"),
        coalesce(col("c2"), col("dst")).as("dst"))
    val comp = connectedComponentsAdaptive(proj)
    val relabeled = clusterMap
      .join(comp.select(col("id").as("cluster"), col("lbl")),
        Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("cluster")).as("cluster"))
    val batchRows = batchIds
      .join(comp.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
    relabeled.union(batchRows)
  }

  /** D11: INCREMENTAL cluster maintenance — d9's arrival cadence
    * composed with d8/d10's cluster semantics. The corpus (doc_id %
    * 10 != 0) holds a cluster map built once; the arriving batch
    * band-joins the sketch store for cross edges, self-joins for
    * intra-batch pairs, and [[mergeClusters]] folds both into the map.
    * The result is EXACTLY the d10 full-corpus component map (the
    * oracle recomputes it from scratch via transitive closure) — but
    * per batch the engine never touches corpus text or corpus-internal
    * pairs again. */
  def d11ClusterMaintain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // bands RECOMPUTE per consumer (r12 — re-measured post-width-law,
    // PROBE_D11FORM at 1×/30×/100×: recompute wins cold everywhere
    // — 3.5 vs 6.7 s at 1×, 52.7 vs 63.8 at 100× — and warm at 100×,
    // 45.9 vs 49.7, wash elsewhere; the r5 "measured faster than
    // recompute" call inverted once the fused shingle+minhash scan
    // went native). In production the corpus side IS the persisted
    // band store, so neither materialization happens per batch.
    val cb = mhBands(corpus)
    val bb = mhBands(batch)
    // ONE width for all three joins, from the FULL corpus count —
    // the oracle (ccExactSql over the shared widened band CTE) and
    // d10 both widen from the documents table, and d11 is documented
    // as producing EXACTLY the same component map, so every edge
    // source (corpus self-join, batch self-join, cross edges) must
    // ride the same widened key or the maps silently diverge past
    // 8192 docs (r12, closing the r11 ADVICE-high)
    val x = extraRowsFor(docs.filter(col("text").isNotNull).count())
    val corpusPairs = pairsFromBands(cb, x)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val corpusLbl = connectedComponentsAdaptive(corpusPairs)
    val corpusMap = corpus.select("doc_id")
      .join(corpusLbl.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"),
        col("lbl").isNotNull.as("was_dup"))
    val newEdges = incrementalEdges(bb, cb, x)
      .union(pairsFromBands(bb, x)
        .select(col("id1").as("src"), col("id2").as("dst")))
      .localCheckpoint(true)
    val merged = mergeClusters(corpusMap.select("doc_id", "cluster"),
      newEdges, batch.select("doc_id"))
    // in_dup_set = the doc is an endpoint of ANY pair (old or new) —
    // the same contract as d8/d10's "appears in the pair graph"
    val ends = newEdges.select(col("src").as("doc_id"))
      .union(newEdges.select(col("dst").as("doc_id"))).distinct()
      .withColumn("e", lit(true))
    merged.join(ends, Seq("doc_id"), "left")
      .join(corpusMap.select("doc_id", "was_dup"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"),
        (coalesce(col("e"), lit(false)) ||
          coalesce(col("was_dup"), lit(false))).as("in_dup_set"))
      .orderBy("doc_id")
  }

  /** D17: CHUNK-level near-dup — cross-document PASSAGE reuse, the
    * granularity between d2 (whole documents) and d15 (exact
    * substrings): t15's sliding windows become the dedup unit, each
    * chunk sketches with d2's minhash, and band-bucketed candidates
    * report near-identical passages in DIFFERENT documents (a quoted
    * article inside a wrapper page, boilerplate sections, template
    * reuse — Jaccard on the whole doc dilutes all of these below d2's
    * 0.5 threshold, and d15 misses any edit; chunk-level minhash is
    * the standard middle granularity). Same-document chunk pairs are
    * excluded — adjacent windows share stride overlap by construction
    * and carry no dedup signal.
    *
    * Implementation is pure composition: the chunk frame re-keys as
    * (doc_id·10^6 + chunk_id, chunk text) and rides d2's ENTIRE sketch
    * path — [[mhBands]] + [[pairsFromBands]], native fused
    * shingle+minhash, slim band self-join, jac-before-shuffle — with
    * a synthetic-id decompose at the end. Oracle reuses the d2 band
    * CTE over the chunk frame the same way. Chunk fan-out is
    * tokens/stride per doc (output-sized, the t15 bound); everything
    * after is d2's audited scale shape on the chunk corpus. */
  def d17ChunkDedup(s: SparkSession, d: String,
      chunk: Int = 64, stride: Int = 48): DataFrame =
    chunkDedupFrame(Tables.documents(s, d), chunk, stride)

  /** d17's body over an arbitrary documents frame — exposed so the
    * spec can drive the cross-document quoted-passage fixture that
    * whole-document d2 provably dilutes below its threshold. */
  private[graft] val ChunkK = 1000000L

  /** t15's sliding windows as a synthetic chunk corpus
    * (doc_id·10^6 + chunk_id, chunk text) — d17's dedup unit, shared
    * with the streaming cadence. */
  private[graft] def chunkFrame(docsIn: DataFrame,
      chunk: Int, stride: Int): DataFrame = {
    val lastIdxRaw = greatest(lit(0),
      ceil((col("n_toks") - chunk).cast("double") / stride).cast("int"))
    // The packed key doc_id·ChunkK + chunk_id is only injective while
    // chunk_id < ChunkK and doc_id·ChunkK stays inside Long — a
    // ~48M-token doc or a doc_id past ~9.2e12 would silently collide
    // keys and merge unrelated chunks. Both bounds fail LOUDLY here
    // (raise_error inside the row pipeline, no extra pass) instead.
    // (range check, not abs(): abs(Long.MinValue) IS Long.MinValue —
    // negative — so that one id would slip past an abs-based guard)
    val lastIdx = when(lastIdxRaw < lit(ChunkK) &&
        col("doc_id") > lit(-(Long.MaxValue / ChunkK)) &&
        col("doc_id") < lit(Long.MaxValue / ChunkK), lastIdxRaw)
      .otherwise(raise_error(concat(
        lit("d17 chunk key would overflow: doc_id="), col("doc_id"),
        lit(" n_toks="), col("n_toks"))).cast("int"))
    docsIn.filter(col("text").isNotNull)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"),
        explode(sequence(lit(0), lastIdx, lit(1))).as("chunk_id"),
        col("toks"))
      .select((col("doc_id") * ChunkK + col("chunk_id")).as("doc_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunk)))
          .as("text"))
  }

  private[graft] def chunkDedupFrame(docsIn: DataFrame,
      chunk: Int, stride: Int): DataFrame = {
    val K = ChunkK
    // the width law counts DOCUMENTS, not chunks: a chunk count would
    // need the tokenize+explode pipeline materialized twice (or an
    // eager checkpoint, measured +0.6 s warm at sf0.1 — the d13
    // standalone-pipeline lesson), while the document count is one
    // pushed-down parquet count. Chunks-per-doc is bounded (~1.4×
    // here) and the quadrupling thresholds are coarse, so the law
    // fires within one step of the chunk-exact form; the oracle
    // mirrors the SAME count (documents), so both engines always
    // agree on x.
    val x = extraRowsFor(docsIn.filter(col("text").isNotNull).count())
    pairsFromBands(mhBands(chunkFrame(docsIn, chunk, stride)), x)
      .filter(expr(s"id1 div $K <> id2 div $K"))
      .select(expr(s"id1 div $K").as("doc1"),
        (col("id1") % K).as("chunk1"),
        expr(s"id2 div $K").as("doc2"),
        (col("id2") % K).as("chunk2"), col("jaccard_est"))
      .orderBy("doc1", "chunk1", "doc2", "chunk2")
  }
}
