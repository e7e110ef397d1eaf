package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * processed by a batched partition-level decoder.
  *
  * The real Spark-side machinery — schema (binary + struct metadata),
  * partition-preserving batched map, typed Encoders — is implemented
  * and tested. The codec itself is STUBBED (this container has no
  * image/audio libraries): `decodeStub` derives deterministic fake
  * dimensions from the payload hash. Swapping in a real decoder means
  * replacing only `decodeStub`'s body; the distributed plumbing (what
  * actually matters at 100 TB: batch shape, no driver collect, one
  * narrow stage) is unchanged.
  */
object Multimodal {

  case class MediaIn(doc_id: Long, payload: Array[Byte], source: String,
      n_chars: Int)
  case class MediaMeta(doc_id: Long, source: String, n_chars: Int,
      width: Int, height: Int, frames: Int)

  /** STUB decoder — deterministic fake dims from a payload hash.
    * A real implementation would parse the image/video container here,
    * per batch, reusing a decoder instance per partition.
    * The hash is a rolling polynomial mod 1e9+7 (like t4_fingerprint):
    * non-wrapping positive arithmetic, so the DuckDB oracle reproduces
    * it exactly via list_reduce — which is what turns m1/m2 from
    * rows-only plumbing checks into hash-checked queries. */
  private val P = 1000000007L

  /** Rolling polynomial payload hash mod 1e9+7 (seed 5381, base 31
    * over UNICODE CODEPOINTS of the UTF-8 payload) — stays positive
    * and below 2^36, so the arithmetic is identical in DuckDB, whose
    * oracle walks `ascii(substr(text, i, 1))`, i.e. codepoints. Walking
    * raw UTF-8 bytes here would silently diverge from the oracle on any
    * non-ASCII document (both sides now agree for all of Unicode). */
  private[graft] def payloadHash(payload: Array[Byte]): Long = {
    val cps = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      .codePoints().toArray
    var h = 5381L
    var i = 0
    while (i < cps.length) { h = (h * 31 + cps(i)) % P; i += 1 }
    h
  }

  private[multimodal] def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val h = payloadHash(payload)
    val w = 16 + (h % 640).toInt
    val ht = 16 + ((h / 640) % 480).toInt
    val frames = 1 + ((h / (640 * 480)) % 32).toInt
    (w, ht, frames)
  }

  case class FrameSample(doc_id: Long, frame_idx: Int, frame_w: Int,
      frame_h: Int, frame_hash: Long)

  /** M2: frame sampling + resize — every k-th frame of each "video"
    * payload, resized to a target box (aspect preserved). The sampling
    * plan (which frames, what output geometry) is computed in the
    * distributed stage; only the codec call is stubbed. One input row
    * fans out to its sampled frames — row-per-frame is the shape a
    * downstream vision encoder consumes. */
  def m2FrameSample(s: SparkSession, d: String, every: Int = 8,
      box: Int = 224): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    media.mapPartitions { batch =>
      batch.flatMap { m =>
        val ph = payloadHash(m.payload)
        val (w, h, frames) = decodeStub(m.payload)
        val scale = box.toDouble / math.max(w, h)
        val (ow, oh) = (math.max(1, (w * scale).toInt),
          math.max(1, (h * scale).toInt))
        (0 until frames by every).map { f =>
          // stub "decode frame f": deterministic content hash mixing
          // payload hash, doc id and frame index, mod-1e9+7 arithmetic
          val fh = ((ph * 131) % P + m.doc_id * 977 + f) % P
          FrameSample(m.doc_id, f, ow, oh, fh)
        }
      }
    }.toDF().orderBy("doc_id", "frame_idx")
  }

  case class MediaFeat(doc_id: Long, dim: Int, e0: Long, e7: Long,
      l1: Long)

  /** M3: FEATURE EXTRACTION — the remaining multimodal verb (decode =
    * m1, resize + frame-sample = m2): each payload maps to a fixed-dim
    * feature vector, batched per partition exactly as a real vision
    * encoder would run (one model instance per partition, streaming
    * batches, row in → vector out, no driver involvement). The encoder
    * is STUBBED deterministically: feature j = (h · ((j+1)·K mod P))
    * mod P over the payload hash — integer arithmetic both engines
    * share, so the whole path hash-checks (a real encoder drops in by
    * replacing the per-element formula only). Emits two probe
    * coordinates + the exact L1 mass of the 8-dim vector. */
  def m3FeatureExtract(s: SparkSession, d: String, dim: Int = 8)
      : DataFrame = {
    import s.implicits._
    val K = 2654435761L
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    media.mapPartitions { batch =>
      batch.map { m =>
        val h = payloadHash(m.payload)
        val feats = Array.tabulate(dim)(j => (h * (((j + 1) * K) % P)) % P)
        MediaFeat(m.doc_id, dim, feats(0), feats(dim - 1), feats.sum)
      }
    }.toDF().orderBy("doc_id")
  }

  case class TextFeat(doc_id: Long, tf: Array[Double])

  /** M4: CROSS-MODAL pair gating — the CLIP-score filter (Radford et
    * al. 2021; LAION's curation gate): each document's TEXT embedding
    * is scored against its paired media embedding and the pair is kept
    * only when they agree (cosine ≥ 0). The text encoder is the same
    * per-partition stub as m3 (a real encoder swaps in behind the
    * identical batched shape); the media side is the embeddings table
    * — so the operator's real substance is the cross-TABLE hash join
    * of a text corpus against a vector store by id and the
    * deterministic scoring fold, both of which survive a real encoder
    * unchanged. Plan: two pruned scans, one equi-join on the id, pure
    * map scoring — no shuffle beyond the join. */
  def m4CrossModalGate(s: SparkSession, d: String, dim: Int = 8)
      : DataFrame = {
    import s.implicits._
    import graft.functions.{VectorFunctions => V}
    val K = 2654435761L
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    val tfeat = media.mapPartitions { batch =>
      batch.map { m =>
        val h = payloadHash(m.payload)
        TextFeat(m.doc_id,
          Array.tabulate(dim)(j => ((h * (((j + 1) * K) % P)) % P).toDouble))
      }
    }.toDF()
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        slice(V.asDouble(col("embedding")), 1, dim).as("ef"))
    tfeat.join(emb, Seq("doc_id"))
      .select(col("doc_id"),
        V.dot(col("tf"), col("ef")).as("dot"),
        V.norm2(col("tf")).as("nt"), V.norm2(col("ef")).as("ne"))
      .select(col("doc_id"),
        round(col("dot") / sqrt(col("nt") * col("ne")), 6).as("clip_score"),
        (col("dot") >= 0).as("keep"))
      .orderBy("doc_id")
  }

  case class MediaHash(doc_id: Long, phash: Long)

  /** STUB perceptual hash — a 60-bit code assembled from six 10-bit
    * integer mixes of the payload hash. A real pHash (DCT
    * low-frequency signs over the decoded image) drops in here; the
    * stub has NO locality, so only identical payloads land within any
    * small Hamming radius — which the spec pins, and which makes the
    * operator's verified pairs exactly the payload-duplicate set
    * until a real codec arrives. All arithmetic stays below 2^60 and
    * positive: shifts and masks mean the same thing in both engines. */
  private[graft] def phashStub(h: Long): Long = {
    var ph = 0L
    var k = 0
    while (k < 6) {
      val c = ((k + 1) * 2654435761L) % P
      ph |= ((h * c) % P % 1024L) << (10 * k)
      k += 1
    }
    ph
  }

  /** The widened (band, value) key for m5's width law: band k's own
    * 10 bits plus the low `x` bits of band (k+1) mod 6 of the SAME
    * 60-bit code, shifted above them. Deriving the extension from the
    * code itself (ADVICE r10) keeps it CORRELATED under small Hamming
    * distance — a near-miss pair loses a clean band's widened bucket
    * only when a differing bit lands inside the next band's sampled
    * low-x window, never with the ~2^-x-per-band probability an
    * independent avalanche family (the retired payload-hash
    * extension) would impose. Provable floor: a pair at Hamming d has
    * ≥ 6−2d surviving widened buckets (≤ d dirty bands, each dirtying
    * at most one predecessor's window), so Hamming ≤ 2 keeps ZERO
    * false negatives at ANY width; d = 3..5 can lose only
    * adversarially-placed tails (measured at the §4a probe table).
    * At x = 0 the key is the band value itself — the exact 6-band
    * pigeonhole, bit-identical at every oracle scale. */
  private[graft] def widenedBand(code: Long, band: Int, x: Int): Long =
    ((code >> (10 * band)) & 1023L) +
      (((code >> (10 * ((band + 1) % 6))) & 1023L) % (1L << x)) * 1024L

  /** m5's band-width law (the bitsFor pattern on the 10-bit floor):
    * extra band bits = one per corpus doubling past 2^14, capped at
    * 10 — expected bucket size n/2^(10+x) stays ≤ ~16, so the band
    * self-join stays ~linear. Integer threshold tests, replicated by
    * the oracle as a CTE. 0 at every oracle scale (≤ 5000 docs), so
    * the registered outputs are bit-identical to the fixed-width
    * form there. */
  private[graft] def extraBitsFor(n: Long): Int =
    math.min(10, (14 to 23).count(t => n > (1L << t)))

  /** M5: PERCEPTUAL-HASH media dedup — d3's pigeonhole-banded Hamming
    * machinery applied to the media column: each payload's 60-bit
    * perceptual code (codec stubbed, see [[phashStub]]) splits into 6
    * disjoint 10-bit bands; a pair within Hamming ≤ 5 must agree
    * exactly on ≥ 1 band (6 bands, ≤ 5 differing bits), so bucketing
    * on (band, value) is 100% recall and precision is restored by the
    * exact bit_count filter in the join projection — the image-dedup
    * stage of a multimodal curation pipeline, built so a real DCT
    * pHash swaps in without touching the distributed plan.
    *
    * Scale shape: the code computes in the batched partition map (one
    * decoder per partition, the m1 rule), the band self-join keys on
    * high-cardinality (band, value) buckets, pairs dedup AFTER
    * the cheap Hamming filter (hamming rides the join projection —
    * d2's pattern), and nothing pairwise exists outside band
    * buckets. r10 — the WIDTH LAW: fixed 10-bit buckets stop pruning
    * once n ≫ 2^10·16 (the Σ bucket² law; measured 20.6 s warm at
    * 100× ≈ 500k docs, 9× the 30× wall on 3.3× the data), so band
    * values widen with corpus size ([[extraBitsFor]], one bit per
    * doubling past 2^14). r11 (ADVICE r10): the extension bits come
    * from the 60-bit code ITSELF ([[widenedBand]] — band k widened
    * with the next band's low-x bits), keeping them correlated under
    * small Hamming distance: Hamming ≤ 2 provably loses nothing at
    * any width, d = 3..5 keeps ≥ 6−2d of its 6 buckets. The retired
    * payload-hash extension family was avalanche — uncorrelated
    * between near-identical payloads — degenerating m5 to
    * exact-payload dedup at large x. Oracle replicates the law as a
    * CTE; every oracle scale sits below the first threshold,
    * bit-identical to the fixed-width form. */
  def m5PhashDedup(s: SparkSession, d: String, maxHamming: Int = 5,
      extraBits: Int = -1): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    val hashed = media.mapPartitions { batch =>
      batch.map { m =>
        MediaHash(m.doc_id, phashStub(payloadHash(m.payload)))
      }
    }.toDF().localCheckpoint(true) // consumers: the width count + bands
    // band width from corpus size ([[extraBitsFor]] — one bounded
    // count, the searchGraph rule; 0 at every oracle scale). The
    // extension bits REFINE the bucket key only and come from the
    // code itself ([[widenedBand]]): recall stays exact for identical
    // codes, provably exact through Hamming 2 at any width, and
    // ≥ 6−2d buckets survive at Hamming d — the correlated-extension
    // trade for the n/2^(10+x) bucket bound (measured at the §4a
    // table; the d5-prod cell-confinement trade, at the band level).
    val x = if (extraBits >= 0) extraBits else extraBitsFor(hashed.count())
    val banded = hashed.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 6).map(k =>
        shiftright(col("phash"), 10 * k).bitwiseAND(lit(1023L)) +
          (shiftright(col("phash"), 10 * ((k + 1) % 6))
            .bitwiseAND(lit(1023L)) % lit(1L << x)) * lit(1024L)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id1", "id2").agg(min("hamming").as("hamming"))
      .orderBy("id1", "id2")
  }

  case class FrameGram(doc_id: Long, h1: Long, h2: Long)

  /** M6: VIDEO near-dup by frame-signature shingles (r11) — the
    * temporal analogue of m5's image dedup: two videos are near-dups
    * when they share a run of frames, not when any global digest
    * collides. Each payload's sampled frame stream (m2's every-8th
    * cadence over the stub decoder) maps to CONTENT-ONLY frame
    * signatures — unlike m2's `frame_hash`, which mixes `doc_id`
    * because it models a per-row metadata digest, the SIGNATURE must
    * be a pure function of content so identical footage matches
    * across documents; a real decoder yields per-frame content
    * hashes here — and consecutive signature PAIRS become the gram
    * set (d4's n-gram Jaccard shape on the frame axis: a shared
    * CLIP of k sampled frames contributes k−1 matching grams, while
    * a single coincidentally-equal frame contributes none).
    * Candidates bucket on the (h1, h2) gram key (high-cardinality —
    * essentially unique per source footage, so posting lists are
    * duplicate-group-sized, never corpus-sized), and the verdict is
    * FULLY INTEGER: Jaccard ≥ 1/2 asserted as 2·n_common ≥ n_union —
    * no float leaves the operator, so both engines agree
    * bit-for-bit with no rounding convention at all.
    *
    * Scale shape: signatures compute in the batched partition map
    * (one decoder per partition, the m1 rule); grams per doc are
    * bounded by frames/8 ≤ 4 at the stub's 32-frame cap (a real
    * corpus's long videos fan out linearly in duration); the gram
    * self-join is an equi-join on the pair key. The per-doc gram
    * count rides ON the gram frame itself (one window over the
    * checkpoint) so the verdict needs NO corpus-sized join at all —
    * the r11 plan broadcast the (corpus-proportional) per-doc count
    * frame under an explicit hint, which at 100 TB is billions of
    * rows force-hinted past AQE's size check; the plan contract now
    * pins the absence of any corpus-derived broadcast. Docs with
    * fewer than 2 sampled frames carry no gram and exit — a still
    * image is not a video near-dup candidate.
    *
    * OUTPUT CONTRACT (r13, verdict #2): the registered form publishes
    * the CANDIDATE tier, not just the survivors — every pair of docs
    * whose grams collide in a width-law band (`cb = (h1·31+h2) mod
    * 2^bits`, bits from [[m6BandBits]] on the doc count, the m5
    * band-width recipe) with its full integer evidence
    * (n_band collisions, n_common exact shared grams, n_union) and
    * the verdict as a 0/1 `dup` column (2·n_common ≥ n_union).
    * Exact-shared-gram pairs always collide in band at any width, so
    * the dup = 1 subset is EXACTLY the old emission; the dup = 0
    * near-threshold rows keep the driver's oracle gate non-vacuous at
    * every scale (the payload-hash stub yields shared grams only for
    * exact-duplicate payloads, and sf0.001/0.01 have none — two
    * rounds of 0 = 0 gates compared no arithmetic at all). Banded
    * pair volume stays linear: 2^bits ∈ (16n, 32n] so expected
    * collisions ≈ G²/2^(bits+1) ≈ 0.03–0.05·n. */
  def m6FrameDedup(s: SparkSession, d: String): DataFrame = {
    // width from the doc count — one cheap single-column count (the
    // x3/x4 pushed-count rule), NOT a decode pass
    val n = Tables.documents(s, d).filter(col("text").isNotNull).count()
    // grams RECOMPUTE (r12, measured both ways — PROBE_M6FORM full-
    // query A/B: recompute wins 100× cold 2× (4.5 vs 8.9 s) and warm
    // (3.4 vs 4.3), a wash at sf0.1): the self-join's two sides are
    // canonically equal past the window, so the decode's exchange is
    // REUSED and the map effectively runs once — materializing the
    // gram frame buys nothing the reuse doesn't already give
    m6Candidates(m6Grams(s, d), m6BandBits(n))
  }

  /** m6's candidate band width: 2^bits ∈ [16·n, 32·n] for doc count
    * n ≥ 512 (floor 13 bits below; the lower endpoint is attained at
    * exact powers of two — n = 2^t, t ≥ 9, yields 2^bits = 16·n —
    * ADVICE r13), keeping expected band collisions
    * — the near-threshold candidate volume — LINEAR in the corpus
    * (≈ 0.03–0.05·n pairs) while staying non-empty at probe scales.
    * Monotone step law in the [[extraBitsFor]] style so the DuckDB
    * oracle replays it as a range() count. Past bits = 30 the band
    * equals the mod-P gram key ((h1·31+h2) mod P < 2^30) and
    * candidates degrade gracefully to exact gram matches. */
  private[graft] def m6BandBits(n: Long): Int =
    13 + (9 to 39).count(t => n > (1L << t))

  /** m6's (doc_id, h1, h2) frame-gram frame — one decode pass in the
    * batched partition map. */
  private[graft] def m6Grams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    media.mapPartitions { batch =>
      batch.flatMap { m =>
        val ph = payloadHash(m.payload)
        val (_, _, frames) = decodeStub(m.payload)
        val sigs = (0 until frames by 8)
          .map(f => ((ph * 131) % P + f * 977L) % P)
        sigs.sliding(2).withFilter(_.size == 2)
          .map(p => FrameGram(m.doc_id, p(0), p(1))).toSeq.distinct
      }
    }.toDF()
  }

  /** m6's candidate + verdict body over an explicit (doc_id, h1, h2)
    * gram frame — factored so the near-miss recall spec can drive it
    * with partial-overlap frame-signature families (the registered
    * stub derives every signature from one payload hash, so true
    * pairs at probe scale are always FULL overlap and the Jaccard
    * threshold would otherwise go unexercised against k-frame shared
    * clips). The per-doc gram count rides the gram frame itself (one
    * window over the checkpoint): the pair verdict aggregates na/nb
    * alongside n_common — no join against a corpus-proportional
    * count frame. */
  private[graft] def m6PairsFromGrams(grams: DataFrame): DataFrame =
    // bits = 62 > 35 makes the band the exact gram key (see
    // [[m6BandBits]]): candidates = exact-shared-gram pairs, so the
    // dup = 1 filter reproduces the verdict-only emission exactly
    m6Candidates(grams, 62)
      .filter(col("dup") === 1L)
      .select("doc1", "doc2", "n_common", "n_union")
      .orderBy("doc1", "doc2")

  /** The shared candidate + verdict body: grams band on
    * `(h1·31 + h2) mod 2^bits`; a banded pair carries its collision
    * count, its EXACT shared-gram count (equal grams always share a
    * band, so n_common is the full intersection at any width), the
    * union, and the integer verdict 2·n_common ≥ n_union as a 0/1
    * column. Fully integer — both engines agree bit-for-bit. */
  private[graft] def m6Candidates(grams: DataFrame,
      bits: Int): DataFrame = {
    // the inner % P matters: the stub's consecutive signatures differ
    // by a CONSTANT (8·977), so 31·h1+h2 = 32·h1+δ and a direct
    // power-of-2 mod would keep only h1's low bits (measured: 32× the
    // intended collision volume); reducing mod the odd prime first
    // re-mixes the low bits
    val gramsN = grams
      .withColumn("ng", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("cb",
        ((col("h1") * 31 + col("h2")) % lit(P)) % lit(1L << bits))
    gramsN.as("a")
      .join(gramsN.as("b"),
        col("a.cb") === col("b.cb") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_band"),
        sum(when(col("a.h1") === col("b.h1") &&
          col("a.h2") === col("b.h2"), 1L).otherwise(0L)).as("n_common"),
        max(col("a.ng")).as("na"), max(col("b.ng")).as("nb"))
      .select(col("doc1"), col("doc2"),
        col("n_band").cast("long").as("n_band"),
        col("n_common").cast("long").as("n_common"),
        (col("na") + col("nb") - col("n_common")).cast("long")
          .as("n_union"),
        when(col("n_common") * 2 >= col("na") + col("nb") - col("n_common"),
          lit(1L)).otherwise(lit(0L)).as("dup"))
      .orderBy("doc1", "doc2")
  }

  /** M1: binary ingest → batched partition decode → typed metadata.
    * `mapPartitions` is the Scala analogue of `mapInPandas`: one
    * decoder per partition, streaming batches, no per-row setup. */
  def m1MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaIn] = Tables.documents(s, d)
      .filter(col("text").isNotNull) // null payload would NPE in the partition map
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"), // stand-in media bytes
        col("source"), length(col("text")).as("n_chars"))
      .as[MediaIn]
    media.mapPartitions { batch =>
      batch.map { m =>
        val (w, h, f) = decodeStub(m.payload)
        MediaMeta(m.doc_id, m.source, m.n_chars, w, h, f)
      }
    }.toDF().orderBy("doc_id")
  }
}
