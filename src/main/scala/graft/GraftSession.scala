package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The one place that decides which SQL settings a plan runs under:
  * the session builder shared by the driver mains, the specs and any
  * embedding application, and [[scoped]] for a block that needs others.
  *
  * Settings are the 100 TB defaults scaled to local mode: AQE with
  * skew-join splitting and partition coalescing (Spark 4 defaults,
  * asserted here so a misconfigured cluster profile can't silently
  * drop them), shuffle parallelism = core count locally (a cluster
  * deploy sets it to ~2-3x total executor cores), UTC session time
  * (oracle parity), graft's native SQL functions registered, and the
  * parquet reads every [[Tables]] load relies on: naive timestamps as
  * UTC timestamps like the DuckDB oracle (`inferTimestampNTZ.enabled`
  * off), TIMESTAMP(NANOS) as raw longs (`nanosAsLong`). */
object GraftSession {

  /** Default to the machine's cores (capped at 32, the target local
    * profile) — a fixed small default silently benches a 32-core box
    * at local[4]. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  def local(nThreads: String = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nThreads]")
      .config("spark.sql.shuffle.partitions", nThreads)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's coalescing floor assumes partition BYTES ≈ partition
      // COST. The engine's verify stages (128-bit hamming per band
      // collision, exact cosine per candidate, per-(doc,term) BM25
      // scoring) run at single-digit MB/s per core, so the 1 MB
      // default floor folds them onto 1-4 tasks while 28 cores idle —
      // measured at sf0.1 (r15, interleaved isolated A/Bs): d13
      // 4.3→1.8 s, d4 1.7→1.4 s, t12 2.0→1.4-2.2 s from this floor
      // alone. 128 KB keeps each task ≥ tens of ms of work at those
      // stages' measured throughput (a 64 KB floor measured ~2 s
      // WORSE on x1, whose many-stage plans pay per-task plan
      // deserialization), and at cluster scale the floor is
      // irrelevant — advisoryPartitionSizeInBytes (64 MB default)
      // governs long before any partition shrinks toward it.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      // allow co-partitioning on a SUBSET of the join keys: a table
      // bucketed on a scalar key (the d9 sketch store, entity-bucketed
      // history) can then feed a wider equi-join with zero exchange on
      // the stored side — with all-keys required (the default) Spark
      // reshuffles both sides and the bucketing buys nothing
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one artifact classloader for all sessions: a scoped clone then
      // reuses its parent's generated code (else ~20 recompiles a walk)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate can return a pre-existing session that never went
    // through the builder's extension hook
    if (!s.catalog.functionExists("minhash_sig"))
      GraftExtensions.installInto(s)
    s
  }

  /** Run `body` on a clone of `s` carrying `overrides`, as the thread's
    * active session; `s` is never written, so a concurrent query on it
    * keeps its settings. The clone shares the context, catalog, views
    * and functions, and stays on the listener bus until collected:
    * scope a loop, not each round. */
  def scoped[T](s: SparkSession, overrides: (String, String)*)
      (body: SparkSession => T): T = {
    val c = Bridge.cloneSession(s)
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    Bridge.withActive(c)(body(c))
  }

  /** `df`'s plan as a frame of `s`, run under `s`'s settings. */
  def on(s: SparkSession, df: DataFrame): DataFrame =
    Bridge.ofRows(s, Bridge.plan(df))
}
