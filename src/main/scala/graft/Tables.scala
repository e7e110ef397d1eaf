package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver's testdata star schema.
  *
  * Mirrors the reference's extract stage surface
  * (reference: bugzilla_etl/extract_bugzilla.py:238 get_bugs et al.)
  * re-expressed as lazy parquet scans so Catalyst can push filters and
  * prune columns down to the file source.
  * Sessions must come from [[GraftSession.local]]; a load refuses any
  * other rather than silently read naive timestamps as TIMESTAMP_NTZ.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val c = spark.conf
    require(c.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false" &&
      c.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "graft.Tables needs a session built by GraftSession.local " +
        "(inferTimestampNTZ off, nanosAsLong on)")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped as both TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across driver testdata generations; surface it
    * uniformly as a microsecond TimestampType. Nanos arrive as raw
    * longs (nanosAsLong, set by [[GraftSession.local]]) and get an integer
    * division — no double rounding; micros are already the target
    * type and pass through untouched. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread a narrow scan whose SPLIT COUNT cannot feed the cluster
    * (r15 opt). Scan parallelism is bounded by parquet row groups,
    * and a CPU-dense projection downstream of an unsplittable scan
    * (per-byte simhash, BPE, per-pair hamming) serializes onto that
    * split count no matter how many cores exist — the guide §2.5
    * "input skew: one huge unsplittable file… repartition immediately
    * after the read" case. When the scan already has at least
    * `defaultParallelism` splits — any production-scale input — this
    * is the identity and costs nothing; below it, one deterministic
    * round-robin shuffle of the raw rows (sortBeforeRepartition is
    * on, so retries reproduce the assignment) buys the downstream
    * stage full parallelism. Row order and partition layout never
    * reach any registered result: every consumer re-keys (band join,
    * groupBy) or totally orders downstream.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Derive the split-count estimate from the FILE RELATION, not
    // df.rdd (ADVICE r15: the RDD conversion forces a second full
    // physical planning of the subtree on every call and reads the
    // pre-AQE count). The relation is a leaf of the ANALYZED plan:
    // the unresolved plan of a `read.parquet` frame holds only an
    // unresolved data source. A parquet scan's split count is
    // ≥ ceil(bytes / maxPartitionBytes) — an UNDERestimate only when
    // many small files pad it upward via openCostInBytes, and then
    // only matters below `target` splits (≲ 4 GB total at the 128 MB
    // default), where one extra round-robin shuffle is noise.
    val bytes = df.queryExecution.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.sizeInBytes
    }
    require(bytes.nonEmpty, "spread is for scan roots: the frame has " +
      "no file relation to estimate its split count from")
    val maxSplit = math.max(1L, df.sparkSession.sessionState.conf
      .filesMaxPartitionBytes)
    val est = bytes.map(b => (b + maxSplit - 1) / maxSplit).sum
    if (est < target) df.repartition(target) else df
  }
}
