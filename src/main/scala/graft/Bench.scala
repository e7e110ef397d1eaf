package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm the JVM/codegen/file-listing paths so the first timed query
    // isn't charged for session startup.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // Noise control: per query, WARMUP untimed passes (plan
    // compilation, codegen cache, OS file cache), then ITERS measured
    // passes. Headline "queries" carries the per-query MIN — the
    // steadiest estimator of the query's true cost on a shared box
    // (same-code round-over-round deltas were ±25% with single runs) —
    // and "medians" the per-query median of the measured passes.
    val warmups = sys.env.get("SPARK_GRAFT_WARMUP").map(_.toInt).getOrElse(1)
    val iters = sys.env.get("SPARK_GRAFT_ITERS").map(_.toInt).getOrElse(2).max(1)
    // Box-load provenance (r12): a single loaded driver run must not
    // masquerade as a code regression (r11's artifact read +62% purely
    // from box drift), so the artifact carries the 1-min load average
    // at start and end of the measured set.
    def loadAvg: Double = math.round(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100.0
    val loadStart = loadAvg
    val results = SparkEntry.queries.map { case (name, fn) =>
        // a pass that throws is a failure, never a timing: the query
        // stops at its first failed pass and is left out of the maps
        def once(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
        }
        val passes = Iterator.fill(warmups + iters)(once())
          .takeWhile(_.isDefined).flatten.toVector
        val measured = passes.drop(warmups).sorted
        // Bench ISOLATION (r13 verdict #2): store-heavy queries leave
        // localCheckpoint blocks behind; accumulated across the suite
        // they pressure later queries' execution memory and the
        // artifact carried 30x phantom per-query swings (h10 3.6 s
        // in-suite vs 0.11 s isolated). Drop all cached plans and
        // persisted RDD blocks AFTER each query's measured passes
        // (outside the timed region; warm state WITHIN a query's own
        // passes is untouched). Safe: no DataFrame survives across
        // queries — stores are reached by PATH, and each invocation
        // rebuilds its own checkpoints.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        name -> (if (passes.length < warmups + iters) None
          else Some((measured.head, measured(measured.length / 2))))
      }
    val nFailed = results.count(_._2.isEmpty)
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val med = timed.map { case (k, v) => s"\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    val total = timed.values.map(_._1).sum
    val loadEnd = loadAvg
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""medians":$med,"n_failed":$nFailed,""" +
      s""""warmups":$warmups,"iters":$iters,""" +
      s""""load_start":$loadStart,"load_end":$loadEnd,"sf":"$sfDir"}""")
    // Truncation-safe duplicate LAST (r12 verdict #7): a
    // tail-truncating log capture (the driver keeps ~2 kB) must
    // retain not just the totals but the EXPENSIVE queries — the ones
    // the plan audit reads — so the final line carries the top-20
    // per-query mins sorted by descending time (~800 B, always inside
    // the kept tail even when the full map above is cut mid-line).
    // r16 measurement-artifact fix: every BENCH_r*.json through r15
    // recorded "parsed": null — the full-map line above outgrew the
    // kept tail around r3 and the old final line keyed its map "top",
    // not "queries", so no complete contract-shaped object survived
    // for the driver's parser. The final line now uses the contract
    // key "queries" (truncated to the top 20, flagged as such); the
    // full map still prints above, and no number changed.
    val top = timed.toSeq.sortBy(-_._2._1).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$top,"n_queries":${timed.size},"n_failed":$nFailed,""" +
      s""""queries_truncated_to_top":20,""" +
      s""""load_start":$loadStart,"load_end":$loadEnd,"sf":"$sfDir"}""")
    spark.stop()
  }
}
