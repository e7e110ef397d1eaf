package graft

import org.apache.spark.sql.graft.Bridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: print the executed plan + wall time for named queries.
  *
  * Usage: runMain graft.PlanAudit <sfDir> <queryName> [<queryName>...]
  * Prints the formatted physical plan (after AQE final plan when the
  * query is executed) and two timed runs, so exchange reuse, pushed
  * filters, pruned schemas, and codegen spans can be audited per query.
  *
  * r15: eager operators (localCheckpoint walks) spend their wall at
  * DataFrame CONSTRUCTION, which the executed-plan timing missed, so
  * each query now times build and execute separately over two full
  * passes and counts the Spark jobs/stages/tasks each pass launches —
  * the fixed-overhead ledger the sf0.1 bench is dominated by.
  */
object PlanAudit {
  private class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    // jobId -> (startNanos-ish millis, callSite)
    val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      def prop(k: String) =
        Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      // a broadcast build's call site is a pool frame; its tag names it
      val site =
        if (prop("spark.job.tags").exists(_.contains("broadcast exchange")))
          "broadcast"
        else prop("callSite.short").filter(_.nonEmpty)
          .orElse(j.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
      open.put(j.jobId, (j.time, site))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val st = open.remove(j.jobId)
      if (st != null) log.add((st._1, j.time - st._1, st._2))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      tasks.incrementAndGet()
    def snap: (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
    def drainJobs(): Seq[(Long, Long, String)] = {
      val b = Seq.newBuilder[(Long, Long, String)]
      var x = log.poll()
      while (x != null) { b += x; x = log.poll() }
      b.result()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("GRAFT_LOGLEVEL", "ERROR"))
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"===== $name : initial plan =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // drive the Dataset's OWN queryExecution (df.count() would plan a
      // fresh execution and leave this one's AQE plan non-final)
      val t0 = System.nanoTime()
      val n = df.queryExecution.executedPlan.execute().count()
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan.execute().count()
      val t2 = System.nanoTime()
      println(s"===== $name : final adaptive plan =====")
      println(df.queryExecution.executedPlan.toString)
      println(f"===== $name rows=$n cold=${(t1 - t0) / 1e9}%.2fs warm=${(t2 - t1) / 1e9}%.2fs =====")
      // two FULL passes (build + count, the bench's shape), with the
      // job/stage/task deltas each pass launches
      for (pass <- 1 to 2) {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val (j0, s0, k0) = counter.snap
        val b0 = System.nanoTime()
        val d2 = SparkEntry.queries(name)(spark, dir)
        val b1 = System.nanoTime()
        d2.count()
        val b2 = System.nanoTime()
        // the listener bus is async: let this pass's events land
        Bridge.drainListeners(spark)
        val (j1, s1, k1) = counter.snap
        println(f"===== $name pass$pass build=${(b1 - b0) / 1e9}%.2fs " +
          f"count=${(b2 - b1) / 1e9}%.2fs jobs=${j1 - j0} " +
          f"stages=${s1 - s0} tasks=${k1 - k0} =====")
        if (pass == 2) {
          // per-job wall ledger of the warm pass, grouped by callsite
          val bysite = counter.drainJobs().groupBy(_._3).toSeq
            .map { case (site, js) =>
              (site, js.size, js.map(_._2).sum) }
            .sortBy(-_._3)
          bysite.take(14).foreach { case (site, n, ms) =>
            println(f"  job-site $site%-46s n=$n%-4d wall=${ms / 1e3}%.2fs")
          }
        } else counter.drainJobs()
      }
    }
    spark.stop()
  }
}
