package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Process-wide counters read before and after each op. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  /** CPU time of every thread of this process, in seconds. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def jitSeconds: Double = jit.getTotalCompilationTime / 1e3

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Seconds since the JVM started. */
  def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap still in use after a full collection, in MB. Collects, lets
    * Spark's cleaner release what the first collection unreferenced,
    * then collects again. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc()
    Thread.sleep(1000)
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Totals of the jobs and tasks the session ran. Attached only in
  * traced runs, from outside the engine. A job is attributed to the
  * source file of its call site ("localCheckpoint at Dedup.scala:120"
  * → "Dedup.scala"). */
class JobLedger extends SparkListener {
  private val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, (Long, String)]()

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (created last) carries the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStart(e.jobId) = (e.time, site)
    totals("spark.jobs") += 1
    totals("spark.stages") += e.stageInfos.size
    if (site.toLowerCase.contains("checkpoint"))
      totals("spark.checkpoint_jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site) =>
      val file = site.split(" at ").lastOption.getOrElse("")
        .split(":").head
      totals(s"site:$file") += (e.time - t0) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("spark.tasks", 1)
    if (m != null) {
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
    }
  }

  def snapshot(): Map[String, Double] = synchronized { totals.toMap }
}

/** Measures one op: wall and process CPU always; in traced runs also
  * the ledger, codegen, JIT and GC deltas. */
class Meter(spark: SparkSession, traced: Boolean) {
  private val ledger = if (traced) {
    val l = new JobLedger
    spark.sparkContext.addSparkListener(l)
    Some(l)
  } else None

  private def traceCounters(): Map[String, Double] = ledger match {
    case None => Map.empty
    case Some(l) =>
      Internals.drainListeners(spark.sparkContext)
      l.snapshot() ++ Map(
        "spark.codegen_compiles" -> Internals.codegenCompiles.toDouble,
        "spark.codegen_s" -> Internals.codegenSeconds,
        "jvm.jit_s" -> Jvm.jitSeconds,
        "spark.gc_s" -> Jvm.gcSeconds)
  }

  /** Runs `body` and returns its result with the counter deltas:
    * `op_s` (wall), `cpu_s` (process CPU) and, traced, the rest. */
  def measure[T](body: => T): (T, Map[String, Double]) = {
    val before = traceCounters()
    val w0 = System.nanoTime()
    val c0 = Jvm.cpuSeconds
    val out = body
    val wall = (System.nanoTime() - w0) / 1e9
    val cpu = Jvm.cpuSeconds - c0
    val after = traceCounters()
    val traced = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    (out, traced ++ Map("op_s" -> wall, "cpu_s" -> cpu))
  }
}
