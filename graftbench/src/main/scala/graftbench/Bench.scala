package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.{GraftSession, SparkEntry}
import graft.etl.{EtlRunner, FullEtl}
import graft.operators.{BugHistory, Comments, CurationPipeline, HistoryDriver, Screening}
import graft.similarity.Similarity
import graft.sources.EsSink
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in this JVM.
  *
  * Usage: Bench --workload W --inputs DIR --run DIR --seconds S
  *              --min-ops N --trace 0|1
  *
  * The session comes from [[GraftSession.local]] with its defaults;
  * the run sets only deployment settings (task slots via
  * SPARK_GRAFT_CPUS, spark.local.dir via a system property, and the
  * store root below). Every op is attempted and timed, until both
  * `--min-ops` ops and `--seconds` are done. Each
  * op leaves what the checks need under `--run`:
  * `ops.jsonl` (one record per op) and `result.json` (the summary).
  * Nothing of interest goes to stdout. */
object Bench {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val run = o("run")
    val traced = o("trace") == "1"
    val spark = GraftSession.local()
    spark.conf.set("spark.graft.storeRoot", s"$run/stores")
    val sessionS = Jvm.uptime
    val w = Workload(o("workload"), spark, o("inputs"), run)

    val prepT0 = System.nanoTime()
    w.setup()
    val prepareS = (System.nanoTime() - prepT0) / 1e9
    val setupS = sessionS + prepareS

    val meter = new Meter(spark, traced)
    val log = new PrintWriter(new File(s"$run/ops.jsonl"))
    val measured = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted, failed = 0
    val seconds = o("seconds").toDouble
    val minOps = o("min-ops").toInt
    def now = System.nanoTime() / 1e9
    val t0 = now
    while (attempted < minOps || now - t0 < seconds) {
      val i = attempted
      attempted += 1
      val rec = mutable.LinkedHashMap[String, Any]("op" -> i)
      try {
        val (info, d) = meter.measure(w.op(i))
        val checked = w.check(i, info)
        val layers = if (traced) w.layers(i, meter) else Map.empty[String, Double]
        val nontask = if (traced)
          Map("jvm.nontask_cpu_s" -> (d("cpu_s") - d("spark.task_cpu_s"))) else Map.empty
        val numbers = d ++ nontask ++ info.metrics ++ layers ++ checked.collect {
          case (k, v: Number) => k -> v.doubleValue }
        rec ++= info.out ++ checked ++ numbers
        measured += numbers
      } catch {
        case NonFatal(e) =>
          failed += 1
          rec("error") = e.toString.take(500)
      }
      log.println(Json.obj(rec.toSeq))
      log.flush()
    }
    log.close()

    val heapMb = Jvm.liveHeapMb()
    val keys = measured.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(measured.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    val metrics = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    // with no completed op, op_s and cpu_s stay out: nothing was measured
    Seq("op_s", "cpu_s").foreach(k => med.get(k).foreach(metrics(k) = _))
    metrics("heap_mb") = heapMb
    if (traced && measured.nonEmpty) {
      metrics ++= med.filter { case (k, _) => k.contains(".") && !k.startsWith("site:") }
      val sites = Sites(med)
      metrics("similarity.job_s") = sites.sum("Similarity.scala")
      metrics("spark.unattributed_job_s") = sites.total - metrics("similarity.job_s")
      metrics ++= w.runLayers(prepareS, med)
    }
    val result = Json.obj(Seq(
      "workload" -> o("workload"), "attempted" -> attempted, "failed" -> failed,
      "measured_ops" -> measured.size, "session_s" -> sessionS,
      "prepare_s" -> prepareS, "metrics" -> metrics.toMap))
    Files.writeString(Paths.get(s"$run/result.json"), result)
    spark.stop()
  }

  /** Summed job wall by the source file of each job's call site, from
    * the `site:<file>` keys of a measurement. */
  case class Sites(m: Map[String, Double]) {
    private val byFile = m.collect { case (k, v) if k.startsWith("site:") => k.stripPrefix("site:") -> v }
    def sum(files: String*): Double = files.map(byFile.getOrElse(_, 0.0)).sum
    def total: Double = byFile.values.sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** What an op produced: fields for the op record (`out`) and
  * per-layer metrics measured inside the op (`metrics`). */
case class OpInfo(out: Map[String, Any], metrics: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val in: String, val run: String) {
  /** Preparation counted in setup_s. */
  def setup(): Unit = ()
  /** The timed op. */
  def op(i: Int): OpInfo
  /** Untimed: fields the checks need, read back from what the op wrote. */
  def check(i: Int, info: OpInfo): Map[String, Any] = Map.empty
  /** Untimed, traced runs only: each layer's public function alone. */
  def layers(i: Int, meter: Meter): Map[String, Double] = Map.empty
  /** Traced runs only: layer metrics derived from the setup time and
    * the per-op medians. */
  def runLayers(prepareS: Double, med: String => Double): Map[String, Double] = Map.empty

  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Builds the frame, then writes it; returns (build_s, exec_s). */
  protected def buildAndWrite(df: => DataFrame, write: DataFrame => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    val frame = df
    val t1 = System.nanoTime()
    write(frame)
    ((t1 - t0) / 1e9, seconds(t1))
  }

  protected def timedNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode(SaveMode.Overwrite).save()
    seconds(t0)
  }

  protected def opDir(i: Int) = f"$run/out/op-$i%03d"

  protected def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }

  protected def rows(dir: String): Seq[Seq[Any]] =
    spark.read.parquet(dir).collect().toSeq.map(_.toSeq)

  protected def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  protected def splitMetrics(build: Double, exec: Double) =
    Map("spark.build_s" -> build, "spark.exec_s" -> exec)
}

object Workload {
  def apply(name: String, s: SparkSession, in: String, run: String): Workload = name match {
    case "etl_full" => new EtlFull(s, in, run)
    case "search" => new Search(s, in, run)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** b5_full_etl on a generated events/documents corpus; every op
  * writes the full bulk output. Op 0's output is kept for the oracle;
  * every op's output is digested so all can be compared with it.
  * Traced runs also time the layers b5 is built from, the curation
  * pipeline on the same documents and their embeddings, and an
  * incremental EtlRunner.run over a generated Bugzilla-shaped
  * (current, activity) log. */
class EtlFull(s: SparkSession, in: String, run: String) extends Workload(s, in, run) {
  Files.writeString(Paths.get(s"$run/oracle.sql"), SparkEntry.oracleSql("b5_full_etl"))

  def op(i: Int): OpInfo = {
    val (b, e) = buildAndWrite(FullEtl.b5FullEtl(spark, in),
      _.write.mode(SaveMode.Overwrite).parquet(opDir(i)))
    OpInfo(Map("dir" -> opDir(i)), splitMetrics(b, e))
  }

  override def check(i: Int, info: OpInfo): Map[String, Any] = {
    val dir = opDir(i)
    val r = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(xxhash64(col("_id"), col("line")).bitwiseAND(0xffffffffL))).head()
    val mb = dirMb(dir)
    if (i > 0) deleteDir(dir)
    Map("lines" -> r.getLong(0), "digest" -> r.getLong(1), "bulk_mb" -> mb)
  }

  override def layers(i: Int, meter: Meter): Map[String, Double] = Map(
    "bughistory.reconstruct_s" -> timedNoop(HistoryDriver.b1BugHistory(spark, in)),
    "bughistory.nest_s" -> timedNoop(HistoryDriver.b2NestedHistory(spark, in)),
    "comments.stream_s" -> timedNoop(Comments.c2CommentsStream(spark, in)),
    "screening.deletes_s" -> timedNoop(Screening.p3PrivacyDelete(spark, in))) ++
    curation(i, meter) ++ incremental(i)

  /** x1_curation_pipeline, with its job wall split by call site. */
  private def curation(i: Int, meter: Meter): Map[String, Double] = {
    val (_, d) = meter.measure(CurationPipeline.x1CurationPipeline(spark, in)
      .write.mode(SaveMode.Overwrite).parquet(f"$run/x1-$i%03d"))
    val sites = Bench.Sites(d)
    Map("curation.x1_s" -> d("op_s"), "dedup.job_s" -> sites.sum("Dedup.scala"),
      "curation.job_s" -> sites.sum("CurationPipeline.scala", "Curation.scala"))
  }

  /** A full EtlRunner.run of the initial log, then the timed incremental
    * run after one delta, then its two halves alone on the same inputs:
    * BugHistory.reconstruct of the touched bugs and EsSink.writeBulk. */
  private def incremental(i: Int): Map[String, Double] = {
    val (singles, multis) = (Seq("status", "priority"), Seq("cc"))
    val dir = f"$run/etl-$i%03d"
    val log = s"$in/log"
    EtlRunner.run(spark, spark.read.parquet(s"$log/current-0000.parquet"),
      spark.read.parquet(s"$log/activity-0000.parquet"), singles, multis,
      s"$dir/state", s"$dir/full")
    val cutoff = EtlRunner.readState(s"$dir/state", "last_run_time").get
    val current = spark.read.parquet(s"$log/current-0001.parquet")
    val act = spark.read.parquet(s"$log/activity-0000.parquet", s"$log/activity-0001.parquet")
    val t0 = System.nanoTime()
    val (report, _) = EtlRunner.run(spark, current, act, singles, multis,
      s"$dir/state", s"$dir/delta")
    val runS = seconds(t0)
    val touched = act.filter(col("ts") >= cutoff).select("id").distinct()
    def versions = BugHistory.reconstruct(current.join(touched, Seq("id"), "left_semi"),
      act.join(touched, Seq("id"), "left_semi"), singles, multis)
    val reconstructS = timedNoop(versions)
    versions.write.mode(SaveMode.Overwrite).parquet(s"$dir/versions")
    val t1 = System.nanoTime()
    EsSink.writeBulk(spark.read.parquet(s"$dir/versions").withColumn("changes",
      to_json(col("changes"))), "snapshots", "snapshot_id", s"$dir/bulk")
    Map("etl.run_s" -> runS, "bughistory.delta_reconstruct_s" -> reconstructS,
      "sources.write_s" -> seconds(t1), "etl.touched" -> report.entities.toDouble,
      "etl.versions" -> report.versions.toDouble)
  }

  override def runLayers(prepareS: Double, med: String => Double) =
    Map("etl.b5_s" -> med("op_s"), "sources.bulk_mb" -> med("bulk_mb"),
      "etl.lines" -> med("lines"))
}

/** The registered stored HNSW walk (s16_hnsw). Setup builds the
  * stores under the run's private store root; ops walk them. */
class Search(s: SparkSession, in: String, run: String) extends Workload(s, in, run) {
  override def setup(): Unit = Similarity.s16EnsureStores(spark, in)

  def op(i: Int): OpInfo = {
    val (b, e) = buildAndWrite(SparkEntry.queries("s16_hnsw")(spark, in),
      _.write.mode(SaveMode.Overwrite).parquet(opDir(i)))
    OpInfo(Map("dir" -> opDir(i)), splitMetrics(b, e))
  }

  override def check(i: Int, info: OpInfo): Map[String, Any] =
    Map("rows" -> rows(opDir(i)))

  override def runLayers(prepareS: Double, med: String => Double) =
    Map("similarity.ensure_s" -> prepareS, "similarity.walk_s" -> med("op_s"),
      "similarity.store_mb" -> dirMb(s"$run/stores"))
}
