package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Time-partitioned table layout — the output side of the scale story
  * (Bucketed covers the join side). The reference's incremental loop
  * is fundamentally time-windowed: every run touches "rows modified
  * since the cutoff" (bz_etl.py:172 incremental_etl), and analytical
  * reads are as-of or range queries over `valid_from`. Laying the
  * version store out as `dt=YYYY-MM-DD/` hive partitions turns those
  * windows into PARTITION PRUNING: a day's incremental read lists one
  * directory instead of scanning 100 TB — the scan's PartitionFilters
  * carry the predicate and untouched partitions are never opened.
  * Dynamic partition overwrite keeps incremental re-runs idempotent:
  * rewriting a touched day replaces exactly that directory.
  */
object Partitioned {

  /** Write `df` hive-partitioned by the day of `tsMillisCol`.
    * Partition column `dt` is derived, data columns are untouched. */
  def writeByDay(df: DataFrame, tsMillisCol: String, path: String): Unit =
    df.withColumn("dt",
        date_format(timestamp_millis(col(tsMillisCol)), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      // replace exactly the partitions present in df, not the table:
      // the idempotent-incremental contract (re-running a touched day
      // rewrites that day's directory and nothing else)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt")
      .parquet(path)

  def read(s: SparkSession, path: String): DataFrame = s.read.parquet(path)

  /** Read with parquet schema MERGING: an incremental store's schema
    * evolves (the reference's Bugzilla field set grew for two
    * decades — new flags, new cf_* fields), so days written before a
    * column existed must surface it as nulls instead of failing or
    * silently dropping it (plain parquet reads take one footer's
    * schema). Costs a footer read per file at planning time — pair
    * with [[compactDays]] so that stays proportional to days, not
    * micro-batches. */
  def readEvolved(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  /** A day-window read: the `dt` predicate is a pure partition filter
    * — Spark prunes directories at planning time, opening no file
    * outside [fromDay, toDay]. */
  def readDays(s: SparkSession, path: String, fromDay: String,
      toDay: String): DataFrame =
    read(s, path).filter(col("dt") >= fromDay && col("dt") <= toDay)

  /** True when `df`'s executed plan pruned partitions: the scan's
    * PartitionFilters is non-empty (used by the spec/PlanAudit). */
  def partitionPruned(df: DataFrame): Boolean = {
    val ex = df.queryExecution.executedPlan.toString
    ex.contains("PartitionFilters: [") &&
      !ex.contains("PartitionFilters: []")
  }

  /** Compact the small files an incremental cadence accumulates: every
    * micro-run appends/rewrites its slice of a day, and after enough
    * runs a hot day holds thousands of KB-sized files — at 100 TB the
    * NameNode/listing and per-file open costs dominate reads long
    * before the bytes do. Compaction rewrites ONLY the named days
    * (dynamic partition overwrite — untouched days keep their files
    * byte-identical) down to `filesPerDay` files each, chosen as
    * ceil(day bytes / target file size) upstream. Rows survive
    * verbatim; the day's directory is replaced atomically by the same
    * idempotent contract as [[writeByDay]]. */
  def compactDays(s: SparkSession, path: String, days: Seq[String],
      filesPerDay: Int = 1): Unit = {
    // merged-schema read, NOT read(): in an evolved store (days written
    // before a column existed next to days written after) a plain read
    // takes one footer's schema — compacting an evolved day through it
    // would silently DROP the late-added column from the rewritten
    // files. The merged schema preserves every column; pre-column days
    // compact with nulls there, same as readEvolved serves them.
    val data = readEvolved(s, path).filter(col("dt").isin(days: _*))
    // repartition on (dt, deterministic row salt) so each rewritten
    // day lands as (at most) filesPerDay files — dt alone would put a
    // whole day in one task regardless of the target
    val slice = data
      .withColumn("_salt",
        pmod(hash(ArraySeq.unsafeWrapArray(data.columns.map(col)): _*),
          lit(filesPerDay)))
      .repartition(filesPerDay * days.size, col("dt"), col("_salt"))
      .drop("_salt")
    slice.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt")
      .parquet(path)
  }

  /** Parquet data files under one day's partition directory. */
  def dayFiles(path: String, day: String): Seq[java.nio.file.Path] = {
    val dir = java.nio.file.Paths.get(path, s"dt=$day")
    if (!java.nio.file.Files.exists(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
  }
}
