package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Skew-resistant two-phase aggregation.
  *
  * At 100 TB a handful of hot keys (the reference analogue: one bug
  * with millions of activity rows) can stall a plain groupBy. Salting
  * splits each key across `salts` shuffle partitions, partially
  * aggregates, then finishes with a cheap second aggregation over
  * `salts` rows per key. Only algebraic aggregates are expressible —
  * the typed constructors below make that a compile-time property —
  * and the result is provably identical to the unsalted plan, which
  * the spec asserts.
  */
object Salting {

  sealed trait SaltedAggSpec { def name: String }
  final case class SaltedSum(name: String, value: Column) extends SaltedAggSpec
  final case class SaltedCount(name: String) extends SaltedAggSpec
  final case class SaltedMin(name: String, value: Column) extends SaltedAggSpec
  final case class SaltedMax(name: String, value: Column) extends SaltedAggSpec

  def saltedAgg(df: DataFrame, keys: Seq[String], salts: Int,
      aggs: SaltedAggSpec*): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    // Salt derived from (input partition id, row content), not
    // monotonically_increasing_id: a nondeterministic salt can
    // re-assign rows to different shards between stage attempts
    // (SPARK-23207-class retry bug), double-counting or dropping rows
    // in the phase-1 aggregate. Partition ids are deterministic across
    // stage retries (the scan's partitioning is fixed), and mixing
    // them in spreads FULLY IDENTICAL rows — the canonical skew case,
    // a hot key duplicated millions of times — across shards, where a
    // pure content hash would funnel them all into one shard and
    // defeat the salting entirely.
    val salted = df.withColumn("__salt",
      pmod(hash(spark_partition_id() +:
        ArraySeq.unsafeWrapArray(df.columns.map(col)): _*), lit(salts)))
    val phase1 = aggs.map {
      case SaltedSum(n, c) => sum(c).as(n)
      case SaltedCount(n) => count(lit(1)).as(n)
      case SaltedMin(n, c) => min(c).as(n)
      case SaltedMax(n, c) => max(c).as(n)
    }
    val partial = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(phase1.head, phase1.tail: _*)
    // phase 2: shards re-combine — sums/counts add, min/max fold
    val phase2 = aggs.map {
      case SaltedSum(n, _) => sum(col(n)).as(n)
      case SaltedCount(n) => sum(col(n)).as(n)
      case SaltedMin(n, _) => min(col(n)).as(n)
      case SaltedMax(n, _) => max(col(n)).as(n)
    }
    partial.groupBy(keys.map(col): _*)
      .agg(phase2.head, phase2.tail: _*)
  }
}
