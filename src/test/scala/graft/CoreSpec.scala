package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every spec's session: the production profile at four task slots.
  * Other settings come only from [[GraftSession.scoped]]. */
object SparkTest {
  lazy val spark: SparkSession = GraftSession.local("4")
  /** Overrides that surface the shuffle-path plan a 100 TB input runs. */
  val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
  val sf: String = "/root/testdata/sf0.001"
}

/** Every SURVEY §2 query runs and returns a sane result on sf0.001. */
class CoreSpec extends AnyFunSuite {
  import SparkTest._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes") {
    // may be empty at sf0.001 — m6's stub signatures pair only
    // identical payloads with ≥ 2 sampled frames, and the small
    // corpora hold none (sf0.1 has 6 pairs; PipelineSpec pins the
    // brute-force equivalence there)
    val empties =
      Set("q8_anti_join", "h3_incremental_delta", "m6_frame_dedup")
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sf).count()
      assert(empties.contains(name) || n > 0, s"$name returned 0 rows")
    }
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without queries: $extra")
  }

  test("h1 snapshot intervals chain per entity") {
    val rows = operators.History.h1SnapshotHistory(spark, sf)
      .select("user_id", "valid_from", "valid_to", "version")
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getLong(3))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(2) == b.getLong(1),
            "valid_to must equal next version's valid_from")
        case _ =>
      }
      assert(sorted.last.getLong(2) == operators.History.MaxTimestamp)
    }
  }

  test("h11 session numbers are monotone and gap-consistent") {
    val rows = operators.History.h11Sessionize(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getLong(2))
      assert(sorted.head.getLong(3) == 1)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gap = b.getLong(2) - a.getLong(2)
          val inc = b.getLong(3) - a.getLong(3)
          assert(inc == (if (gap > 1800000) 1 else 0))
        case _ =>
      }
    }
  }

  test("q5 topk is ordered") {
    val tp = operators.Relational.q5TopK(spark, sf)
      .select("totalprice").collect().map(_.getDouble(0))
    assert(tp.sameElements(tp.sorted(Ordering[Double].reverse)))
    assert(tp.length == 10)
  }
}
