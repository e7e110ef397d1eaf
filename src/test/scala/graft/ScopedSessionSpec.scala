package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.scoped]] gives a block its own settings on a clone
  * and never writes to the caller's session. */
class ScopedSessionSpec extends AnyFunSuite {
  import SparkTest._

  test("overrides apply in the clone only; a checkpoint made there " +
      "moves back to the caller with identical rows") {
    val parts = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(parts)
    val df = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val back = GraftSession.scoped(spark,
        "spark.sql.adaptive.enabled" -> "false", parts -> "3") { c =>
      assert(c.conf.get(parts) == "3" && spark.conf.get(parts) == before)
      assert(SQLConf.get.numShufflePartitions == 3) // the active session
      val cp = GraftSession.on(c, df).localCheckpoint(true)
      assert(cp.sparkSession eq c)
      GraftSession.on(spark, cp)
    }
    assert(spark.conf.get(parts) == before && (back.sparkSession eq spark))
    assert(back.rdd.getNumPartitions == 3, "checkpoint ignored the scope")
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("native functions and temp views resolve in the clone; Tables " +
      "refuses a session without the builder's parquet settings") {
    spark.range(3).createOrReplaceTempView("graft_scoped_view")
    GraftSession.scoped(spark,
        "spark.sql.legacy.parquet.nanosAsLong" -> "false") { c =>
      val r = c.sql("SELECT size(minhash_sig(shingle_set('hello world', " +
        "5), 16)), (SELECT count(*) FROM graft_scoped_view)").head()
      assert(r.getInt(0) == 16 && r.getLong(1) == 3L)
      intercept[IllegalArgumentException](Tables.events(c, sf))
    }
  }

  test("a walk and a star fold on the shared session never switch its " +
      "AQE off for a concurrent reader, and return the sequential rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def run() = Seq("s16_hnsw", "d10_cc_stars").map(n => SparkEntry
      .queries(n)(spark, sf).collect().map(_.toString).toSeq.sorted)
    val sequential = run()
    assert(sequential.forall(_.nonEmpty))
    val concurrent = Future(run())
    val seen = scala.collection.mutable.Set[String]()
    while (!concurrent.isCompleted) {
      seen += spark.conf.get("spark.sql.adaptive.enabled")
      Thread.sleep(5)
    }
    assert(Await.result(concurrent, 1.minute) == sequential)
    assert(seen == Set("true"), s"AQE read as $seen during the run")
  }
}
