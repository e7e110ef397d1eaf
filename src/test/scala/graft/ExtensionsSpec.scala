package graft

import org.scalatest.funsuite.AnyFunSuite

/** The native expressions are usable from plain SQL once the
  * extensions are installed. */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTest.spark

  test("shingle_set + minhash_sig + simhash128 from SQL") {
    val row = spark.sql(
      """SELECT size(shingle_set('hello world', 5)) AS n_sh,
        |  size(minhash_sig(shingle_set('hello world', 5), 32)) AS n_sig,
        |  simhash128(array('hello', 'world')) AS sh""".stripMargin).head()
    assert(row.getInt(0) == 7)   // 11 chars -> 7 distinct 5-grams
    assert(row.getInt(1) == 32)
    val sh = row.getStruct(2)
    assert(sh.getLong(0) != 0L || sh.getLong(1) != 0L)
  }

  test("vector_mean from SQL aggregates grouped vectors") {
    spark.sql(
      """SELECT * FROM VALUES (1, array(1.0D, 3.0D)), (1, array(3.0D, 5.0D)),
        | (2, array(10.0D, 10.0D)) AS t(g, v)""".stripMargin)
      .createOrReplaceTempView("graft_vm")
    val rows = spark.sql(
      "SELECT g, vector_mean(v, 2) AS m FROM graft_vm GROUP BY g ORDER BY g")
      .collect()
    assert(rows(0).getAs[collection.Seq[Double]]("m") == Seq(2.0, 4.0))
    assert(rows(1).getAs[collection.Seq[Double]]("m") == Seq(10.0, 10.0))
  }

  test("vec_dot from SQL computes the float64 dot product") {
    val row = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |  vec_dot(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS f
        |""".stripMargin).head()
    assert(row.getDouble(0) == 32.0)
    assert(row.getDouble(1) == 3.0)
  }

  test("sig_agree from SQL counts equal slots") {
    val row = spark.sql(
      "SELECT sig_agree(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 8L)) AS a")
      .head()
    assert(row.getLong(0) == 2L)
  }

  test("identical input gives identical signatures across calls") {
    val a = spark.sql("SELECT minhash_sig(shingle_set('graft engine', 5), 16)").head().getSeq[Long](0)
    val b = spark.sql("SELECT minhash_sig(shingle_set('graft engine', 5), 16)").head().getSeq[Long](0)
    assert(a == b)
  }
}
