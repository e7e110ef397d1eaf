package graft

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the native hash expressions run INSIDE whole-stage codegen:
  * with `spark.sql.codegen.fallback=false` a broken `doGenCode` fails
  * the query instead of silently dropping to interpreted eval, and the
  * codegen results must equal the interpreted (`eval`) results.
  */
class CodegenSpec extends AnyFunSuite {
  import SparkTest._

  private def withStrictCodegen[A](f: org.apache.spark.sql.SparkSession => A): A =
    GraftSession.scoped(spark, "spark.sql.codegen.fallback" -> "false")(f)

  test("minhash + simhash codegen paths compile and match interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "",
      "aaaa aaaa aaaa"
    )
    val k = 16
    val rows = withStrictCodegen { c =>
      c.createDataFrame(docs.map(Tuple1(_))).toDF("text")
        .select(
          T.minhashSignature(T.shingleSet(col("text"), 5), k).as("mh"),
          T.simhash(T.tokenSet(col("text"))).as("sh"))
        .collect()
    }
    docs.zip(rows).foreach { case (text, row) =>
      val shArr = {
        val s = if (text.length <= 5) Seq(text)
        else text.sliding(5).toSeq.distinct
        new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
      }
      val tokArr = new GenericArrayData(
        text.split(" ").distinct.map(UTF8String.fromString).toArray[Any])
      val mhInterp = graft.expressions
        .MinHashSig(Literal(shArr, ArrayType(StringType)), k)
        .eval(null).asInstanceOf[GenericArrayData].toLongArray().toSeq
      val shInterp = graft.expressions
        .SimHash128(Literal(tokArr, ArrayType(StringType)))
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert(row.getSeq[Long](0) == mhInterp, s"minhash mismatch for '$text'")
      assert(row.getStruct(1).getLong(0) == shInterp.getLong(0) &&
        row.getStruct(1).getLong(1) == shInterp.getLong(1),
        s"simhash mismatch for '$text'")
    }
  }

  test("shingle_set handles non-ASCII input by characters, like the columnar form") {
    val docs = Seq("héllo wörld ünïcode", "日本語のテキストです", "mixed 漢字 and ascii")
    val rows = withStrictCodegen { c =>
      c.createDataFrame(docs.map(Tuple1(_))).toDF("text")
        .select(sort_array(T.shingleSet(col("text"), 5)).as("native"),
          sort_array(array_distinct(T.shingles(col("text"), 5))).as("columnar"))
        .collect()
    }
    docs.zip(rows).foreach { case (text, r) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"shingle mismatch for '$text'")
    }
  }

  test("native vec_dot equals the HOF formulation bit-for-bit") {
    import graft.functions.{VectorFunctions => V}
    val e = Tables.embeddings(spark, sf).limit(200)
    val rows = withStrictCodegen { c =>
      GraftSession.on(c, e).select(
        V.dot(V.asDouble(col("embedding")), V.asDouble(col("embedding"))).as("native"),
        V.dotHof(V.asDouble(col("embedding")), V.asDouble(col("embedding"))).as("hof"),
        V.dot(col("embedding"), col("embedding")).as("native_float"))
        .collect()
    }
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // identical accumulation order
      assert(r.getDouble(2) == r.getDouble(1)) // in-loop float->double cast
    }
    assert(rows.nonEmpty)
  }

  test("fused minhash_text equals minhash_sig(shingle_set) bit-for-bit") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaa aaaa aaaa", // heavy duplicate windows (multiset = set minima)
      "héllo wörld ünïcode", // multi-byte char boundaries
      "日本語のテキストです",
      "tiny",
      "")
    val rows = withStrictCodegen { c =>
      c.createDataFrame(docs.map(Tuple1(_))).toDF("text")
        .select(
          T.minhashSignatureText(col("text"), 5, 16).as("fused"),
          T.minhashSignature(T.shingleSet(col("text"), 5), 16).as("staged"))
        .collect()
    }
    docs.zip(rows).foreach { case (text, r) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"fused/staged mismatch for '$text'")
    }
  }

  test("fused simhash_text equals simhash128(array_distinct(split))") {
    val docs = Seq(
      "the quick brown fox the quick brown fox", // duplicates must dedup
      "a  b", // consecutive separators -> empty token, like split
      "trailing ", // trailing separator -> trailing empty token
      "héllo wörld héllo", // multi-byte
      "") // empty string -> one empty token
    val rows = withStrictCodegen { c =>
      c.createDataFrame(docs.map(Tuple1(_))).toDF("text")
        .select(
          T.simhashText(col("text")).as("fused"),
          T.simhash(T.tokenSet(col("text"))).as("staged"))
        .collect()
    }
    docs.zip(rows).foreach { case (text, r) =>
      assert(r.getStruct(0).getLong(0) == r.getStruct(1).getLong(0) &&
        r.getStruct(0).getLong(1) == r.getStruct(1).getLong(1),
        s"fused/staged simhash mismatch for '$text'")
    }
    // and on the corpus itself
    val corpus = withStrictCodegen { c =>
      Tables.documents(c, sf)
        .select(T.simhashText(col("text")).as("fused"),
          T.simhash(T.tokenSet(col("text"))).as("staged"))
        .collect()
    }
    corpus.foreach { r =>
      assert(r.getStruct(0).getLong(0) == r.getStruct(1).getLong(0) &&
        r.getStruct(0).getLong(1) == r.getStruct(1).getLong(1))
    }
    assert(corpus.nonEmpty)
  }

  test("native vec_l2 equals the HOF fold bit-for-bit") {
    import graft.functions.{VectorFunctions => V}
    val e = Tables.embeddings(spark, sf).limit(200)
      .select(V.asDouble(col("embedding")).as("a"))
      .withColumn("b", transform(col("a"), x => x * 1.5 - 0.25))
    val rows = withStrictCodegen { c =>
      GraftSession.on(c, e).select(
        V.l2(col("a"), col("b")).as("native"),
        V.l2Hof(col("a"), col("b")).as("hof"),
        V.l2(col("a"), col("a")).as("self")).collect()
    }
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // identical accumulation
      assert(r.getDouble(2) == 0.0)
    }
    assert(rows.nonEmpty)
  }

  test("native sig_agree equals the HOF jaccard estimate") {
    import graft.functions.{TextFunctions => T}
    val sigs = Tables.documents(spark, sf).limit(100)
      .select(T.minhashSignature(T.shingleSet(col("text"), 5), 16).as("s1"),
        T.minhashSignature(T.shingleSet(concat(col("text"), lit(" x")), 5), 16)
          .as("s2"))
    val rows = withStrictCodegen { c =>
      GraftSession.on(c, sigs).select(
        T.minhashJaccardEst(col("s1"), col("s2"), 16).as("native"),
        T.minhashJaccardEstHof(col("s1"), col("s2"), 16).as("hof"),
        T.minhashJaccardEst(col("s1"), col("s1"), 16).as("self"))
        .collect()
    }
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == 1.0)
    }
    assert(rows.nonEmpty)
  }

  test("vec_dot and sig_agree match the HOF semantics on null ELEMENTS") {
    import graft.functions.{TextFunctions => T, VectorFunctions => V}
    val df = spark.sql(
      """SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) AS a,
        |  array(1.0D, 2.0D, 3.0D) AS b,
        |  array(1L, CAST(NULL AS BIGINT), 3L) AS s1,
        |  array(1L, CAST(NULL AS BIGINT), 9L) AS s2""".stripMargin)
    val r = withStrictCodegen { c =>
      GraftSession.on(c, df).select(
        V.dot(col("a"), col("b")).as("native"),
        V.dotHof(col("a"), col("b")).as("hof"),
        T.minhashJaccardEst(col("s1"), col("s2"), 3).as("agree_native"),
        T.minhashJaccardEstHof(col("s1"), col("s2"), 3).as("agree_hof"))
        .head()
    }
    // a null element poisons the dot in both formulations
    assert(r.isNullAt(0) && r.isNullAt(1))
    // a null slot counts as disagreement in both formulations
    assert(r.getDouble(2) == r.getDouble(3))
    assert(r.getDouble(2) == 1.0 / 3.0)
  }

  test("driver-precomputed planes equal the SQL xxhash64 formulation") {
    import graft.functions.{VectorFunctions => V}
    for (j <- Seq(0, 3, 1000, 1095)) {
      val sql = spark.range(1).select(V.plane(j, 64).as("p"))
        .collect().head.getSeq[Double](0)
      assert(sql == V.planeValues(j, 64).toSeq, s"plane $j mismatch")
    }
  }

  test("native sorted_intersect_count equals size(array_intersect) " +
      "on sorted distinct arrays") {
    import graft.functions.{TextFunctions => T}
    import spark.implicits._
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    val pairs = docs.select(col("doc_id").as("i"), col("ts").as("a"))
      .crossJoin(docs.select(col("doc_id").as("j"), col("ts").as("b")))
      .filter(col("i") < col("j")).limit(2000)
    val rows = pairs.select(
      T.sortedIntersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // edges: empty sides, disjoint, identical
    val edge = Seq(
      (Seq.empty[String], Seq("a")),
      (Seq("a", "b"), Seq.empty[String]),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("a", "b", "c"))).toDF("a", "b")
    val er = edge.select(
      T.sortedIntersectCount(col("a"), col("b")).as("n")).collect()
    assert(er.map(_.getInt(0)).toSeq == Seq(0, 0, 0, 3))
  }

  test("native bpe_merge_apply equals the HOF fold on the corpus " +
      "and on chain/edge fixtures") {
    import graft.functions.{TextFunctions => T}
    import spark.implicits._
    // corpus: merge the actual round-1 winning pair everywhere
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(T.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(Seq(("value", "table")).toDF("l", "r")))
    val rows = docs.select(
      T.bpeMergeApply(col("toks"), col("l"), col("r")).as("native"),
      graft.text.TextAnalysis.bpeMergeFoldHof(
        col("toks"), col("l"), col("r")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // edge shapes: overlap chain (a a a), pair at ends, no match,
    // empty and single-token arrays
    val edge = Seq(
      (Seq("a", "a", "a"), "a", "a"),
      (Seq("a", "b", "a", "b"), "a", "b"),
      (Seq("x"), "a", "b"),
      (Seq.empty[String], "a", "b"),
      (Seq("b", "a"), "a", "b"))
      .toDF("toks", "l", "r")
    val er = edge.select(
      T.bpeMergeApply(col("toks"), col("l"), col("r")).as("native"),
      graft.text.TextAnalysis.bpeMergeFoldHof(
        col("toks"), col("l"), col("r")).as("hof")).collect()
    er.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // the canonical non-overlap check: [a,a,a] + (a,a) -> [aa, a]
    assert(er.head.getSeq[String](0) == Seq("aa", "a"))
  }

  test("native bpe_encode_all equals the chained per-rule replay on " +
      "mined rules and pins sequential-apply semantics") {
    import graft.functions.{TextFunctions => T}
    import spark.implicits._
    // the real t17 rule table: 16 rules mined on the sample
    val rules = graft.text.TextAnalysis.mineRulesSample(
      Tables.documents(spark, sf).filter(col("text").isNotNull), 16, 10)
    assert(rules.nonEmpty, "sample mining produced no rules")
    val ruleArr = array(rules.map { case (l, r) =>
      struct(lit(l).as("l"), lit(r).as("r")) }: _*)
    // sequential replay: one bpeMergeApply projection per rule, in
    // rank order — the per-rule form t16 uses
    val chained = rules.foldLeft(col("toks")) { case (c, (l, r)) =>
      T.bpeMergeApply(c, lit(l), lit(r)) }
    val rows = withStrictCodegen { c =>
      Tables.documents(c, sf).filter(col("text").isNotNull)
        .select(T.tokens(col("text")).as("toks"))
        .select(T.bpeEncodeAll(col("toks"), ruleArr).as("one"),
          chained.as("replay"))
        .collect()
    }
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // semantics pinned on fixtures: (1) a later rule creating an
    // EARLIER rule's pair is NOT revisited (sequential replay, the
    // valid-mined-table case where HF priority-merge coincides is
    // rule order respecting creation order); (2) rank order applies
    // low-rank first; (3) merged tokens re-merge under later rules;
    // (4) empty doc
    val edge = Seq(
      (Seq("a", "b", "c"), Seq(("ab", "c"), ("a", "b"))),
      (Seq("a", "b", "c"), Seq(("a", "b"), ("ab", "c"))),
      (Seq("a", "a", "a", "a"), Seq(("a", "a"), ("aa", "aa"))),
      (Seq.empty[String], Seq(("a", "b"))))
      .toDF("toks", "rules")
    val er = edge
      .select(T.bpeEncodeAll(col("toks"), col("rules")).as("enc"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(er == Seq(Seq("ab", "c"), Seq("abc"), Seq("aaaa"), Seq()))
  }

  test("native struct_field_sum equals the HOF fold bit-for-bit") {
    import spark.implicits._
    import graft.functions.{VectorFunctions => V}
    // t11's real shape: per-doc term-sorted (term, wll) structs
    val parts = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("w"))
      .withColumn("w", log(col("w") + 1.5))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("term"), col("w"))))
        .as("parts"))
    val rows = parts.select(
      V.structFieldSum(col("parts"), "w").as("native"),
      V.structFieldSumHof(col("parts"), "w").as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null field poisons the sum, like the HOF
    val withNull = Seq((Seq(("a", Some(1.0)), ("b", None)))).toDF("parts")
      .select(V.structFieldSum(col("parts"),
        "_2").cast("string").as("native"))
      .collect().head
    assert(withNull.isNullAt(0))
  }
}
