package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Elasticsearch bulk-format sink — the reference's Load stage
  * (reference: bugzilla_etl/bz_etl.py:131 setup_es + output queues
  * feeding ES bulk indexing) re-expressed as a distributed file sink.
  *
  * Zero-egress container ⇒ no live cluster; the sink emits the exact
  * newline-delimited bulk wire format (action line + source line) that
  * an `_bulk` endpoint consumes, one file per partition, so loading is
  * `curl --data-binary @part-*.ndjson` or an es-hadoop swap-in. At
  * scale, each executor writes its own bulk file — no driver funnel.
  */
object EsSink {

  /** Write `df` as ES bulk ndjson. `idCol` must be a unique document
    * id (the reference uses `bug_id + "_" + modified_ts`). */
  def writeBulk(df: DataFrame, index: String, idCol: String,
      outDir: String): Unit = {
    val action = concat(
      lit(s"""{"index":{"_index":"$index","_id":""""),
      col(idCol).cast("string"), lit("\"}}"))
    val source =
      to_json(struct(ArraySeq.unsafeWrapArray(df.columns.map(col)): _*))
    df.select(concat(action, lit("\n"), source).as("value"))
      .write.mode(SaveMode.Overwrite).text(outDir)
  }

  /** Write DELETE actions in bulk wire format — the privacy-deletion
    * half of the Load stage (bz_etl.py:188 delete_record): one
    * `{"delete":{...}}` action line per row, no source line. Same
    * distributed file-per-partition shape as [[writeBulk]]. */
  def writeDeletes(df: DataFrame, index: String, idCol: String,
      outDir: String): Unit =
    df.select(concat(
        lit(s"""{"delete":{"_index":"$index","_id":""""),
        col(idCol).cast("string"), lit("\"}}")).as("value"))
      .write.mode(SaveMode.Overwrite).text(outDir)

  /** Read an ES bulk ndjson directory back into (_index, _id, doc)
    * rows with `doc` parsed against `schema` — the inverse of
    * [[writeBulk]] and the extraction half of [[graft.etl.Replicate]]
    * (the reference's replicate.py reads batches of docs from a
    * source ES cluster; here the "cluster" is the bulk file set).
    *
    * Pairs action and source lines by ADJACENCY within each file —
    * the bulk wire format's own contract (an action line is always
    * immediately followed by its source line) — so duplicate _id
    * values across indices, or a source doc whose first key happens to
    * be "index", cannot mispair or duplicate rows. Each file is read
    * whole (one row per part file) and line pairs recovered with array
    * ops in a single narrow stage: no join, no shuffle. Per-file
    * memory is bounded by one writer partition's output, the same
    * bound an ES `_bulk` request body already imposes. */
  def readBulk(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val files = spark.read.option("wholetext", "true").text(dir)
    files
      .select(filter(split(col("value"), "\n"), l => length(l) > 0).as("ls"))
      .filter(size(col("ls")) >= 2)
      .select(explode(transform(
        sequence(lit(0), (size(col("ls")) / 2).cast("int") - 1),
        i => struct(
          element_at(col("ls"), i * 2 + 1).as("action"),
          element_at(col("ls"), i * 2 + 2).as("source")))).as("p"))
      .select(
        get_json_object(col("p.action"), "$.index._index").as("_index"),
        get_json_object(col("p.action"), "$.index._id").as("_id"),
        from_json(col("p.source"), schema).as("doc"))
  }
}
