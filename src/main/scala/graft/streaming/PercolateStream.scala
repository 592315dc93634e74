package graft.streaming

import graft.ext.Portable.tokens
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming PERCOLATION — saved-search alerting over the CDC document
  * stream: every registered query (x30's [[graft.ext.Search.savedSearches]])
  * is matched against each arriving document VERSION, and matches append
  * to an alert log — OpenSearch's percolator as a streaming job, the
  * "tell me when a document matching X arrives" primitive.
  *
  * Semantics (the percolator's, not the store's): alerts are FACTS about
  * document versions at ingest time — an update that matches re-alerts
  * (it is a new matching version), an update that stops matching emits
  * nothing (alerts are not retracted — the alert already happened), and
  * deletes never alert. Within a batch the last write wins first (the
  * upsert reduction), so a superseded in-batch version never alerts.
  *
  * Per micro-batch: LWW per doc_id → tokenize the upsert survivors into
  * delta postings → the SAME conjunctive-match engine as batch x30
  * ([[graft.ext.Search.percolateOn]] — shared code, so alert parity with
  * the batch definition is structural) → append one parquet file per
  * batch id. Replays OVERWRITE their own batch directory, so
  * at-least-once delivery cannot duplicate alerts.
  *
  * Scale: per-batch cost is tokenize-the-delta + a term-keyed join
  * against the broadcast query registry; the alert log is append-only
  * and never rewritten.
  */
object PercolateStream {

  val alertSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("batch_id", LongType),
      StructField("seq", LongType), StructField("query_id", IntegerType),
      StructField("doc_id", LongType), StructField("n_terms", LongType)))
  }

  final class Alerts(spark: SparkSession, dir: String) {
    private[streaming] val path = s"$dir/alerts"

    /** The accumulated alert log (empty frame with the real schema when
      * nothing has alerted yet).
      */
    def view(): DataFrame = {
      val d = new java.io.File(path)
      if (!d.isDirectory || d.listFiles() == null || d.listFiles().isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], alertSchema)
      else spark.read.schema(alertSchema)
        .option("recursiveFileLookup", "true").parquet(path)
    }
  }

  /** One CDC document micro-batch `(seq, doc_id, text, op)` through the
    * percolator. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, a: Alerts,
      queries: DataFrame): Unit = {
    val latest = batch
      .groupBy("doc_id")
      .agg(max(struct(col("seq"), col("op"), col("text"))).as("w"))
      .select(col("doc_id"), col("w.seq").as("seq"), col("w.op").as("op"),
        col("w.text").as("text"))
    val deltaTf = latest.filter(col("op") =!= "d")
      .select(col("doc_id"), col("seq"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "seq", "term").agg(count(lit(1)).as("tf"))
    val alerts = graft.ext.Search.percolateOn(
      deltaTf.select("doc_id", "term", "tf"), queries)
      .join(deltaTf.select("doc_id", "seq").distinct(), Seq("doc_id"))
      .select(lit(batchId).as("batch_id"), col("seq"),
        col("query_id"), col("doc_id"), col("n_terms"))
    // one directory per batch id, overwritten on replay — idempotent
    // under at-least-once delivery with no dedup state
    alerts.coalesce(1).write.mode("overwrite")
      .parquet(s"${a.path}/b$batchId")
  }

  /** foreachBatch writer: percolate the CDC document stream against the
    * registered saved searches.
    */
  def percolateWriter(docsStream: DataFrame, a: Alerts, queries: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(docsStream, checkpoint)(applyBatch(_, _, a, queries))
}
