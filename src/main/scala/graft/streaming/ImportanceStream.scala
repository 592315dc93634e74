package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming IMPORTANCE-MODEL maintenance — c19's DSIR-style word model
  * and per-document resampling scores kept current from a CDC DOCUMENT
  * stream. A curation service doesn't re-tokenize the corpus every time
  * the target-vs-raw model is consulted: it maintains the per-document
  * word counts incrementally and re-derives the (vocabulary-sized) model
  * and the (document-sized) scores from the maintained state.
  *
  * Per micro-batch of document CHANGE events
  * `(seq, doc_id, source, text, op)`:
  *
  *   1. last-write-wins WITHIN the batch per doc_id
  *      ([[StreamApply.latestPerDoc]]);
  *   2. each surviving upsert tokenizes ONCE into its word counts,
  *      carried as one `terms: array<struct<term, tf>>` row plus the
  *      `source` slice tag (delete survivors carry neither);
  *   3. one keyed merge into a [[StreamApply.ParquetUpsertStore]] keyed
  *      on doc_id — updates replace a document's counts atomically,
  *      deletes drop them, and (key, seq) idempotence absorbs replays.
  *
  * The SCORES are a read: [[Stores.scoreView]] feeds the maintained
  * `(doc_id, source, w, c)` relation through the SAME scoring engine as
  * the batch query ([[graft.ext.Prep.importanceOn]] — shared code, not
  * re-stated arithmetic), so stream ≡ batch is structural and
  * `ImportanceStreamSpec` proves it at every prefix, through updates,
  * deletes, and replayed batches.
  *
  * Scale shape: per-batch work is tokenize-the-delta + one keyed merge;
  * nothing rescans corpus text. Model refresh cost is one aggregate over
  * the stored counts — the production cadence is "merge per batch, score
  * on demand", exactly this split.
  */
object ImportanceStream {

  final class Stores(spark: SparkSession, dir: String) {
    val store = new StreamApply.ParquetUpsertStore(spark, s"$dir/docwords",
      "doc_id", "seq", "op", "d", Seq("source", "terms"))

    /** The maintained `(doc_id, source, w, c)` word-count relation over
      * live documents — the batch query's post-tokenize frame.
      */
    def docWordView(): DataFrame = {
      val v = store.view()
      if (v.schema.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], docWordSchema)
      else v.select(col("doc_id"), col("source"), explode(col("terms")).as("t"))
        .select(col("doc_id"), col("source"),
          col("t.term").as("w"), col("t.tf").as("c"))
    }

    /** Live `(doc_id, source)` document base (deletes filtered). */
    def docsView(): DataFrame = {
      val v = store.view()
      if (v.schema.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], docsSchema)
      else v.select(col("doc_id"), col("source"))
    }

    /** c19 over the live corpus as maintained — same engine, same
      * arithmetic, zero re-tokenization.
      */
    def scoreView(): DataFrame =
      graft.ext.Prep.importanceOn(docWordView(), docsView())
  }

  /** Schemas for the not-yet-committed store's empty serving paths —
    * shared constants in the `PostingsStream.postingsSchema` discipline.
    */
  val docWordSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("w", StringType),
      StructField("c", LongType)))
  }
  val docsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType)))
  }

  /** One CDC document micro-batch `(seq, doc_id, source, text, op)`
    * through the merge. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, s: Stores): Unit = {
    s.store.merge(StreamApply.latestWithTerms(batch, "source"), batchId)
  }

  /** foreachBatch writer: maintain the importance model's state over a
    * CDC document stream.
    */
  def importanceWriter(docsStream: DataFrame, stores: Stores,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(docsStream, checkpoint)(applyBatch(_, _, stores))
}
