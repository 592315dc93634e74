package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained CLASSIFIER CALIBRATION — c24's ROC/AUC audit
  * kept current from a CDC DOCUMENT stream. A curation team watching a
  * learned quality filter in production doesn't re-score the corpus per
  * dashboard refresh: it maintains each live document's
  * `(score_micro, pass)` pair incrementally and re-derives the (bounded,
  * ≤ 8000-bin) histogram/ROC table from the maintained state on read.
  *
  * Per micro-batch of document change events
  * `(seq, doc_id, source, text, op)`:
  *
  *   1. last-write-wins WITHIN the batch per doc_id
  *      ([[StreamApply.latestPerDoc]]);
  *   2. each surviving upsert scores ONCE — c22's engine over the
  *      DELTA's token hashes ([[graft.ext.Prep.classifierScoresOn]] fed
  *      by [[graft.ext.Prep.textTokenHashes]] — the delta isn't in the
  *      durable token index yet, so tokenizing just the delta is the
  *      honest incremental cost) — and labels once
  *      ([[graft.ext.Prep.gopherPass]], the batch audit's own
  *      predicate);
  *   3. one keyed merge into a [[StreamApply.ParquetUpsertStore]] keyed
  *      on doc_id — updates REPLACE a document's pair (its old bin
  *      contribution retracts by construction, because the view reads
  *      only live rows), deletes drop it, and (key, seq) idempotence
  *      absorbs replays.
  *
  * The CALIBRATION TABLE is a read: [[Stores.calibrationView]] feeds the
  * maintained `(score_micro, pass)` relation through the SAME fold as
  * the batch query ([[graft.ext.Prep.calibrationOn]] — shared code, not
  * re-stated arithmetic), so stream ≡ batch is structural and
  * `CalibrationStreamSpec` proves it at every prefix, through updates,
  * deletes, and replayed batches — and against the real batch c24 on the
  * real table once the whole corpus has streamed in.
  *
  * Scale shape: per-batch work is score-the-delta + one keyed merge;
  * nothing rescans corpus text, and the read-side fold only ever
  * windows over the bounded bin frame.
  */
object CalibrationStream {

  final class Stores(spark: SparkSession, dir: String) {
    val store = new StreamApply.ParquetUpsertStore(spark, s"$dir/calib",
      "doc_id", "seq", "op", "d", Seq("score_micro", "pass"))

    /** The maintained per-live-document `(doc_id, score_micro, pass)`
      * relation — the batch audit's post-join frame.
      */
    def scoredView(): DataFrame = {
      val v = store.view()
      if (v.schema.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], scoredSchema)
      else v.select(col("doc_id"), col("score_micro"), col("pass"))
    }

    /** c24 over the live corpus as maintained — same fold, same
      * arithmetic, zero re-scoring.
      */
    def calibrationView(): DataFrame =
      graft.ext.Prep.calibrationOn(scoredView())

    /** c25's headline AUC over the live corpus — the same one-row
      * Σu2/(2·P·N) scalar the batch key serves, at every prefix.
      */
    def aucView(): DataFrame =
      graft.ext.Prep.calibrationAucOn(scoredView())
  }

  /** Schema for the not-yet-committed store's empty serving path (the
    * `PostingsStream.postingsSchema` discipline).
    */
  val scoredSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("score_micro", LongType), StructField("pass", BooleanType)))
  }

  /** One CDC document micro-batch `(seq, doc_id, source, text, op)`
    * through the merge. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, s: Stores): Unit = {
    // A null-text upsert is coalesced to "" before scoring so the
    // stored row carries a real (score_micro, pass) instead of nulls
    // that calibrationOn would bin under a null bin the batch c24 can
    // never produce.
    val latest = StreamApply.latestPerDoc(
      batch.withColumn("text", coalesce(col("text"), lit(""))), "source", "text")
    val upserts = latest.filter(col("op") =!= "d")
    val scores = graft.ext.Prep.classifierScoresOn(
        graft.ext.Prep.textTokenHashes(upserts))
      .select(col("doc_id"), col("score_micro"))
    val labels = upserts.select(col("doc_id"),
      graft.ext.Prep.gopherPass(col("text")).as("pass"))
    val rows = latest
      .join(scores, Seq("doc_id"), "left")
      .join(labels, Seq("doc_id"), "left")
      .select("doc_id", "seq", "op", "score_micro", "pass")
    s.store.merge(rows, batchId)
  }
}
