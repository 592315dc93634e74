package graft.streaming

import graft.ext.Prep
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming chunk-grain deduplication — the ingest-time twin of batch
  * d22 ([[Prep.chunksOf]] fingerprints + first-occurrence-wins). A
  * document stream is screened against every 32-token chunk EVER
  * INGESTED at per-batch cost that follows the batch size:
  *
  *   - the persisted chunk-OWNER INDEX (one row per distinct
  *     `(chunk_fp, n_tokens)`: the first `(doc_id, chunk_id)` to carry
  *     it) lives in a [[StreamApply.ParquetUpsertStore]];
  *   - each micro-batch chunks only its own documents, left-joins its
  *     fingerprints against the index, and marks a chunk retained iff
  *     it has no owner yet and is the batch-internal first occurrence
  *     (`(doc_id, chunk_id)` order — matching d22's corpus order for
  *     an id-ordered CDC feed), or the recorded owner IS itself (the
  *     replay case);
  *   - per-document retention stats land in a doc-keyed store FIRST,
  *     then the new owners merge into the index. A crash between the
  *     two commits replays the batch against an index that does not
  *     yet contain it, re-deriving byte-identical stats (absorbed by
  *     key); the reverse order would flip every replayed chunk to
  *     "duplicate of itself". A FULL replay after both commits is
  *     absorbed by the owner-is-self rule.
  *
  * At 100 TB the index is a fingerprint-bucketed table and the merge a
  * Delta/Iceberg MERGE; per-ingest cost is |batch chunks| plus one
  * fingerprint-keyed join against the (far smaller than the corpus)
  * distinct-chunk index — the same scaling argument as d13's.
  */
object ChunkDedupStream {

  final class Stores(spark: SparkSession, dir: String) {
    val index = new StreamApply.ParquetUpsertStore(spark, s"$dir/index",
      "fp_key", "seq", "op", "d",
      Seq("chunk_fp", "n_tokens", "doc_id", "chunk_id"))
    val stats = new StreamApply.ParquetUpsertStore(spark, s"$dir/stats",
      "doc_id", "seq", "op", "d",
      Seq("n_chunks", "n_retained", "tok_total", "tok_retained"))

    /** Per-document retention rows so far. */
    def statsView(): DataFrame = {
      val v = stats.view()
      if (v.schema.isEmpty) v
      else v.select("doc_id", "n_chunks", "n_retained", "tok_total",
        "tok_retained")
    }

    /** The chunk-owner index: first `(doc_id, chunk_id)` per
      * fingerprint.
      */
    def indexView(): DataFrame = {
      val v = index.view()
      if (v.schema.isEmpty) v
      else v.select("chunk_fp", "n_tokens", "doc_id", "chunk_id")
    }
  }

  /** Chunk one `(doc_id, text)` micro-batch and mark each chunk
    * retained/duplicate against the current owner index (plus the batch
    * itself). Materialized — consumed by both commits.
    */
  private[streaming] def screenBatch(batch: DataFrame,
      stores: Stores): DataFrame = {
    // NOT checkpointed: `ch` has exactly one consumer (the owner join
    // below), and `marked`'s checkpoint materializes the whole chain in
    // one pass — an eager checkpoint here added a synchronous job plus a
    // block-store write/read of every chunk row per batch (removing it
    // cut the single-batch 20k-doc ingest from ~3.0 s to ~2.0 s and the
    // per-batch fixed cost from ~1.4 s to ~1.2 s in the nb-sweep; see
    // the floor analysis at the chunk dial in `Bench`)
    val ch = Prep.chunksOf(batch.select("doc_id", "text"))
    val idx = stores.indexView()
    val owned =
      if (idx.schema.isEmpty)
        ch.withColumn("own_doc", lit(null).cast("long"))
          .withColumn("own_chunk", lit(null).cast("long"))
      else ch.join(
        idx.select(col("chunk_fp"), col("n_tokens"),
          col("doc_id").as("own_doc"), col("chunk_id").as("own_chunk")),
        Seq("chunk_fp", "n_tokens"), "left")
    val w = Window.partitionBy("chunk_fp", "n_tokens")
      .orderBy("doc_id", "chunk_id")
    owned
      .withColumn("rn", row_number().over(w))
      .withColumn("retained",
        when(col("own_doc").isNotNull, // replay: the owner is this chunk
          col("own_doc") === col("doc_id") &&
            col("own_chunk") === col("chunk_id"))
          .otherwise(col("rn") === 1))
      .localCheckpoint() // consumed by the stats AND the index merge
  }

  /** Commit per-document retention stats — FIRST of the two commits. */
  private[streaming] def commitStats(marked: DataFrame, batchId: Long,
      stores: Stores): Unit = {
    val retTok = sum(when(col("retained"), col("n_tokens")).otherwise(0L))
    val stats = marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("retained"), 1L).otherwise(0L)).as("n_retained"),
        sum(col("n_tokens")).as("tok_total"), retTok.as("tok_retained"))
    stores.stats.merge(stats.select(col("doc_id"),
      lit(batchId).as("seq"), lit("i").as("op"),
      col("n_chunks"), col("n_retained"), col("tok_total"),
      col("tok_retained")), batchId)
  }

  /** Commit the batch's newly-owned fingerprints — the LAST step of the
    * chain (see the ordering proof in the object Scaladoc).
    */
  private[streaming] def commitIndex(marked: DataFrame, batchId: Long,
      stores: Stores): Unit =
    stores.index.merge(marked.filter(col("retained")).select(
      concat_ws("_", col("chunk_fp"), col("n_tokens")).as("fp_key"),
      lit(batchId).as("seq"), lit("i").as("op"),
      col("chunk_fp"), col("n_tokens"), col("doc_id"), col("chunk_id")),
      batchId)

  /** One micro-batch of `(doc_id, text)` documents through the ingest
    * path. Public so tests can drive replay and crash windows directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, stores: Stores): Unit = {
    val marked = screenBatch(batch, stores)
    commitStats(marked, batchId, stores)
    commitIndex(marked, batchId, stores)
  }

  /** foreachBatch writer: chunk-dedup a `(doc_id, text)` document stream
    * against the full ingest history.
    */
  def chunkDedupWriter(docsStream: DataFrame, stores: Stores,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(docsStream, checkpoint)(applyBatch(_, _, stores))
}
