package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ANN-INDEX maintenance — the live twin of s8's adaptive IVF
  * coarse quantizer ([[Similarity.cellAssignOn]]): embeddings arrive as
  * CDC (`(seq, vec_id, embedding, label, op)`, deletes as `op = 'd'`),
  * and after every micro-batch the served cell table equals the batch
  * assignment over the live vector set — the index a streaming
  * similarity search reads instead of re-quantizing the corpus.
  *
  * The trick that makes the ADAPTIVE width maintainable: the stored
  * per-vector state is the full 8-bit hyperplane signature
  * ([[Similarity.subSig]]) — MASK-INDEPENDENT, computed once at ingest —
  * while the adaptive part (`sig & splitMask(n)`, the bit width that
  * grows with every corpus doubling past `CellN0`) applies at READ time
  * from the live count. A doubling crossing therefore re-cells every
  * vector without touching a single stored row; there is no re-quantize
  * backlog, which is exactly why the signature (not the cell id) is the
  * right thing to persist. In a bucketed production layout the cell id
  * IS the physical key, so a width change triggers a one-time re-bucket
  * (the `CorpusIndex` rebuild discipline) — the signature store is what
  * that rebuild reads, still never re-embedding anything.
  *
  * Replay-immunity comes from the store contract: merges are seq-gated
  * last-write-wins onto [[StreamApply.ParquetUpsertStore]]'s atomic
  * manifest-pointer commit, so a redelivered batch rewrites identical
  * rows and the served cells are unchanged (spec-proven, as is
  * stream ≡ batch at every ingest prefix and across the adaptive-width
  * crossing).
  *
  * At 100 TB: per-batch cost is one signature pass over the DELTA plus
  * the keyed merge; the count that drives the mask is maintained by the
  * store itself. Nothing corpus-sized moves per batch.
  */
object AnnStream {

  /** The maintained vector store: full signature + label + vector. */
  final class Store(spark: SparkSession, dir: String) {
    private[streaming] val vecs = new StreamApply.ParquetUpsertStore(
      spark, s"$dir/vecs", key = "vec_id", seq = "seq", opCol = "op",
      deleteOp = "d", payloadCols = Seq("label", "sig", "v"))

    /** The served ANN cell table: `(vec_id, v, label, subcell)` over the
      * live vectors, with the adaptive mask applied from the LIVE count —
      * column-identical to batch [[Similarity.cellAssignOn]].
      */
    def cellsView(): DataFrame = {
      val s = vecs.view()
      // Before the first merge the store's view is schema-empty; still
      // honor the documented (vec_id, v, label, subcell) contract so a
      // consumer selecting those columns works against an empty store.
      if (s.schema.isEmpty)
        spark.emptyDataFrame.select(
          lit(null).cast("bigint").as("vec_id"),
          lit(null).cast("array<double>").as("v"),
          lit(null).cast("string").as("label"),
          lit(null).cast("bigint").as("subcell"))
      else {
        val nv = s.agg(count(lit(1)).as("n_vecs"))
        s.crossJoin(broadcast(nv))
          .select(col("vec_id"), col("v"), col("label"),
            col("sig").bitwiseAND(Similarity.splitMask(col("n_vecs")))
              .as("subcell"))
      }
    }
  }

  /** One CDC micro-batch: signature the delta, merge by key. Public so
    * the spec can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, store: Store): Unit = {
    val v = transform(col("embedding"), x => x.cast("double"))
    store.vecs.merge(
      batch.select(col("vec_id"), col("seq"), col("op"), col("label"),
        when(col("op") =!= lit("d"), Similarity.subSig(v)).as("sig"),
        when(col("op") =!= lit("d"), v).as("v")),
      batchId)
  }

  /** foreachBatch writer over a
    * `(seq, vec_id, embedding, label, op)` CDC embedding stream.
    */
  def annWriter(cdc: DataFrame, store: Store,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(cdc, checkpoint)(applyBatch(_, _, store))
}
