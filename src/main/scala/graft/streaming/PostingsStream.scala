package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming SEARCH-INDEX maintenance — the term-frequency postings
  * (`CorpusIndex`'s `term_freq`, the on-disk index under x10 TF-IDF, x12
  * match search, BM25, facets) kept current from a CDC DOCUMENT stream:
  * this is the reference pipeline's actual job (a consumer follows the
  * change stream and maintains the search index) re-expressed against
  * our own index layer instead of a managed service.
  *
  * Per micro-batch of document CHANGE events `(seq, doc_id, text, op)`:
  *
  *   1. last-write-wins WITHIN the batch per doc_id
  *      ([[StreamApply.latestPerDoc]] — a feed may carry several
  *      changes for one document);
  *   2. each surviving upsert tokenizes ONCE into its per-term counts,
  *      carried as one `terms: array<struct<term, tf>>` row per
  *      document — the forward index row (delete survivors carry no
  *      terms);
  *   3. one keyed merge into a [[StreamApply.ParquetUpsertStore]] keyed
  *      on doc_id: an update REPLACES the document's postings
  *      atomically (one row per doc — there is no partial-postings
  *      state to tear), a delete drops them, and the store's
  *      (key, seq) idempotence absorbs replayed batches with no extra
  *      bookkeeping.
  *
  * The INVERTED views are reads: [[Stores.postingsView]] explodes the
  * forward rows to `(doc_id, term, tf)` — exactly the batch
  * `termFreq` relation over the live documents — and [[Stores.dfView]]
  * is the per-term document-frequency rollup. `PostingsStreamSpec`
  * proves stream ≡ batch at every prefix, through updates, deletes and
  * replay.
  *
  * Scale shape: per-batch work is tokenize-the-delta + one keyed merge
  * (the store rewrite is the same cost class as the upsert bench's);
  * nothing rescans the corpus text. At 100 TB the store IS a bucketed
  * postings table and the merge a `MERGE ON doc_id` — serving layers
  * that want the inverted orientation materialized bucket
  * [[Stores.postingsView]] by term, which is itself an incremental
  * map from the forward delta (old terms retract, new terms assert).
  */
object PostingsStream {

  /** THE `(doc_id, term, tf)` postings-relation schema — the single
    * source of truth shared by [[Stores.postingsView]]'s empty-store
    * path and the batch serving side's normalization
    * (`Search.postingsOrEmpty`), so a store-schema evolution cannot
    * silently diverge the two empty-serving paths.
    */
  val postingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType)))
  }

  final class Stores(spark: SparkSession, dir: String) {
    val store = new StreamApply.ParquetUpsertStore(spark, s"$dir/postings",
      "doc_id", "seq", "op", "d", Seq("terms"))

    /** The maintained termFreq relation: `(doc_id, term, tf)` over live
      * (non-deleted) documents — batch `TextAnalysis.termFreq`'s twin.
      */
    def postingsView(): DataFrame = {
      val v = store.view()
      if (v.schema.isEmpty)
        // not-yet-committed store: an EMPTY relation with the real
        // postings schema (shared constant), so every consumer —
        // dfView, the injectable search paths — resolves columns
        // normally and serves zero hits
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], postingsSchema)
      else v.select(col("doc_id"), explode(col("terms")).as("t"))
        .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"))
    }

    /** Per-term document frequency — one aggregate over the postings
      * view (df = row count per term, since tf rows are unique per
      * (doc, term)).
      */
    def dfView(): DataFrame =
      postingsView().groupBy("term").agg(count(lit(1)).as("df"))
  }

  /** One CDC document micro-batch `(seq, doc_id, text, op)` through the
    * index merge. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, s: Stores): Unit = {
    s.store.merge(StreamApply.latestWithTerms(batch), batchId)
  }

  /** foreachBatch writer: maintain the postings index over a CDC
    * document stream.
    */
  def postingsWriter(docsStream: DataFrame, stores: Stores,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(docsStream, checkpoint)(applyBatch(_, _, stores))
}
