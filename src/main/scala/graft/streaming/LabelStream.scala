package graft.streaming

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CLUSTER-LABEL maintenance — incremental connected
  * components over the near-dup graph, the missing piece between the
  * streaming pair ingest ([[NearDupStream]]) and the batch label index
  * (`CorpusIndex`'s `labels_minhash`, consumed by the split gate,
  * sampling weights, retention, medoids): after every micro-batch the
  * label store equals batch d7 over everything ever ingested, without
  * ever re-running the global contraction.
  *
  * Per batch, with L = current labels and P = the batch's confirmed
  * pairs (from the shared [[NearDupStream.findAndCommitPairs]] engine):
  *
  *   1. first-seen documents label themselves (`canonical = doc_id`);
  *   2. P's endpoints re-express in LABEL space — `(L(a), L(b))`,
  *      self-loops dropped — giving the COMPONENT-MERGE graph, whose
  *      size is bounded by the batch's pair count, never the corpus;
  *   3. connected components over that tiny graph (the same
  *      [[Dedup.minLabelClusters]] engine as batch d7) yield a REMAP
  *      `old label → new min label` — delta-sized, broadcast;
  *   4. the label table rewrites through the broadcast remap — a
  *      map-only pass, no shuffle — and only remapped or first-seen
  *      rows enter the keyed merge.
  *
  * The invariant carried across batches: every stored label IS the
  * minimum doc_id of its component. Merging components therefore takes
  * the min over their labels — which is why step 3's min-label CC over
  * the label graph lands exactly on batch d7's fixpoint, whatever the
  * batching (the spec proves equality under one-batch, many-batch, and
  * replayed feeds).
  *
  * Replay is absorbed structurally: a redelivered batch finds its
  * documents already labeled (no first-seen rows), its pairs' endpoints
  * already co-labeled (the merge graph is all self-loops ⇒ empty
  * remap), so the label merge is a no-op — no batch-id bookkeeping.
  * Commit order is pairs → labels → index: a crash anywhere replays
  * the batch against an index that does not yet contain it, re-deriving
  * identical pairs and an idempotent label update (the index-last rule
  * of [[NearDupStream.findAndCommitPairs]]).
  *
  * At 100 TB: the remap broadcast is bounded by labels TOUCHED by one
  * batch's merges; the label rewrite is map-only over a bucketed label
  * table (the `labels_minhash` layout) — per-batch cost follows the
  * delta plus one linear map pass, and a Delta/Iceberg deployment
  * expresses step 4 as `MERGE ... WHEN MATCHED AND canonical IN
  * (remap) UPDATE`.
  */
object LabelStream {

  /** Pair/index stores plus the maintained label table. */
  final class Stores(spark: SparkSession, dir: String) {
    val nd = new NearDupStream.Stores(spark, s"$dir/nd")
    val labels = new StreamApply.ParquetUpsertStore(spark, s"$dir/labels",
      "doc_id", "seq", "op", "d", Seq("canonical"))

    /** The maintained d7 view: `(doc_id, canonical)` for every ingested
      * document.
      */
    def labelsView(): DataFrame = {
      val v = labels.view()
      if (v.schema.isEmpty) v else v.select("doc_id", "canonical")
    }
  }

  /** One `(doc_id, text)` micro-batch through ingest + label
    * maintenance. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, s: Stores): Unit = {
    val (sk, found) = NearDupStream.findAndCommitPairs(batch, batchId, s.nd)
    val cur = s.labelsView()
    // first-seen documents: self-labeled, batch-sized, materialized once
    // (the label table itself is re-scanned per consumer below — the
    // pruned columnar re-read, not a state-sized memory pin)
    val newDocs =
      (if (cur.schema.isEmpty) sk.select("doc_id")
       else sk.select("doc_id")
         .join(cur.select("doc_id"), Seq("doc_id"), "left_anti"))
        .select(col("doc_id"), col("doc_id").as("canonical"),
          lit(true).as("is_new"))
        .localCheckpoint()
    def lab = (if (cur.schema.isEmpty) newDocs.limit(0)
      else cur.withColumn("is_new", lit(false))).unionByName(newDocs)
    // the component-merge graph: batch pairs in label space
    val e = found
      .join(lab.select(col("doc_id").as("doc_a"), col("canonical").as("la")),
        Seq("doc_a"))
      .join(lab.select(col("doc_id").as("doc_b"), col("canonical").as("lb")),
        Seq("doc_b"))
      .select(col("la").as("u"), col("lb").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // feeds the CC engine and its node frame
    val nodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
    // delta-sized: only labels touched by this batch's merges move
    val remap = Dedup.minLabelClusters(e, "u", "v", nodes, "id")
      .filter(col("canonical") =!= col("id"))
      .withColumnRenamed("canonical", "new_label")
    val labF = lab
    val after = labF.join(broadcast(remap),
        labF("canonical") === remap("id"), "left")
      .select(labF("doc_id"),
        coalesce(col("new_label"), labF("canonical")).as("canonical"),
        (col("new_label").isNotNull || col("is_new")).as("dirty"))
    val incoming = after.filter(col("dirty"))
      .select(col("doc_id"), lit(batchId).as("seq"), lit("i").as("op"),
        col("canonical"))
    s.labels.merge(incoming, batchId)
    NearDupStream.commitIndex(sk, batchId, s.nd) // index LAST
  }
}
