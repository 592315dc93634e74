package graft.streaming

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming near-duplicate detection — the ingest-time twin of the d3/d13
  * batch family. A document stream is deduplicated AGAINST EVERYTHING EVER
  * INGESTED at per-batch cost that follows the batch size, never the
  * corpus:
  *
  *   - the persisted MinHash sketch INDEX (one row per document:
  *     [[Dedup.LshBands]] band keys + the sorted token-hash set, byte-identical to the rows
  *     [[Dedup.sketchOf]] computes in batch) lives in a
  *     [[StreamApply.ParquetUpsertStore]] — append-mostly keyed state with
  *     the single-pointer atomic commit;
  *   - each micro-batch sketches only its own documents, band-joins them
  *     against the index plus themselves ([[Dedup.incrementalPairs]] — the
  *     same engine as batch d13, so stream and batch provably agree), and
  *     confirms candidates with the exact sorted-intersect Jaccard;
  *   - confirmed pairs land in a second store KEYED BY THE PAIR, so the
  *     at-least-once replay of a micro-batch re-derives byte-identical
  *     rows and the keyed merge absorbs them — pairs are emitted
  *     effectively-once without any batch-id bookkeeping.
  *
  * Crash safety: pairs commit first, then the occupancy counts
  * (streamed d26 — see [[NearDupStream.mergeOccupancy]]), then the
  * index LAST. A crash between any of the merges replays the batch
  * against an index that does not yet contain it, recomputing the
  * identical pair set and occupancy rows (absorbed by key) and then
  * committing the index — nothing is lost, nothing duplicates. The
  * reverse order would lose state: a replayed batch already in the
  * index anti-joins itself away.
  *
  * At 100 TB the index store is a partitioned table (bucket by doc_id; the
  * band join reshuffles on band keys regardless) and the merge is a Delta/
  * Iceberg MERGE — same protocol, scaled out; per-ingest cost is
  * |delta| × collision rate, exactly d13's scaling argument.
  */
object NearDupStream {

  /** The three stores a near-dup ingest pipeline maintains.
    *
    * The index store's directory carries [[Dedup.geomTag]] (mirroring
    * the batch dedup indexes): the persisted rows embed the banding
    * geometry in their SCHEMA (bk0..bk{n-1}), so a geometry change must
    * change the store PATH or reopening a store written under the old
    * geometry would fail on `indexView()`'s select with an unexplained
    * AnalysisException — and, worse, a schema-merging store could
    * silently mix band keys computed under two geometries.
    */
  final class Stores(spark: SparkSession, dir: String) {
    val index = new StreamApply.ParquetUpsertStore(spark,
      s"$dir/index${Dedup.geomTag}",
      "doc_id", "seq", "op", "d", Dedup.bandCols :+ "toks")
    val pairs = new StreamApply.ParquetUpsertStore(spark, s"$dir/pairs",
      "pair_key", "seq", "op", "d", Seq("doc_a", "doc_b", "jac"))
    /** LIVE band-key occupancy (streamed d26): one row per (band, bkey)
      * ever ingested, `cnt` maintained incrementally so the hub-family
      * alarm (the [[Dedup.HotBandKeyCap]] gate) fires DURING ingest,
      * not at the next full-index audit. State is |keys| longs, the
      * per-batch merge touches only the batch's keys. `prev_cnt` + the
      * row's `seq` make the increment REPLAY-IDEMPOTENT (see
      * [[mergeOccupancy]]): a count accumulator is not naturally
      * idempotent the way the keyed row stores are, so the row carries
      * enough state to recompute itself identically on the
      * at-least-once replay of its own batch.
      */
    val occupancy = new StreamApply.ParquetUpsertStore(spark,
      s"$dir/occupancy${Dedup.geomTag}",
      "occ_key", "seq", "op", "d", Seq("band", "bkey", "cnt", "prev_cnt"))

    /** Confirmed near-dup pairs so far. */
    def pairsView(): DataFrame = {
      val v = pairs.view()
      if (v.schema.isEmpty) v else v.select("doc_a", "doc_b", "jac")
    }

    /** The sketch index as a [[Dedup.sketchOf]]-shaped frame. */
    def indexView(): DataFrame = {
      val v = index.view()
      if (v.schema.isEmpty) v
      else v.select("doc_id", Dedup.bandCols :+ "toks": _*)
    }

    /** The d26 audit relation, served live at any ingest prefix: per
      * band, distinct keys, the largest key's member count, and the
      * implied candidate bound — ONE |keys|-row aggregate over the
      * maintained counts, never a rescan of the sketch index.
      */
    def occupancyView(): DataFrame = {
      val v = occupancy.view()
      if (v.schema.isEmpty) v
      else v.groupBy(col("band"))
        .agg(count(lit(1)).as("n_keys"), max(col("cnt")).as("max_key_members"),
          sum(expr("cnt * (cnt - 1) DIV 2")).as("candidate_bound"))
    }

    /** The live hub ALARM: band keys past `cap` members — the keys the
      * next index build would chain through [[Dedup.HotBandKeyCap]]'s
      * star emission. Empty at healthy occupancy.
      */
    def hotKeys(cap: Long = Dedup.HotBandKeyCap): DataFrame = {
      val v = occupancy.view()
      if (v.schema.isEmpty) v
      else v.filter(col("cnt") > cap).select("band", "bkey", "cnt")
    }
  }

  /** Sketch one `(doc_id, text)` micro-batch, find its near-dup pairs
    * against the index (plus itself), and commit them to the pair store.
    * Returns the batch sketch and the found pairs (both materialized)
    * so [[LabelStream]] can maintain cluster labels from the same
    * derivation — the INDEX merge is deliberately NOT done here: it
    * must come last in whatever chain consumes this (crash between the
    * pair/label commits and the index commit replays the batch against
    * an index that does not yet contain it, re-deriving identical rows;
    * the reverse order would lose them — a replayed batch already in
    * the index anti-joins itself away).
    */
  private[streaming] def findAndCommitPairs(batch: DataFrame, batchId: Long,
      stores: Stores): (DataFrame, DataFrame) = {
    val sk = Dedup.sketchOf(batch.select("doc_id", "text"))
      // consulted by both band joins, both confirm re-joins, and the
      // index merge — one sketch pass per batch, not six
      .localCheckpoint()
    val indexed = stores.indexView()
    // Replay guard: a redelivered document is already in the index; the
    // anti-join keeps it out of the "old corpus" side so it cannot pair
    // with itself (its pairs re-derive identically and merge by key).
    val old =
      if (indexed.schema.isEmpty) sk.limit(0)
      else indexed.join(sk.select("doc_id"), Seq("doc_id"), "left_anti")
    // batch-bounded (delta × collision rate); consumed by the pair merge
    // and by label maintenance
    val found = Dedup.incrementalPairs(sk, old).localCheckpoint()
    stores.pairs.merge(found.select(
      concat_ws("_", col("doc_a"), col("doc_b")).as("pair_key"),
      lit(batchId).as("seq"), lit("i").as("op"),
      col("doc_a"), col("doc_b"), col("jac")), batchId)
    (sk, found)
  }

  /** Commit the batch sketch into the index — the LAST step of every
    * ingest chain (see [[findAndCommitPairs]] for the ordering proof).
    */
  private[streaming] def commitIndex(sk: DataFrame, batchId: Long,
      stores: Stores): Unit =
    stores.index.merge(sk.select(col("doc_id") +:
      lit(batchId).as("seq") +: lit("i").as("op") +:
      (Dedup.bandCols.map(col) :+ col("toks")): _*), batchId)

  /** Merge the batch's (band, bkey) occupancy deltas — streamed d26.
    * `freshSk` must be the batch sketch MINUS documents already in the
    * index (the same anti-join replay guard the pair derivation uses),
    * so source-level redelivery of an old document never re-counts it.
    *
    * REPLAY IDEMPOTENCE: Structured Streaming replays at most the LAST
    * uncommitted batch, so each stored row carries (cnt, prev_cnt, seq)
    * and the merge bases itself on `prev_cnt` when the stored seq
    * ALREADY equals this batchId — a crash after the occupancy commit
    * but before the index commit replays the batch with the identical
    * delta (docs still absent from the index) and recomputes the
    * byte-identical row, which the keyed merge absorbs. A crash after
    * the index commit replays with an EMPTY delta (every doc now
    * anti-joins away) and touches nothing. Commit order in
    * [[applyBatch]] is pairs → occupancy → index for exactly this
    * reason: the index merge must remain LAST (see
    * [[findAndCommitPairs]]), and the occupancy delta derives its
    * idempotence from reading the not-yet-merged index.
    */
  private[streaming] def mergeOccupancy(freshSk: DataFrame, batchId: Long,
      stores: Stores): Unit = {
    val delta = freshSk
      .select(explode(array((0 until Dedup.LshBands).map(b =>
        struct(lit(b).as("band"), col(s"bk$b").as("bkey"))): _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .agg(count(lit(1)).as("delta"))
    val snap = stores.occupancy.snapshot()
    val based =
      if (snap.schema.isEmpty) delta.withColumn("base", lit(0L))
      else delta.join(snap.select(col("band"), col("bkey"),
          when(col("seq") === batchId, col("prev_cnt"))
            .otherwise(col("cnt")).as("base")),
        Seq("band", "bkey"), "left")
    stores.occupancy.merge(based.select(
      concat_ws("_", col("band"), col("bkey")).as("occ_key"),
      lit(batchId).as("seq"), lit("i").as("op"),
      col("band"), col("bkey"),
      (coalesce(col("base"), lit(0L)) + col("delta")).as("cnt"),
      coalesce(col("base"), lit(0L)).as("prev_cnt")), batchId)
  }

  /** One micro-batch of `(doc_id, text)` documents through the ingest
    * path. Public so tests can drive replay directly.
    */
  def applyBatch(batch: DataFrame, batchId: Long, stores: Stores): Unit = {
    val (sk, _) = findAndCommitPairs(batch, batchId, stores)
    val indexed = stores.indexView()
    val fresh =
      if (indexed.schema.isEmpty) sk
      else sk.join(indexed.select("doc_id"), Seq("doc_id"), "left_anti")
    mergeOccupancy(fresh, batchId, stores)
    commitIndex(sk, batchId, stores)
  }

  /** foreachBatch writer: dedup a `(doc_id, text)` document stream
    * against the full ingest history.
    */
  def nearDupWriter(docsStream: DataFrame, stores: Stores,
      checkpoint: String): DataStreamWriter[Row] =
    StreamApply.batchSink(docsStream, checkpoint)(applyBatch(_, _, stores))
}
