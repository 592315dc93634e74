package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O10 — upsert-by-key materialization (last write wins, deletes remove
  * the key), the Spark analog of the reference's OpenSearch upsert
  * (`consumer_to_opensearch.py:94-95`, delete `:75,:83`).
  *
  * Implementation choice, made for 100 TB scale: `max_by(struct(...), seq)`
  * under an aggregation rather than `row_number()` over a window. Both are
  * one shuffle on the key, but the aggregate form gets a map-side partial
  * aggregation (a partial/final `SortAggregate` pair — struct buffers are
  * not hash-aggregable, but the partial side still combines before the
  * exchange), so the shuffle carries at most one row per (mapper, key)
  * instead of the full event stream. On a CDC feed with many updates per
  * key that is the difference between shuffling the whole history and
  * shuffling roughly the live-key set.
  *
  * That rationale is for folding an event history. It does not cover
  * merging a micro-batch into a store that already holds one row per
  * key: there the partial aggregate reduces nothing on the state side,
  * so both streaming stores (`StreamApply.ParquetUpsertStore` and
  * `IvmUpsertStore`) fold only the batch and hash-join the fold to the
  * state, in one shared merge, instead of aggregating over both.
  */
object Materialize {

  /** Latest event per key by `seq` (ties impossible by construction —
    * `seq` is unique). Keeps `payloadCols` from the winning row.
    */
  def latestByKey(events: DataFrame, key: String, seq: String,
                  payloadCols: Seq[String]): DataFrame = {
    val packed = struct((seq +: payloadCols).map(col): _*)
    events
      .groupBy(col(key))
      .agg(max_by(packed, col(seq)).as("last"))
      .select(col(key) +: (seq +: payloadCols).map(c => col(s"last.$c").as(c)): _*)
  }

  /** Full materialized view: latest row per key, then drop keys whose
    * final op is a delete. Mirrors the fold semantics of the reference
    * consumer loop (last op wins per key; delete removes the document).
    */
  def view(events: DataFrame, key: String, seq: String, op: Column,
           deleteOp: String, payloadCols: Seq[String]): DataFrame = {
    val withOp = events.withColumn("__op", op)
    latestByKey(withOp, key, seq, payloadCols :+ "__op")
      .filter(col("__op") =!= deleteOp)
      .drop("__op")
  }

  /** The view over the testdata `events` stream analog: latest non-deleted
    * state per `user_id` (event_type `error` = delete). `payloadCols`
    * prunes the materialization to what the consumer actually reads: the
    * max_by struct is opaque to Catalyst's column pruning, so an
    * unpruned view drags every payload column through the shuffle even
    * when the query touches one — at 100 TB the difference between
    * shuffling (key, seq, type) and shuffling whole rows.
    */
  def customerView(events: DataFrame,
      payloadCols: Seq[String] = Seq("ts", "event_type", "value", "props")): DataFrame =
    view(events, key = "user_id", seq = "event_id", op = col("event_type"),
      deleteOp = "error", payloadCols = payloadCols)
}
