package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuously-maintained data-quality COMPLIANCE monitor — the
  * streaming twin of the batch v1 expectation rules over the event
  * stream: per event-time day, the event count and the number of rows
  * violating the declared value-range and type-domain constraints, kept
  * current per micro-batch. This is the quality gate a CDC ingest runs
  * ON the stream (alert the moment a producer starts emitting
  * out-of-domain rows) rather than on the next snapshot scan.
  *
  * The rules are [[graft.ext.Validate]]'s OWN constants (value ∈
  * [ValueLo, ValueHi), event_type ∈ EventTypeDomain) — one definition,
  * so the batch suite and the live monitor can never check different
  * contracts.
  *
  * Shape: the violation flags are stateless codegen'd projections; the
  * only stateful operator is one watermarked tumbling-day aggregate, so
  * state is three longs per live day — eviction follows the watermark,
  * and at 100 TB/day the state size is days-in-flight, not stream
  * length. `QualityStreamSpec` proves stream ≡ the batch fold under
  * arbitrary micro-batching.
  */
object QualityStream {

  /** The v1 event rules as one violation predicate over a CDC payload
    * row — the SINGLE definition [[complianceView]], [[gatedSink]] and
    * (via the shared constants) the batch suite all check.
    *
    * NULL-TOTAL: a null value or type coalesces to VIOLATED. Without
    * the coalesce the predicate is three-valued and a null-payload row
    * fails BOTH `filter(p)` and `filter(!p)` — it would vanish from the
    * gate instead of quarantining, the exact silent drop the DLQ
    * exists to prevent. (Matches the batch suite, where a null never
    * counts toward a rule's compliant side.)
    */
  private[streaming] def violates(value: org.apache.spark.sql.Column,
      eventType: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      value < graft.ext.Validate.ValueLo ||
        value >= graft.ext.Validate.ValueHi ||
        !eventType.isin(graft.ext.Validate.EventTypeDomain: _*),
      lit(true))

  /** QUALITY-GATED CDC ingest: per micro-batch, rows violating the
    * declared rules are routed to a DLQ store and only CLEAN rows merge
    * into the serving store — o15's dead-letter pattern applied to
    * SEMANTIC rules instead of parse failures, so bad payloads never
    * become serving state but are never silently dropped either (the
    * DLQ retains them for replay after the producer is fixed).
    *
    * Policy: the rules gate PAYLOAD-carrying ops; deletes carry no
    * payload and always pass (a tombstone must reach the store even if
    * the row it retracts was quarantined). Both stores key on the event
    * sequence/key exactly like the plain upsert path, so a replayed
    * batch is idempotent on BOTH sides — `QualityStreamSpec` proves
    * conservation (every event lands on exactly one side) and
    * clean-side equality with the batch materialization of the clean
    * substream.
    */
  def gatedSink(events: DataFrame, clean: StreamApply.ParquetUpsertStore,
      dlq: StreamApply.ParquetUpsertStore, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StreamApply.batchSink(events, checkpoint) { (batch, id) =>
      val bad = col("op") =!= "d" && violates(col("value"), col("event_type"))
      dlq.merge(batch.filter(bad), id)
      clean.merge(batch.filter(!bad), id)
    }

  def complianceView(events: DataFrame, latenessMinutes: Long = 60L): DataFrame =
    events
      .withWatermark("ts", s"$latenessMinutes minutes")
      .groupBy(window(col("ts"), "1 day").as("win"))
      // counters in COMPLIANT-else-violated form: the `otherwise` arm
      // catches nulls, matching the batch suite where a null never
      // counts as compliant
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") >= graft.ext.Validate.ValueLo &&
            col("value") < graft.ext.Validate.ValueHi, 0L)
          .otherwise(1L)).as("n_range_violations"),
        sum(when(col("event_type").isin(graft.ext.Validate.EventTypeDomain: _*), 0L)
          .otherwise(1L)).as("n_type_violations"))
      .select(col("win.start").as("win_start"), col("n_events"),
        col("n_range_violations"), col("n_type_violations"))
}
