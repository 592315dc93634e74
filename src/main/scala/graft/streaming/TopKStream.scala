package graft.streaming

import org.apache.spark.sql.Dataset

/** Continuously-maintained per-group TOP-K — the streaming twin of the
  * dashboard's q3 ("top-k recent by score"): instead of re-running the
  * ranking query per refresh, the ranking IS the state, updated per
  * micro-batch and emitted per touched group.
  *
  * Semantics: items upsert by id with max-score-wins (associative and
  * commutative, so the result is independent of how the stream is
  * micro-batched), ranking is (score desc, id asc) — fully
  * deterministic. TRUNCATION to k is safe under these semantics: scores
  * never decrease, so an item below rank k can never re-enter later —
  * the incremental top-k equals the batch top-k over the whole stream
  * (the monotone top-k invariant, asserted by `TopKStreamSpec`).
  *
  * Scale shape: state per group is EXACTLY k entries (two numbers
  * each) regardless of stream length — the state store carries
  * |groups|·k rows, shuffle-partitioned by group; each micro-batch
  * touches only the groups present in the batch. Runs on the modern
  * `transformWithState` API (RocksDB provider: disk-backed state,
  * changelog checkpoints — the 100 TB deployment shape).
  */
object TopKStream {

  /** A scored stream element. */
  case class Scored(group: Int, id: Long, score: Double)

  /** One ranked entry. */
  case class TopEntry(id: Long, score: Double)

  /** Persisted per-group state: the current top-k, rank order. */
  case class TopKState(items: Seq[TopEntry])

  /** The continuously-maintained view: one state-store row of ≤ k
    * entries per group, updated and emitted per micro-batch.
    */
  def topkView(events: Dataset[Scored], k: Int = 5): Dataset[(Int, Seq[TopEntry])] = {
    import events.sparkSession.implicits._
    StreamApply.keyedState(events.groupByKey(_.group), "topk") {
      (_: Int, prev: Option[TopKState], rows: Iterator[Scored]) =>
        val byId = scala.collection.mutable.HashMap.empty[Long, Double]
        prev.foreach(_.items.foreach(e => byId(e.id) = e.score))
        rows.foreach { r =>
          val cur = byId.getOrElse(r.id, Double.NegativeInfinity)
          if (r.score > cur) byId(r.id) = r.score
        }
        TopKState(byId.iterator.map { case (id, s) => TopEntry(id, s) }.toSeq
          .sortBy(e => (-e.score, e.id)).take(k))
    }((key, s) => key -> s.items)
  }
}
