package graft.streaming

import org.apache.spark.sql.Dataset

/** Continuously-maintained KMV (bottom-k) distinct sketch per group — the
  * streaming twin of the batch r18 ([[graft.ext.Sampling.kmvDistinct]]):
  * state is the k smallest DISTINCT hash values seen, merged per batch by
  * set-union + re-prune. Union-then-prune is associative, commutative and
  * idempotent (a replayed hash is already in — or already above — the
  * kept set), so the maintained sketch is independent of micro-batching
  * and of redelivery, the same exactly-once-without-dedup argument as
  * [[DistinctStream]]'s max-merged registers — the two sketch families'
  * merge laws, both proven live.
  *
  * `KmvStreamSpec` proves stream ≡ the batch bottom-k fold on the same
  * feed in any batching; the estimator stays downstream (r6's
  * discipline: the SKETCH is the exact portable contract).
  *
  * Scale shape: state is ≤ k longs per group regardless of stream
  * length, shuffle-partitioned by group on `transformWithState`
  * (RocksDB provider). Per batch the fold touches only groups with
  * arrivals, and each merge is O(batch·log k) into a sorted array.
  */
object KmvStream {

  /** Sketch size — matches the batch r18 (`KmvK`). */
  val K = 64

  /** One pre-hashed stream element (hashing stays a Catalyst expression
    * upstream, as in [[DistinctStream]]).
    */
  case class Hashed(group: String, h: Long)

  /** Per-group bottom-k (ascending, distinct), emitted per touched group
    * per batch. `n_kept < K` means the sketch IS the exact value set.
    */
  case class Sketch(group: String, bottom: Seq[Long])

  /** The continuously-maintained bottom-k view over a pre-hashed feed. */
  def sketchView(events: Dataset[Hashed]): Dataset[Sketch] = {
    import events.sparkSession.implicits._
    StreamApply.keyedState(events.groupByKey(_.group), "kmv") {
      (key: String, prev: Option[Sketch], rows: Iterator[Hashed]) =>
        val set = scala.collection.mutable.TreeSet.empty[Long]
        prev.foreach(set ++= _.bottom)
        // insert, then prune from above: once the set holds K values,
        // anything ≥ its max can be skipped outright
        rows.foreach { r =>
          if (set.size < K) set += r.h
          else if (r.h < set.max && !set.contains(r.h)) {
            set += r.h
            set -= set.max
          }
        }
        Sketch(key, set.toSeq)
    }((_, s) => s)
  }
}
