package graft.streaming

import org.apache.spark.sql.Dataset

/** Continuously-maintained DISTINCT-COUNT sketch per group — the
  * streaming twin of the batch r7 registers: 64 Flajolet-Martin-style
  * registers per group, each the MAX lowest-set-bit weight of the hashes
  * landing in its bucket. Max is associative, commutative and
  * idempotent, so the maintained state is independent of micro-batching
  * AND of redelivery — a replayed event can only re-assert a max the
  * state already holds, which makes the sketch exactly-once under
  * at-least-once delivery with no dedup at all (stronger than the
  * upsert store's idempotence argument, which needs the key).
  *
  * `DistinctStreamSpec` proves the stream ≡ the batch registers
  * (`Sampling.hllRegisters` semantics) on the same feed, in any
  * batching.
  *
  * Scale shape: state is EXACTLY 64 longs per group regardless of
  * stream length — |groups|·64 words total, shuffle-partitioned by
  * group on the modern `transformWithState` API (RocksDB provider:
  * disk-backed, changelog checkpoints). Estimation happens downstream
  * of the registers (r6's discipline: the REGISTERS are the exact,
  * portable contract; the float estimate is engine-local).
  */
object DistinctStream {

  /** One pre-hashed stream element: group + the portable token hash of
    * the counted id (hashing stays a Catalyst expression upstream, so
    * the fold is pure register arithmetic).
    */
  case class Hashed(group: String, h: Long)

  /** Per-group register vector, emitted per touched group per batch. */
  case class Registers(group: String, registers: Seq[Long])

  /** The continuously-maintained sketch view over a pre-hashed feed. */
  def registersView(events: Dataset[Hashed]): Dataset[Registers] = {
    import events.sparkSession.implicits._
    StreamApply.keyedState(events.groupByKey(_.group), "regs") {
      (key: String, prev: Option[Registers], rows: Iterator[Hashed]) =>
        val regs = prev.fold(new Array[Long](64))(_.registers.toArray)
        rows.foreach { r =>
          // floorMod + logical shift: identical to %/÷ for the canonical
          // non-negative tokenHash feed, and SAFE (no negative array
          // index, no sign-poisoned lowest-set-bit) should a caller feed
          // a signed hash like raw xxhash64
          val bucket = java.lang.Math.floorMod(r.h, 64L).toInt
          val rest = r.h >>> 6
          val w = rest & -rest // lowest set bit = FM register weight
          if (w > regs(bucket)) regs(bucket) = w
        }
        Registers(key, regs.toSeq)
    }((_, s) => s)
  }
}
