package graft.streaming

import org.apache.spark.sql.Dataset

/** Continuously-maintained SEQUENCE-GAP monitor — the streaming twin of
  * the batch o25 audit: per fixed-width offset block, an EXACT presence
  * bitmap (1000 bits = sixteen longs per block), updated per
  * micro-batch and emitted per touched block as
  * (block, first, last, present, missing).
  *
  * Set-bit is idempotent, so like [[DistinctStream]]'s max-merge the
  * monitor is exactly-once under at-least-once delivery with NO dedup —
  * a redelivered offset re-asserts a bit that is already set, and a
  * duplicate can never mask a hole (the batch o25 gets the same
  * property from count(DISTINCT)). Unlike the sketch view the state is
  * EXACT: missing counts are ground truth, not estimates.
  *
  * Scale shape: state is 16 longs + 2 offsets per TOUCHED block —
  * proportional to the observed offset span over the block width, not
  * to the event count — shuffle-partitioned by block id on
  * `transformWithState` (RocksDB provider). A block whose span is fully
  * present reports 0 missing and could be retired by a TTL in a
  * long-running deployment; retention is a policy dial, not a
  * correctness one.
  */
object SeqGapStream {

  /** Block width — must match the batch audit's `B`. */
  val BlockWidth = 1000

  /** One observed offset, pre-keyed by its block. */
  case class Offset(blk: Long, seq: Long)

  /** Per-block audit row, emitted per touched block per batch. */
  case class BlockHealth(blk: Long, first_seq: Long, last_seq: Long,
      n_present: Long, n_missing: Long)

  // private[streaming], NOT object-private: Scala `private` compiles the
  // class without public access, and janino's generated encoder code
  // (living outside this class) then rejects every accessor call
  // ("no applicable method for zero actual parameters") — Spark fell
  // back to interpreted encoders on this hot state path and spewed
  // ERROR CodeGenerator on every run. `private[qualifier]` compiles to
  // public bytecode, which is what the codegen'd caller needs.
  private[streaming] case class BitmapState(lo: Long, hi: Long, words: Seq[Long])

  /** The continuously-maintained audit view over an offset stream. */
  def gapView(events: Dataset[Offset]): Dataset[BlockHealth] = {
    import events.sparkSession.implicits._
    StreamApply.keyedState(events.groupByKey(_.blk), "bitmap") {
      (key: Long, prev: Option[BitmapState], rows: Iterator[Offset]) =>
        val words = prev.fold(new Array[Long]((BlockWidth + 63) / 64))(_.words.toArray)
        var first = prev.fold(Long.MaxValue)(_.lo)
        var last = prev.fold(Long.MinValue)(_.hi)
        rows.foreach { r =>
          val off = r.seq - key * BlockWidth
          // a mismatched (blk, seq) — negative seq, caller bug — must fail
          // diagnosably, not as a task-level ArrayIndexOutOfBounds
          require(off >= 0 && off < BlockWidth,
            s"offset ${r.seq} outside block $key (width $BlockWidth)")
          val i = off.toInt
          words(i / 64) |= 1L << (i % 64) // idempotent set-bit
          if (r.seq < first) first = r.seq
          if (r.seq > last) last = r.seq
        }
        BitmapState(first, last, words.toSeq)
    } { (key, s) =>
      val present = s.words.map(java.lang.Long.bitCount(_).toLong).sum
      BlockHealth(key, s.lo, s.hi, present, s.hi - s.lo + 1 - present)
    }
  }
}
