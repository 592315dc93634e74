package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One record on the CDC topic, as Kafka would carry it: the offset-like
  * sequence number, the UTF-8 key and the JSON value (null for a
  * tombstone). `createdNs` is the event's scheduled creation time on the
  * generator's `System.nanoTime` clock; it never reaches the program.
  */
final case class WireEvent(seq: Long, key: String, value: String, createdNs: Long)

/** The customer row every event carries, as a pure function of the
  * event's sequence number, so an expected answer needs only `(key, seq)`.
  * The initial snapshot holds key `k` at sequence number `k`.
  */
object Payload {
  val Columns: Seq[String] = Seq("full_name", "email", "phone", "classification", "created_at")
  // the reference's CHECK (classification IN ('public','private'))
  val Classes: IndexedSeq[String] = IndexedSeq("public", "private")
  private val BaseSec = 1704067200L // 2024-01-01T00:00:00Z
  private val SpanSec = 60L * 86400 // created_at spreads over 60 days

  def classification(seq: Long): String = Classes(((seq * 7919L + 13) % Classes.size).toInt)
  def createdSec(seq: Long): Long = BaseSec + (seq * 104729L) % SpanSec
  def createdDay(seq: Long): Long = createdSec(seq) / 86400
  private def phone(seq: Long): String = if (seq % 7 == 0) null else s"+1-555-${seq % 10000}"

  private def q(s: String): String = if (s == null) "null" else "\"" + s + "\""

  def rowJson(key: Int, seq: Long): String =
    s"""{"id":$key,"full_name":"Customer $seq","email":"c$seq@example.com",""" +
      s""""phone":${q(phone(seq))},"classification":"${classification(seq)}",""" +
      s""""created_at":"${java.time.Instant.ofEpochSecond(createdSec(seq))}"}"""

  /** The snapshot rows `(key, seq = key)` for keys `[0, n)` in the store's
    * column layout, computed by Spark with the same formulas as above.
    */
  def snapshot(spark: SparkSession, n: Int): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.cast("int").as("key"),
      id.as("seq"),
      lit("u").as("op"),
      concat(lit("Customer "), id.cast("string")).as("full_name"),
      concat(lit("c"), id.cast("string"), lit("@example.com")).as("email"),
      when(id % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("+1-555-"), (id % 10000).cast("string"))).as("phone"),
      element_at(typedLit(Classes), ((id * 7919L + 13) % Classes.size + 1).cast("int"))
        .as("classification"),
      timestamp_seconds(lit(BaseSec) + (id * 104729L) % SpanSec).as("created_at"))
  }
}

/** Last-write-wins fold of `(key, seq)` with deletes: what a correct store
  * holds after the events applied so far. Keys are dense from 0.
  */
final class Fold(initialKeys: Int) {
  private var seqs = Array.tabulate(math.max(initialKeys * 2, 16))(k => if (k < initialKeys) k.toLong else -1L)
  private var dead = new Array[Boolean](seqs.length)
  private var keySpace = initialKeys

  def keys: Int = keySpace

  def apply(key: Int, seq: Long, delete: Boolean): Unit = {
    if (key >= seqs.length) {
      val n = math.max(seqs.length * 2, key + 1)
      seqs = java.util.Arrays.copyOf(seqs, n)
      java.util.Arrays.fill(seqs, keySpace, n, -1L)
      dead = java.util.Arrays.copyOf(dead, n)
    }
    if (seq > seqs(key)) { seqs(key) = seq; dead(key) = delete }
    keySpace = math.max(keySpace, key + 1)
  }

  def apply(e: WireEvent): Unit = {
    val key = e.key.toInt
    apply(key, e.seq, e.value == null || e.value.startsWith("{\"op\":\"d\""))
  }

  /** The live sequence number of `key`, if the key exists and is not deleted. */
  def live(key: Int): Option[Long] =
    if (key < keySpace && seqs(key) >= 0 && !dead(key)) Some(seqs(key)) else None

  def liveEntries: Iterator[(Int, Long)] =
    Iterator.range(0, keySpace).filter(k => seqs(k) >= 0 && !dead(k)).map(k => (k, seqs(k)))
}

/** Seeded Debezium-wire event generator. It emits the three wire shapes
  * the reference consumer handles on one topic: flat insert/update rows
  * (after `ExtractNewRecordState`), delete-rewrites
  * `{"op":"d","before":{...},"after":null}` and tombstones (null value).
  *
  * The mix, per source operation:
  *   - `deleteShare` of the operations delete a key. As Debezium does with
  *     `delete.handling.mode=rewrite` and `drop.tombstones=false`, a delete
  *     goes on the wire as a delete-rewrite followed by a tombstone for the
  *     same key. The default, one in ten, is `graft.cdc.Producer`'s.
  *   - `insertShare` of the operations insert a fresh key, as the
  *     reference's `INSERT` into a `SERIAL` key does. The default equals
  *     `deleteShare`, so the live-key count stays near the snapshot's.
  *   - the rest update an existing key (a flat row; on a deleted key it
  *     inserts it again).
  * Keys of updates and deletes are skewed: a fraction `u^skew` of the key
  * space, `u` uniform, so low keys are hot. The generator folds everything
  * it emits into [[fold]].
  */
final class CdcGen(seed: Long, snapshotKeys: Int, insertShare: Double = 0.1,
    deleteShare: Double = 0.1, skew: Double = 2.0) {
  private val rng = new java.util.SplittableRandom(seed)
  private var nextSeq = snapshotKeys.toLong
  private var nextKey = snapshotKeys
  private var tombstoneDue = -1 // key whose delete-rewrite was just sent
  val fold = new Fold(snapshotKeys)

  def params: Map[String, Any] = Map("snapshot_keys" -> snapshotKeys,
    "insert_share" -> insertShare, "delete_share" -> deleteShare, "key_skew" -> skew)

  def next(createdNs: Long): WireEvent = {
    val seq = nextSeq
    nextSeq += 1
    val e =
      if (tombstoneDue >= 0) {
        val k = tombstoneDue
        tombstoneDue = -1
        WireEvent(seq, k.toString, null, createdNs)
      } else {
        val r = rng.nextDouble()
        if (r < insertShare) {
          val k = nextKey
          nextKey += 1
          WireEvent(seq, k.toString, Payload.rowJson(k, seq), createdNs)
        } else {
          val k = math.min((nextKey * math.pow(rng.nextDouble(), skew)).toInt, nextKey - 1)
          if (r < insertShare + deleteShare) {
            tombstoneDue = k
            WireEvent(seq, k.toString,
              s"""{"op":"d","before":${Payload.rowJson(k, seq)},"after":null}""", createdNs)
          } else WireEvent(seq, k.toString, Payload.rowJson(k, seq), createdNs)
        }
      }
    fold(e)
    e
  }

  def batch(n: Int, createdNs: Long): Array[WireEvent] = Array.fill(n)(next(createdNs))
}
