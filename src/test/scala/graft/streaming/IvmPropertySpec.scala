package graft.streaming

import graft.{PlannerCells, SparkSpec}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The IVM invariant, property-checked: for ANY event log and ANY split
  * of it into ordered micro-batches — including REPLAYED batches — the
  * maintained aggregate equals a sequential fold of the whole log. The
  * replay case is the one that matters: the store's correctness argument
  * is that a replayed batch leaves the state unchanged, so its retract
  * and re-add deltas cancel; this exercises that cancellation on
  * arbitrary logs, not just the hand-picked spec cases. Logs carry null
  * keys and keys repeated within a batch, and each planner cell runs
  * four of the 24 logs, since the state merge is a hash join whose build
  * and partitioning the planner chooses.
  *
  * Plain ScalaCheck `Gen` from fixed seeds (the scalatest bridge
  * artifact is not on the offline classpath) — deterministic runs.
  */
case class PropCatEv(seq: Long, key: Option[Int], op: String, cat: String, value: Double)

class IvmPropertySpec extends SparkSpec with PlannerCells {

  /** About one key in eight is null, and 1–40 events over at most 7
    * distinct keys, so batches repeat keys.
    */
  private val genEvents: Gen[List[PropCatEv]] = for {
    n <- Gen.choose(1, 40)
    keys <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(Option.empty[Int]), 7 -> Gen.choose(1, 6).map(Option(_))))
    ops <- Gen.listOfN(n, Gen.frequency(4 -> "c", 4 -> "u", 2 -> "d"))
    cats <- Gen.listOfN(n, Gen.oneOf("red", "blue", "green"))
  } yield keys.lazyZip(ops).lazyZip(cats).toList.zipWithIndex.map {
    case ((k, o, c), i) => PropCatEv(i.toLong, k, o, c, i * 0.5)
  }

  private def sample(seed: Long): List[PropCatEv] =
    genEvents.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  /** Reference semantics: fold the log, then count live keys per cat. */
  private def fold(events: Seq[PropCatEv]): Map[String, Long] =
    events.sortBy(_.seq)
      .foldLeft(Map.empty[Option[Int], PropCatEv]) { (st, e) =>
        if (e.op == "d") st - e.key else st.updated(e.key, e)
      }
      .values.groupBy(_.cat).map { case (c, es) => c -> es.size.toLong }

  test("maintained aggregate == fold for arbitrary logs, splits, and replays") {
    import spark.implicits._
    var sawNullKey, sawRepeatInBatch = false
    for (((cell, confs), c) <- plannerCells.zipWithIndex; seed <- 4L * c + 1 to 4L * c + 4)
      withConfs(confs) {
        val events = sample(seed)
        val rnd = new scala.util.Random(seed)
        // split the log into 1-4 ordered batches
        val nBatches = 1 + rnd.nextInt(3)
        val batches = events.grouped(math.max(1, events.size / nBatches)).toSeq
        sawNullKey ||= events.exists(_.key.isEmpty)
        sawRepeatInBatch ||= batches.exists(b => b.map(_.key).distinct.size < b.size)
        val dir = java.nio.file.Files.createTempDirectory(s"graft-ivm-prop$seed").toString
        val store = new StreamApply.IvmUpsertStore(spark, dir,
          key = "key", seq = "seq", opCol = "op", deleteOp = "d",
          payloadCols = Seq("cat", "value"), aggCol = "cat")
        for ((b, i) <- batches.zipWithIndex) {
          store.merge(b.toDF(), i.toLong)
          // replay a random already-applied batch ~half the time
          if (rnd.nextBoolean() && i > 0) {
            val j = rnd.nextInt(i)
            store.merge(batches(j).toDF(), j.toLong)
          }
        }
        // and an older batch once more after all the newer ones
        val replayed = (seed % batches.size).toInt
        store.merge(batches(replayed).toDF(), replayed.toLong)
        val got =
          if (store.aggView().schema.isEmpty) Map.empty[String, Long]
          else store.aggView().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == fold(events),
          s"cell=$cell seed=$seed replayed batch $replayed got=$got want=${fold(events)}")
      }
    assert(sawNullKey && sawRepeatInBatch, "the generator stopped covering null or repeated keys")
  }
}
