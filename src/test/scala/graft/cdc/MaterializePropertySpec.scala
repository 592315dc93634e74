package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The core CDC invariant, property-checked: for ANY event sequence, the
  * distributed materialization (shuffle-partitioned, arrival-order-free)
  * equals a sequential in-memory fold of the same events in seq order —
  * the semantics the reference consumer gets for free from its single
  * Kafka partition (`terraform/main.tf:79`).
  *
  * Plain ScalaCheck `Gen` driven from fixed seeds (the scalatest bridge
  * artifact is not on the offline classpath) — deterministic across runs.
  */
case class PropEv(seq: Long, key: Int, op: String, value: Double)

/** A store-merge event; `key = None` is a null key. */
case class StoreEv(seq: Long, key: Option[Int], op: String, value: Double)

class MaterializePropertySpec extends SparkSpec {

  private type E = PropEv
  private val E = PropEv

  private val genEvents: Gen[List[E]] = for {
    n <- Gen.choose(0, 60)
    keys <- Gen.listOfN(n, Gen.choose(1, 8))
    ops <- Gen.listOfN(n, Gen.frequency(4 -> "c", 4 -> "u", 2 -> "d"))
    vals <- Gen.listOfN(n, Gen.choose(0.0, 100.0))
  } yield keys.lazyZip(ops).lazyZip(vals).toList.zipWithIndex.map {
    case ((k, o, v), i) => E(i.toLong, k, o, v)
  }

  private def sample(seed: Long): List[E] =
    genEvents.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  /** Reference semantics: apply events one by one in seq order. */
  private def fold(events: Seq[E]): Map[Int, (Long, Double)] =
    events.sortBy(_.seq).foldLeft(Map.empty[Int, (Long, Double)]) {
      case (state, e) =>
        if (e.op == "d") state - e.key
        else state.updated(e.key, (e.seq, e.value))
    }

  test("materialized view == sequential fold, for arbitrary event logs") {
    import spark.implicits._
    for (seed <- 1L to 30L) {
      val events = sample(seed)
      // shuffle arrival order to prove order-independence
      val rnd = new scala.util.Random(seed)
      val arrivalShuffled = rnd.shuffle(events)
      val view =
        if (events.isEmpty) Map.empty
        else Materialize.view(arrivalShuffled.toDF(), "key", "seq", col("op"), "d", Seq("value"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(view == fold(events), s"seed=$seed")
    }
  }

  /** Store-merge logs: about one key in eight is null, and 1–60 events
    * over at most 9 distinct keys, so batches repeat keys.
    */
  private val genStoreEvents: Gen[List[StoreEv]] = for {
    n <- Gen.choose(1, 60)
    keys <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(Option.empty[Int]), 7 -> Gen.choose(1, 8).map(Option(_))))
    ops <- Gen.listOfN(n, Gen.frequency(4 -> "c", 4 -> "u", 2 -> "d"))
    vals <- Gen.listOfN(n, Gen.choose(0.0, 100.0))
  } yield keys.lazyZip(ops).lazyZip(vals).toList.zipWithIndex.map {
    case ((k, o, v), i) => StoreEv(i.toLong, k, o, v)
  }

  private def storeFold(events: Seq[StoreEv]): Map[Option[Int], (Long, Double)] =
    events.sortBy(_.seq).foldLeft(Map.empty[Option[Int], (Long, Double)]) {
      case (state, e) =>
        if (e.op == "d") state - e.key
        else state.updated(e.key, (e.seq, e.value))
    }

  /** The planner settings a result must not depend on. */
  private val plannerCells: Seq[(String, Map[String, String])] = Seq(
    "session defaults" -> Map.empty,
    "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "7 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "no broadcast joins" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "whole-stage codegen off" -> Map("spark.sql.codegen.wholeStage" -> "false"))

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("streaming store merge under any batch split == sequential fold") {
    import spark.implicits._
    var sawNullKey, sawRepeatInBatch = false
    for ((cell, confs) <- plannerCells; seed <- 1L to 6L) withConfs(confs) {
      val events = genStoreEvents.apply(Gen.Parameters.default, Seed(seed * 101)).getOrElse(Nil)
      val nSplits = (seed % 4 + 1).toInt
      val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
      val store = new graft.streaming.StreamApply.ParquetUpsertStore(
        spark, dir, "key", "seq", "op", "d", Seq("value"))
      val batches = events.grouped(math.max(1, events.size / nSplits)).toSeq
      sawNullKey ||= events.exists(_.key.isEmpty)
      sawRepeatInBatch ||= batches.exists(b => b.map(_.key).distinct.size < b.size)
      batches.zipWithIndex.foreach { case (b, i) => store.merge(b.toDF(), i.toLong) }
      // redelivery of an older batch after newer ones: its events lose to
      // every later event, so deleted keys stay deleted
      val replayed = (seed % batches.size).toInt
      store.merge(batches(replayed).toDF(), replayed.toLong)
      val got = store.view().select("key", "seq", "value").collect().map(r =>
        Option.when(!r.isNullAt(0))(r.getInt(0)) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == storeFold(events), s"cell=$cell seed=$seed replayed batch $replayed")
    }
    assert(sawNullKey && sawRepeatInBatch, "the generator stopped covering null or repeated keys")
  }
}
