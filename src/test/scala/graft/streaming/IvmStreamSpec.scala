package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

case class CatEv(seq: Long, key: Int, op: String, cat: String, value: Double)

/** Streaming incremental view maintenance: the maintained aggregate must
  * equal a full recompute after every micro-batch, survive replays
  * without double-counting (the deltas of an already-applied batch
  * cancel), and commit atomically with the state (one pointer).
  */
class IvmStreamSpec extends SparkSpec {

  private val batch1 = Seq(
    CatEv(1, 1, "c", "red", 1.0), CatEv(2, 2, "c", "blue", 2.0),
    CatEv(3, 3, "c", "red", 3.0))
  private val batch2 = Seq(
    CatEv(4, 1, "u", "blue", 1.5), // key 1 migrates red -> blue
    CatEv(5, 2, "d", "blue", 0.0), // key 2 deleted
    CatEv(6, 4, "c", "red", 4.0))
  private val batch3 = Seq(
    CatEv(7, 2, "c", "red", 2.5),  // key 2 reborn in red
    CatEv(8, 3, "d", "red", 0.0))

  private def mkStore(dir: String) = new StreamApply.IvmUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("cat", "value"), aggCol = "cat")

  private def aggOf(store: StreamApply.IvmUpsertStore): Map[String, Long] = {
    val a = store.aggView()
    if (a.schema.isEmpty) Map.empty
    else a.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def recompute(events: Seq[CatEv]): Map[String, Long] = {
    import spark.implicits._
    graft.cdc.Materialize.view(events.toDF(), "key", "seq", col("op"), "d",
        Seq("cat"))
      .groupBy("cat").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("maintained aggregate equals recomputation after every batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ivm").toString
    val store = mkStore(dir)
    var seen = Seq.empty[CatEv]
    for ((b, i) <- Seq(batch1, batch2, batch3).zipWithIndex) {
      store.merge(b.toDF(), i.toLong)
      seen ++= b
      assert(aggOf(store) == recompute(seen), s"diverged after batch $i")
    }
    assert(aggOf(store) == Map("red" -> 2L, "blue" -> 1L)) // 4,2 red; 1 blue
  }

  test("replaying an applied batch leaves the aggregate untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ivm-replay").toString
    val store = mkStore(dir)
    store.merge(batch1.toDF(), 0)
    store.merge(batch2.toDF(), 1)
    val before = aggOf(store)
    store.merge(batch1.toDF(), 0) // restart-and-replay
    assert(aggOf(store) == before, "replay double-counted the aggregate")
    assert(aggOf(store) == recompute(batch1 ++ batch2))
  }

  test("streaming IVM sink converges to the batch recompute") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ivm-stream").toString
    val store = mkStore(dir)
    val in = MemoryStream[CatEv]
    val q = StreamApply.batchSink(in.toDF(), s"$dir/ckpt")(store.merge).start()
    try {
      for (b <- Seq(batch1, batch2, batch3)) {
        in.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(aggOf(store) == recompute(batch1 ++ batch2 ++ batch3))
    // and the state view agrees with the aggregate it claims to index
    val fromView = store.view().groupBy("cat").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromView == aggOf(store))
  }

  test("a torn version (state written, pointer never swung) is invisible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ivm-torn").toString
    val store = mkStore(dir)
    store.merge(batch1.toDF(), 0)
    // crash mid-merge: state of the next version written, agg + pointer not
    batch2.toDF().write.parquet(s"$dir/state_v1_e1/state")
    assert(aggOf(store) == recompute(batch1), "torn version leaked")
    // the replayed merge collects the stray and commits atomically
    store.merge(batch2.toDF(), 1)
    assert(aggOf(store) == recompute(batch1 ++ batch2))
  }
}
