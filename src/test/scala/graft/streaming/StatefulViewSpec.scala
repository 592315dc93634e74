package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The keyed view on `transformWithState`: state-store-backed CDC
  * materialization must equal the batch fold, stale replays must not
  * regress newer state, and the store TTL must evict a key's state after
  * the redelivery horizon.
  */
class StatefulViewSpec extends SparkSpec {
  import StreamApply.{KeyedEvent, statefulView}

  /** The rows the memory sink `name` holds so far, as
    * `(key, seq, value, deleted)`.
    */
  private def rows(name: String) = spark.table(name)
    .selectExpr("_1 as key", "_2.seq as seq", "_2.value as value", "_2.deleted as deleted")
    .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))

  /** Poll sink `name` until `n` rows equal `want`. A ProcessingTime-mode
    * query (required for store TTL) never quiesces, so
    * processAllAvailable cannot be relied on.
    */
  private def awaitRows(name: String, want: (Int, Long, Double, Boolean),
      what: String, n: Int = 1): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (rows(name).count(_ == want) < n) {
      assert(System.currentTimeMillis() < deadline,
        s"$what never appeared; table=${rows(name).toSeq}")
      Thread.sleep(100)
    }
  }

  /** Start `view` into memory sink `name`. A ProcessingTime-mode query
    * runs batches back to back under the default trigger, so a stop
    * would land inside one; the interval leaves idle time between them.
    */
  private def start(view: Dataset[_], name: String): StreamingQuery =
    view.writeStream.trigger(Trigger.ProcessingTime("500 milliseconds"))
      .outputMode("update").format("memory").queryName(name).start()

  /** Stop `q` between triggers: a stop during one cancels its RocksDB
    * state commit, which logs CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT.
    */
  private def stopIdle(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    q.stop()
  }

  test("stateful view converges to last-write-wins with tombstones kept") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB provider (also the one a
    // large deployment runs — disk-backed state, changelog checkpoints)
    withRocksDb {
      val in = MemoryStream[KeyedEvent]
      val q = start(statefulView(in.toDS()), "tws_out")
      try {
        in.addData(Seq(
          KeyedEvent(1, 1, "c", 1.0), KeyedEvent(2, 2, "c", 2.0)))
        awaitRows("tws_out", (1, 1L, 1.0, false), "initial key-1 state")
        in.addData(Seq(
          KeyedEvent(3, 1, "u", 1.5), KeyedEvent(4, 2, "d", 0.0)))
        awaitRows("tws_out", (1, 3L, 1.5, false), "key-1 update")
        awaitRows("tws_out", (2, 4L, 0.0, true), "key-2 tombstone")
        in.addData(Seq(KeyedEvent(1, 1, "c", 1.0))) // stale replay
        // the replay batch re-emits the UNCHANGED seq-3 state (update-mode
        // memory sink appends per batch, so a second identical row proves
        // the replay was processed and rejected)
        awaitRows("tws_out", (1, 3L, 1.5, false), "replay batch", n = 2)
      } finally stopIdle(q)
    }
    // final state per key: replay must NOT have regressed key 1
    val last = rows("tws_out").groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
    assert(last(1) == ((1, 3L, 1.5, false)), s"key 1 state wrong: ${last(1)}")
    assert(last(2) == ((2, 4L, 0.0, true)), s"key 2 not tombstoned: ${last(2)}")
  }

  test("transformWithState view matches the mapGroupsWithState fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // out-of-order deliveries over three batches: a stale update after a
    // newer one (key 2), delete then re-create (key 3), a delete of a key
    // never created (key 4), and a replay after the tombstone (key 1)
    val batches = Seq(
      Seq(KeyedEvent(4, 1, "u", 4.0), KeyedEvent(2, 2, "c", 2.0),
        KeyedEvent(6, 2, "u", 6.0), KeyedEvent(5, 3, "c", 5.0),
        KeyedEvent(1, 1, "c", 1.0)),
      Seq(KeyedEvent(3, 2, "u", 3.0), KeyedEvent(8, 3, "d", 0.0),
        KeyedEvent(7, 1, "d", 0.0), KeyedEvent(10, 4, "d", 0.0)),
      Seq(KeyedEvent(9, 3, "c", 9.0), KeyedEvent(1, 1, "c", 1.0)))
    // the fold the retired mapGroupsWithState view computed, restated
    // apart from the processor: per key the highest-seq event wins and a
    // delete leaves a tombstone
    val want = batches.flatten.groupBy(_.key).map { case (k, es) =>
      val top = es.maxBy(_.seq)
      val deleted = top.op == "d"
      k -> ((k, top.seq, if (deleted) 0.0 else top.value, deleted))
    }
    withRocksDb {
      val in = MemoryStream[KeyedEvent]
      val q = start(statefulView(in.toDS()), "fold_out")
      try {
        in.addData(batches(0))
        awaitRows("fold_out", (2, 6L, 6.0, false), "first batch")
        in.addData(batches(1))
        awaitRows("fold_out", (4, 10L, 0.0, true), "second batch")
        in.addData(batches(2))
        awaitRows("fold_out", (3, 9L, 9.0, false), "key-3 re-creation")
        // the replay re-emits key 1's unchanged tombstone
        awaitRows("fold_out", (1, 7L, 0.0, true), "replay batch", n = 2)
      } finally stopIdle(q)
    }
    // the memory sink keeps batches in arrival order, so the last row per
    // key is its final state: a stale event that regressed it shows here
    val got = rows("fold_out").groupBy(_._1).map { case (k, rs) => k -> rs.last }
    assert(got == want)
  }

  test("ttl view evicts tombstones after the horizon; stale events revive") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[KeyedEvent]
      val q = start(statefulView(in.toDS(), ttl = java.time.Duration.ofMillis(200)),
        "ttl_out")
      try {
        in.addData(Seq(
          KeyedEvent(1, 1, "c", 1.0), KeyedEvent(2, 2, "c", 2.0),
          KeyedEvent(3, 2, "d", 0.0))) // key 2 tombstoned
        awaitRows("ttl_out", (2, 3L, 0.0, true), "tombstone emission")
        Thread.sleep(400) // pass the horizon
        // WITHIN the horizon the tombstone blocks this stale event (the
        // test above); AFTER it the state is gone and the event re-creates
        // the key — the accepted contract once redelivery is impossible,
        // and the proof that the state was really removed.
        in.addData(Seq(KeyedEvent(2, 2, "c", 2.0)))
        awaitRows("ttl_out", (2, 2L, 2.0, false), "post-eviction re-creation")
      } finally stopIdle(q)
    }
  }
}
