package graft.streaming

import graft.SparkSpec
import graft.cdc.Materialize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

case class Ev(seq: Long, key: Int, op: String, value: Double, ts: Timestamp)

/** Streaming/batch parity: the streaming materialization must converge to
  * exactly what the batch fold computes over the same events — the core
  * CDC invariant (SURVEY.md §5.4) — and the watermark machinery must
  * bound state and drop late rows.
  */
class StreamApplySpec extends SparkSpec {

  private def ts(minute: Int) = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val batch1 = Seq(
    Ev(1, 1, "c", 1.0, ts(1)), Ev(2, 2, "c", 2.0, ts(2)), Ev(3, 1, "u", 1.5, ts(3)))
  private val batch2 = Seq(
    Ev(4, 2, "d", 0.0, ts(4)), Ev(5, 3, "c", 3.0, ts(5)), Ev(6, 1, "u", 1.9, ts(6)))
  private val batch3 = Seq( // key 2 reborn after delete; key 3 deleted
    Ev(7, 2, "c", 2.5, ts(7)), Ev(8, 3, "d", 0.0, ts(8)))

  test("streaming upsert converges to the batch materialization") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-upsert").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))

    val in = MemoryStream[Ev]
    val q = StreamApply.upsertWriter(in.toDF(), store, s"$dir/ckpt").start()
    try {
      for (b <- Seq(batch1, batch2, batch3)) {
        in.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = store.view().select("key", "seq", "value")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val all = (batch1 ++ batch2 ++ batch3).toDF()
    val batchView = Materialize.view(all, "key", "seq", col("op"), "d", Seq("value"))
      .select("key", "seq", "value")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchView, s"stream=$streamed batch=$batchView")
    assert(streamed == Set((1, 6L, 1.9), (2, 7L, 2.5))) // 3 deleted, 2 reborn
  }

  test("a torn version write (pointer never swung) is invisible and collected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-crash-torn").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
    store.merge(batch1.toDF(), 0)
    // crash mid-parquet-job of merge(batch2, 1): a partial version dir
    // exists but CURRENT still names the batch-0 state
    val torn = java.nio.file.Paths.get(s"$dir/state_v1_e1")
    java.nio.file.Files.createDirectory(torn)
    java.nio.file.Files.write(torn.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage — unreadable as parquet
    // the reader follows the pointer: old state visible; readers never
    // delete (another process's writer may own the un-committed dir)
    val keys = store.view().select("key").collect().map(_.getInt(0)).toSet
    assert(keys == Set(1, 2), s"torn version leaked into the view: $keys")
    assert(java.nio.file.Files.exists(torn), "reader deleted a version dir")
    // the replayed merge names its version state_v1_e1 again: its write
    // overwrites the torn dir, then it swings the pointer to it
    store.merge(batch2.toDF(), 1)
    assert(store.view().select("key").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("crash between pointer-tmp write and the rename keeps the old state live") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-crash-prerename").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
    store.merge(batch1.toDF(), 0)
    // merge(batch2, 1) got as far as: complete new version written, the
    // pointer CONTENT written to its tmp file — but died before the
    // atomic rename. Nothing is committed.
    Materialize.latestByKey(batch1.toDF().unionByName(batch2.toDF()),
        "key", "seq", Seq("op", "value"))
      .write.parquet(s"$dir/state_v1_e1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/CURRENT.tmp.state_v1_e1"),
      "state_v1_e1".getBytes)
    val keys = store.view().select("key").collect().map(_.getInt(0)).toSet
    assert(keys == Set(1, 2), s"uncommitted version leaked into the view: $keys")
    // the replayed merge reuses both names: its write overwrites the
    // version dir, its pointer write truncates the tmp and renames it over
    // CURRENT; clean() after the swing collects any other stray
    store.merge(batch2.toDF(), 1)
    assert(store.view().select("key").collect().map(_.getInt(0)).toSet == Set(1, 3))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/CURRENT.tmp.state_v1_e1")))
  }

  test("crash between the pointer rename and cleanup serves the NEW state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-crash-postrename").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
    store.merge(batch1.toDF(), 0)
    // merge(batch2, 1) crossed its commit point — CURRENT atomically
    // renamed to name the new version — but died before cleanup, leaving
    // the superseded batch-0 dir and an orphan pointer tmp behind
    Materialize.latestByKey(batch1.toDF().unionByName(batch2.toDF()),
        "key", "seq", Seq("op", "value"))
      .write.parquet(s"$dir/state_v1_e1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/CURRENT"), "state_v1_e1".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/CURRENT.tmp.state_v1_e1"),
      "state_v1_e1".getBytes)
    // committed = visible, regardless of cleanup having run
    val keys = store.view().select("key").collect().map(_.getInt(0)).toSet
    assert(keys == Set(1, 3), s"commit point not honored: $keys")
    // the next merge continues from the committed state and collects the
    // strays: the orphan tmp at once, the superseded v0 dir after one
    // further commit (the previous version is kept one merge longer to
    // protect lazy snapshot() frames handed out before the last commit)
    store.merge(batch3.toDF(), 2)
    assert(store.view().select("key").collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/CURRENT.tmp.state_v1_e1")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/state_v0_e0")), "superseded state not collected")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/state_v1_e1")),
      "previous version must survive one merge for lazy readers")
  }

  test("compact: fewer files, identical state, same atomic commit discipline") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
    // AQE's partition coalescing hides the small-file problem at test
    // scale — disable it for the merges so the store writes the
    // several-part layout a real shuffle.partitions=N deployment produces
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      store.merge(batch1.toDF().repartition(4), 0)
      store.merge(batch2.toDF().repartition(4), 1)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    def partFiles(ver: String) =
      new java.io.File(s"$dir/$ver").listFiles()
        .count(f => f.getName.startsWith("part-"))
    def current = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/CURRENT"))).trim
    val before = store.snapshot().collect().map(_.toString).sorted.toSeq
    assert(partFiles(current) > 1, "precondition: multiple small part files")

    // a torn compaction (dir written, pointer never swung) is invisible
    // and collected by the next writer, exactly like a torn merge
    Materialize.latestByKey(batch1.toDF(), "key", "seq", Seq("op", "value"))
      .write.parquet(s"$dir/state_vcompact_e99")
    assert(store.snapshot().collect().map(_.toString).sorted.toSeq == before)

    StreamApply.compactStores(spark, dir)
    val liveAfter = current
    assert(liveAfter.contains("compact"), s"compact version not live: $liveAfter")
    assert(partFiles(liveAfter) == 1, "state not rewritten to one file")
    assert(store.snapshot().collect().map(_.toString).sorted.toSeq == before,
      "compaction changed the data")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/state_vcompact_e99")),
      "torn compaction dir not collected")
    // and the store keeps merging normally on top of the compacted state
    store.merge(batch3.toDF(), 2)
    assert(store.view().select("key").collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("restart-and-replay of an old batch cannot resurrect a deleted key") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replay").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
    store.merge(batch1.toDF(), 0)
    store.merge(batch2.toDF(), 1)
    store.merge(batch1.toDF(), 0) // replay after "restart"
    val keys = store.view().select("key").collect().map(_.getInt(0)).toSet
    assert(keys == Set(1, 3), s"deleted key resurrected: $keys")
  }

  test("windowed stream counts equal the batch aggregation; late rows drop") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val counts = StreamApply.windowedCounts(in.toDF(), "ts",
      width = "5 minutes", horizon = "2 minutes")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("win_counts").start()
    try {
      in.addData(batch1 ++ batch2) // minutes 1..6 → windows 10:00 and 10:05
      q.processAllAvailable()
      // advance watermark far past both windows, closing them
      in.addData(Ev(100, 9, "c", 0.0, ts(59)))
      q.processAllAvailable()
      // a late event for an already-closed window must be dropped
      in.addData(Ev(101, 9, "u", 0.0, ts(1)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("win_counts")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batchRef = StreamApply.windowedCountsBatch(
        (batch1 ++ batch2).toDF(), "ts", "5 minutes")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(batchRef.forall { case (k, v) => streamed.get(k).contains(v) },
      s"stream=$streamed batch=$batchRef")
    assert(!streamed.values.exists(_ == 0), "late row leaked into a closed window")
  }

  test("streaming dedup drops redelivered event ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamApply.dedupped(in.toDF(), "ts", "seq")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch1) // full redelivery
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_out").count() == batch1.size)
  }
}
