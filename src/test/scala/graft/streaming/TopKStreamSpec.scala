package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming top-k view: incrementally-maintained per-group ranking
  * must equal the batch top-k over the whole stream regardless of how
  * the stream is micro-batched (the monotone top-k invariant the
  * operator's truncation relies on).
  */
class TopKStreamSpec extends SparkSpec {
  import TopKStream.{Scored, topkView}

  private def run(batches: Seq[Seq[Scored]], k: Int): Map[Int, Seq[(Long, Double)]] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Scored]
      val name = s"topk_out_${System.nanoTime()}"
      val q = topkView(in.toDS(), k).writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
      // latest emission per group: batchId-free, so key on insertion
      // order — memory sink appends, so the last row per group wins
      val rows = spark.table(name)
        .selectExpr("_1 as grp", "_2 as items").collect()
      rows.zipWithIndex.groupBy(_._1.getInt(0)).map { case (g, rs) =>
        val last = rs.maxBy(_._2)._1
        g -> last.getSeq[org.apache.spark.sql.Row](1)
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
    }
  }

  private def batchTopK(evs: Seq[Scored], k: Int): Map[Int, Seq[(Long, Double)]] =
    evs.groupBy(_.group).map { case (g, es) =>
      g -> es.groupBy(_.id).map { case (id, xs) => (id, xs.map(_.score).max) }
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    }

  test("streaming top-k equals batch top-k, independent of batching") {
    val evs = (1 to 200).map { i =>
      Scored(i % 3, (i * 7 % 40).toLong, (i * 131 % 97).toDouble)
    }
    val expected = batchTopK(evs, 5)
    // two very different batchings of the same stream
    val a = run(Seq(evs.take(20), evs.slice(20, 120), evs.drop(120)), 5)
    val b = run(Seq(evs.take(150), evs.drop(150)), 5)
    assert(a == expected, s"3-batch run diverged: $a vs $expected")
    assert(b == expected, s"2-batch run diverged")
  }

  test("re-scoring an id keeps max; state per group stays bounded at k") {
    val evs = Seq(
      Scored(0, 1L, 10.0), Scored(0, 2L, 20.0), Scored(0, 3L, 30.0),
      Scored(0, 1L, 50.0), // id 1 re-scored upward — must displace
      Scored(0, 1L, 5.0)   // downward re-score must be ignored
    )
    val got = run(Seq(evs.take(3), evs.drop(3)), 2)
    assert(got(0) == Seq((1L, 50.0), (3L, 30.0)), s"got ${got(0)}")
    assert(got(0).length <= 2)
  }
}
