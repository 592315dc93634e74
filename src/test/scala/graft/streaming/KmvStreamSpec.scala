package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming KMV sketch: the maintained bottom-k must equal the batch
  * fold over the whole stream under ANY micro-batching, and — because
  * union-then-prune is idempotent — under redelivery of arbitrary
  * prefixes with no dedup in the pipeline. Mirrors `DistinctStreamSpec`
  * for the second sketch family.
  */
class KmvStreamSpec extends SparkSpec {
  import KmvStream.{Hashed, sketchView, K}

  private def run(batches: Seq[Seq[Hashed]]): Map[String, Seq[Long]] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Hashed]
      val name = s"kmv_out_${System.nanoTime()}"
      val q = sketchView(in.toDS()).writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val rows = spark.table(name)
        .selectExpr("group", "bottom").collect()
      rows.zipWithIndex.groupBy(_._1.getString(0)).map { case (g, rs) =>
        g -> rs.maxBy(_._2)._1.getSeq[Long](1)
      }
    }
  }

  // independent fold: the r18 bottom-k definition in plain Scala
  private def batchBottomK(evs: Seq[Hashed]): Map[String, Seq[Long]] =
    evs.groupBy(_.group).map { case (g, es) =>
      g -> es.map(_.h).distinct.sorted.take(K)
    }

  private val evs = (1 to 500).map { i =>
    // repeated ids (the sketch must dedup); 360 % 3 == 0 pins each id to
    // one group, 120 distinct ids per group — comfortably past K = 64,
    // so every sketch genuinely prunes
    val id = i % 360
    Hashed(s"g${i % 3}", (id.toLong * 2654435761L) % 2147483647L)
  }

  test("streaming bottom-k equals the batch fold, independent of batching") {
    val expected = batchBottomK(evs)
    val a = run(Seq(evs.take(50), evs.slice(50, 300), evs.drop(300)))
    val b = run(Seq(evs))
    assert(a == expected, "3-batch run diverged")
    assert(b == expected, "1-batch run diverged")
  }

  test("redelivered prefix leaves the sketch unchanged (idempotent union)") {
    val expected = batchBottomK(evs)
    val got = run(Seq(evs.take(200), evs.slice(100, 300), evs.slice(100, 300),
      evs.drop(300)))
    assert(got == expected, "redelivery changed the sketch")
  }

  test("state caps at K ascending distinct values; merge law vs batch r18") {
    val got = run(Seq(evs))
    got.foreach { case (g, bottom) =>
      assert(bottom.length <= K, s"group $g oversized")
      assert(bottom == bottom.distinct.sorted, s"group $g not canonical")
    }
    // the per-group sketches UNION (concat + re-prune) into exactly the
    // global sketch of the whole feed — the r18 merge law, live state
    val global = got.values.flatten.toSeq.distinct.sorted.take(K)
    assert(global == evs.map(_.h).distinct.sorted.take(K),
      "KMV merge law violated across group sketches")
    // distinct ids per group exceed K, so every sketch is genuinely cut
    assert(got.values.forall(_.length == K),
      "a group never filled its sketch — the prune proves nothing")
  }
}
