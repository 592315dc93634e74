package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming gap monitor must equal the batch o25 audit over the
  * whole stream under ANY micro-batching, and — set-bit being
  * idempotent — under redelivered prefixes with no dedup anywhere.
  */
class SeqGapStreamSpec extends SparkSpec {
  import SeqGapStream.{BlockWidth, Offset, gapView}

  private def run(batches: Seq[Seq[Long]]): Map[Long, (Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Offset]
      val name = s"gap_out_${System.nanoTime()}"
      val q = gapView(in.toDS()).writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        batches.foreach { b =>
          in.addData(b.map(s => Offset(s / BlockWidth, s)))
          q.processAllAvailable()
        }
      } finally q.stop()
      val rows = spark.table(name)
        .selectExpr("blk", "first_seq", "last_seq", "n_present", "n_missing")
        .collect()
      rows.zipWithIndex.groupBy(_._1.getLong(0)).map { case (b, rs) =>
        val last = rs.maxBy(_._2)._1
        b -> ((last.getLong(1), last.getLong(2), last.getLong(3), last.getLong(4)))
      }
    }
  }

  // the batch o25 definition as a plain fold
  private def batchAudit(seqs: Seq[Long]): Map[Long, (Long, Long, Long, Long)] =
    seqs.groupBy(_ / BlockWidth).map { case (b, ss) =>
      val d = ss.distinct
      b -> ((d.min, d.max, d.size.toLong, d.max - d.min + 1 - d.size))
    }

  // block 0 with two holes, block 1 complete-sparse, block 3 singleton
  private val seqs: Seq[Long] =
    (0L until 1000L).filterNot(s => s == 13L || s == 750L) ++
      (1000L until 1100L) :+ 3456L

  test("streaming audit equals the batch fold, independent of batching") {
    val expected = batchAudit(seqs)
    assert(expected(0L)._4 == 2L) // self-check: the holes are real
    val a = run(Seq(seqs.take(100), seqs.slice(100, 800), seqs.drop(800)))
    val b = run(Seq(seqs))
    assert(a == expected, s"3-batch run diverged: $a")
    assert(b == expected, "1-batch run diverged")
  }

  test("redelivered prefix cannot mask a hole") {
    val expected = batchAudit(seqs)
    val got = run(Seq(seqs.take(500), seqs.take(500), seqs.drop(500),
      seqs.slice(200, 600)))
    assert(got == expected, "redelivery changed the audit")
  }
}
