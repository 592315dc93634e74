package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming distinct-count sketch: maintained registers must equal
  * the batch fold over the whole stream under ANY micro-batching, and —
  * because max-merge is idempotent — under redelivery of arbitrary
  * prefixes, with no dedup in the pipeline.
  */
class DistinctStreamSpec extends SparkSpec {
  import DistinctStream.{Hashed, registersView}

  private def run(batches: Seq[Seq[Hashed]]): Map[String, Seq[Long]] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Hashed]
      val name = s"distinct_out_${System.nanoTime()}"
      val q = registersView(in.toDS()).writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val rows = spark.table(name)
        .selectExpr("group", "registers").collect()
      rows.zipWithIndex.groupBy(_._1.getString(0)).map { case (g, rs) =>
        g -> rs.maxBy(_._2)._1.getSeq[Long](1)
      }
    }
  }

  // independent fold: the r7 register definition in plain Scala
  private def batchRegisters(evs: Seq[Hashed]): Map[String, Seq[Long]] =
    evs.groupBy(_.group).map { case (g, es) =>
      val regs = new Array[Long](64)
      es.foreach { e =>
        val b = (e.h % 64).toInt
        val w = (e.h / 64) & -(e.h / 64)
        if (w > regs(b)) regs(b) = w
      }
      g -> regs.toSeq
    }

  private val evs = (1 to 500).map { i =>
    // deterministic pseudo-hashes with repeated ids (i % 120)
    val id = i % 120
    Hashed(s"g${i % 3}", (id.toLong * 2654435761L) % 2147483647L)
  }

  test("streaming registers equal the batch fold, independent of batching") {
    val expected = batchRegisters(evs)
    val a = run(Seq(evs.take(50), evs.slice(50, 300), evs.drop(300)))
    val b = run(Seq(evs))
    assert(a == expected, s"3-batch run diverged")
    assert(b == expected, s"1-batch run diverged")
  }

  test("redelivered prefix leaves the registers unchanged (idempotent max-merge)") {
    val expected = batchRegisters(evs)
    // the middle batch is delivered twice — at-least-once, no dedup
    val got = run(Seq(evs.take(200), evs.slice(100, 300), evs.slice(100, 300),
      evs.drop(300)))
    assert(got == expected, "redelivery changed the sketch")
  }

  test("state is exactly 64 registers per group; registers only grow") {
    val g1 = run(Seq(evs.take(100)))
    val g2 = run(Seq(evs))
    for ((g, r1) <- g1; r2 = g2(g)) {
      assert(r1.length == 64 && r2.length == 64)
      assert(r1.zip(r2).forall { case (a, b) => b >= a },
        s"group $g: a register shrank")
    }
  }
}
