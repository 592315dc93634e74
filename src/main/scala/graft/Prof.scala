package graft

import org.apache.spark.scheduler._

/** Offline per-query profile: wall seconds, Spark job count, stage count,
  * task count, and summed executor task time for each named registry
  * query — separates "the cluster computed for N seconds" from "the
  * driver waited on N sequential tiny jobs", which a wall-clock bench
  * cannot distinguish. Methodology mirrors Bench (warmup at the smallest
  * SF, System.gc() between queries, min of two timed passes is NOT used —
  * this is a diagnostic, each query runs twice and both are printed).
  * Pass 2 also prints each query's stages with their task counts and
  * task time.
  *
  * Usage: runMain graft.Prof <sfDir> q1,q2,...
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.select(args(1))
    val spark = Session.local()

    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0)
    // per-stage detail for the current query (name → tasks, taskTime)
    val stageDetail = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = sc.stageInfo
        stageDetail.merge(f"${si.stageId}%05d ${si.name.take(90)}",
          (si.numTasks.toLong, si.taskMetrics.executorRunTime),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
      }
    })

    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).isDirectory) d else sfDir
    }
    // warm every named query once (classloading, codegen)
    names.foreach { n =>
      try Bench.force(SparkEntry.queries(n)(spark, warmDir))
      catch { case _: Throwable => () }
    }
    println(f"${"query"}%-28s pass  wall_s  jobs stages  tasks  tasktime_s")
    for (pass <- 1 to 2) {
      Tables.clearShared(spark)
      names.foreach { n =>
        System.gc()
        val (j0, s0, t0, tt0) = (jobs.get, stages.get, tasks.get, taskTimeMs.get)
        val w0 = System.nanoTime()
        try Bench.force(SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"[prof] $n: $e") }
        val wall = (System.nanoTime() - w0) / 1e9
        // listener bus is async; give it a beat to drain
        Thread.sleep(150)
        println(f"$n%-28s $pass%4d  ${wall}%6.3f  ${jobs.get - j0}%4d ${stages.get - s0}%6d ${tasks.get - t0}%6d  ${(taskTimeMs.get - tt0) / 1e3}%9.3f")
        if (pass == 2) {
          stageDetail.entrySet().stream()
            .sorted(java.util.Map.Entry.comparingByKey())
            .forEach { e =>
              println(f"    stage ${e.getKey}%-96s tasks=${e.getValue._1}%4d  tt=${e.getValue._2 / 1e3}%8.3f s")
            }
        }
        stageDetail.clear()
      }
    }
    spark.stop()
  }
}
