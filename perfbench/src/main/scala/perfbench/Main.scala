package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What a workload needs from the run: the session, the run's private
  * temp root, the seed and run length, and the tracing pieces.
  */
final class RunContext(val spark: SparkSession, val root: Path, val benchDir: Path,
    val dataDir: Path, val seed: Long, val seconds: Double, trace: Boolean,
    val setupReps: Int, sessionStartS: Double) {
  val tracer = new Tracer(trace)
  val jobs = new JobListener
  val progress = new ProgressListener
  // the progress listener also gives the trigger commit times freshness
  // needs, so it is registered in every run; the job listener only traced
  spark.streams.addListener(progress)
  if (trace) spark.sparkContext.addSparkListener(jobs)

  def tag(name: String): String = s"pb:$name"

  /** Runs `body` with the job tag `pb:<name>` on this thread. */
  def tagged[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val t = tag(name)
    val had = sc.getJobTags().contains(t)
    sc.addJobTag(t)
    try body finally if (!had) sc.removeJobTag(t)
  }

  private var setupS = 0.0
  def setupDone(workloadSetupS: Double): Unit = setupS = sessionStartS + workloadSetupS

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread, by thread id. */
  def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU time, in ns, Java threads have used since `before` was taken:
    * the driver, Spark's task and stream threads and the rest of Spark's
    * threads. It leaves out the JIT compiler's threads, which the JVM hides,
    * and the garbage collector's, which are not Java threads, so it counts
    * the work itself and not how far the JVM still is from warm.
    */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** Job sums by attribution, without the probe's jobs. */
  def workJobs(): Map[String, JobSums] = jobs.snapshot() - tag("probe")

  // Wall and CPU time of each run of the host-speed probe.
  private val probeWall, probeCpu = ArrayBuffer.empty[Double]

  /** Runs the host-speed probe `reps` times: a fixed Spark job that calls
    * no code of the repository (an aggregation planned anew, run in 4
    * tasks with a shuffle). How long it takes tracks how fast the shared
    * host runs JVM and Spark work at the time.
    */
  def probe(reps: Int): Unit = for (_ <- 0 until reps) {
    val th = threadCpu()
    val t0 = System.nanoTime()
    tagged("probe")(spark.range(0, 1 << 21, 1, 4).selectExpr("id % 997 as k").groupBy("k").count().collect())
    probeWall += (System.nanoTime() - t0) / 1e6
    probeCpu += threadCpuSince(th) / 1e6
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private var gc0 = 0L
  var progressMark = -1L

  /** Marks the start of the measured phase. */
  def startMeasure(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    jobs.reset()
    progressMark = progress.all.map(_.batchId).maxOption.getOrElse(-1L)
    gc0 = gcMs()
  }

  /** Marks its end; with tracing on, reports Spark-wide layer figures. */
  def endMeasure(r: Report, wallS: Double): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    r.e2e("setup_s", setupS, "s")
    r.info("measured_s") = f"$wallS%.3f"
    r.info("gc_ms") = gcMs() - gc0
    if (tracer.enabled) {
      val all = new JobSums
      workJobs().values.foreach(all.add)
      val cores = spark.sparkContext.defaultParallelism
      r.layer("spark.jobs", all.jobs, "count")
      r.layer("spark.stages", all.stages, "count")
      r.layer("spark.tasks", all.tasks, "count")
      r.layer("spark.one_task_stage_share", all.oneTaskStages.toDouble / math.max(all.stages, 1), "ratio")
      r.layer("spark.task_s", all.taskMs / 1e3, "s")
      r.layer("spark.cpu_s", all.cpuNs / 1e9, "s")
      r.layer("spark.cores_busy", all.taskMs / 1e3 / (wallS * cores), "ratio")
      r.layer("spark.shuffle_read_mb", all.shuffleRead / 1e6, "MB")
      r.layer("spark.shuffle_write_mb", all.shuffleWrite / 1e6, "MB")
      r.layer("spark.spill_mb", all.spill / 1e6, "MB")
      r.layer("jvm.gc_ms", (gcMs() - gc0).toDouble, "ms")
    }
  }

  /** The figures the contract line carries: `setup_s` and the mean wall
    * and CPU time per operation (per query, in `registry`), each scaled to
    * the reference host speed: multiplied by the probe's time on the
    * reference host over its median time in this run. The probe runs
    * `ProbeReps` times before the measured window (the workload calls
    * `probe`) and again here, after it. The unscaled figures and the
    * probe's are printed in the block.
    */
  var contractFigures: Map[String, Double] = Map.empty
  def contract(r: Report, opMs: Seq[Double], opCpuMs: Seq[Double]): Unit = {
    probe(Main.ProbeReps)
    def mean(xs: Seq[Double]) = xs.sum / math.max(xs.size, 1)
    r.e2e("op_mean_ms", mean(opMs), "ms", Some(opMs.size))
    r.e2e("op_cpu_mean_ms", mean(opCpuMs), "ms", Some(opCpuMs.size))
    r.e2e("probe_ms", Stats.median(probeWall.toSeq), "ms", Some(probeWall.size))
    r.e2e("probe_cpu_ms", Stats.median(probeCpu.toSeq), "ms", Some(probeCpu.size))
    val wallScale = Main.RefProbeMs / r.endToEnd("probe_ms").value
    val cpuScale = Main.RefProbeCpuMs / r.endToEnd("probe_cpu_ms").value
    r.info("host_speed_scale") = f"wall $wallScale%.4f, cpu $cpuScale%.4f"
    contractFigures = Map(
      "setup_s" -> setupS * wallScale,
      "op_mean_ms" -> mean(opMs) * wallScale,
      "op_cpu_mean_ms" -> mean(opCpuMs) * cpuScale)
  }
}

/** Runs one workload in this JVM and prints its report; the last line of
  * standard output is the result as one JSON object.
  *
  * Usage: perfbench.Main --workload cdc_apply|cdc_serve|registry|all
  *   --seed N --seconds S --trace 0|1 --root DIR --bench-dir DIR
  *   [--apply-keys N]
  *
  * `--apply-keys` sets the snapshot size of `cdc_apply` (default 100 000);
  * at the `cdc_serve` size it measures the apply capacity that workload's
  * offered rate is set against.
  */
object Main {

  val WorkloadNames: Seq[String] = Seq("cdc_apply", "cdc_serve", "registry")
  val Cores = 4
  val SetupReps = 3
  val ProbeReps = 8
  // The reference host speed, as the probe's median wall and CPU time on
  // it, in ms: round figures a little below the probe's times on the 4-core
  // VM the bounds were set on (100-190 ms wall, 150-250 ms CPU).
  val RefProbeMs = 100.0
  val RefProbeCpuMs = 100.0

  private def loadavg(): Double =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble).getOrElse(-1.0)

  private def rssPeakMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val benchDir = Paths.get(opts("bench-dir")).toAbsolutePath
    val wanted = if (workload == "all") WorkloadNames else Seq(workload)
    require(wanted.forall(WorkloadNames.contains), s"unknown workload $workload")
    Files.createDirectories(root)

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.graft.index.dir", root.resolve("index").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = (System.nanoTime() - s0) / 1e9

    val settings = Map(
      "cores" -> spark.sparkContext.defaultParallelism,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "SPARK_GRAFT_STREAM_SHUFFLE" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "unset"),
      "spark.sql.codegen.cache.maxEntries" -> spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version)

    val reports = wanted.map { w =>
      val r = new Report(w)
      val ctx = new RunContext(spark, Files.createDirectories(root.resolve(w)), benchDir,
        benchDir.resolve("data").resolve("sf0.01"), seed, seconds, trace, SetupReps,
        if (w == wanted.head) sessionStartS else 0.0)
      r.info("seed") = seed
      r.info("trace") = trace
      settings.foreach { case (k, v) => r.info(k) = v }
      r.info("loadavg1_before") = loadavg()
      try w match {
        case "cdc_apply" => Workloads.cdcApply(ctx, r, opts.get("apply-keys").fold(Workloads.ApplyKeys)(_.toInt))
        case "cdc_serve" => Workloads.cdcServe(ctx, r)
        case "registry" => Registry.run(ctx, r)
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          r.attempted += 1
          r.fail(s"workload aborted: $e")
      }
      r.info("loadavg1_after") = loadavg()
      r.e2e("rss_peak_mb", rssPeakMb(), "MB")
      r.e2e("fail_ratio", r.failed.toDouble / math.max(r.attempted, 1), "ratio")
      if (trace) ctx.tracer.writeTo(root.getParent.resolve("traces").resolve(s"$w-seed$seed.json"))
      println(r.render())
      (r, ctx.contractFigures)
    }
    spark.stop()

    val correct = reports.forall(_._1.correct)
    def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val metrics: Map[String, Any] =
      if (!trace) {
        val one = wanted.size == 1
        reports.flatMap { case (r, c) =>
          val p = if (one) "" else s"${r.workload}."
          Seq(s"${p}setup_s" -> metric(c.getOrElse("setup_s", r.endToEnd.get("setup_s").fold(0.0)(_.value)), "s")) ++
            Seq("op_mean_ms" -> "ms", "op_cpu_mean_ms" -> "ms").collect {
              case (k, u) if c.contains(k) => s"$p$k" -> metric(c(k), u)
            }
        }.toMap
      } else reports.flatMap { case (r, _) =>
        val p = if (wanted.size == 1) "" else s"${r.workload}."
        r.perLayer.map { case (k, m) => s"$p$k" -> metric(m.value, m.unit) }
      }.toMap
    // the untraced figures of a single-workload run, for the tracing
    // overhead a traced run of the same seed reports
    if (wanted.size == 1) {
      val (r, c) = reports.head
      println("perfbench-e2e: " + Json.write(
        Seq("setup_s", "rss_peak_mb").map(k => k -> r.endToEnd.get(k).fold(0.0)(_.value)).toMap ++ c))
    }
    println(Json.write(Map(
      "correct" -> correct,
      "attempted" -> reports.map(_._1.attempted).sum,
      "failed" -> reports.map(_._1.failed).sum,
      "metrics" -> metrics)))
    sys.exit(if (correct) 0 else 1)
  }
}
