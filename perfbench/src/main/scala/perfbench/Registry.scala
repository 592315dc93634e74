package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The `registry` workload: entries of `SparkEntry.queries`, each run once
  * per pass in a seed-permuted order by one client, every result count
  * checked against the count the DuckDB oracle SQL gives on the same data.
  */
object Registry {

  final case class Timing(name: String, constructMs: Double, planMs: Double, execMs: Double,
      analysisMs: Double, optimizationMs: Double, planningMs: Double, cpuMs: Double) {
    def totalMs: Double = constructMs + planMs + execMs
  }

  /** Query names of the timed set, from `registry_queries.txt`. */
  def timedSet(benchDir: Path): Seq[String] =
    Files.readAllLines(benchDir.resolve("registry_queries.txt")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Expected row count per query, from `expected_counts.json`. */
  def expectedCounts(benchDir: Path): Map[String, Long] =
    Json.mapper.readTree(benchDir.resolve("expected_counts.json").toFile).get("counts")
      .properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  val moduleOf: Map[String, String] =
    SparkEntry.modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }.toMap

  /** A fresh session per pass: session-scoped memos start empty in every
    * pass, so no pass reads another's cached frames. The durable corpus
    * indexes under `indexDir` persist, as they do in production.
    */
  private def passSession(ctx: RunContext, indexDir: Path): SparkSession = {
    val s = ctx.spark.newSession()
    s.conf.set("spark.graft.index.dir", indexDir.toString)
    s
  }

  /** Runs one query, timed by phase: construction (the registry function,
    * including any job it runs eagerly), planning, then execution of the
    * plan with `toRdd.count()`.
    */
  def runOne(ctx: RunContext, s: SparkSession, name: String, dataDir: String): (Long, Timing) = {
    val fn = SparkEntry.queries(name)
    val th0 = ctx.threadCpu()
    val c0 = System.nanoTime()
    val df = ctx.tracer.span("query.construct", name)(ctx.tagged(s"c:$name")(fn(s, dataDir)))
    val c1 = System.nanoTime()
    val qe = df.queryExecution
    ctx.tracer.span("query.plan", name)(ctx.tagged(s"x:$name")(qe.executedPlan))
    val c2 = System.nanoTime()
    val n = ctx.tracer.span("query.exec", name)(ctx.tagged(s"x:$name")(qe.toRdd.count()))
    val c3 = System.nanoTime()
    val th1 = ctx.threadCpuSince(th0)
    val ph = qe.tracker.phases
    def phase(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    (n, Timing(name, (c1 - c0) / 1e6, (c2 - c1) / 1e6, (c3 - c2) / 1e6,
      phase("analysis"), phase("optimization"), phase("planning"), th1 / 1e6))
  }

  val SetupPasses = 2

  def run(ctx: RunContext, r: Report): Unit = {
    val names = timedSet(ctx.benchDir)
    val expected = expectedCounts(ctx.benchDir)
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) && expected.contains(n))
    require(unknown.isEmpty, s"registry_queries.txt names unknown queries: ${unknown.mkString(",")}")
    val dataDir = ctx.dataDir.toString
    r.info("queries_timed") = s"${names.size} of ${SparkEntry.queries.size}"
    r.info("modules_timed") = names.map(moduleOf).distinct.size

    // set-up: untimed passes over the timed set, on this run's own index
    // root. A query's first touch of a corpus index builds and publishes
    // it; a query whose set-up run published an index counts as an index
    // build, with its time.
    val indexDir = Files.createDirectories(ctx.root.resolve("index"))
    def published(): Long = Workloads.filesUnder(indexDir, _ == "_SUCCESS")
    var builds = 0L
    var buildS = 0.0
    val w0 = System.nanoTime()
    // A second set-up pass, in a fresh session like every timed pass,
    // warms the JIT further: without it the timed passes still get faster
    // one after the other.
    for (_ <- 0 until SetupPasses) ctx.tracer.span("setup.warmup") {
      val s = passSession(ctx, indexDir)
      names.foreach { n =>
        val before = published()
        val q0 = System.nanoTime()
        ctx.tagged("setup")(runOne(ctx, s, n, dataDir))
        val after = published()
        if (after > before) { builds += after - before; buildS += (System.nanoTime() - q0) / 1e9 }
      }
    }
    ctx.setupDone((System.nanoTime() - w0) / 1e9)

    ctx.probe(Main.ProbeReps)
    ctx.startMeasure()
    val rng = new scala.util.Random(ctx.seed)
    val timings = ArrayBuffer.empty[Timing]
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    def over: Boolean = System.nanoTime() >= deadline
    // Passes in seed-permuted order until the deadline. The first pass is
    // always whole; the last stops part-way. Figures come from per-query
    // means, so they do not depend on where the last pass stopped.
    var pass = 0
    val passMs = ArrayBuffer.empty[Double]
    while (pass == 0 || !over) {
      val before = timings.size
      val s = passSession(ctx, indexDir)
      for (name <- rng.shuffle(names) if pass == 0 || !over) {
        r.attempted += 1
        try {
          val (n, t) = runOne(ctx, s, name, dataDir)
          timings += t
          if (n != expected(name)) r.fail(s"$name: $n rows, expected ${expected(name)}")
        } catch { case scala.util.control.NonFatal(e) => r.fail(s"$name: $e") }
      }
      passMs += timings.drop(before).map(_.totalMs).sum
      pass += 1
      // probes between passes follow the host's speed through the window
      ctx.probe(2)
    }
    r.info("pass_ms") = passMs.map(x => f"$x%.0f").mkString(" ")
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.endMeasure(r, wall)
    val byQuery = timings.toSeq.groupBy(_.name)
    def runs(q: String): Double = byQuery.get(q).fold(1.0)(_.size.toDouble)
    def meanMs(q: String, f: Timing => Double): Double = byQuery.get(q).fold(0.0)(ts => ts.map(f).sum / ts.size)
    // one pass, as the sum of the per-query mean walls
    val queryMeans = names.map(meanMs(_, _.totalMs))
    val passS = queryMeans.sum / 1e3
    r.info("passes") = f"${timings.size.toDouble / names.size}%.2f"
    r.e2e("registry_s", passS, "s", Some(timings.size))
    // the median over the per-query mean walls, so each query weighs the
    // same however many runs the cut last pass left it
    r.e2e("query_p50_ms", Stats.median(queryMeans), "ms", Some(names.size))
    r.e2e("query_p90_ms", Stats.quantile(timings.map(_.totalMs).toSeq, 0.9), "ms", Some(timings.size))
    r.e2e("queries_per_s", names.size / passS, "1/s", Some(timings.size))

    if (ctx.tracer.enabled) {
      val sums = ctx.workJobs()
      // job sums of the queries `qs` under a tag prefix, per run of each query
      def perPass(qs: Seq[String], f: JobSums => Double, prefixes: String*): Double =
        (for (q <- qs; p <- prefixes) yield sums.get(ctx.tag(s"$p:$q")).fold(0.0)(f) / runs(q)).sum
      val n = names.size.toDouble
      r.layer("registry.construct_ms", names.map(meanMs(_, _.constructMs)).sum / n, "ms")
      r.layer("registry.plan_ms", names.map(meanMs(_, _.planMs)).sum / n, "ms")
      r.layer("registry.exec_ms", names.map(meanMs(_, _.execMs)).sum / n, "ms")
      r.layer("registry.jobs_at_construction", perPass(names, _.jobs.toDouble, "c"), "count")
      r.layer("catalyst.analysis_ms", names.map(meanMs(_, _.analysisMs)).sum / n, "ms")
      r.layer("catalyst.optimization_ms", names.map(meanMs(_, _.optimizationMs)).sum / n, "ms")
      r.layer("catalyst.planning_ms", names.map(meanMs(_, _.planningMs)).sum / n, "ms")
      val all = new JobSums
      sums.values.foreach(all.add)
      val tagged = new JobSums
      for (q <- names; p <- Seq("c", "x")) sums.get(ctx.tag(s"$p:$q")).foreach(tagged.add)
      r.layer("registry.tagged_task_share", tagged.taskMs.toDouble / math.max(all.taskMs, 1), "ratio")
      SparkEntry.modules.map(_._1).foreach { m =>
        val qs = names.filter(moduleOf(_) == m)
        r.layer(s"$m.wall_s", qs.map(meanMs(_, _.totalMs)).sum / 1e3, "s")
        r.layer(s"$m.task_s", perPass(qs, _.taskMs.toDouble, "c", "x") / 1e3, "s")
        r.layer(s"$m.jobs", perPass(qs, _.jobs.toDouble, "c", "x"), "count")
      }
      r.layer("index.builds", builds, "count")
      r.layer("index.build_s", buildS, "s")
    }
    // per-query means, so every query weighs the same however many runs
    // the cut last pass left it; the probe after the window runs last, so
    // its jobs stay out of the figures above
    ctx.contract(r, queryMeans, names.map(meanMs(_, _.cpuMs)))
  }
}
