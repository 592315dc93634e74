package graft
import org.apache.spark.sql.SparkSession

/** Synthetic CDC event for the streaming micro-bench. */
case class BenchEv(seq: Long, key: Int, op: String, value: Double,
  ts: java.sql.Timestamp)

/** Categorized CDC event for the incremental-view-maintenance bench. */
case class BenchCatEv(seq: Long, key: Int, op: String, cat: String,
  value: Double)

/** One host-probe marker on stdout — the standalone boot-state check.
  * `runMain graft.ProbeMain` prints a single JSON line with the same
  * (loadavg, single-core, all-core) triple every bench marker carries,
  * so a "is this boot shifted?" question is a 5-second command instead
  * of a bench run. No SparkSession: the probe measures the HOST.
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val p = Bench.hostLoad()
    println(Bench.json(Bench.obj(
      "loadavg1" -> p.la, "probe_miters" -> p.mips1, "allcore_miters" -> p.mipsAll)))
  }
}

/** Per-round benchmark: one JSON line with per-query and total seconds.
  *
  * A warmup pass at the smallest scale factor runs every query once
  * before timing, so the reported numbers are steady-state engine
  * throughput (plans compiled, codegen JIT'd, parquet footers cached) —
  * not JVM cold-start, which at 38 queries would otherwise dominate the
  * measurement with ~0.3-1 s of classloading per query.
  */
object Bench {

  /** Host-load marker: (1-min loadavg, single-core probe, ALL-CORE
    * probe), each probe in M xorshift iters/s.
    *
    * The single-core probe is a 1 s busy-loop on the driver thread — a
    * co-tenant-load dial the loadavg can miss (loadavg lags ~1 min and
    * counts runnable tasks, not the cycle share this JVM actually got).
    *
    * The ALL-CORE probe (r12 VERDICT item 2) runs the same kernel on
    * one thread per hardware core for ~2 s and reports the AGGREGATE
    * rate. Three rounds of per-family "regressions" (x-family r11,
    * dedup/tws/ks dials r12 — 7.3–19.1 k rows/s for the same dial
    * within one round) were boot-state/all-core throughput shifts that
    * the single-core probe provably cannot see (it held ~510–525
    * throughout every one of them): whatever moves — SMT scheduling,
    * thermal/power caps, co-tenant share of the OTHER cores — moves
    * the 32-thread Spark workload and the 32-thread probe together
    * while a single pinned thread stays fast. Both probes go in every
    * marker, so a reader can tell a shifted host from a slower engine.
    */
  private[graft] case class HostProbe(la: Double, mips1: Double,
      mipsAll: Double)

  private def xorshiftMips(seed: Long, nanos: Long): Double = {
    var x = seed
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < nanos) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 100000
    }
    if (x == 0) n -= 1 // keep the loop live under JIT
    n * 1000.0 / (System.nanoTime() - t0) // M iters / s
  }

  /** Aggregate M iters/s across one xorshift thread per hardware core.
    * ~2 s: long enough to ride out scheduler ramp-up, short enough that
    * 2 markers x 11 dials adds <2 min to a full streaming artifact.
    */
  private[graft] def allCoreMips(): Double = {
    val nThreads = Runtime.getRuntime.availableProcessors()
    val rates = new java.util.concurrent.atomic.AtomicLongArray(nThreads)
    val threads = (0 until nThreads).map { ti =>
      val t = new Thread { override def run(): Unit =
        rates.set(ti, math.rint(
          xorshiftMips(0x9E3779B97F4A7C15L + ti * 0x2545F4914F6CDD1DL,
            2000000000L) * 10).toLong)
      }
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    (0 until nThreads).map(rates.get).sum / 10.0
  }

  private[graft] def hostLoad(): HostProbe = {
    val la =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val mips1 = xorshiftMips(0x9E3779B97F4A7C15L, 1000000000L)
    val mipsAll = allCoreMips()
    HostProbe(math.rint(la * 100) / 100, math.rint(mips1 * 10) / 10,
      math.rint(mipsAll * 10) / 10)
  }

  /** Force FULL evaluation of every output column. `df.count()` is the
    * wrong forcing function for a benchmark: Catalyst prunes columns a
    * count never reads, so a pure projection-shaped query (c22's
    * classifier: per-doc scores, no aggregate on top) collapses to
    * counting parquet rows — its pre-r10 bench numbers measured NO
    * scoring work at all (0.16 s vs the honest 12 s at sf1-synth).
    * `toRdd` executes the optimized plan WITHOUT a count on top, so the
    * final projection materializes every column into its UnsafeRows;
    * for aggregate-ending queries the work is identical to count().
    */
  private[graft] def force(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).isDirectory) d else sfDir
    }
    // SPARK_GRAFT_ONLY=k1,k2,... restricts the batch passes to a subset
    // of registry keys — spot sweeps (e.g. the sf10 decade check on the
    // ten most expensive queries) shouldn't pay the whole registry at a
    // scale where it runs for hours. Unknown keys fail loudly: a typo'd
    // sweep that silently measured nothing would read as a 100x speedup.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map { s =>
        val ks = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = ks -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"SPARK_GRAFT_ONLY unknown keys: $unknown")
        ks
      }
    val benched: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      only.fold(SparkEntry.queries)(ks => SparkEntry.queries.view.filterKeys(ks).toMap)
    // SPARK_GRAFT_BATCH=0 skips the warm pass and the two timed batch
    // passes: a streaming-only artifact, since the dials otherwise run
    // after ~15 min of batch work.
    val skipBatch = sys.env.get("SPARK_GRAFT_BATCH").contains("0")
    if (!skipBatch)
      benched.foreach { case (_, fn) =>
        try force(fn(spark, warmDir)) catch { case _: Throwable => () }
      }

    // Two timed passes, min per query: a one-off spike (GC pause, CPU
    // contention from co-located processes, lazy codegen for a plan shape
    // AQE only picks at this SF) is measurement noise, not engine
    // throughput — the min is the steady-state number.
    def timedPass(): Map[String, (Boolean, Double)] = {
      if (skipBatch) return Map.empty
      // each pass pays SESSION-scoped memoized frames (posting frames,
      // text stats) exactly once, attributed to their first consumer —
      // without this, pass 2 reads pass 1's cache and min-of-passes
      // drops those build costs from the total entirely. The DURABLE
      // corpus indexes (graft.sources.CorpusIndex: the dedup chain's
      // token/shingle/sketch/pair/label tables) are a different
      // category and survive on purpose: they are computed once per
      // corpus snapshot — like the corpus parquet itself — so the
      // steady-state number for their consumers is the indexed read,
      // and the one-time build cost lands visibly in pass 1 of the
      // first bench run against a fresh corpus.
      ext.Dedup.clearMemos(spark)
      benched.map { case (name, fn) =>
        // GC between queries lets the ContextCleaner reap the previous
        // query's shuffle files and broadcasts — without it, timings bleed
        // into each other and individual numbers swing 2-4x run to run.
        System.gc()
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
        name -> (ok, (System.nanoTime() - t0) / 1e9)
      }
    }
    val probePre = hostLoad()
    val p1 = timedPass()
    val p2 = timedPass()
    val results =
      if (skipBatch) Map.empty[String, (Boolean, Double)]
      else benched.keys.map { k =>
        val (ok1, t1) = p1(k); val (ok2, t2) = p2(k)
        k -> (ok1 && ok2, math.min(t1, t2))
      }.toMap
    // SPARK_GRAFT_STREAMING=0 skips the dials: they are SF-independent
    // (synthetic MemoryStream feeds), so scale-sweep artifacts (BENCH_sf1)
    // exclude them rather than re-measure the same numbers at 4 reps each.
    // Every dial's stores live under one root, this run's own.
    lazy val storesRoot = java.nio.file.Files.createTempDirectory("graft-bench-stores")
    val dials: Seq[(String, Double, JsonObj)] =
      if (sys.env.get("SPARK_GRAFT_STREAMING").contains("0")) Seq.empty
      else streamingMetrics(spark, storesRoot, warmFirst = skipBatch)
    // Post-dials fleet maintenance (untimed): the dials just accreted
    // their manifest-pointer stores under the run's root — compact
    // them through the unified MaintenanceJob path, so the job is
    // exercised against a real freshly-written fleet every run, and
    // record what it did. View identity across the rewrite is the
    // MaintenanceJobSpec's contract; here we only report.
    val maintenance =
      if (dials.isEmpty) None
      else Some(try {
        val root = storesRoot.toString
        // census BEFORE the rewrite pass: stores_committed + files_live
        // make the 0-compactions shape self-describing ("n stores, all
        // already at target" vs "saw nothing") — files_before/after
        // still cover only the stores actually rewritten
        val census = streaming.StreamApply.storeCensus(root)
        val compacted = streaming.StreamApply.compactStores(spark, root)
        obj("stores_seen" -> census.size,
          "stores_committed" -> census.count(_._2.nonEmpty),
          "files_live" -> census.flatMap(_._2).sum,
          "stores_compacted" -> compacted.size,
          "files_before" -> compacted.map(_._2).sum,
          "files_after" -> compacted.map(_._3).sum)
      } catch { case scala.util.control.NonFatal(e) =>
        // an explicit error field, never the 0/0 shape (r12 ADVICE): a
        // crashed or half-done compaction must not read as "the walk
        // found nothing / nothing needed doing"
        obj("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(200))
      })
    val probePost = hostLoad()
    val (fullJson, compact) = reports(sfDir, results, skipBatch, dials, maintenance,
      obj(probeFields(probePre, probePost): _*))
    // resolve(), not Paths.get(dir, out): Paths.get CONCATENATES, so an
    // absolute SPARK_GRAFT_OUT=/tmp/x became /root/repo/tmp/x and the
    // write crashed AFTER the 10-minute measurement run, losing it all
    val fullPath = java.nio.file.Paths
      .get(sys.props.getOrElse("user.dir", "."))
      .resolve(sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json"))
    java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    spark.stop() // stop BEFORE printing: no shutdown log line may follow
    println(compact)
  }

  /** A JSON object as [[json]] writes it. */
  private[graft] type JsonObj = java.util.Map[String, Any]

  /** A JSON object whose fields keep the given order. */
  private[graft] def obj(fields: (String, Any)*): JsonObj = {
    val m = new java.util.LinkedHashMap[String, Any]
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `v` as JSON text, written by Jackson, which escapes every string. */
  private[graft] def json(v: Any): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(v)

  /** The pre/post host-probe fields every host marker carries. */
  private def probeFields(pre: HostProbe, post: HostProbe): Seq[(String, Any)] = Seq(
    "loadavg1_pre" -> pre.la, "probe_miters_pre" -> pre.mips1,
    "allcore_miters_pre" -> pre.mipsAll, "loadavg1_post" -> post.la,
    "probe_miters_post" -> post.mips1, "allcore_miters_post" -> post.mipsAll)

  /** The run's two reports: the full object for `BENCH_FULL.json` and
    * the compact stdout line.
    *
    * The harness that invokes [[main]] keeps only the LAST ~2000 chars of
    * stdout, and the full per-query map (~100 queries) is ~3 KB — a single
    * full line can never be machine-read there (r1-r3 all recorded
    * parsed:null). So the complete full-precision object goes to the file,
    * and stdout gets ONE compact line (total, per-family second sums, the
    * slowest queries, streaming rates, and a pointer to the full file)
    * sized to survive the tail window; per-dial host markers (~1.3 KB) go
    * to the file only.
    *
    * A failed query reports -1, never a misleading fast timing. When the
    * batch passes are SKIPPED (SPARK_GRAFT_BATCH=0) the query map is
    * marked "skipped", NOT zero-filled: the r10 streaming-only artifact
    * recorded 237 'successful' 0.0 s entries and any per-query diff
    * against a prior BENCH_FULL read them as a 100% regression-to-zero.
    */
  private[graft] def reports(sfDir: String, results: Map[String, (Boolean, Double)],
      skipBatch: Boolean, dials: Seq[(String, Double, JsonObj)],
      maintenance: Option[JsonObj], host: JsonObj): (String, String) = {
    import scala.jdk.CollectionConverters._
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val total = results.values.collect { case (true, v) => v }.sum
    val errs = results.collect { case (k, (false, _)) => k }.toSeq
    val shared =
      (if (skipBatch) Seq("batch" -> "skipped") else Nil) ++
        (if (errs.isEmpty) Nil else Seq("errors" -> errs.asJava)) ++
        (if (dials.isEmpty) Nil
         else Seq("streaming" -> obj(dials.map { case (k, v, _) => k -> v }: _*)))
    val queries =
      if (skipBatch) "skipped"
      else obj(results.toSeq.sortBy(_._1)
        .map { case (k, (ok, v)) => k -> (if (ok) v else -1.0) }: _*)
    val full = obj(Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> queries, "sf" -> sfDir) ++ shared ++
      (if (dials.isEmpty) Nil
       else Seq("streaming_markers" -> obj(dials.map { case (k, _, m) => k -> m }: _*))) ++
      maintenance.map("maintenance" -> _) :+ ("host" -> host): _*)
    val families = results.toSeq
      .map { case (k, (ok, v)) => (k.takeWhile(!_.isDigit), if (ok) v else 0.0) }
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy(_._1)
      .map { case (f, v) => f -> r3(v) }
    val slowest = results.toSeq.collect { case (k, (true, v)) => (k, v) }
      .sortBy(-_._2).take(15)
      .map { case (k, v) => k -> r3(v) }
    val compact = obj(Seq("metric" -> "total", "value" -> r3(total), "unit" -> "sec",
      "sf" -> sfDir, "n_queries" -> results.size, "queries" -> obj(slowest: _*),
      "queries_note" -> s"slowest 15 of ${results.size}; all in BENCH_FULL.json",
      "families" -> obj(families: _*)) ++ shared :+ ("host" -> host) :+
      ("detail" -> "BENCH_FULL.json"): _*)
    (json(full), json(compact))
  }

  /** Source partitions of every dial's MemoryStream. A single-partition
    * MemoryStream ships the WHOLE batch inside one task binary (20k rows
    * ≈ 1.6 MiB → TaskSetManager "very large task" warnings); partitioned
    * sources hand each task a slice, which is also how a real Kafka
    * source shapes its batches.
    *
    * The DAGScheduler "broadcasting large task binary (~1-5 MiB)" WARNs
    * during the dials have the same root cause one level down: the STAGE
    * broadcast serializes the MemoryStream scan's RDD graph, which embeds
    * every partition's row array — so the binary size IS the batch size
    * (measured: 10k-row batches sit under the 1000 KiB threshold and log
    * nothing; 20k-row batches log ~1-2 MiB). It is a harness artifact,
    * not an engine closure leak: a real Kafka/file source streams rows
    * through the socket/scan and its task binary carries only the plan.
    * Shrinking batches to duck the warning would HALVE the reported
    * rows/s (per-batch overhead — checkpoint commit + state rewrite —
    * dominates at 10k rows; PLANS.md round 8's 2-vs-10-batch A/B), so
    * the feed stays at 5 x 20k and the warning is accepted as documented.
    */
  private val SourceParts = 16
  private val baseMs = 1735689600000L // 2025-01-01T00:00:00Z

  private def ev(i: Int, nKeys: Int): BenchEv = BenchEv(i.toLong, i % nKeys,
    if (i % 17 == 0) "d" else "u", i * 0.5, new java.sql.Timestamp(baseMs + i))

  private def catEv(i: Int, nKeys: Int): BenchCatEv = BenchCatEv(i.toLong,
    i % nKeys, if (i % 17 == 0) "d" else "u", s"c${i % 5}", i * 0.5)

  /** The vocabulary of the text dials' synthetic documents. */
  private val Words = Seq("key", "value", "scan", "table", "slow", "fast",
    "merge", "batch", "vector", "window", "customer", "order", "dup")

  /** Split `xs` into (at most) `nBatches` contiguous micro-batches.
    * Ceil sizing, because `grouped(n / nBatches)` is a trap twice over:
    * it throws on nBatches > n (`grouped(0)`) and silently yields
    * nBatches+1 groups on any non-divisor — mislabeling the per-batch
    * fixed-cost sweeps that fit `fixed·nb + marginal·n`.
    */
  private def batched[T](xs: Seq[T], nBatches: Int): Seq[Seq[T]] = {
    require(nBatches > 0, s"nBatches must be positive: $nBatches")
    xs.grouped(math.max(1, (xs.size + nBatches - 1) / nBatches)).toSeq
  }

  /** Streaming throughput (rows/s) of every streaming path perfbench
    * does not drive, over MemoryStream feeds, so streaming regressions
    * show up in the bench exactly like batch ones. The flat upsert
    * merge has no dial: perfbench's `cdc_apply` gates that path. Rates
    * are micro-batch wall-clock (source add → processAllAvailable),
    * measured as the MEDIAN of three full reps after one discarded
    * full-shape warm rep per dial (see `median3` below for why). A
    * failed stream reports -1. Each dial's stores go under `root`;
    * `warmFirst` runs a small untimed feed before the first dial.
    */
  private def streamingMetrics(spark: SparkSession, root: java.nio.file.Path,
      warmFirst: Boolean): Seq[(String, Double, JsonObj)] = {
    import spark.implicits._
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import streaming.StreamApply
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def storeDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(root, prefix).toString

    /** Rows/s of the query `start` opens on a fresh source, fed `rows`
      * in `nBatches` micro-batches, each processed before the next.
      */
    def timeFeed[T: Encoder](rows: Seq[T], nBatches: Int)(
        start: MemoryStream[T] => StreamingQuery): Double = {
      val in = MemoryStream[T](SourceParts)
      val q = StreamApply.withStreamShuffle(spark)(start(in))
      val batches = batched(rows, nBatches)
      val t0 = System.nanoTime()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      rows.size / ((System.nanoTime() - t0) / 1e9)
    }

    def timeDedup(n: Int, nKeys: Int, nBatches: Int): Double = {
      val in = MemoryStream[BenchEv](SourceParts)
      val q = StreamApply.withStreamShuffle(spark)(
        StreamApply.dedupped(in.toDF(), "ts", "seq")
          .writeStream.outputMode("append").format("noop").start())
      // every batch fed twice: half the input is redelivery the state
      // store must absorb
      val batches = batched((0 until n).map(ev(_, nKeys)), nBatches)
      val t0 = System.nanoTime()
      try batches.foreach { b =>
        in.addData(b); in.addData(b); q.processAllAvailable()
      } finally q.stop()
      2L * n / ((System.nanoTime() - t0) / 1e9)
    }

    def timeTws(n: Int, nKeys: Int, nBatches: Int): Double =
      StreamApply.withRocksDbState(spark) {
        val in = MemoryStream[StreamApply.KeyedEvent](SourceParts)
        // A ProcessingTime-mode query with TTL state never quiesces, so
        // processAllAvailable blocks forever — count processed rows
        // instead. recentProgress is a bounded ring (~100 entries) that
        // TTL-driven EMPTY micro-batches can flood, evicting the
        // data-bearing entries and undercounting; a listener sees every
        // progress event exactly once, so the count cannot go backwards.
        val seen = new java.util.concurrent.atomic.AtomicLong(0L)
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
            seen.addAndGet(e.progress.numInputRows)
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener) // before start: miss no event
        val q = StreamApply.withStreamShuffle(spark)(
          StreamApply.statefulViewTws(in.toDS())
            .writeStream.outputMode("update").format("noop").start())
        val batches = batched((0 until n)
          .map(i => StreamApply.KeyedEvent(i.toLong, i % nKeys,
            if (i % 17 == 0) "d" else "u", i * 0.5)), nBatches)
        val t0 = System.nanoTime()
        try {
          batches.foreach(in.addData(_))
          val deadline = System.currentTimeMillis() + 120000
          while (seen.get() < n && System.currentTimeMillis() < deadline)
            Thread.sleep(50)
          require(seen.get() >= n, s"tws bench timed out: ${seen.get()}/$n")
        } finally {
          q.stop()
          spark.streams.removeListener(listener)
        }
        n / ((System.nanoTime() - t0) / 1e9)
      }

    def timeIvm(n: Int, nKeys: Int, nBatches: Int): Double = {
      val dir = storeDir("graft-bench-ivm")
      val store = new StreamApply.IvmUpsertStore(spark, dir,
        key = "key", seq = "seq", opCol = "op", deleteOp = "d",
        payloadCols = Seq("cat", "value"), aggCol = "cat")
      timeFeed((0 until n).map(catEv(_, nKeys)), nBatches)(in =>
        StreamApply.batchSink(in.toDF(), s"$dir/ckpt")(store.merge).start())
    }

    // the chained TWO-stateful-operator pipeline (watermarked dedup →
    // windowed count): a distinct hot path from the single-operator
    // streams — state handoff between operators is what's measured.
    // The rate is INPUT rows/s; each input row fans out to 4 (window,
    // user) dedup probes (w4's cover set), so state-op throughput is
    // ~4x the reported number.
    // Event times advance 100 ms per row (NOT the 1 ms of the generic
    // feed): at n=100k that spans ~167 min of event time across ~11
    // window steps, so with a 10-min stated lateness (watermark 70 min)
    // the run holds several live windows at once AND evicts closed ones
    // at batch boundaries — steady-state state-scan + eviction cost is
    // in the measurement, not just one hot window position.
    def timeSliding(n: Int, nKeys: Int, nBatches: Int): Double =
      timeFeed((0 until n).map(i =>
        ev(i, nKeys).copy(ts = new java.sql.Timestamp(baseMs + i * 100L))), nBatches)(in =>
        streaming.SlidingStream.slidingDistinctView(
            in.toDF().selectExpr("CAST(key AS BIGINT) AS user_id", "ts"),
            latenessMinutes = 10L)
          .writeStream.outputMode("update").format("noop").start())

    def timeTopK(n: Int, nGroups: Int, nBatches: Int): Double =
      StreamApply.withRocksDbState(spark) {
        timeFeed((0 until n).map(i => streaming.TopKStream.Scored(i % nGroups,
          (i * 7 % 4096).toLong, (i * 131 % 9973).toDouble)), nBatches)(in =>
          streaming.TopKStream.topkView(in.toDS(), k = 5)
            .writeStream.outputMode("update").format("noop").start())
      }

    def safe(f: => Double): Double =
      try f catch { case e: Throwable =>
        System.err.println(s"BENCH STREAM FAIL: ${e.getClass.getName}: ${e.getMessage}")
        -1.0
      }
    // Per-dial protocol (round-10 hardening): ONE full-shape warm rep
    // (discarded — it pays classloading, codegen, state-store open, AND
    // the dial's own steady-state ramp; the r9 postmortem showed dials
    // warming 20k→27k→35k across identical reps, so a small-shape warmup
    // does NOT reach steady state), then MEDIAN of three measured reps.
    // Median over max: max rewards one lucky draw; median is a number a
    // rerun actually reproduces, while still shrugging off the one
    // unlucky GC/fsync rep that made single-shot artifacts (r9) read as
    // 2-5x regressions. A FAILED rep is not noise: any rep erroring
    // reports -1 (a median over survivors would launder intermittent
    // failures into clean numbers).
    def median3(f: => Double): Double = {
      if (safe(f) < 0) return -1.0 // full-shape warm rep, discarded
      val xs = Seq(safe(f), safe(f), safe(f))
      if (xs.exists(_ < 0)) -1.0 else xs.sorted.apply(1)
    }
    // documents through the saved-search percolator: every row tokenizes
    // and joins the query registry; text mixes registry terms (some rows
    // alert, most don't — the production ratio) with filler vocabulary
    def timePercolate(n: Int, nBatches: Int): Double = {
      val dir = storeDir("bench-percolate")
      val a = new streaming.PercolateStream.Alerts(spark, dir)
      val queries = graft.ext.Search.savedSearches.toDF("query_id", "term")
      timeFeed((0 until n).map { i =>
        val text = (0 until (3 + i % 6))
          .map(j => Words((i * 7 + j * 5) % Words.length)).mkString(" ")
        (i.toLong, (i % (n / 2)).toLong, text, "i")
      }, nBatches)(in =>
        streaming.PercolateStream.percolateWriter(
          in.toDF().toDF("seq", "doc_id", "text", "op"), a, queries,
          s"$dir/ckpt").start())
    }

    // The chunk-dedup ingest workload — 64-token docs (2 chunks each)
    // with heavy cross-doc repetition, so the owner index stays small
    // while every batch exercises both the dedup join and genuine
    // first-occurrence inserts.
    // FLOOR (r10 nb-sweep at 1/5/20 batches of 20k docs, PLANS.md
    // "Round-10: ChunkDedup ingest floor"): time
    // fits fixed·nb + marginal·n with fixed ≈ 1.2 s/batch and marginal
    // ≈ 40 µs/doc. The fixed cost is the DURABLE-COMMIT protocol — two
    // ParquetUpsertStore merges (each: state read + keyed-dedup shuffle +
    // 32-part write + atomic pointer swing) plus the streaming checkpoint
    // — not the tokenize/fingerprint pass (that is inside the marginal
    // 40 µs, i.e. ~25k docs/s amortized; measured 9.9k docs/s at nb=1
    // where one fixed cost remains). The dial keeps nb=5, so its
    // ~2-3k docs/s is BY CONSTRUCTION ~5 commit cycles over 20k docs —
    // the number measures commit latency amortization, which is the
    // production dial that matters for small micro-batches; large-batch
    // ingest runs at the marginal rate.
    def timeChunkDedup(n: Int, nBatches: Int): Double = {
      val dir = storeDir("bench-chunkdedup")
      val stores = new streaming.ChunkDedupStream.Stores(spark, dir)
      timeFeed((0 until n).map { i =>
        val text = (0 until 64)
          .map(j => Words((i * 7 + j * 5 + j * j % 11) % Words.length))
          .mkString(" ")
        (i.toLong, text)
      }, nBatches)(in =>
        streaming.ChunkDedupStream.chunkDedupWriter(
          in.toDF().toDF("doc_id", "text"), stores, s"$dir/ckpt").start())
    }

    // Near-dup ingest: documents/sec through the full
    // [[streaming.NearDupStream]] chain — sketch, incremental band join
    // vs the maintained index, exact confirm, and the three keyed
    // merges including the live d26 occupancy counts. The feed carries
    // 16-member exact families (one per 16 consecutive ids) interleaved
    // with near-dup variants, so the pair store, occupancy counts and
    // the hub-alarm read path all do real work.
    def timeNearDup(n: Int, nBatches: Int): Double = {
      val dir = storeDir("bench-neardup")
      val stores = new streaming.NearDupStream.Stores(spark, dir)
      timeFeed((0 until n).map { i =>
        val fam = i / 16
        val base = (0 until 20)
          .map(j => Words((fam * 7 + j * 5 + j * j % 11) % Words.length))
        // members 0..11 exact copies, 12..15 one-token variants (near-dup)
        val text = (if (i % 16 < 12) base
          else base.updated(i % 16 - 12, s"v${i % 16}")).mkString(" ")
        (i.toLong, text)
      }, nBatches)(in =>
        streaming.NearDupStream.nearDupWriter(
          in.toDF().toDF("doc_id", "text"), stores, s"$dir/ckpt").start())
    }

    // the two sketch maintainers: bottom-k merge per batch (KMV) and
    // the exact (type, cent) CDF counts the live KS monitor scores
    def timeKmv(n: Int, nKeys: Int, nBatches: Int): Double =
      StreamApply.withRocksDbState(spark) {
        timeFeed((0 until n).map(i => streaming.KmvStream.Hashed(s"g${i % nKeys}",
          ((i % 40009).toLong * 2654435761L) % 2147483647L)), nBatches)(in =>
          streaming.KmvStream.sketchView(in.toDS())
            .writeStream.outputMode("update").format("noop").start())
      }

    def timeKsCounts(n: Int, nBatches: Int): Double =
      timeFeed((0 until n).map(ev(_, 10000)), nBatches)(in =>
        streaming.KsStream.centCountView(
            in.toDF().selectExpr("CASE WHEN key % 3 = 0 THEN 'click' " +
              "WHEN key % 3 = 1 THEN 'view' ELSE 'error' END AS event_type",
              "CAST(key % 977 AS DOUBLE) / 2.0 AS value"))
          .writeStream.outputMode("update").format("noop").start())

    // the live ANN-index maintainer: CDC embedding events (synthesized
    // 64-dim vectors built INSIDE the streamed plan, so signature compute
    // — 8 dot products/row — is in the measured path, and the MemoryStream
    // task binaries stay narrow), updates + deletes, keyed merge. Rate is
    // input rows/s through signature + merge.
    def timeAnn(n: Int, nBatches: Int): Double = {
      val dir = storeDir("bench-ann")
      val store = new streaming.AnnStream.Store(spark, dir)
      timeFeed((0 until n).map { i =>
        (i.toLong, (i % (n / 2)).toLong, s"l${i % 3}",
          if (i % 23 == 0) "d" else "u")
      }, nBatches) { in =>
        val cdc = in.toDF().toDF("seq", "vec_id", "label", "op")
          .withColumn("embedding", org.apache.spark.sql.functions.expr(
            "transform(sequence(0, 63), " +
              "j -> CAST((vec_id * 31 + j * 7) % 13 - 6 AS FLOAT))"))
        streaming.AnnStream.annWriter(cdc, store, s"$dir/ckpt").start()
      }
    }

    // JVM warm for streaming-ONLY runs (r13 finding): the FIRST dial of
    // a BATCH=0 artifact read 7.9–19k rows/s for a workload that
    // measures 27.8k the moment ANY other dial precedes it — one
    // discarded full-shape warm rep leaves the SHARED machinery
    // (parquet commit path, state store, whole-stage codegen classes)
    // at C1/interpreter tier, and in full runs the 15-min batch section
    // performs this role. A small untimed IVM feed, whose merge is the
    // flat store's, brings the shared paths to steady state before the
    // first measured dial; per-dial warm reps then only pay dial-SPECIFIC
    // ramp.
    if (warmFirst) timeIvm(20000, 2000, 2)

    // `sliding_wm` (not the r1-r8 `sliding` key): round 9 redefined the
    // workload (event time +100 ms/row with 10-min lateness vs the prior
    // 1 ms feed), so the renamed key stops old and new numbers from ever
    // being diffed as the same series.
    val allDials: Seq[(String, () => Double)] = Seq(
      ("dedup_rows_per_sec", () => timeDedup(100000, 10000, 5)),
      ("tws_view_rows_per_sec", () => timeTws(100000, 10000, 5)),
      ("ivm_rows_per_sec", () => timeIvm(100000, 10000, 5)),
      ("topk_rows_per_sec", () => timeTopK(100000, 1000, 5)),
      ("sliding_wm_rows_per_sec", () => timeSliding(100000, 10000, 5)),
      ("percolate_rows_per_sec", () => timePercolate(100000, 5)),
      ("chunk_dedup_docs_per_sec", () => timeChunkDedup(20000, 5)),
      ("neardup_ingest_docs_per_sec", () => timeNearDup(4000, 5)),
      ("kmv_rows_per_sec", () => timeKmv(100000, 1000, 5)),
      ("ks_counts_rows_per_sec", () => timeKsCounts(100000, 5)),
      ("ann_rows_per_sec", () => timeAnn(20000, 5)))

    // SPARK_GRAFT_DIALS=k1,k2,... restricts (and ORDERS) the streaming
    // dials — the analogue of SPARK_GRAFT_ONLY: one dial can be
    // re-measured without paying for the other ten.
    val dials: Seq[(String, () => Double)] =
      sys.env.get("SPARK_GRAFT_DIALS").map { s =>
        val keys = s.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = keys.filterNot(k => allDials.exists(_._1 == k))
        require(unknown.isEmpty, s"SPARK_GRAFT_DIALS unknown keys: ${unknown.mkString(",")}")
        keys.toSeq.map(k => allDials.find(_._1 == k).get)
      }.getOrElse(allDials)

    // every dial carries its OWN pre/post host marker, so a co-tenant
    // surge landing mid-run marks the one dial it overlapped
    dials.map { case (key, f) =>
      val pre = hostLoad()
      val rate = median3(f())
      val post = hostLoad()
      (key, rate, obj(probeFields(pre, post): _*))
    }
  }
}
