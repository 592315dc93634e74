package graft
import org.apache.spark.sql.SparkSession
import scala.util.chaining._

/** Synthetic CDC event for the streaming micro-bench. */
case class BenchEv(seq: Long, key: Int, op: String, value: Double,
  ts: java.sql.Timestamp)

/** Categorized CDC event for the incremental-view-maintenance bench. */
case class BenchCatEv(seq: Long, key: Int, op: String, cat: String,
  value: Double)

/** The upsert, IVM and chunk-dedup micro-bench workloads behind
  * `upsert_rows_per_sec` / `ivm_rows_per_sec` / the chunk dial. A fast
  * streaming-only A/B is `SPARK_GRAFT_BATCH=0` on [[Bench]] itself, so
  * an A/B'd number always measures exactly the dial it stands in for.
  */
private[graft] object StreamFeeds {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  val SourceParts = 16
  private[graft] val baseMs = 1735689600000L // 2025-01-01T00:00:00Z
  private def base = baseMs // feed-local alias

  /** One RUN-scoped root for every dial's store directories, so the
    * post-dials maintenance pass ([[Bench]]'s `maintenance` marker) can
    * compact the whole freshly-accreted fleet with ONE
    * [[graft.streaming.StreamApply.compactStores]] walk — the unified
    * job exercised per round, instead of five scattered /tmp dirs no
    * maintenance path ever visits.
    *
    * Run-scoped, not JVM-scoped (r12 ADVICE): a sweep harness invoking
    * Bench repeatedly in one JVM would otherwise accumulate prior runs'
    * already-compacted stores under the same root, inflating
    * `stores_seen` and re-walking stale state. [[Bench.main]] calls
    * [[resetStoresRoot]] at run start; the first `storeDir` after a
    * reset mints a fresh root.
    */
  private var storesRootHolder: Option[java.nio.file.Path] = None
  private[graft] def storesRoot: java.nio.file.Path = synchronized {
    storesRootHolder.getOrElse {
      val p = java.nio.file.Files.createTempDirectory("graft-bench-stores")
      storesRootHolder = Some(p)
      p
    }
  }
  private[graft] def resetStoresRoot(): Unit =
    synchronized { storesRootHolder = None }
  private[graft] def storeDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(storesRoot, prefix).toString

  def ev(i: Int, nKeys: Int): BenchEv = BenchEv(i.toLong, i % nKeys,
    if (i % 17 == 0) "d" else "u", i * 0.5, new java.sql.Timestamp(base + i))

  /** Split `xs` into (at most) `nBatches` contiguous micro-batches.
    * Ceil sizing, because `grouped(n / nBatches)` is a trap twice over:
    * it throws on nBatches > n (`grouped(0)`) and silently yields
    * nBatches+1 groups on any non-divisor — mislabeling the per-batch
    * fixed-cost sweeps that fit `fixed·nb + marginal·n`.
    */
  private[graft] def batched[T](xs: Seq[T], nBatches: Int): Seq[Seq[T]] = {
    require(nBatches > 0, s"nBatches must be positive: $nBatches")
    xs.grouped(math.max(1, (xs.size + nBatches - 1) / nBatches)).toSeq
  }

  def catEv(i: Int, nKeys: Int): BenchCatEv = BenchCatEv(i.toLong, i % nKeys,
    if (i % 17 == 0) "d" else "u", s"c${i % 5}", i * 0.5)

  def timeUpsert(spark: SparkSession, n: Int, nKeys: Int, nBatches: Int): Double = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = StreamFeeds.storeDir("graft-bench-upsert")
    val store = new streaming.StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d",
      payloadCols = Seq("value"))
    val in = MemoryStream[BenchEv](SourceParts)
    val q = streaming.StreamApply.withStreamShuffle(spark)(
      streaming.StreamApply.upsertWriter(in.toDF(), store, s"$dir/ckpt").start())
    val batches = (0 until n).map(ev(_, nKeys)).pipe(StreamFeeds.batched(_, nBatches))
    val t0 = System.nanoTime()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def timeIvm(spark: SparkSession, n: Int, nKeys: Int, nBatches: Int): Double = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = StreamFeeds.storeDir("graft-bench-ivm")
    val store = new streaming.StreamApply.IvmUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d",
      payloadCols = Seq("cat", "value"), aggCol = "cat")
    val in = MemoryStream[BenchCatEv](SourceParts)
    val q = streaming.StreamApply.withStreamShuffle(spark)(
      streaming.StreamApply.ivmWriter(in.toDF(), store, s"$dir/ckpt").start())
    val batches = (0 until n).map(catEv(_, nKeys)).pipe(StreamFeeds.batched(_, nBatches))
    val t0 = System.nanoTime()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** The chunk-dedup ingest workload — 64-token docs (2 chunks each)
    * with heavy cross-doc repetition, so the owner index stays small
    * while every batch exercises both the dedup join and genuine
    * first-occurrence inserts.
    */
  def timeChunkDedup(spark: SparkSession, n: Int, nBatches: Int): Double = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = Seq("key", "value", "scan", "table", "slow", "fast",
      "merge", "batch", "vector", "window", "customer", "order", "dup")
    val dir = StreamFeeds.storeDir("bench-chunkdedup")
    val stores = new streaming.ChunkDedupStream.Stores(spark, dir)
    val in = MemoryStream[(Long, String)](SourceParts)
    val q = streaming.StreamApply.withStreamShuffle(spark)(
      streaming.ChunkDedupStream.chunkDedupWriter(
        in.toDF().toDF("doc_id", "text"), stores, s"$dir/ckpt").start())
    val batches = (0 until n).map { i =>
      val text = (0 until 64)
        .map(j => words((i * 7 + j * 5 + j * j % 11) % words.length))
        .mkString(" ")
      (i.toLong, text)
    }.pipe(StreamFeeds.batched(_, nBatches))
    val t0 = System.nanoTime()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Near-dup INGEST dial (r14): documents/sec through the full
    * [[streaming.NearDupStream]] chain — sketch, incremental band join
    * vs the maintained index, exact confirm, and the three keyed
    * merges including the LIVE d26 occupancy counts added this round.
    * The feed carries 16-member exact families (one per 16 consecutive
    * ids) interleaved with near-dup variants, so the pair store,
    * occupancy counts and the hub-alarm read path all do real work.
    */
  def timeNearDup(spark: SparkSession, n: Int, nBatches: Int): Double = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = Seq("key", "value", "scan", "table", "slow", "fast",
      "merge", "batch", "vector", "window", "customer", "order", "dup")
    val dir = storeDir("bench-neardup")
    val stores = new streaming.NearDupStream.Stores(spark, dir)
    val in = MemoryStream[(Long, String)](SourceParts)
    val q = streaming.StreamApply.withStreamShuffle(spark)(
      streaming.NearDupStream.nearDupWriter(
        in.toDF().toDF("doc_id", "text"), stores, s"$dir/ckpt").start())
    val batches = (0 until n).map { i =>
      val fam = i / 16
      val base = (0 until 20)
        .map(j => words((fam * 7 + j * 5 + j * j % 11) % words.length))
      // members 0..11 exact copies, 12..15 one-token variants (near-dup)
      val text = (if (i % 16 < 12) base
        else base.updated(i % 16 - 12, s"v${i % 16}")).mkString(" ")
      (i.toLong, text)
    }.pipe(batched(_, nBatches))
    val t0 = System.nanoTime()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    n / ((System.nanoTime() - t0) / 1e9)
  }
}

/** One host-probe marker on stdout — the standalone boot-state check.
  * `runMain graft.ProbeMain` prints a single JSON line with the same
  * (loadavg, single-core, all-core) triple every bench marker carries,
  * so a "is this boot shifted?" question is a 5-second command instead
  * of a bench run. No SparkSession: the probe measures the HOST.
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val p = Bench.hostLoad()
    println(s"""{"loadavg1":${p.la},"probe_miters":${p.mips1},"allcore_miters":${p.mipsAll}}""")
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
    * while a single pinned thread stays fast. The streaming quiet gate
    * therefore keys on THIS number; the single-core probe stays in the
    * marker as the cheap co-tenant dial it has always been.
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
    if (!sys.env.get("SPARK_GRAFT_BATCH").contains("0"))
      benched.foreach { case (_, fn) =>
        try force(fn(spark, warmDir)) catch { case _: Throwable => () }
      }

    // Two timed passes, min per query: a one-off spike (GC pause, CPU
    // contention from co-located processes, lazy codegen for a plan shape
    // AQE only picks at this SF) is measurement noise, not engine
    // throughput — the min is the steady-state number.
    // SPARK_GRAFT_BATCH=0 skips the two batch passes (queries report 0):
    // lets a streaming-only artifact be taken inside a short quiet-host
    // window, since the dials run AFTER ~15 min of batch work otherwise
    // and this box's co-tenant surges recur on that timescale.
    val skipBatch = sys.env.get("SPARK_GRAFT_BATCH").contains("0")
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
    StreamFeeds.resetStoresRoot() // run-scoped, not JVM-scoped (r12 ADVICE)
    val probePre = hostLoad()
    val p1 = timedPass()
    val p2 = timedPass()
    val results =
      if (skipBatch) Map.empty[String, (Boolean, Double)]
      else benched.keys.map { k =>
        val (ok1, t1) = p1(k); val (ok2, t2) = p2(k)
        k -> (ok1 && ok2, math.min(t1, t2))
      }.toMap
    // a failed query reports -1, never a misleading fast timing.
    // When the batch passes are SKIPPED (SPARK_GRAFT_BATCH=0) the map is
    // marked "skipped", NOT zero-filled: the r10 streaming-only artifact
    // recorded 237 'successful' 0.0 s entries and any per-query diff
    // against a prior BENCH_FULL read them as a 100% regression-to-zero.
    val qs =
      if (skipBatch) "\"skipped\""
      else results.toSeq.sortBy(_._1)
        .map { case (k, (ok, v)) => s"\"" + k + "\":" + (if (ok) v else -1.0) }
        .mkString("{", ",", "}")
    val errs = results.collect { case (k, (false, _)) => "\"" + k + "\"" }
    val total = results.values.collect { case (true, v) => v }.sum
    val errField = if (errs.isEmpty) "" else s""","errors":${errs.mkString("[", ",", "]")}"""
    // SPARK_GRAFT_STREAMING=0 skips the dials: they are SF-independent
    // (synthetic MemoryStream feeds), so scale-sweep artifacts (BENCH_sf1)
    // exclude them rather than re-measure the same numbers at 4 reps each
    val dials: Seq[(String, Double, String)] =
      if (sys.env.get("SPARK_GRAFT_STREAMING").contains("0")) Seq.empty
      else streamingMetrics(spark)
    // Post-dials fleet maintenance (untimed): the dials just accreted
    // ~5 manifest-pointer stores under one run-scoped root — compact
    // them through the unified MaintenanceJob path, so the job is
    // exercised against a real freshly-written fleet every round, and
    // record what it did. View identity across the rewrite is the
    // MaintenanceJobSpec's contract; here we only report.
    val maintField =
      if (dials.isEmpty) ""
      else try {
        val root = StreamFeeds.storesRoot.toString
        // census BEFORE the rewrite pass: stores_committed + files_live
        // make the 0-compactions shape self-describing ("n stores, all
        // already at target" vs "saw nothing") — files_before/after
        // still cover only the stores actually rewritten
        val census = streaming.StreamApply.storeCensus(root)
        val filesLive = census.flatMap(_._2).sum
        val compacted = streaming.StreamApply.compactStores(spark, root)
        val total = (compacted.map(_._2).sum, compacted.map(_._3).sum)
        s""","maintenance":{"stores_seen":${census.size},"stores_committed":${census.count(_._2.nonEmpty)},"files_live":$filesLive,"stores_compacted":${compacted.size},"files_before":${total._1},"files_after":${total._2}}"""
      } catch { case scala.util.control.NonFatal(e) =>
        // an explicit error field, never the 0/0 shape (r12 ADVICE): a
        // crashed or half-done compaction must not read as "the walk
        // found nothing / nothing needed doing"
        val msg = (s"${e.getClass.getName}: ${e.getMessage}")
          .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
        s""","maintenance":{"error":"$msg"}"""
      }
    val probePost = hostLoad()
    // `sliding_wm` (not the r1-r8 `sliding` key): round 9 redefined the
    // workload (event time +100 ms/row with 10-min lateness vs the prior
    // 1 ms feed), so the renamed key stops old and new numbers from ever
    // being diffed as the same series.
    val streamField =
      if (dials.isEmpty) ""
      else dials.map { case (k, v, _) => s""""$k":$v""" }
        .mkString(""","streaming":{""", ",", "}")
    // Per-dial host markers go to the FULL artifact only — 11 markers are
    // ~1.3 KB and the compact stdout line must fit the harness tail window
    val streamMarkersField =
      if (dials.isEmpty) ""
      else dials.map { case (k, _, m) => s""""$k":$m""" }
        .mkString(""","streaming_markers":{""", ",", "}")
    val hostField =
      s""","host":{"loadavg1_pre":${probePre.la},"probe_miters_pre":${probePre.mips1},"allcore_miters_pre":${probePre.mipsAll},"loadavg1_post":${probePost.la},"probe_miters_post":${probePost.mips1},"allcore_miters_post":${probePost.mipsAll}}"""

    // The harness that invokes this main keeps only the LAST ~2000 chars of
    // stdout, and the full per-query map (~100 queries) is ~3 KB — a single
    // full line can never be machine-read there (r1-r3 all recorded
    // parsed:null). Split the report: the complete full-precision JSON goes
    // to BENCH_FULL.json in the repo root, and stdout gets ONE compact line
    // (total, per-family second sums, the slowest queries, streaming rates,
    // and a pointer to the full file) sized to survive the tail window.
    val batchField = if (skipBatch) s""","batch":"skipped"""" else ""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$batchField$errField$streamField$streamMarkersField$maintField$hostField}"""
    // resolve(), not Paths.get(dir, out): Paths.get CONCATENATES, so an
    // absolute SPARK_GRAFT_OUT=/tmp/x became /root/repo/tmp/x and the
    // write crashed AFTER the 10-minute measurement run, losing it all
    val fullPath = java.nio.file.Paths
      .get(sys.props.getOrElse("user.dir", "."))
      .resolve(sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json"))
    java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def r3(v: Double) = math.rint(v * 1000) / 1000
    val families = results.toSeq
      .map { case (k, (ok, v)) => (k.takeWhile(!_.isDigit), if (ok) v else 0.0) }
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy(_._1)
      .map { case (f, v) => s"\"$f\":${r3(v)}" }
      .mkString("{", ",", "}")
    val slowest = results.toSeq.collect { case (k, (true, v)) => (k, v) }
      .sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"$k\":${r3(v)}" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries":$slowest,"queries_note":"slowest 15 of ${results.size}; all in BENCH_FULL.json","families":$families$batchField$errField$streamField$hostField,"detail":"BENCH_FULL.json"}"""

    spark.stop() // stop BEFORE printing: no shutdown log line may follow
    println(compact)
  }

  /** Streaming throughput (rows/s) through the three hot streaming paths
    * — the upsert merge ([[streaming.StreamApply.upsertWriter]]), the
    * watermarked redelivery dedup ([[streaming.StreamApply.dedupped]]),
    * and the transformWithState keyed view on the RocksDB provider
    * ([[streaming.StreamApply.statefulViewTws]]) — over a MemoryStream
    * feed, so streaming regressions show up in the round-over-round
    * bench exactly like batch ones. Rates are micro-batch wall-clock
    * (source add → processAllAvailable), measured as the MEDIAN of three
    * full reps after one discarded full-shape warm rep per dial (see
    * `median3` below for why). A failed stream reports -1.
    */
  private def streamingMetrics(spark: SparkSession)
      : Seq[(String, Double, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(i: Int, nKeys: Int) = StreamFeeds.ev(i, nKeys)

    // A single-partition MemoryStream ships the WHOLE batch inside one
    // task binary (20k rows ≈ 1.6 MiB → TaskSetManager "very large task"
    // warnings); partitioned sources hand each task a slice, which is
    // also how a real Kafka source shapes its batches.
    //
    // The DAGScheduler "broadcasting large task binary (~1-5 MiB)" WARNs
    // during this section have the same root cause one level down: the
    // STAGE broadcast serializes the MemoryStream scan's RDD graph,
    // which embeds every partition's row array — so the binary size IS
    // the batch size (measured: 10k-row batches sit under the 1000 KiB
    // threshold and log nothing; 20k-row batches log ~1-2 MiB). It is a
    // harness artifact, not an engine closure leak: a real Kafka/file
    // source streams rows through the socket/scan and its task binary
    // carries only the plan. Shrinking batches to duck the warning
    // would HALVE the reported rows/s (per-batch overhead — checkpoint
    // commit + state rewrite — dominates at 10k rows; PLANS.md round 8's
    // 2-vs-10-batch A/B), so the feed stays at 5 x 20k and the warning
    // is accepted as documented.
    val SourceParts = StreamFeeds.SourceParts

    def timeUpsert(n: Int, nKeys: Int, nBatches: Int): Double =
      StreamFeeds.timeUpsert(spark, n, nKeys, nBatches)

    def timeDedup(n: Int, nKeys: Int, nBatches: Int): Double = {
      val in = MemoryStream[BenchEv](SourceParts)
      val q = streaming.StreamApply.withStreamShuffle(spark)(
        streaming.StreamApply.dedupped(in.toDF(), "ts", "seq")
          .writeStream.outputMode("append").format("noop").start())
      // every batch fed twice: half the input is redelivery the state
      // store must absorb
      val batches = (0 until n).map(ev(_, nKeys)).pipe(StreamFeeds.batched(_, nBatches))
      val t0 = System.nanoTime()
      try batches.foreach { b =>
        in.addData(b); in.addData(b); q.processAllAvailable()
      } finally q.stop()
      2L * n / ((System.nanoTime() - t0) / 1e9)
    }

    def timeTws(n: Int, nKeys: Int, nBatches: Int): Double = {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[streaming.StreamApply.KeyedEvent](SourceParts)
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
        val q = streaming.StreamApply.withStreamShuffle(spark)(
          streaming.StreamApply.statefulViewTws(in.toDS())
            .writeStream.outputMode("update").format("noop").start())
        val batches = (0 until n)
          .map(i => streaming.StreamApply.KeyedEvent(i.toLong, i % nKeys,
            if (i % 17 == 0) "d" else "u", i * 0.5))
          .pipe(StreamFeeds.batched(_, nBatches))
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
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }

    def timeIvm(n: Int, nKeys: Int, nBatches: Int): Double =
      StreamFeeds.timeIvm(spark, n, nKeys, nBatches)

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
    def timeSliding(n: Int, nKeys: Int, nBatches: Int): Double = {
      val in = MemoryStream[BenchEv](SourceParts)
      val q = streaming.StreamApply.withStreamShuffle(spark)(
        streaming.SlidingStream.slidingDistinctView(
            in.toDF().selectExpr("CAST(key AS BIGINT) AS user_id", "ts"),
            latenessMinutes = 10L)
          .writeStream.outputMode("update").format("noop").start())
      val batches = (0 until n)
        .map(i => ev(i, nKeys).copy(
          ts = new java.sql.Timestamp(StreamFeeds.baseMs + i * 100L)))
        .pipe(StreamFeeds.batched(_, nBatches))
      val t0 = System.nanoTime()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      n / ((System.nanoTime() - t0) / 1e9)
    }

    def timeTopK(n: Int, nGroups: Int, nBatches: Int): Double = {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[streaming.TopKStream.Scored](SourceParts)
        val q = streaming.StreamApply.withStreamShuffle(spark)(
          streaming.TopKStream.topkView(in.toDS(), k = 5)
            .writeStream.outputMode("update").format("noop").start())
        val batches = (0 until n)
          .map(i => streaming.TopKStream.Scored(i % nGroups,
            (i * 7 % 4096).toLong, (i * 131 % 9973).toDouble))
          .pipe(StreamFeeds.batched(_, nBatches))
        val t0 = System.nanoTime()
        try batches.foreach { b => in.addData(b); q.processAllAvailable() }
        finally q.stop()
        n / ((System.nanoTime() - t0) / 1e9)
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
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
      val words = Seq("key", "value", "scan", "table", "slow", "fast",
        "merge", "batch", "vector", "window", "customer", "order", "dup")
      val dir = StreamFeeds.storeDir("bench-percolate")
      val a = new streaming.PercolateStream.Alerts(spark, dir)
      val queries = graft.ext.Search.savedSearches.toDF("query_id", "term")
      val in = MemoryStream[(Long, Long, String, String)](SourceParts)
      val q = streaming.StreamApply.withStreamShuffle(spark)(
        streaming.PercolateStream.percolateWriter(
          in.toDF().toDF("seq", "doc_id", "text", "op"), a, queries,
          s"$dir/ckpt").start())
      val batches = (0 until n).map { i =>
        val text = (0 until (3 + i % 6))
          .map(j => words((i * 7 + j * 5) % words.length)).mkString(" ")
        (i.toLong, (i % (n / 2)).toLong, text, "i")
      }.pipe(StreamFeeds.batched(_, nBatches))
      val t0 = System.nanoTime()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      n / ((System.nanoTime() - t0) / 1e9)
    }

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
    def timeChunkDedup(n: Int, nBatches: Int): Double =
      StreamFeeds.timeChunkDedup(spark, n, nBatches)
    def timeNearDup(n: Int, nBatches: Int): Double =
      StreamFeeds.timeNearDup(spark, n, nBatches)

    // the two sketch maintainers: bottom-k merge per batch (KMV) and
    // the exact (type, cent) CDF counts the live KS monitor scores
    def timeKmv(n: Int, nKeys: Int, nBatches: Int): Double = {
      // transformWithState requires the RocksDB provider (timeTopK's
      // discipline)
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[streaming.KmvStream.Hashed](SourceParts)
        val q = streaming.StreamApply.withStreamShuffle(spark)(
          streaming.KmvStream.sketchView(in.toDS())
            .writeStream.outputMode("update").format("noop").start())
        val batches = (0 until n)
          .map(i => streaming.KmvStream.Hashed(s"g${i % nKeys}",
            ((i % 40009).toLong * 2654435761L) % 2147483647L))
          .pipe(StreamFeeds.batched(_, nBatches))
        val t0 = System.nanoTime()
        try batches.foreach { b => in.addData(b); q.processAllAvailable() }
        finally q.stop()
        n / ((System.nanoTime() - t0) / 1e9)
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }

    def timeKsCounts(n: Int, nBatches: Int): Double = {
      val in = MemoryStream[BenchEv](SourceParts)
      val q = streaming.StreamApply.withStreamShuffle(spark)(
        streaming.KsStream.centCountView(
            in.toDF().selectExpr("CASE WHEN key % 3 = 0 THEN 'click' " +
              "WHEN key % 3 = 1 THEN 'view' ELSE 'error' END AS event_type",
              "CAST(key % 977 AS DOUBLE) / 2.0 AS value"))
          .writeStream.outputMode("update").format("noop").start())
      val batches = (0 until n).map(ev(_, 10000)).pipe(StreamFeeds.batched(_, nBatches))
      val t0 = System.nanoTime()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      n / ((System.nanoTime() - t0) / 1e9)
    }

    // the live ANN-index maintainer: CDC embedding events (synthesized
    // 64-dim vectors built INSIDE the streamed plan, so signature compute
    // — 8 dot products/row — is in the measured path, and the MemoryStream
    // task binaries stay narrow), updates + deletes, keyed merge. Rate is
    // input rows/s through signature + merge.
    def timeAnn(n: Int, nBatches: Int): Double = {
      val dir = StreamFeeds.storeDir("bench-ann")
      val store = new streaming.AnnStream.Store(spark, dir)
      val in = MemoryStream[(Long, Long, String, String)](SourceParts)
      val cdc = in.toDF().toDF("seq", "vec_id", "label", "op")
        .withColumn("embedding", org.apache.spark.sql.functions.expr(
          "transform(sequence(0, 63), " +
            "j -> CAST((vec_id * 31 + j * 7) % 13 - 6 AS FLOAT))"))
      val q = streaming.StreamApply.withStreamShuffle(spark)(
        streaming.AnnStream.annWriter(cdc, store, s"$dir/ckpt").start())
      val batches = (0 until n).map { i =>
        (i.toLong, (i % (n / 2)).toLong, s"l${i % 3}",
          if (i % 23 == 0) "d" else "u")
      }.pipe(StreamFeeds.batched(_, nBatches))
      val t0 = System.nanoTime()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      n / ((System.nanoTime() - t0) / 1e9)
    }

    // Per-dial quiet gate + per-dial markers (round-11): the monolithic
    // 11-dial section kept colliding with this host's recurring co-tenant
    // surges — three round-10 attempts each caught a surge mid-artifact,
    // leaving the tail dials (chunk/kmv/ann) with no engine-truth
    // numbers. Gating per dial makes each number individually
    // attributable: before each dial, loadavg is polled and (when
    // SPARK_GRAFT_QUIET_WAIT > 0 seconds) the dial WAITS, bounded, for
    // loadavg to drop under SPARK_GRAFT_QUIET_LA (default 3.0); every
    // dial then carries its OWN pre/post (loadavg, 1 s probe) marker, so
    // a surge landing mid-run poisons the one dial it overlapped — with
    // the marker saying so — instead of the whole artifact. With
    // QUIET_WAIT unset the gate never sleeps and only the markers are
    // added (the per-round driver path stays non-blocking).
    // JVM warm for streaming-ONLY runs (r13 finding): the FIRST dial of
    // a BATCH=0 artifact read 7.9–19k rows/s for the upsert workload
    // that measures 27.8k the moment ANY other dial precedes it — one
    // discarded full-shape warm rep leaves the SHARED machinery
    // (parquet commit path, state store, whole-stage codegen classes)
    // at C1/interpreter tier, and in full runs the 15-min batch section
    // performs this role. A small untimed upsert+ivm feed (~8 s) brings
    // the shared paths to steady state before the first measured dial;
    // per-dial warm reps then only pay dial-SPECIFIC ramp.
    if (sys.env.get("SPARK_GRAFT_BATCH").contains("0")) {
      StreamFeeds.timeUpsert(spark, 20000, 2000, 2)
      StreamFeeds.timeIvm(spark, 20000, 2000, 2)
    }
    val quietLa = sys.env.get("SPARK_GRAFT_QUIET_LA")
      .map(_.toDouble).getOrElse(3.0)
    val quietWaitSec = sys.env.get("SPARK_GRAFT_QUIET_WAIT")
      .map(_.toInt).getOrElse(0)
    def loadavg1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    // PROBE-calibrated surge detection (round-11 finding, quiet-boot
    // artifact): `loadavg1_post` CONFLATES co-tenant load with the
    // dial's OWN 32-thread Spark bursts — kmv and sliding read post-la
    // 11–30 in EVERY artifact ever taken, including one where the 1 s
    // single-core probe held the box's quiet steady through all eleven
    // dials. Self-load does not contend a single core, co-tenants do —
    // so the probe, referenced against the best probe seen this run, is
    // the surge signal; loadavg stays in the marker as context and as
    // the cheap PRE-dial gate (before a dial starts, own-load is zero,
    // though it may still read a prior dial's decay — the probe check
    // below unblocks that case without waiting out the decay).
    //
    // The headroom signal is the ALL-CORE probe (r12 VERDICT item 2):
    // the boot-state shifts that kept reading as per-family regressions
    // move all-core throughput while the single-core probe stays flat,
    // so a gate keyed on the single-core number was provably blind to
    // the failure mode it existed to catch. Both probes stay in every
    // marker; only the gate's arithmetic changed key.
    var probeSteady = 0.0
    case class Attempt(rate: Double, pre: HostProbe, post: HostProbe,
        waited: Int, attempt: Int) {
      // co-tenant/boot-state headroom: the dial's worst ALL-CORE probe
      // vs the run's best
      def headroom: Double =
        if (probeSteady <= 0) 1.0
        else math.min(pre.mipsAll, post.mipsAll) / probeSteady
      def surged: Boolean = headroom < 0.85
      def marker: String =
        s"""{"loadavg1_pre":${pre.la},"probe_miters_pre":${pre.mips1},"allcore_miters_pre":${pre.mipsAll},"loadavg1_post":${post.la},"probe_miters_post":${post.mips1},"allcore_miters_post":${post.mipsAll},"waited_sec":$waited,"attempt":$attempt}"""
    }
    def measure(f: () => Double, attempt: Int): Attempt = {
      var waited = 0
      var quiet = false
      while (!quiet && quietWaitSec > 0 && waited < quietWaitSec &&
          loadavg1() >= quietLa) {
        // loadavg may be a prior dial's self-load decay: a near-steady
        // probe vs the run's PRIOR best proves the box itself is
        // uncontended — proceed. The probe is compared BEFORE folding
        // it into the baseline (folding first made the check a
        // tautology for any new-max probe), and with no prior sample
        // at all (first dial of a run) there is nothing to reference,
        // so the pure loadavg wait governs — and the all-core probe is
        // SKIPPED entirely there (r13 ADVICE): its own 2 s of 32-thread
        // saturation every poll contributes ~3.5 to the 1-min loadavg,
        // at/above the default quietLa, so probing with nothing to
        // compare against can hold the gate closed on an already-quiet
        // box and bill the wait to co-tenants that have left.
        if (probeSteady > 0) {
          val p = hostLoad()
          if (p.mipsAll >= probeSteady * 0.92) quiet = true
          else { Thread.sleep(15000); waited += 15 }
        } else { Thread.sleep(15000); waited += 15 }
      }
      val pre = hostLoad()
      probeSteady = math.max(probeSteady, pre.mipsAll)
      val rate = median3(f())
      val post = hostLoad()
      probeSteady = math.max(probeSteady, post.mipsAll)
      Attempt(rate, pre, post, waited, attempt)
    }

    val allDials: Seq[(String, () => Double)] = Seq(
      ("upsert_rows_per_sec", () => timeUpsert(100000, 10000, 5)),
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
    // dials — the quiet-window analogue of SPARK_GRAFT_ONLY: a dial that
    // still lacks a clean marker can be re-measured first, before the
    // next co-tenant surge lands, without paying for the other ten.
    val dials: Seq[(String, () => Double)] =
      sys.env.get("SPARK_GRAFT_DIALS").map { s =>
        val keys = s.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = keys.filterNot(k => allDials.exists(_._1 == k))
        require(unknown.isEmpty, s"SPARK_GRAFT_DIALS unknown keys: ${unknown.mkString(",")}")
        keys.toSeq.map(k => allDials.find(_._1 == k).get)
      }.getOrElse(allDials)

    // Surge retry (gated mode only): a dial whose probes show co-tenant
    // contention goes BACK of the queue for one more attempt — the
    // surges on this box are episodic (minutes), so by the time the rest
    // of the queue drains, the retry usually lands quiet. The artifact
    // keeps the best-conditioned attempt (highest probe headroom; rates
    // are only ever depressed by load, never inflated) and records which
    // attempt it was, so a still-surged final number stays self-
    // describing rather than silently averaged.
    val best = scala.collection.mutable.Map.empty[String, Attempt]
    var queue = dials.map { case (k, f) => (k, f, 1) }
    while (queue.nonEmpty) {
      val (key, f, attempt) = queue.head
      queue = queue.tail
      val a = measure(f, attempt)
      if (!best.get(key).exists(_.headroom >= a.headroom)) best(key) = a
      if (a.surged && attempt < 2 && quietWaitSec > 0)
        queue = queue :+ ((key, f, attempt + 1))
    }
    // END-OF-RUN re-check against the FINAL band (r13 VERDICT item 2):
    // the in-run surge check compares a dial's probes to probeSteady AS
    // OF that dial — an EARLY dial whose post-probe dipped 10–15% below
    // the band the run later established (r13's dedup dial: post 14.2k
    // vs final band 16.2k = 0.88) passed the 0.85 gate because the band
    // hadn't been seen yet. With the full run's band known, any kept
    // attempt whose probes sit >10% under it gets ONE more attempt —
    // probeSteady only grows, so this check is strictly stronger, and
    // the attempt cap still bounds total work.
    if (quietWaitSec > 0) {
      for ((key, f) <- dials;
           a <- best.get(key)
           if a.headroom < 0.90 && a.attempt < 3) {
        val retry = measure(f, a.attempt + 1)
        if (retry.headroom > a.headroom) best(key) = retry
      }
    }
    dials.map { case (key, _) =>
      val a = best(key)
      (key, a.rate, a.marker)
    }
  }
}
