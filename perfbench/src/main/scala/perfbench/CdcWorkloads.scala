package perfbench

import graft.cdc.Unwrap
import graft.streaming.StreamApply
import graft.streaming.StreamApply.ParquetUpsertStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** The CDC apply path under test: wire records go into a memory source,
  * through `Unwrap.unwrap`, and into `StreamApply.upsertWriter` over a
  * `ParquetUpsertStore` that already holds the initial snapshot.
  */
final class CdcPipeline(spark: SparkSession, val dir: Path) {
  val store = new ParquetUpsertStore(spark, dir.resolve("store").toString,
    key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Payload.Columns)

  private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  val input: MemoryStream[(Long, String, String)] = MemoryStream[(Long, String, String)]
  private var query: StreamingQuery = _

  def loadSnapshot(keys: Int): Unit = store.merge(Payload.snapshot(spark, keys), 0L)

  def start(): Unit = {
    val events = Unwrap.unwrap(input.toDF().toDF("seq", "key", "value"))
      .select(col("key") +: col("seq") +: col("op") +:
        Payload.Columns.map(c => col(s"row.$c").as(c)): _*)
    query = StreamApply.upsertWriter(events, store, dir.resolve("checkpoint").toString)
      .queryName(s"cdc_${dir.getFileName}").start()
  }

  def feed(batch: Array[WireEvent]): Unit =
    input.addData(batch.toSeq.map(e => (e.seq, e.key, e.value)))

  def awaitCommitted(): Unit = query.processAllAvailable()

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Store state as `(key, seq)` of live keys, through the serving view. */
  def viewPairs(): Map[Int, Long] =
    store.view().select("key", "seq").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def storeBytes(): Long = Workloads.bytesUnder(dir.resolve("store"))

  /** Parquet files of the live version. */
  def liveFiles(): Long = {
    val s = dir.resolve("store")
    val cur = s.resolve("CURRENT")
    if (!Files.exists(cur)) 0L
    else Workloads.filesUnder(s.resolve(Files.readString(cur).trim), _.endsWith(".parquet"))
  }

  /** The version `CURRENT` names now. */
  def currentVersion(): String = {
    val cur = dir.resolve("store").resolve("CURRENT")
    if (Files.exists(cur)) Files.readString(cur).trim else ""
  }
}

object Workloads {

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def filesUnder(p: Path, keep: String => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString)).count()
      finally s.close()
    }

  /** Median of `reps` set-ups of a fresh pipeline with the snapshot loaded;
    * all but the last set-up are discarded. Returns the kept pipeline.
    */
  def setUpPipeline(ctx: RunContext, keys: Int, reps: Int): (CdcPipeline, Double) = {
    val times = ArrayBuffer.empty[Double]
    var kept: CdcPipeline = null
    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      val p = new CdcPipeline(ctx.spark, Files.createDirectories(ctx.root.resolve(s"cdc$i")))
      ctx.tracer.span("setup.snapshot")(ctx.tagged("setup")(p.loadSnapshot(keys)))
      times += (System.nanoTime() - t0) / 1e9
      if (kept != null) deleteTree(kept.dir)
      kept = p
    }
    (kept, Stats.median(times.toSeq))
  }

  /** Compares the store's serving view with the generator's fold. */
  def checkFinalState(ctx: RunContext, p: CdcPipeline, fold: Fold, r: Report): Unit = {
    r.attempted += 1
    val got = ctx.tagged("check")(p.viewPairs())
    val want = fold.liveEntries.toMap
    if (got != want) {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val stale = want.count { case (k, s) => got.get(k).exists(_ != s) }
      r.fail(s"final state: ${missing.size} keys missing, ${extra.size} extra, $stale stale of ${want.size}")
    }
    r.info("live_keys_at_end") = want.size
  }

  /** Per-layer figures for the merge path and the trigger loop. */
  def streamLayers(ctx: RunContext, r: Report, events: Long): Unit = {
    val s = ctx.jobs.snapshot().getOrElse(JobSums.StreamAttribution, new JobSums)
    r.layer("merge.jobs", s.jobs, "count")
    r.layer("merge.tasks", s.tasks, "count")
    r.layer("merge.task_ms", s.taskMs, "ms")
    r.layer("merge.rows_read", s.inputRecords, "rows")
    r.layer("merge.rows_written", s.outputRecords, "rows")
    r.layer("merge.write_amp", s.outputRecords.toDouble / math.max(events, 1), "ratio")
    r.layer("merge.shuffle_mb", s.shuffleWrite / 1e6, "MB")
    r.layer("merge.written_mb", s.outputBytes / 1e6, "MB")
    val ts = ctx.progress.all.filter(_.batchId > ctx.progressMark)
    def med(k: String): Double = Stats.median(ts.map(_.durations.getOrElse(k, 0L).toDouble))
    r.layer("stream.triggers", ts.size, "count")
    r.layer("stream.addBatch_ms", med("addBatch"), "ms")
    r.layer("stream.trigger_ms", med("triggerExecution"), "ms")
    r.layer("stream.overhead_ms", Stats.median(ts.map(t =>
      (t.durations.getOrElse("triggerExecution", 0L) - t.durations.getOrElse("addBatch", 0L)).toDouble)), "ms")
    r.layer("stream.walCommit_ms", med("walCommit"), "ms")
    r.layer("stream.queryPlanning_ms", med("queryPlanning"), "ms")
  }

  /** `Unwrap.unwrap` alone over the run's generated events: decode cost per
    * event, from the second of two forced passes.
    */
  def unwrapLayer(ctx: RunContext, r: Report, events: Seq[WireEvent]): Unit = {
    import ctx.spark.implicits._
    // cached first, so the timed passes scan memory instead of shipping
    // the rows inside the tasks of a local relation
    val raw = events.map(e => (e.seq, e.key, e.value)).toDF("seq", "key", "value")
      .repartition(ctx.spark.sparkContext.defaultParallelism).cache()
    raw.count()
    def pass(): Long = {
      val t0 = System.nanoTime()
      ctx.tracer.span("unwrap")(ctx.tagged("unwrap")(Unwrap.unwrap(raw).queryExecution.toRdd.count()))
      System.nanoTime() - t0
    }
    pass()
    r.layer("unwrap.ns_per_event", pass().toDouble / math.max(events.size, 1), "ns")
    raw.unpersist()
  }

  // ---------------------------------------------------------------- cdc_apply

  val ApplyKeys = 100000
  val ApplyBatch = 5000
  val WarmBatches = 6

  /** Closed loop, one feeder: feed a batch, wait for its commit, serve the
    * next dashboard read of the rotation on the new version, repeat. Each
    * read's answer is checked against the generator's fold, which then
    * holds exactly what the store should.
    */
  def cdcApply(ctx: RunContext, r: Report, keys: Int): Unit = {
    val gen = new CdcGen(ctx.seed, keys)
    val cycle = new ReadCycle(ctx.seed, keys)
    r.info("generator") = gen.params ++ Map("batch_events" -> ApplyBatch,
      "loop" -> "closed, 1 feeder; a read after each commit", "warm_batches" -> WarmBatches)
    val (p, setupMedian) = setUpPipeline(ctx, keys, ctx.setupReps)
    val sent = ArrayBuffer.empty[WireEvent]
    val commits, readLat, opMs, opCpu = ArrayBuffer.empty[Double]
    var busyNs = 0L
    var rowsReturned = 0L

    /** One operation: the batch applied, then one read. */
    def op(): Unit = {
      val b = gen.batch(ApplyBatch, System.nanoTime())
      val read = cycle.next()
      r.attempted += 1
      try {
        val th0 = ctx.threadCpu()
        val c0 = System.nanoTime()
        ctx.tracer.span("feed")(p.feed(b))
        ctx.tracer.span("commit")(p.awaitCommitted())
        val c1 = System.nanoTime()
        val rows = ctx.tagged("read") {
          val v = ctx.tracer.span("view")(p.store.view())
          ctx.tracer.span("read.exec")(runRead(v, read))
        }
        val c2 = System.nanoTime()
        opCpu += ctx.threadCpuSince(th0) / 1e6
        opMs += (c2 - c0) / 1e6
        commits += (c1 - c0) / 1e6
        readLat += (c2 - c1) / 1e6
        busyNs += c2 - c0
        rowsReturned += rows.size
        if (answer(rows, read) != expected(gen.fold, read)) r.fail(s"${read.name} after batch ${commits.size}")
      } catch { case scala.util.control.NonFatal(e) => r.fail(s"batch: $e") }
      if (ctx.tracer.enabled) sent ++= b
    }

    try {
      val w0 = System.nanoTime()
      ctx.tracer.span("setup.warmup") {
        p.start()
        for (_ <- 0 until WarmBatches) op()
      }
      ctx.setupDone(setupMedian + (System.nanoTime() - w0) / 1e9)
      // the warm-up's operations are checked but not timed
      Seq(commits, readLat, opMs, opCpu).foreach(_.clear())
      busyNs = 0L; rowsReturned = 0L; sent.clear()

      ctx.probe(Main.ProbeReps)
      ctx.startMeasure()
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      // a probe run after each operation follows the host's speed through
      // the window
      while (System.nanoTime() < deadline) { op(); ctx.probe(1) }
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.endMeasure(r, wall)
      val events = commits.size.toLong * ApplyBatch
      // the figures count the operations' own time, not the answer checks
      r.e2e("apply_rows_per_s", events / (busyNs / 1e9), "rows/s", Some(commits.size))
      r.percentiles("commit", commits.toSeq, "ms", Seq(90))
      r.percentiles("read", readLat.toSeq, "ms", Seq(90))
      r.e2e("store_mb", p.storeBytes() / 1e6, "MB")
      r.info("batches_committed") = commits.size
      r.info("events_committed") = events
      if (ctx.tracer.enabled) {
        streamLayers(ctx, r, events)
        unwrapLayer(ctx, r, sent.toSeq)
        readLayers(ctx, r, t0, readLat.size, rowsReturned)
        r.layer("store.files_live", p.liveFiles(), "count")
      }
      ctx.contract(r, opMs.toSeq, opCpu.toSeq)
      p.stop()
      checkFinalState(ctx, p, gen.fold, r)
    } finally p.stop()
  }

  // ---------------------------------------------------------------- cdc_serve

  val ServeKeys = 20000
  val ServeRate = 500 // events per second offered
  val TickMs = 50

  /** One dashboard read over `view()`: the three reference panels and a
    * point lookup by key. Each returns its answer in a comparable form.
    */
  sealed trait Read { def name: String }
  case object Terms extends Read { val name = "terms" }
  case object Histogram extends Read { val name = "histogram" }
  case object Recent extends Read { val name = "recent" }
  final case class Lookup(key: Int) extends Read { val name = "lookup" }

  /** The reader's rotation: terms panel, lookup, daily histogram, lookup,
    * top-10 recent, lookup; lookup keys drawn from the seed.
    */
  final class ReadCycle(seed: Long, keys: Int) {
    private val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    private var n = 0
    def next(): Read = {
      val read = (n % 6) match {
        case 0 => Terms
        case 2 => Histogram
        case 4 => Recent
        case _ => Lookup(rng.nextInt(keys))
      }
      n += 1
      read
    }
  }

  /** Per-layer figures of the store's read path, for the reads made since
    * `since` under the job tag `read`.
    */
  def readLayers(ctx: RunContext, r: Report, since: Long, reads: Int, rowsReturned: Long): Unit = {
    val rd = ctx.jobs.snapshot().getOrElse(ctx.tag("read"), new JobSums)
    def measured(name: String) = ctx.tracer.named(name).filter(_.start >= since).map(_.ms)
    r.layer("view.open_ms", Stats.median(measured("view")), "ms")
    r.layer("read.exec_ms", Stats.median(measured("read.exec")), "ms")
    r.layer("read.bytes_scanned_mb", rd.inputBytes / 1e6 / math.max(reads, 1), "MB")
    r.layer("read.scan_amp", rd.inputRecords.toDouble / math.max(rowsReturned, 1), "ratio")
  }

  def runRead(v: DataFrame, read: Read): Seq[Row] = read match {
    case Terms => v.groupBy("classification").count().collect().toSeq
    case Histogram =>
      v.groupBy((unix_seconds(col("created_at")) / 86400).cast("long").as("day")).count().collect().toSeq
    case Recent =>
      v.orderBy(col("created_at").desc, col("key").desc).limit(10).select("key", "seq").collect().toSeq
    case Lookup(k) => v.filter(col("key") === k).select("key", "seq").collect().toSeq
  }

  /** The answer `read` must give on a store holding `fold`'s state. */
  def expected(fold: Fold, read: Read): Any = read match {
    case Terms => fold.liveEntries.toSeq.groupBy(e => Payload.classification(e._2)).map { case (c, es) => c -> es.size.toLong }
    case Histogram => fold.liveEntries.toSeq.groupBy(e => Payload.createdDay(e._2)).map { case (d, es) => d -> es.size.toLong }
    case Recent => fold.liveEntries.toSeq.sortBy { case (k, s) => (-Payload.createdSec(s), -k) }.take(10)
    case Lookup(k) => fold.live(k).map(k -> _).toSeq
  }

  def answer(rows: Seq[Row], read: Read): Any = read match {
    case Terms => rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    case Histogram => rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    case Recent | Lookup(_) => rows.map(r => r.getInt(0) -> r.getLong(1))
  }

  /** A read the `cdc_serve` reader made: the store version current before
    * and after it, its rows and its latency.
    */
  final case class ServedRead(read: Read, before: String, after: String, rows: Seq[Row],
      ms: Double, endNs: Long)

  /** Checks, after the measured window, every read whose store version did
    * not change while it ran: its answer must equal that of the generator's
    * fold over the ticks the version holds. The last tick of a version is
    * the end offset its trigger reported. Returns the number checked.
    */
  def checkReads(ctx: RunContext, r: Report, reads: Seq[ServedRead],
      ticks: java.util.Map[Long, Array[WireEvent]]): Long = {
    r.attempted += reads.size
    def lastTick(batchId: Long): Option[Long] = {
      val w = System.nanoTime() + 5000000000L
      var t = ctx.progress.all.find(_.batchId == batchId)
      while (t.isEmpty && System.nanoTime() < w) {
        Thread.sleep(10)
        t = ctx.progress.all.find(_.batchId == batchId)
      }
      t.map(_.endOffset)
    }
    val fold = new Fold(ServeKeys)
    var replayed = 0L
    var checked = 0L
    // reads are in time order, so the versions they read only move forward
    for (x <- reads if x.before == x.after) {
      val batchId = x.before.stripPrefix("state_v").takeWhile(_ != '_').toLong
      val epoch = x.before.substring(x.before.lastIndexOf('e') + 1).toLong
      (if (epoch == 0) Some(-1L) else lastTick(batchId)) match {
        case Some(t) =>
          while (replayed <= t) { Option(ticks.get(replayed)).foreach(_.foreach(fold(_))); replayed += 1 }
          if (answer(x.rows, x.read) != expected(fold, x.read)) r.fail(s"${x.read.name} at ${x.before}")
          checked += 1
        case None => r.fail(s"${x.read.name}: no progress for ${x.before}")
      }
    }
    checked
  }

  /** What one open-loop window of `cdc_serve` produced: its start, the end
    * of its feed, the ticks it sent (`firstTick` until `endTick`), the
    * reads made and how late each tick was sent.
    */
  final case class Window(t0: Long, wallEpochMs: Long, feedEnd: Long, firstTick: Long,
      endTick: Long, reads: Seq[ServedRead], lateMs: Seq[Double], sent: Seq[WireEvent])

  val WarmSeconds = 6

  /** Open loop: a feeder sends `ServeRate` events per second in ticks of
    * `TickMs`, each event stamped with its scheduled creation time, while
    * one reader runs dashboard reads back to back on the same store. A
    * window of `WarmSeconds` runs in set-up, so the measured one starts on
    * a warm JIT, feed and read path alike.
    */
  def cdcServe(ctx: RunContext, r: Report): Unit = {
    val gen = new CdcGen(ctx.seed, ServeKeys)
    val perTick = ServeRate * TickMs / 1000
    r.info("generator") = gen.params ++ Map("rate_events_per_s" -> ServeRate, "tick_ms" -> TickMs,
      "loop" -> "open, 1 feeder; closed, 1 reader", "warm_s" -> WarmSeconds)
    val (p, setupMedian) = setUpPipeline(ctx, ServeKeys, ctx.setupReps)
    try {
      // Every tick fed so far, in order; the read check replays them to
      // know the state behind each version read.
      val ticks = new java.util.concurrent.ConcurrentHashMap[Long, Array[WireEvent]]()
      var tickNo = 0L
      def send(b: Array[WireEvent]): Unit = { ticks.put(tickNo, b); tickNo += 1; p.feed(b) }
      val cycle = new ReadCycle(ctx.seed, ServeKeys)

      def window(seconds: Double): Window = {
        val firstTick = tickNo
        val lateMs = ArrayBuffer.empty[Double]
        val sent = ArrayBuffer.empty[WireEvent]
        @volatile var stop = false
        val t0 = System.nanoTime()
        val wallEpochMs = System.currentTimeMillis()
        val deadline = t0 + (seconds * 1e9).toLong

        val feeder = new Thread(() => {
          var k = 0L
          while (!stop && t0 + k * TickMs * 1000000L < deadline) {
            val due = t0 + k * TickMs * 1000000L
            val wait = due - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            lateMs += math.max(0L, System.nanoTime() - due) / 1e6
            // events of tick k are due evenly over the tick's interval
            val b = Array.tabulate(perTick)(i => gen.next(due - (perTick - 1 - i) * TickMs * 1000000L / perTick))
            ctx.tracer.span("feed")(send(b))
            sent ++= b
            k += 1
          }
        }, "perfbench-feeder")

        // The reader only reads and records; each answer is checked against
        // the fold after the measured window, so the check costs no read time.
        val reads = ArrayBuffer.empty[ServedRead]
        val reader = new Thread(() => {
          ctx.spark.sparkContext.addJobTag(ctx.tag("read"))
          while (!stop) {
            val read = cycle.next()
            try {
              val before = p.currentVersion()
              val c0 = System.nanoTime()
              val v = ctx.tracer.span("view")(p.store.view())
              val rows = ctx.tracer.span("read.exec")(runRead(v, read))
              val c1 = System.nanoTime()
              reads += ServedRead(read, before, p.currentVersion(), rows, (c1 - c0) / 1e6, c1)
            } catch {
              case scala.util.control.NonFatal(e) =>
                r.synchronized { r.attempted += 1; r.fail(s"${read.name}: $e") }
            }
          }
        }, "perfbench-reader")

        feeder.start(); reader.start()
        feeder.join()
        val feedEnd = System.nanoTime()
        p.awaitCommitted()
        stop = true
        reader.join()
        Window(t0, wallEpochMs, feedEnd, firstTick, tickNo, reads.toSeq, lateMs.toSeq, sent.toSeq)
      }

      val w0 = System.nanoTime()
      val warm = ctx.tracer.span("setup.warmup") {
        p.start()
        window(WarmSeconds)
      }
      ctx.setupDone(setupMedian + (System.nanoTime() - w0) / 1e9)

      ctx.startMeasure()
      val w = window(ctx.seconds)
      val wall = (w.feedEnd - w.t0) / 1e9
      ctx.endMeasure(r, wall)

      // freshness: commit of the trigger holding an event minus its
      // scheduled creation time (both on the wall clock)
      val triggers = ctx.progress.all.filter(_.endOffset >= w.firstTick).sortBy(_.endOffset)
      val tickCommitMs = new Array[Long]((w.endTick - w.firstTick).toInt)
      var ti = 0
      for (t <- w.firstTick until w.endTick) {
        while (ti < triggers.size && triggers(ti).endOffset < t) ti += 1
        tickCommitMs((t - w.firstTick).toInt) = if (ti < triggers.size) triggers(ti).endEpochMs else -1L
      }
      val fresh = ArrayBuffer.empty[Double]
      for (t <- w.firstTick until w.endTick) {
        val commit = tickCommitMs((t - w.firstTick).toInt)
        ticks.get(t).foreach { e =>
          r.attempted += 1
          if (commit < 0) r.fail(s"event ${e.seq} never committed")
          else fresh += commit - (w.wallEpochMs + (e.createdNs - w.t0) / 1e6)
        }
      }
      // the warm-up window's reads are checked too
      val checked = checkReads(ctx, r, warm.reads ++ w.reads, ticks)
      // the reader runs on until the last commit; only reads that ended
      // within the feed window count towards the read figures
      val inWindow = w.reads.filter(_.endNs <= w.feedEnd)
      val readLat = inWindow.map(_.ms)
      r.percentiles("freshness", fresh.toSeq, "ms", Seq(99))
      r.percentiles("read", readLat, "ms", Seq(90))
      r.e2e("reads_per_s", readLat.size / wall, "1/s", Some(readLat.size))
      r.e2e("reads_checked", checked, "count")
      r.e2e("store_mb", p.storeBytes() / 1e6, "MB")
      r.e2e("gen.late_ms", w.lateMs.maxOption.getOrElse(0.0), "ms", Some(w.lateMs.size))
      r.info("events_sent") = w.sent.size
      r.info("reads") = readLat.size
      r.info("trigger_ms") = ctx.progress.all.filter(_.batchId > ctx.progressMark).sortBy(_.batchId)
        .map(_.durations.getOrElse("triggerExecution", 0L)).mkString(" ")
      if (ctx.tracer.enabled) {
        streamLayers(ctx, r, w.sent.size.toLong)
        unwrapLayer(ctx, r, w.sent)
        readLayers(ctx, r, w.t0, w.reads.size, w.reads.map(_.rows.size.toLong).sum)
        r.layer("store.files_live", p.liveFiles(), "count")
        r.layer("gen.late_ms", w.lateMs.maxOption.getOrElse(0.0), "ms")
      }
      p.stop()
      checkFinalState(ctx, p, gen.fold, r)
    } finally p.stop()
  }
}
