package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a root). Times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, name: String, label: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans are kept only when tracing is on and are
  * written out once, when the run ends; with tracing off `span` is a bare
  * call, so the untraced run pays nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, label, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val rows = all.sortBy(_.start).map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "label" -> s.label,
        "start_ns" -> s.start, "end_ns" -> s.end))
    java.nio.file.Files.writeString(path, Json.write(rows))
  }
}

/** Task-level sums for one attribution (a benchmark job tag, or the
  * streaming query).
  */
final class JobSums {
  var jobs = 0L
  var stages = 0L
  var oneTaskStages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def add(o: JobSums): Unit = {
    jobs += o.jobs; stages += o.stages; oneTaskStages += o.oneTaskStages
    tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }
}

object JobSums {
  val StreamAttribution = "stream"
  val Untagged = "untagged"
}

/** Sums per-job metrics by attribution. A job submitted by the benchmark
  * carries the tags `SparkContext.addJobTag` set on the submitting thread;
  * a micro-batch job carries the streaming query id local property. Every
  * other job counts as untagged.
  */
final class JobListener extends SparkListener {
  private val stageOwner = mutable.HashMap.empty[Int, String]
  private val sums = mutable.HashMap.empty[String, JobSums]

  private def sumsOf(a: String): JobSums = sums.getOrElseUpdate(a, new JobSums)

  /** A job's attribution is the first of its tags with this prefix. */
  private val prefix = "pb:"

  private def attribution(props: java.util.Properties): String = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith(prefix))
    if (tags.nonEmpty) tags.head
    else if (Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).isDefined)
      JobSums.StreamAttribution
    else JobSums.Untagged
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val a = attribution(e.properties)
    sumsOf(a).jobs += 1
    e.stageInfos.foreach(s => stageOwner.getOrElseUpdate(s.stageId, a))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = sumsOf(stageOwner.getOrElse(e.stageInfo.stageId, JobSums.Untagged))
    s.stages += 1
    if (e.stageInfo.numTasks == 1) s.oneTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sumsOf(stageOwner.getOrElse(e.stageId, JobSums.Untagged))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** A copy of the sums so far, by attribution. */
  def snapshot(): Map[String, JobSums] = synchronized {
    sums.map { case (k, v) => val c = new JobSums; c.add(v); k -> c }.toMap
  }

  def reset(): Unit = synchronized { sums.clear() }
}

/** Per-trigger progress of streaming queries: the `durationMs` breakdown,
  * the last memory-source offset a trigger covered, and the wall-clock
  * time (epoch ms) the trigger finished, which is when its batch was
  * committed.
  */
final class ProgressListener extends StreamingQueryListener {
  final case class Trigger(batchId: Long, endOffset: Long, rows: Long,
      durations: Map[String, Long], endEpochMs: Long)
  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (p.numInputRows > 0)
      triggers.add(Trigger(p.batchId, end, p.numInputRows, durations,
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          durations.getOrElse("triggerExecution", 0L)))
  }

  def all: Seq[Trigger] = triggers.asScala.toSeq.sortBy(_.batchId)
}
