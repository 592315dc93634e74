package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoization of session-scoped derived frames per (name, session,
  * directory). It holds what no durable layer owns: the `Tables.table`
  * scans and four checkpointed session frames (`bpe:vocab`,
  * `bpe:merges`, `qc:calibration`, `ivf:centroids`), each built once per
  * session no matter how many queries consume it.
  *
  * Where a reused frame belongs:
  *   - a deterministic corpus derivation read by several queries is a
  *     [[graft.sources.CorpusIndex]] table: built once per corpus
  *     snapshot, and a read is already a session catalog lookup, so it
  *     takes no memo entry on top;
  *   - a session-scoped shared intermediate is a `FrameMemo` entry;
  *   - a frame reused within one query is a bare `localCheckpoint`.
  *
  * Sessions key on a UUID minted once per session OBJECT, held in a
  * weak map keyed on the session reference: reference identity cannot
  * collide across live sessions (an identity hash can be reused by a
  * later session, which would serve it another session's frame), and
  * the weak key lets a collected session's id mapping go with it. Each
  * access first evicts frames whose owning session has stopped — they
  * can never be served again, and dropping them releases the checkpoint
  * blocks instead of pinning them for the JVM lifetime.
  */
private[graft] object FrameMemo {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()

  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  private def ownerStopped(df: DataFrame): Boolean = df.sparkSession match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sparkContext.isStopped
    case _ => false
  }

  def apply(name: String, spark: SparkSession, sfDir: String)(
      build: => DataFrame): DataFrame = {
    memo.entrySet().removeIf(e => ownerStopped(e.getValue))
    // NOT computeIfAbsent: builders may themselves consult the memo (the
    // `qc:calibration` build reads the `scan:documents` entry), and a
    // nested mutation inside computeIfAbsent deadlocks ConcurrentHashMap
    // ("Recursive update"). get-then-putIfAbsent tolerates re-entry; the worst case
    // under a concurrent race is one duplicated build, after which every
    // caller reads the single winning entry.
    val key = (name, sessionKey(spark), sfDir)
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = memo.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Drop all memoized frames. The bench calls this before each timed
    * pass so every pass pays each shared intermediate exactly once —
    * otherwise min-of-passes would silently exclude the build costs
    * (pass 2 reads pass 1's cache) and the total would understate a
    * cold driver run. The durable corpus indexes hold no entry here and
    * survive: they are built once per corpus snapshot, and a cold driver
    * run reads them from disk — that read is the steady-state cost.
    *
    * Eviction UNPERSISTS the checkpoint blocks, not just the
    * references: a dereferenced localCheckpoint RDD is only released
    * when a GC cycle hands it to the async ContextCleaner, so a
    * many-query driver run (Bench, Prof) would otherwise accumulate
    * dead blocks in the BlockManager and tax every later CPU-dense
    * stage with memory pressure — measured as a >10x slowdown on the
    * codec queries late in a shared-JVM sweep. The memoized frame's
    * plan root is the checkpointed `LogicalRDD` when the builder
    * materialized (a table scan's root is not, and unpersist is a no-op
    * for it).
    *
    * CONTRACT: clearing DESTROYS the checkpoint blocks, and a
    * localCheckpoint'd plan has truncated lineage — a caller that holds
    * a memoized frame (or anything derived from one) ACROSS a clear()
    * gets "checkpoint block not found" on its next action, not a
    * recompute. The internal callers (Bench/Prof pass boundaries,
    * CorpusIndexSpec) hold nothing across the call by construction;
    * new call sites must preserve that. Pass `owner` to evict only one
    * session's frames — the shared-JVM-multiple-sessions case (test
    * matrices) must not have one session destroy another's live blocks.
    * `owner` is MANDATORY for that reason: the historical unscoped form
    * destroyed every session's blocks in the JVM, which turned a
    * previously-lazy failure (blocks released at GC) into a
    * deterministic "checkpoint block not found" for any other live
    * session holding a memoized frame.
    */
  def clear(owner: SparkSession): Unit = {
    val doomed = new scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    memo.forEach { (k, df) =>
      if (owner eq df.sparkSession) {
        doomed += k
        try {
          if (!ownerStopped(df)) df.queryExecution.analyzed.foreach {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false)
            case _ => ()
          }
        } catch { case _: Throwable => () }
      }
    }
    doomed.foreach(memo.remove)
    val deadTracked = new scala.collection.mutable.ArrayBuffer[DataFrame]()
    tracked.forEach { df =>
      if (owner eq df.sparkSession) {
        deadTracked += df
        try { if (!ownerStopped(df)) df.unpersist(blocking = false) }
        catch { case _: Throwable => () }
      }
    }
    deadTracked.foreach(tracked.remove)
  }

  private val tracked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[DataFrame]()

  /** Register a query-local `persist`ed frame for release at the next
    * `clear(owner)`. A builder that persists a CORPUS-SIZED frame for
    * the duration of one query (d19's DISK_ONLY token frame) cannot
    * unpersist it itself — the function returns a lazy result, so the
    * blocks must outlive the call — but leaving release to dereference
    * + ContextCleaner GC lets repeated invocations in one session (the
    * bench's median-of-N passes) accumulate disk blocks unboundedly.
    * Tracking ties the release to the same pass boundary that already
    * destroys the memoized checkpoints, which every Bench/Prof pass
    * crosses. Same lifetime contract as the memo: holding a tracked
    * frame (or a plan over it) across a clear() recomputes from lineage
    * (persist, unlike localCheckpoint, keeps lineage — so this is a
    * slow path, never an error).
    */
  private[graft] def trackPersisted(df: DataFrame): DataFrame = {
    tracked.removeIf(d => ownerStopped(d))
    tracked.add(df)
    df
  }
}
