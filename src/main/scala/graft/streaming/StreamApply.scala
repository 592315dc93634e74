package graft.streaming

import graft.cdc.Materialize
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.control.NonFatal

/** Structured-Streaming side of the CDC engine (SURVEY.md §2 O10/O13 and
  * Q2-as-stream). The reference's consumer loop
  * (`consumer_to_opensearch.py:67-96`) is one unbounded poll applying
  * events in arrival order; its Spark equivalent is a streaming query per
  * concern:
  *
  *   - [[upsertWriter]]: `foreachBatch` + last-write-wins merge — the
  *     OpenSearch upsert-by-`_id` analog. Checkpointing replaces the
  *     consumer group (O13): at-least-once redelivery + an idempotent
  *     keyed merge onto [[ParquetUpsertStore]]'s atomic manifest-pointer
  *     commit gives effectively-once sink state.
  *   - [[dedupped]]: `dropDuplicatesWithinWatermark` on the event id —
  *     the redelivery guard, with state bounded by the watermark.
  *   - [[windowedCounts]]: event-time tumbling counts with a watermark —
  *     the "new customers over time" dashboard as a stream (the reference
  *     had no event-time semantics at all; processing order only).
  *
  * State scale: the upsert state is the live-key set, not the event
  * history; the windowed state is bounded by the watermark horizon. Both
  * survive a 1000-executor run because all state is keyed and
  * shuffle-partitioned — nothing accumulates on the driver.
  */
object StreamApply {

  /** Shuffle-partition count for STREAMING query starts — the state-store
    * layout dial. A stateful streaming query keys its state-store count
    * off `spark.sql.shuffle.partitions` AT FIRST START (it is then pinned
    * in the checkpoint for the query's life), and every micro-batch pays
    * a per-state-partition fixed cost (provider open, delta commit,
    * snapshot bookkeeping) regardless of row volume. Inheriting the BATCH
    * session default — the core count — makes micro-batch latency scale
    * with cores instead of with data: the r14 driver measured every
    * stateful dial FASTER at 8 cores than 32 (dedup 61.7k vs 17.7k
    * rows/s) purely because local[8] meant 8 state partitions and
    * local[32] meant 32. State partitioning should track expected state
    * volume and stay stable across restarts, not track the executor
    * count of whoever first started the query. Parameterized
    * (`SPARK_GRAFT_STREAM_SHUFFLE`) with a local default of 8 — sized so
    * ~100k-row micro-batch state spreads without drowning in per-
    * partition commit overhead; a 100 TB deployment sets it to its state
    * volume / target-partition-size and never changes it again.
    */
  private[graft] def streamShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE").map(_.toInt).getOrElse(8)

  /** Run `start` (a streaming-query start) with the streaming
    * shuffle-partition override in place, restoring the session's batch
    * setting afterwards. Safe to scope this narrowly: `start()` clones
    * the SparkSession synchronously, so the query keeps the override for
    * its whole life while later BATCH plans in the same session see the
    * original value.
    */
  private[graft] def withStreamShuffle[T](spark: SparkSession)(start: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, streamShufflePartitions.toString)
    try start finally spark.conf.set(key, prev)
  }

  /** The manifest-pointer commit machinery shared by the versioned
    * stores: append-only version directories plus one `CURRENT` file
    * replaced by an atomic rename. See [[ParquetUpsertStore]] for the
    * full protocol description.
    */
  private[streaming] final class ManifestDir(dir: String) extends Serializable {

    private val VersionPrefix = "state_v"
    private val PointerTmpPrefix = "CURRENT.tmp."
    // the leading underscore keeps it out of Spark's parquet file listing
    private val SchemaFile = "_schema.json"

    /** `t` as a file source reads it back: every field, array element
      * and map value nullable.
      */
    private def asRead(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = asRead(f.dataType), nullable = true)))
      case a: ArrayType   => ArrayType(asRead(a.elementType), containsNull = true)
      case m: MapType     => MapType(asRead(m.keyType), asRead(m.valueType),
        valueContainsNull = true)
      case other          => other
    }

    private def currentPath = Paths.get(dir, "CURRENT")

    /** Name of the live version directory, if any commit has happened. */
    def currentVersion(): Option[String] =
      if (Files.exists(currentPath))
        Some(new String(Files.readAllBytes(currentPath),
          java.nio.charset.StandardCharsets.UTF_8).trim)
      else None

    def versionPath(ver: String): String = s"$dir/$ver"

    /** Directory of one table of a version: the version directory itself
      * for a single-table store (`leaf` empty), else its `leaf`
      * subdirectory (IVM's `state/` and `agg/`).
      */
    def leafPath(ver: String, leaf: String): String =
      if (leaf.isEmpty) versionPath(ver) else s"${versionPath(ver)}/$leaf"

    /** Write `df` as table `leaf` of version `ver` and record its schema
      * beside the part files. The schema file is written after the Spark
      * write, because `overwrite` recreates the directory, and before the
      * caller's [[commitPointer]], so every committed version carries it.
      */
    def write(df: DataFrame, ver: String, leaf: String = ""): Unit = {
      val path = leafPath(ver, leaf)
      df.write.mode("overwrite").parquet(path)
      Files.writeString(Paths.get(path, SchemaFile), asRead(df.schema).json)
    }

    /** Open table `leaf` of version `ver` under the schema its writer
      * recorded. Footer inference (`spark.read.parquet` without a schema)
      * runs a Spark job on every call; it remains the fallback for a
      * version with no readable schema file, such as one written before
      * versions carried it.
      */
    def open(spark: SparkSession, ver: String, leaf: String = ""): DataFrame = {
      val path = leafPath(ver, leaf)
      val recorded =
        try DataType.fromJson(Files.readString(Paths.get(path, SchemaFile))) match {
          case st: StructType => Some(st)
          case _              => None
        } catch { case NonFatal(_) => None }
      recorded.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    }

    /** Next version name: the triggering batch id plus a monotone epoch,
      * so a replayed batch id never reuses a directory name.
      */
    def nextVersionName(batchId: Long): String = {
      val epoch = currentVersion().map(epochOf(_) + 1).getOrElse(0L)
      s"$VersionPrefix${batchId}_e$epoch"
    }

    def epochOf(ver: String): Long =
      ver.substring(ver.lastIndexOf('e') + 1).toLong

    /** Version name for a compaction rewrite — same epoch monotonicity
      * as [[nextVersionName]], labelled so a directory listing shows
      * which versions were maintenance rewrites.
      */
    def nextCompactName(): String = {
      val epoch = currentVersion().map(epochOf(_) + 1).getOrElse(0L)
      s"${VersionPrefix}compact_e$epoch"
    }

    private def deleteRecursively(p: java.nio.file.Path): Unit =
      graft.sources.CorpusIndex.deleteRecursively(p)

    /** Garbage-collect version dirs the pointer does not reference
      * (torn writes, superseded states) and orphaned pointer tmp files.
      * Purely a space matter — correctness never depends on cleanup
      * having run, because readers only ever follow `CURRENT`.
      * Idempotent; called ONLY from writer paths: a reader must never
      * delete — another process's writer may have written a version dir
      * it has not pointer-committed yet. The immediately superseded
      * version (epoch = live epoch − 1) is retained one merge longer,
      * so a lazy snapshot frame handed out before the latest commit
      * still has its files for one more cycle.
      */
    def clean(): Unit = {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) return
      val live = currentVersion()
      val liveEpoch = live.map(epochOf)
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      val strays =
        try s.iterator().asScala.toList.filter { f =>
          val n = f.getFileName.toString
          val superseded = n.startsWith(VersionPrefix) && !live.contains(n)
          val keepForLazyReaders = superseded &&
            liveEpoch.exists(le => epochOf(n) == le - 1)
          (superseded && !keepForLazyReaders) || n.startsWith(PointerTmpPrefix)
        }
        finally s.close()
      strays.foreach(deleteRecursively)
    }

    /** The commit point: publish `ver` by atomically replacing `CURRENT`.
      * The pointer content is fsync'd into a tmp file first, so the
      * rename never publishes a torn pointer; POSIX `rename(2)` replaces
      * the old pointer atomically.
      */
    def commitPointer(ver: String): Unit = {
      val tmp = Paths.get(dir, PointerTmpPrefix + ver)
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        ch.write(java.nio.ByteBuffer.wrap(
          ver.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Micro-batch merge: new state = last-write-wins over (old state ∪
    * batch), committed with a MANIFEST POINTER — the single-pointer
    * design every transactional table format (Delta's `_last_checkpoint`,
    * Iceberg's `version-hint`) reduces to:
    *
    *   - state versions are APPEND-ONLY directories
    *     (`state_v<batchId>_e<epoch>`); nothing that is live is ever
    *     moved or rewritten;
    *   - the only mutable object is one `CURRENT` file naming the live
    *     version, replaced by an atomic rename (fsync'd tmp → POSIX
    *     `rename(2)`), so the commit is a SINGLE atomic step: a reader
    *     or a crash observes the old state or the new state, never a
    *     mix and never an in-between with no state at all;
    *   - everything `CURRENT` does not reference is garbage, collected
    *     idempotently on every entry — a torn version write is simply
    *     never referenced, and a crash after the rename only leaves
    *     collectable strays;
    *   - each version directory holds `_schema.json`, the schema its
    *     writer wrote, saved before the pointer swings (Delta keeps the
    *     schema in its log for the same reason). Readers and the next
    *     merge open the version under it instead of inferring it from
    *     parquet footers, which is a Spark job per open. A version
    *     without a readable schema file still opens by inference.
    *
    * With the checkpointed source replaying at-least-once into this
    * idempotent keyed merge, sink state is effectively-once; in
    * production the body of `merge` is a Delta/Iceberg `MERGE WHEN
    * MATCHED UPDATE WHEN NOT MATCHED INSERT` — same commit protocol,
    * scaled out.
    *
    * Concurrency contract: ONE writer at a time (Structured Streaming
    * guarantees this per checkpoint); any number of readers. Readers
    * never delete anything — garbage collection runs only inside
    * [[merge]] — so a concurrent reader can never unlink a version a
    * writer has written but not yet committed.
    */
  final class ParquetUpsertStore(spark: SparkSession, dir: String,
      key: String, seq: String, opCol: String, deleteOp: String,
      payloadCols: Seq[String]) extends Serializable {

    private val manifest = new ManifestDir(dir)

    def snapshot(): DataFrame = {
      manifest.currentVersion() match {
        case Some(v) => manifest.open(spark, v)
        case None    => spark.emptyDataFrame
      }
    }

    /** Merge one micro-batch. Deletes must be retained IN the state (not
      * dropped) so a later replay of an older batch cannot resurrect a
      * deleted key; the serving view filters them. The epoch suffix makes
      * every merge attempt write a FRESH directory — a replayed batch id
      * never overwrites the directory it is reading from, and the live
      * state is never touched until the pointer swings.
      */
    def merge(batch: DataFrame, batchId: Long): Unit = {
      manifest.clean()
      val cols = (key +: seq +: opCol +: payloadCols).distinct
      val incoming = batch.select(cols.map(col): _*)
      val merged = manifest.currentVersion() match {
        case Some(v) => manifest.open(spark, v).unionByName(incoming)
        case None    => incoming
      }
      val next = Materialize.latestByKey(merged, key, seq, Seq(opCol) ++ payloadCols)
      val ver = manifest.nextVersionName(batchId)
      manifest.write(next, ver)
      manifest.commitPointer(ver) // the single atomic step
      manifest.clean()            // superseded version is now garbage
    }

    /** Serving view: live (non-deleted) rows only. */
    def view(): DataFrame = {
      val s = snapshot()
      if (s.schema.isEmpty) s else s.filter(col(opCol) =!= deleteOp)
    }

    /** OPTIMIZE-style maintenance: rewrite the live state into
      * `numFiles` files and publish it through the SAME single-pointer
      * commit as [[merge]] — readers observe the old layout or the new
      * one, never a mix, and a crash mid-compaction leaves only an
      * unreferenced directory for the next writer's clean(). A merge
      * writes one part file per post-shuffle partition. AQE's coalescing
      * (on by default) merges them down to about the core count, but not
      * below ~1 MB of shuffle data each: a small store is born as one
      * file, a 100k-key store at 4 cores as 4; with coalescing off every
      * merge writes `spark.sql.shuffle.partitions` files. Each file costs
      * the snapshot scan its own open — the read amplification Delta's
      * OPTIMIZE / Iceberg's rewrite_data_files exists to fix, reduced to
      * this store's commit protocol. WRITER
      * operation (single-writer contract applies): run it from the
      * maintenance path, never concurrently with merge.
      */
    def compact(numFiles: Int = 1): Unit = {
      manifest.currentVersion().foreach { v =>
        val ver = manifest.nextCompactName()
        manifest.write(manifest.open(spark, v).coalesce(numFiles), ver)
        manifest.commitPointer(ver)
        manifest.clean()
      }
    }
  }

  /** Every manifest-pointer store under `root` — any directory holding
    * a `CURRENT` file. Separated from [[compactStores]] so a caller can
    * report discovery independently of rewrites (a maintenance marker
    * reading "0 compacted over 5 discovered" means the fleet was
    * already compact; "0 over 0" means the walk found nothing).
    */
  def discoverStores(root: String): Seq[java.nio.file.Path] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val s = Files.walk(r)
    try s.iterator().asScala.toList
      .filter(p => Files.isDirectory(p) &&
        Files.isRegularFile(p.resolve("CURRENT")))
    finally s.close()
  }

  private def parquetParts(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.count(f =>
      f.getFileName.toString.startsWith("part-")).toLong
    finally s.close()
  }

  /** The live version of a store and its tables, each with its part-file
    * count: one table named "" when the version directory holds the
    * parquet itself, else one per subdirectory (IVM's `state/` and
    * `agg/`). None when `CURRENT` names no existing version directory.
    */
  private def liveTables(man: ManifestDir): Option[(String, Seq[(String, Long)])] =
    man.currentVersion().filter(v => Files.isDirectory(Paths.get(man.versionPath(v))))
      .map { v =>
        import scala.jdk.CollectionConverters._
        val s = Files.list(Paths.get(man.versionPath(v)))
        val subs =
          try s.iterator().asScala.toList.filter(p =>
            Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
            .map(_.getFileName.toString)
          finally s.close()
        val leaves = if (subs.nonEmpty) subs else List("")
        v -> leaves.map(l => l -> parquetParts(man.leafPath(v, l)))
      }

  /** Read-only fleet CENSUS: per discovered store, the live version's
    * part-file count (None = a `CURRENT` pointer exists but references
    * no readable version yet). This is what lets a maintenance marker
    * distinguish "all stores already compact" (n stores, positive live
    * files, zero rewrites) from "the walk saw nothing" (zero stores) —
    * the r13 driver artifact's `20/0/0/0` was genuinely the former
    * (the dial stores are small, and AQE coalesces a small merge's
    * output to one part file, so a fresh dial fleet is born compact;
    * see [[ParquetUpsertStore.compact]]), but the marker alone could
    * not say so because `files_before` sums only REWRITTEN stores.
    */
  def storeCensus(root: String): Seq[(String, Option[Long])] =
    discoverStores(root).sortBy(_.toString).map { sd =>
      sd.toString -> liveTables(new ManifestDir(sd.toString)).map(_._2.map(_._2).sum)
    }

  /** FLEET maintenance: find every manifest-pointer store under `root`
    * (any directory holding a `CURRENT` file — the one invariant every
    * versioned store in this repo shares) and OPTIMIZE it through the
    * store's own commit protocol, with no knowledge of which stream
    * owns it or what schema it holds. Multi-table stores (IVM's
    * `state/` + `agg/` living inside one version directory) are
    * detected from the version layout and each leaf is rewritten into
    * the SAME new version, so the tables can never diverge across the
    * one pointer swing. A store whose live version is already at the
    * target file count is SKIPPED — the job is idempotent and a second
    * run reports nothing, which the spec asserts.
    *
    * This is the unified entry the fleet previously lacked: every
    * `Stores` wrapper (postings, labels, ann, calib, chunk owners, …)
    * bottoms out in manifest-pointer directories, so "compact the
    * fleet" is a directory walk, not a per-stream enumeration that
    * goes stale the next time a stream is added. Returns
    * (storeDir, filesBefore, filesAfter) for each store actually
    * rewritten. WRITER operation — same single-writer contract as
    * merge/compact; run from the maintenance path only.
    */
  def compactStores(spark: SparkSession, root: String,
      numFiles: Int = 1): Seq[(String, Long, Long)] =
    discoverStores(root).sortBy(_.toString).flatMap { sd =>
      val man = new ManifestDir(sd.toString)
      liveTables(man).flatMap { case (v, tables) =>
        val before = tables.map(_._2).sum
        if (before <= numFiles.toLong * tables.size) None
        else {
          val ver = man.nextCompactName()
          tables.foreach { case (l, _) =>
            man.write(man.open(spark, v, l).coalesce(numFiles), ver, l)
          }
          man.commitPointer(ver)
          man.clean()
          val after = tables.map { case (l, _) => parquetParts(man.leafPath(ver, l)) }.sum
          Some((sd.toString, before, after))
        }
      }
    }

  /** foreachBatch upsert writer over a normalized CDC event stream. */
  def upsertWriter(events: DataFrame, store: ParquetUpsertStore,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => store.merge(batch, id))

  /** Streaming incremental view maintenance — the streaming twin of the
    * batch `o17` operator: the store keeps BOTH the keyed state and a
    * maintained aggregate (live keys per `aggCol` value), and each
    * micro-batch updates the aggregate from signed deltas over the
    * batch's keys only: the state merge EMITS ITS OWN CHANGELOG (the old
    * winner's op/value recorded in extra columns of the written row, a
    * touched flag marking batch-affected keys), and the delta unfolds
    * from one pruned scan of the touched rows — never rescanning the
    * full state, never re-deriving the merge.
    *
    * Both tables live in the SAME version directory (`state/`, `agg/`)
    * and commit with the ONE pointer rename, so they can never diverge:
    * a crash between the two parquet writes leaves an unreferenced torn
    * version, and a crash after the pointer swing leaves both updated.
    * Replay is self-correcting without any batch-id bookkeeping — a
    * replayed merge finds the state unchanged by the replayed batch
    * (last-write-wins is idempotent), so retract and re-add cancel
    * exactly and the aggregate is untouched.
    */
  final class IvmUpsertStore(spark: SparkSession, dir: String,
      key: String, seq: String, opCol: String, deleteOp: String,
      payloadCols: Seq[String], aggCol: String) extends Serializable {

    private val manifest = new ManifestDir(dir)

    private def stateAt(v: String): DataFrame = manifest.open(spark, v, "state")
    private def aggAt(v: String): DataFrame = manifest.open(spark, v, "agg")

    /** Live (non-deleted) keyed state (changelog columns stripped). */
    def view(): DataFrame = manifest.currentVersion() match {
      case Some(v) => stateAt(v).filter(col(opCol) =!= deleteOp)
        .drop("__old_op", "__old_cat", "__touched")
      case None    => spark.emptyDataFrame
    }

    /** The maintained aggregate: live-key count per `aggCol` value. */
    def aggView(): DataFrame = manifest.currentVersion() match {
      case Some(v) => aggAt(v)
      case None    => spark.emptyDataFrame
    }

    def merge(batch: DataFrame, batchId: Long): Unit = {
      manifest.clean()
      val cols = (key +: seq +: opCol +: payloadCols).distinct
      val incoming = batch.select(cols.map(col): _*)
      val live = manifest.currentVersion()
      val curState = live.map(stateAt(_).select(cols.map(col): _*))
        .getOrElse(incoming.limit(0))
      val curAgg = live.map(aggAt).getOrElse(
        incoming.select(col(aggCol)).limit(0).withColumn("n", lit(0L)))
      // The state merge emits ITS OWN CHANGELOG (the round-8 shape —
      // Delta's change-data-feed idea reduced to this store): the one
      // per-key aggregation that picks the new winner ALSO records, in
      // extra columns of the same written row, the OLD winner's (op,
      // aggCol) — a conditional max_by over the state-origin rows only —
      // and whether the key was touched by this batch. The aggregate
      // delta then needs exactly one pruned scan of the just-written
      // state (filter `__touched`, pushed to parquet): no second scan of
      // the old state, no distinct-keys broadcast job, no semi join.
      // Round-7's shape paid all three per micro-batch, and the A/B
      // (`StreamBench 2 {2,10}`) showed per-batch FIXED cost — not
      // per-row work — dominating ivm_rows_per_sec.
      //
      // Replay stays self-cancelling with no batch-id bookkeeping: a
      // replayed batch finds the state-origin winner already equal to
      // the merged winner (last-write-wins is idempotent; redelivered
      // rows are byte-identical), so −old and +new cancel per key.
      val tagged = curState.withColumn("__origin", lit(0))
        .unionByName(incoming.withColumn("__origin", lit(1)))
      val packed = struct((seq +: opCol +: payloadCols).distinct.map(col): _*)
      val payload = (seq +: opCol +: payloadCols).distinct
      val merged = tagged.groupBy(col(key))
        .agg(
          max_by(packed, col(seq)).as("__last"),
          // old winner: max_by ignores rows whose ordering value is null,
          // so conditioning the ordering on origin restricts the argmax
          // to the pre-merge state without a second scan
          max_by(struct(col(opCol).as("op"), col(aggCol).as("cat")),
            when(col("__origin") === 0, col(seq))).as("__old"),
          max(col("__origin")).as("__touched"))
        .select(col(key) +:
          payload.map(c => col(s"__last.$c").as(c)) :+
          col("__old.op").as("__old_op") :+
          col("__old.cat").as("__old_cat") :+
          col("__touched"): _*)
      val ver = manifest.nextVersionName(batchId)
      manifest.write(merged, ver, "state")
      // Signed delta from the changelog columns alone: −1 for the old
      // winner's value if it was live, +1 for the new winner's if live —
      // both rows unfolded from the ONE touched-state row. Reading the
      // just-written bytes (the ones the pointer is about to publish)
      // keeps the merge single-evaluation without pinning state in
      // executor memory (the round-6/7 trade, unchanged).
      val st = stateAt(ver)
        .filter(col("__touched") === 1)
        .select(col(aggCol), col(opCol), col("__old_op"), col("__old_cat"))
      val delta = st.select(explode(array(
          struct(col("__old_cat").as(aggCol),
            when(col("__old_op").isNotNull && col("__old_op") =!= deleteOp,
              -1L).otherwise(0L).as("w")),
          struct(col(aggCol),
            when(col(opCol) =!= deleteOp, 1L).otherwise(0L).as("w")))).as("d"))
        .select(col(s"d.$aggCol").as(aggCol), col("d.w").as("w"))
        .filter(col("w") =!= 0L)
      // ONE aggregation total: the running aggregate joins the delta
      // stream BEFORE the groupBy, so there is no second (delta-only)
      // shuffle stage
      val newAgg = delta
        .unionByName(curAgg.select(col(aggCol), col("n").as("w")))
        .groupBy(aggCol).agg(sum("w").as("n"))
        .filter(col("n") > 0)
      // the maintained aggregate is small by definition (one row per
      // aggCol value) — one output file, not one per shuffle partition
      manifest.write(newAgg.coalesce(1), ver, "agg")
      manifest.commitPointer(ver) // ONE atomic step commits both tables
      manifest.clean()
    }
  }

  /** foreachBatch writer maintaining state + aggregate incrementally. */
  def ivmWriter(events: DataFrame, store: IvmUpsertStore,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => store.merge(batch, id))

  /** The SHARE GATE as a stream — the completion of the repo's namesake
    * ("CDC and Secure Data Sharing"): the reference provisions a
    * `cdc-sharing` topic and never publishes to it; this sink is that
    * publish, gated. Each micro-batch (1) merges the raw CDC events
    * into the private upsert store, then (2) publishes, for every key
    * the batch TOUCHED, either the gated row (pseudonymized key,
    * generalized quasi-identifiers — exactly
    * [[graft.cdc.CdcQueries.shareGateOf]]'s policy, shared code) or a
    * TOMBSTONE when the key's new state fails the gate (deleted, or its
    * latest type is not shareable). Tombstones are what make the gate
    * correct as a STREAM: a key whose state transitions from shareable
    * to non-shareable must be retracted from the audience's
    * materialization, not merely stop updating — the batch gate's
    * filter has no such obligation because it re-derives from scratch.
    *
    * The published store is keyed by the PSEUDONYMOUS token and carries
    * only gated columns, so the share boundary is structural: raw ids
    * never reach the published files (the spec asserts the schema). Per
    * batch, the publish scans the private snapshot semi-joined to the
    * batch's touched keys (broadcast — bounded by batch size): cost
    * follows the delta, not the state. Replay is absorbed by the
    * published store's ordinary last-write-wins on the source seq.
    */
  def shareGateSink(events: DataFrame, raw: ParquetUpsertStore,
      published: ParquetUpsertStore, checkpoint: String,
      key: String = "user_id", seqCol: String = "event_id",
      opCol: String = "event_type", deleteOp: String = "error")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the day generalization truncates in the SESSION timezone; a
        // streaming-only driver never touches Tables.eventsRaw's pin,
        // so the same "first graft call pins the clock" contract is
        // enforced here — otherwise a non-UTC session would publish
        // different day buckets than the batch gate over the same events
        batch.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        raw.merge(batch, id)
        val touched = batch.select(col(key)).distinct()
        val snap = raw.snapshot()
          .join(broadcast(touched), Seq(key), "left_semi")
        val pass = col(opCol) =!= deleteOp && graft.cdc.CdcQueries.sharePasses
        val projected = snap.select(
          graft.cdc.CdcQueries.shareProjection :+
            col(seqCol).as("pub_seq") :+
            when(pass, lit("u")).otherwise(lit("d")).as("pub_op"): _*)
        // Tombstone rows carry NO attributes: the published store keeps
        // deletes forever (resurrection protection), so a tombstone that
        // retained the redacted state's (event_type, day, value_floor)
        // would park non-shareable interaction data in the audience-side
        // files — only the pseudonymous key and the sequence may cross
        // the boundary with a delete.
        val gated = projected.select(
          col("user_token") +:
            Seq("event_type", "day", "value_floor").map(n =>
              when(col("pub_op") === "u", col(n)).as(n)) :+
            col("pub_seq") :+ col("pub_op"): _*)
        published.merge(gated, id)
      }

  /** Constructor for the published (audience-side) store of
    * [[shareGateSink]]: keyed by the pseudonymous token, delete op "d",
    * payload = the gated columns only.
    */
  def publishedShareStore(spark: SparkSession, dir: String): ParquetUpsertStore =
    new ParquetUpsertStore(spark, dir, key = "user_token", seq = "pub_seq",
      opCol = "pub_op", deleteOp = "d",
      payloadCols = Seq("event_type", "day", "value_floor"))

  /** Redelivery dedup (O13): exactly-once per event id within the
    * watermark horizon. Upstream retries land as byte-identical events,
    * so dropping by id is lossless — same contract the reference leans on
    * with its idempotent upsert. `dropDuplicatesWithinWatermark` (not
    * plain `dropDuplicates`) is what makes the horizon real: with the
    * event-time column outside the dedup key, plain `dropDuplicates`
    * never evicts its state; the within-watermark variant expires each
    * id once the watermark passes its event time, so state is bounded by
    * the horizon on an unbounded stream.
    */
  def dedupped(events: DataFrame, tsCol: String, idCol: String,
      horizon: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(idCol)

  /** Q2 as a stream: tumbling event-time counts with late-data bound. */
  def windowedCounts(events: DataFrame, tsCol: String,
      width: String = "1 day", horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, horizon)
      .groupBy(window(col(tsCol), width))
      .count()
      .select(col("window.start").as("bucket"), col("count").as("n"))

  /** Batch reference for [[windowedCounts]] — used by tests to assert
    * stream/batch parity on the same event set.
    */
  def windowedCountsBatch(events: DataFrame, tsCol: String,
      width: String = "1 day"): DataFrame =
    events.groupBy(window(col(tsCol), width)).count()
      .select(col("window.start").as("bucket"), col("count").as("n"))

  /** Streaming sessionization: event-time session windows, closed after
    * `gap` of inactivity per key, state bounded by the watermark. The
    * streaming-native sibling of the batch lag/cumsum sessionization in
    * [[graft.ext.Sessions]] — `session_window` merges windows in the
    * state store, so a session emits exactly once, when the watermark
    * passes its end. The same expression runs in batch (the parity test
    * relies on that).
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, horizon)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .count()
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("count").as("n_events"))

  /** TWO stateful operators CHAINED in one streaming query: finalized
    * session windows re-aggregate into per-bucket session/event counts —
    * "how many sessions ended in each hour". Chaining stateful
    * aggregations in append mode needs watermark propagation through the
    * first aggregation (Spark ≥ 3.4); the second groupBy keys on
    * `window_time(session_window)` — the event-time instant of the
    * session window (its end − 1µs) — which is the supported way to
    * carry event time across the boundary. Both operators keep bounded,
    * key-partitioned state evicted at the watermark; the same code runs
    * identically on a batch frame (the parity spec's oracle).
    */
  def sessionRollup(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", horizon: String = "10 minutes",
      bucket: String = "60 minutes"): DataFrame =
    events.withWatermark(tsCol, horizon)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .count()
      .groupBy(window(window_time(col("session_window")), bucket))
      .agg(count(lit(1)).as("n_sessions"), sum("count").as("n_events"))
      .select(col("window.start").as("bucket_start"),
        col("window.end").as("bucket_end"),
        col("n_sessions"), col("n_events"))

  /** Stream-stream interval join: each left event joined to right events
    * of the same key whose timestamp falls within `[l.ts - window, l.ts]`
    * — the streaming sibling of [[graft.ext.Temporal.asofJoin]] (all
    * matches in the interval rather than only the latest; an as-of over
    * unbounded streams is not expressible with bounded state, the
    * interval bound is what lets both sides' join state be evicted at
    * the watermark).
    *
    * Column names on `right` must not collide with `left`'s; `rightTs`
    * is the right side's event-time column.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      rightKeyCol: String, tsCol: String, rightTs: String,
      window: String = "10 minutes", horizon: String = "10 minutes"): DataFrame =
    left.withWatermark(tsCol, horizon)
      .join(right.withWatermark(rightTs, horizon),
        col(keyCol) === col(rightKeyCol) &&
          col(rightTs) >= col(tsCol) - expr(s"INTERVAL $window") &&
          col(rightTs) <= col(tsCol))

  /** LEFT OUTER interval join: like [[intervalJoin]], but a left event
    * with no right match in its interval still emits — with nulls on the
    * right columns — once the watermark proves no match can arrive
    * (right watermark past `l.ts`, the top of the interval). This is the
    * streaming "every click, attributed or not" shape: an inner join
    * silently drops the unattributed majority, which is exactly the
    * traffic an attribution pipeline must still count. The same interval
    * bound that lets the inner join evict state is what makes the outer
    * result DECIDABLE at a finite time; the null row's emission time
    * moves with the watermark, its CONTENT equals the batch left-outer
    * evaluation (spec'd).
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, keyCol: String,
      rightKeyCol: String, tsCol: String, rightTs: String,
      window: String = "10 minutes", horizon: String = "10 minutes"): DataFrame =
    left.withWatermark(tsCol, horizon)
      .join(right.withWatermark(rightTs, horizon),
        col(keyCol) === col(rightKeyCol) &&
          col(rightTs) >= col(tsCol) - expr(s"INTERVAL $window") &&
          col(rightTs) <= col(tsCol),
        "leftOuter")

  // ---- mapGroupsWithState variant of the keyed view ---------------------

  /** Normalized CDC event for the typed stateful path. */
  case class KeyedEvent(seq: Long, key: Int, op: String, value: Double)

  /** Per-key live state. */
  case class KeyState(seq: Long, value: Double, deleted: Boolean)

  /** The keyed view as CUSTOM STREAMING STATE — the
    * `mapGroupsWithState` alternative to the `foreachBatch` merge: state
    * lives in Spark's state store (shuffle-partitioned by key, bounded by
    * the live-key set, checkpointed), and each micro-batch emits the
    * updated row per touched key. Same fold semantics as
    * [[graft.cdc.Materialize]]: highest `seq` wins, deletes tombstone the
    * key (state is KEPT so an out-of-order older event cannot resurrect
    * it).
    */
  def statefulView(events: Dataset[KeyedEvent]): Dataset[(Int, KeyState)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[KeyState, (Int, KeyState)](GroupStateTimeout.NoTimeout) {
        (key, batch, state) =>
          val init = state.getOption.getOrElse(KeyState(Long.MinValue, 0.0, deleted = true))
          val next = batch.foldLeft(init) { (s, e) =>
            if (e.seq <= s.seq) s // stale replay — state already newer
            else if (e.op == "d") KeyState(e.seq, 0.0, deleted = true)
            else KeyState(e.seq, e.value, deleted = false)
          }
          state.update(next)
          key -> next
      }
  }

  /** The keyed view on the MODERN state API (Spark 4
    * `transformWithState`): same last-write-wins fold as [[statefulView]],
    * but state lives in a named `ValueState` variable whose TTL is
    * enforced BY THE STATE STORE itself (`TTLConfig`) rather than by
    * hand-managed timers — every update refreshes the key's TTL, so hot
    * keys persist and idle keys age out without any timer bookkeeping in
    * the fold. Requires the RocksDB state-store provider (the engine
    * rejects the HDFS-backed one for this operator), which is also the
    * provider a 100 TB deployment runs: state spills to disk per
    * partition instead of living on the executor heap, and changelog
    * checkpointing ships deltas, not snapshots.
    */
  class KeyedViewProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, KeyedEvent, (Int, KeyState)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[KeyState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[KeyState]("view",
        org.apache.spark.sql.Encoders.product[KeyState],
        org.apache.spark.sql.streaming.TTLConfig(ttl))

    override def handleInputRows(key: Int, rows: Iterator[KeyedEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Int, KeyState)] = {
      val init =
        if (state.exists()) state.get()
        else KeyState(Long.MinValue, 0.0, deleted = true)
      val next = rows.foldLeft(init) { (s, e) =>
        if (e.seq <= s.seq) s // stale replay — state already newer
        else if (e.op == "d") KeyState(e.seq, 0.0, deleted = true)
        else KeyState(e.seq, e.value, deleted = false)
      }
      state.update(next)
      Iterator.single(key -> next)
    }
  }

  /** [[statefulView]] rebuilt on [[KeyedViewProcessor]]. */
  def statefulViewTws(events: Dataset[KeyedEvent],
      ttl: java.time.Duration = java.time.Duration.ofMinutes(10)): Dataset[(Int, KeyState)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .transformWithState(new KeyedViewProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** [[statefulView]] with a tombstone TTL: a deleted key keeps its
    * tombstone (still blocking stale replays) for `ttlMs` of processing
    * time, then its state is REMOVED. Without eviction, dead keys
    * accumulate forever and state grows with the key-churn HISTORY
    * instead of the live-key set — the difference between bounded and
    * unbounded state on a 100 TB-scale churny stream. The TTL is the
    * redelivery horizon: after it, a replay of pre-delete events is
    * assumed impossible (the same contract a watermark encodes), so a
    * late stale event after eviction re-creates the key — accepted, and
    * exactly what the spec demonstrates. Live keys never time out.
    */
  def statefulViewWithTtl(events: Dataset[KeyedEvent],
      ttlMs: Long = 600000L): Dataset[(Int, KeyState)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[KeyState, (Int, KeyState)](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (key, batch, state) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // tombstone past the horizon — state evicted
            key -> last
          } else {
            val init = state.getOption.getOrElse(KeyState(Long.MinValue, 0.0, deleted = true))
            val next = batch.foldLeft(init) { (s, e) =>
              if (e.seq <= s.seq) s
              else if (e.op == "d") KeyState(e.seq, 0.0, deleted = true)
              else KeyState(e.seq, e.value, deleted = false)
            }
            state.update(next)
            if (next.deleted) state.setTimeoutDuration(ttlMs)
            key -> next
          }
      }
  }
}
