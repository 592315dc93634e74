package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

/** Structured-Streaming side of the CDC engine (SURVEY.md §2 O10/O13 and
  * Q2-as-stream). The reference's consumer loop
  * (`consumer_to_opensearch.py:67-96`) is one unbounded poll applying
  * events in arrival order; its Spark equivalent is a streaming query per
  * concern:
  *
  *   - [[upsertWriter]]: [[batchSink]] + last-write-wins merge — the
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

  /** Run `body` with the RocksDB state-store provider, which
    * `transformWithState` requires, restoring the session's provider
    * setting (or its absence) afterwards.
    */
  private[graft] def withRocksDbState[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
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
      *
      * Physical format, fixed for every store version: every column
      * plain-encoded (no dictionary pages) and timestamps as INT64
      * `TIMESTAMP_MICROS`, not Spark's deprecated INT96. The footer of a
      * 100k-key CDC version (27,295 rows per file) showed parquet building
      * dictionaries for `key`, `seq`, `full_name` and `email` and then
      * falling back to plain encoding, and `created_at` as a 12-byte INT96
      * dictionary of 25,918 distinct values: the merge paid for
      * dictionaries it discarded. Plain INT64 micros also reads faster
      * than plain INT96, which converts every value on read. The timestamp
      * type is taken from the session conf, which Spark copies over any
      * writer option, so it is set on the session for the write and
      * restored after it, even when the write throws. Versions written
      * before this format (INT96, dictionaries) open and merge unchanged:
      * parquet readers decode either encoding under the same schema.
      *
      * The write's Hadoop conf binds `file:` to [[graft.io.LocalFs]], so
      * the part files, their `.crc` sidecars and the committer's
      * directories get their permissions from java.nio rather than a
      * forked `chmod` each, whoever built the session.
      */
    def write(df: DataFrame, ver: String, leaf: String = ""): Unit = {
      val path = leafPath(ver, leaf)
      val conf = df.sparkSession.conf
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val prev = conf.getAll.get(tsKey) // None when unset: restore unset
      conf.set(tsKey, "TIMESTAMP_MICROS")
      try df.write.mode("overwrite").options(graft.io.LocalFs.WriteOptions)
        .option("parquet.enable.dictionary", "false").parquet(path)
      finally prev.fold(conf.unset(tsKey))(conf.set(tsKey, _))
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

    private def epochOf(ver: String): Long =
      ver.substring(ver.lastIndexOf('e') + 1).toLong

    private def deleteRecursively(p: java.nio.file.Path): Unit =
      graft.sources.CorpusIndex.deleteRecursively(p)

    /** Garbage-collect version dirs the pointer does not reference
      * (torn writes, superseded states) and orphaned pointer tmp files.
      * Purely a space matter — correctness never depends on cleanup
      * having run, because readers only ever follow `CURRENT`.
      * Idempotent; called ONLY from [[commit]]: a reader must never
      * delete — another process's writer may have written a version dir
      * it has not pointer-committed yet. The immediately superseded
      * version (epoch = live epoch − 1) is retained one merge longer,
      * so a lazy snapshot frame handed out before the latest commit
      * still has its files for one more cycle.
      */
    private def clean(): Unit = {
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

    /** The one version commit every writer runs (merges of both stores,
      * compaction): name the next version `state_v<label>_e<epoch>`, its
      * epoch one past the live version's so a replayed batch id never
      * writes over a committed version; write its tables with
      * `writeTables`; publish it with [[commitPointer]], the single
      * atomic step; then [[clean]] what the pointer no longer references.
      * A crash before the swing leaves an unreferenced directory,
      * collected by the next commit's `clean`, or replaced by its
      * [[write]], which overwrites, when that commit reuses the name.
      * Returns the committed version.
      */
    def commit(label: String)(writeTables: String => Unit): String = {
      val epoch = currentVersion().map(epochOf(_) + 1).getOrElse(0L)
      val ver = s"$VersionPrefix${label}_e$epoch"
      writeTables(ver)
      commitPointer(ver)
      clean()
      ver
    }
  }

  /** The last-write-wins merge both stores write: `state` with `batch`
    * applied, computed the way Delta's MERGE computes it. The batch is
    * folded to one winner per key (highest `seq`), then joined to the
    * live version by a full outer shuffled hash join that builds on the
    * fold. Per key the batch row wins when its `seq` is higher, the state
    * row otherwise (ties included, so a replayed batch changes nothing).
    * The state side is scanned, shuffled once and streamed through the
    * join, never sorted or aggregated, which is sound because every
    * version this merge writes holds exactly one row per key. The hash
    * build is the folded micro-batch's share of one shuffle partition, so
    * the source's per-trigger limit bounds its memory, not the state
    * size. With no live version (`state` empty) the fold alone is the
    * result.
    *
    * The output is `key`, then `valueCols`, then `extra(touched)`:
    * columns the caller projects from the same join, where `touched` is
    * true for keys the batch holds a row for. A column of `state` is the
    * pre-merge row there (null for a key the state lacks).
    */
  private def lastWriteWins(batch: DataFrame, state: Option[DataFrame],
      key: String, seq: String, valueCols: Seq[String],
      extra: Column => Seq[Column] = _ => Nil): DataFrame = {
    // The fold: one winner per key, keyed by `__k` = `struct(key)`, with
    // the winner's other columns packed in `__b`. Spark compares structs
    // field by field with nulls equal, so a null key is one group here
    // and matches a null state key in the join, which keys on this same
    // `__k` column: the fold's shuffle already partitions the batch for
    // the join. The key field is made nullable, as in every version read
    // back, so the join compares `__k` uncast and keeps that partitioning.
    val keyType = StructType(Seq(StructField(key, batch.schema(key).dataType)))
    val folded = batch.groupBy(struct(col(key)).cast(keyType).as("__k"))
      .agg(max_by(struct(valueCols.map(col): _*), col(seq)).as("__b"))
    state match {
      case None =>
        folded.select((col(s"__k.$key").as(key) +:
          valueCols.map(c => col(s"__b.$c").as(c))) ++ extra(lit(true)): _*)
      case Some(s) =>
        val joined = folded.hint("shuffle_hash")
          .join(s, folded("__k") === struct(s(key)), "full_outer")
        val takeBatch = col("__b").isNotNull &&
          (s(seq).isNull || col(s"__b.$seq") > s(seq))
        joined.select((coalesce(col(s"__k.$key"), s(key)).as(key) +:
          valueCols.map(c => when(takeBatch, col(s"__b.$c")).otherwise(s(c)).as(c))) ++
          extra(col("__b").isNotNull): _*)
    }
  }

  /** A keyed store merged by [[lastWriteWins]]. Each merge writes a new
    * version and commits it with a MANIFEST POINTER — the
    * single-pointer design every transactional table format (Delta's
    * `_last_checkpoint`, Iceberg's `version-hint`) reduces to:
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
    *     idempotently after every commit ([[ManifestDir.commit]]) — a
    *     torn version write is simply never referenced, and a crash
    *     after the rename only leaves collectable strays;
    *   - each version directory holds `_schema.json`, the schema its
    *     writer wrote, saved before the pointer swings (Delta keeps the
    *     schema in its log for the same reason). Readers and the next
    *     merge open the version under it instead of inferring it from
    *     parquet footers, which is a Spark job per open. A version
    *     without a readable schema file still opens by inference.
    *
    * With the checkpointed source replaying at-least-once into this
    * idempotent keyed merge (a replayed row ties with the state row,
    * and ties keep the state), sink state is effectively-once; in
    * production the body of `merge` is a Delta/Iceberg `MERGE WHEN
    * MATCHED AND batch.seq > state.seq UPDATE WHEN NOT MATCHED INSERT`
    * over the same folded batch — same plan shape, same commit
    * protocol, scaled out.
    *
    * Concurrency contract: ONE writer at a time (Structured Streaming
    * guarantees this per checkpoint); any number of readers. Readers
    * never delete anything — garbage collection runs only inside a
    * writer's commit — so a concurrent reader can never unlink a version
    * a writer has written but not yet committed.
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

    private val cols = (key +: seq +: opCol +: payloadCols).distinct
    private val valueCols = cols.filterNot(_ == key)

    /** The frame [[merge]] writes: the live version with `batch` applied
      * by [[lastWriteWins]].
      */
    private[streaming] def mergedFrame(batch: DataFrame): DataFrame =
      lastWriteWins(batch, manifest.currentVersion().map(manifest.open(spark, _)),
        key, seq, valueCols)

    /** Merge one micro-batch. Deletes must be retained IN the state (not
      * dropped) so a later replay of an older batch cannot resurrect a
      * deleted key; the serving view filters them. The epoch suffix makes
      * every merge attempt write a FRESH directory — a replayed batch id
      * never overwrites the directory it is reading from, and the live
      * state is never touched until the pointer swings.
      */
    def merge(batch: DataFrame, batchId: Long): Unit =
      manifest.commit(batchId.toString)(manifest.write(mergedFrame(batch), _))

    /** Serving view: live (non-deleted) rows only. */
    def view(): DataFrame = {
      val s = snapshot()
      if (s.schema.isEmpty) s else s.filter(col(opCol) =!= deleteOp)
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
    * see [[compactStores]]), but the marker alone could
    * not say so because `files_before` sums only REWRITTEN stores.
    */
  def storeCensus(root: String): Seq[(String, Option[Long])] =
    discoverStores(root).sortBy(_.toString).map { sd =>
      sd.toString -> liveTables(new ManifestDir(sd.toString)).map(_._2.map(_._2).sum)
    }

  /** FLEET maintenance, the one compaction entry: find every
    * manifest-pointer store under `root` (any directory holding a
    * `CURRENT` file — the one invariant every versioned store in this
    * repo shares) and OPTIMIZE it: rewrite each table of its live
    * version into one part file and publish the rewrite through the
    * store's own [[ManifestDir.commit]], labelled `compact`, with no
    * knowledge of which stream owns it or what schema it holds. Readers
    * observe the old layout or the new one, never a mix, and a crash
    * mid-compaction leaves only an unreferenced directory for the next
    * commit to collect. Multi-table stores (IVM's `state/` + `agg/`
    * living inside one version directory) are detected from the version
    * layout and each leaf is rewritten into the SAME new version, so the
    * tables can never diverge across the one pointer swing. A store
    * whose live version already holds one file per table is SKIPPED —
    * the job is idempotent and a second run reports nothing, which the
    * spec asserts.
    *
    * Why one file: a merge writes one part file per post-shuffle
    * partition. AQE's coalescing (on by default) merges them down to
    * about the core count, but not below ~1 MB of shuffle data each: a
    * small store is born as one file, a 100k-key store at 4 cores as 4;
    * with coalescing off every merge writes `spark.sql.shuffle.partitions`
    * files. Each file costs the snapshot scan its own open — the read
    * amplification Delta's OPTIMIZE / Iceberg's rewrite_data_files
    * exists to fix, reduced to this store's commit protocol.
    *
    * Every `Stores` wrapper (postings, labels, ann, calib, chunk owners,
    * …) bottoms out in manifest-pointer directories, so "compact the
    * fleet" is a directory walk, not a per-stream enumeration that goes
    * stale the next time a stream is added. Returns (storeDir,
    * filesBefore, filesAfter) for each store actually rewritten. WRITER
    * operation — same single-writer contract as merge; run from the
    * maintenance path only, never concurrently with a merge.
    */
  def compactStores(spark: SparkSession, root: String): Seq[(String, Long, Long)] =
    discoverStores(root).sortBy(_.toString).flatMap { sd =>
      val man = new ManifestDir(sd.toString)
      liveTables(man).flatMap { case (v, tables) =>
        val before = tables.map(_._2).sum
        if (before <= tables.size) None
        else {
          val leaves = tables.map(_._1)
          val ver = man.commit("compact")(next =>
            leaves.foreach(l => man.write(man.open(spark, v, l).coalesce(1), next, l)))
          Some((sd.toString, before, leaves.map(l => parquetParts(man.leafPath(ver, l))).sum))
        }
      }
    }

  /** The one `foreachBatch` sink every CDC stream writes through:
    * `apply` runs once per micro-batch with the batch id, and the
    * checkpoint at `checkpoint` redelivers a batch at least once, so
    * `apply` must be an idempotent keyed write (a store merge is) for
    * sink state to be effectively-once — the sink contract of
    * Structured Streaming (SIGMOD 2018), stated once. Every input is
    * stateless, for which append and update emit the same rows; update
    * is the upsert's own mode and also admits an aggregated input.
    *
    * The checkpoint writes its offset and commit files through Hadoop's
    * `FileContext`, which the query's session conf binds to
    * [[graft.io.LocalFs]] for `file:`: each rename then stats its paths
    * without forking `readlink`. The binding is a constant set on the
    * caller's session, never restored, so concurrent sinks cannot undo
    * each other's; the query keeps it through the session clone that
    * `start()` makes.
    */
  def batchSink(events: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val afs = graft.io.LocalFs.AbstractFileSystemKey
    events.sparkSession.conf.set(afs, graft.io.LocalFs.Bindings(afs))
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(apply)
  }

  /** The within-batch fold of the document-change streams (postings,
    * importance, calibration, percolation): one row per `doc_id`, its
    * highest `seq`. Ties on `seq` go to the op by an explicit priority,
    * delete > update > insert, so a tombstone racing an upsert at the
    * same offset does not lose by the spelling of `op` ("u" > "d"), then
    * to the larger `cols` values. Output: `doc_id, seq, op, cols`.
    */
  private[streaming] def latestPerDoc(batch: DataFrame, cols: String*): DataFrame = {
    val opPrio = when(col("op") === "d", 2).when(col("op") === "u", 1).otherwise(0)
    batch.groupBy("doc_id")
      .agg(max(struct(Seq(col("seq"), opPrio.as("prio"), col("op")) ++
        cols.map(col): _*)).as("w"))
      .select(col("doc_id") +: ("seq" +: "op" +: cols).map(c => col(s"w.$c").as(c)): _*)
  }

  /** [[latestPerDoc]] over `cols` and `text`, with `text` replaced by
    * the forward-index row of the postings and importance streams:
    * `terms`, the document's `(term, tf)` structs from ONE tokenize pass
    * over the delta — the batch termFreq derivation (explode + count per
    * (doc, term)) re-gathered to one array per document; null for a
    * delete. Output: `doc_id, seq, op, cols, terms`.
    */
  private[streaming] def latestWithTerms(batch: DataFrame, cols: String*): DataFrame = {
    val latest = latestPerDoc(batch, cols :+ "text": _*)
    val tf = latest.filter(col("op") =!= "d")
      .select(col("doc_id"), explode(graft.ext.Portable.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("term"), col("tf"))).as("terms"))
    latest.join(tf, Seq("doc_id"), "left")
      .select((Seq("doc_id", "seq", "op") ++ cols :+ "terms").map(col): _*)
  }

  /** foreachBatch upsert writer over a normalized CDC event stream. */
  def upsertWriter(events: DataFrame, store: ParquetUpsertStore,
      checkpoint: String): DataStreamWriter[Row] =
    batchSink(events, checkpoint)(store.merge)

  /** Streaming incremental view maintenance — the streaming twin of the
    * batch `o17` operator: the store keeps BOTH the keyed state and a
    * maintained aggregate (live keys per `aggCol` value), and each
    * micro-batch updates the aggregate from signed deltas over the
    * batch's keys only. The state merge is the flat store's
    * [[lastWriteWins]], and it EMITS ITS OWN CHANGELOG: three columns
    * projected from the same join record the old winner's op and
    * `aggCol` value and whether the batch touched the key, so the delta
    * unfolds from one pruned scan of the touched rows — never rescanning
    * the full state, never re-deriving the merge.
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

    private val valueCols = (seq +: opCol +: payloadCols).distinct.filterNot(_ == key)

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

    /** The state table [[merge]] writes: [[lastWriteWins]] of `batch` onto
      * the live state, with the changelog columns `__old_op` and
      * `__old_cat` (the pre-merge row's `opCol` and `aggCol`, null for a
      * new key) and `__touched` (1 for a key the batch holds a row for,
      * else 0). Recording the old winner in the row the merge already
      * writes is what spares the delta a second scan of the old state, a
      * distinct-keys broadcast job and a semi join per micro-batch: those
      * per-batch fixed costs, not per-row work, dominated
      * `ivm_rows_per_sec` (PLANS.md "Round-8 plan audit").
      */
    private[streaming] def stateFrame(batch: DataFrame): DataFrame = {
      val state = manifest.currentVersion().map(stateAt)
      def old(c: String): Column =
        state.fold(lit(null).cast(batch.schema(c).dataType))(_(c))
      lastWriteWins(batch, state, key, seq, valueCols, touched => Seq(
        old(opCol).as("__old_op"), old(aggCol).as("__old_cat"),
        when(touched, 1).otherwise(0).as("__touched")))
    }

    def merge(batch: DataFrame, batchId: Long): Unit = {
      val curAgg = manifest.currentVersion().map(aggAt).getOrElse(
        batch.select(col(aggCol)).limit(0).withColumn("n", lit(0L)))
      // ONE commit publishes both tables
      manifest.commit(batchId.toString) { ver =>
        manifest.write(stateFrame(batch), ver, "state")
        // Signed delta from the changelog columns alone: −1 for the old
        // winner's value if it was live, +1 for the new winner's if live
        // — both rows unfolded from the ONE touched-state row. A replayed
        // batch leaves every touched row as it was, so its −1 and +1
        // cancel. Reading the just-written bytes (the ones the pointer is
        // about to publish) keeps the merge single-evaluation without
        // pinning state in executor memory.
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
      }
    }
  }

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
      : DataStreamWriter[Row] =
    batchSink(events, checkpoint) { (batch, id) =>
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

  // ---- the keyed view on custom streaming state --------------------------

  /** Normalized CDC event for the typed stateful path. */
  case class KeyedEvent(seq: Long, key: Int, op: String, value: Double)

  /** Per-key live state. */
  case class KeyState(seq: Long, value: Double, deleted: Boolean)

  object KeyState {
    /** The state of a key no event has reached. */
    val Empty: KeyState = KeyState(Long.MinValue, 0.0, deleted = true)
  }

  /** One event applied to a key's state — the keyed view's fold step:
    * highest `seq` wins, a delete tombstones the key.
    */
  private def step(s: KeyState, e: KeyedEvent): KeyState =
    if (e.seq <= s.seq) s // stale replay — state already newer
    else if (e.op == "d") KeyState(e.seq, 0.0, deleted = true)
    else KeyState(e.seq, e.value, deleted = false)

  /** Keyed state folded per micro-batch, on the Spark 4
    * `transformWithState` API: one `ValueState[S]` per key, named
    * `stateName`. Each micro-batch folds a touched key's rows into its
    * state (`None` for a key no event has reached, or whose state
    * expired), stores the result and emits `emit(key, state)`, one row
    * per touched key in update mode.
    *
    * `ttl` is enforced BY THE STATE STORE (`TTLConfig`), not by
    * hand-managed timers: every update refreshes the key's TTL, so hot
    * keys persist and idle keys age out. The store accepts a TTL only in
    * processing-time mode, which never quiesces; without one the query
    * runs in `TimeMode.None`, so `processAllAvailable` returns. The
    * operator requires the RocksDB state-store provider
    * ([[withRocksDbState]]), which is also the provider a 100 TB
    * deployment runs: state spills to disk per partition instead of
    * living on the executor heap, and changelog checkpointing ships
    * deltas, not snapshots.
    */
  def keyedState[K, E, S <: Product : TypeTag, O : Encoder](
      grouped: KeyValueGroupedDataset[K, E], stateName: String,
      ttl: Option[java.time.Duration] = None)(
      fold: (K, Option[S], Iterator[E]) => S)(emit: (K, S) => O): Dataset[O] =
    grouped.transformWithState(
      new FoldProcessor(stateName, Encoders.product[S],
        ttl.fold(TTLConfig.NONE)(TTLConfig(_)), fold, emit),
      if (ttl.isEmpty) TimeMode.None() else TimeMode.ProcessingTime(),
      OutputMode.Update())

  /** [[keyedState]]'s processor: the one `StatefulProcessor` of the
    * engine.
    */
  private final class FoldProcessor[K, E, S, O](stateName: String,
      stateEncoder: Encoder[S], ttl: TTLConfig,
      fold: (K, Option[S], Iterator[E]) => S, emit: (K, S) => O)
      extends StatefulProcessor[K, E, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](stateName, stateEncoder, ttl)

    override def handleInputRows(key: K, rows: Iterator[E],
        tv: TimerValues): Iterator[O] = {
      // one get() per key per batch: each deserializes the whole state
      val next = fold(key, Option.when(state.exists())(state.get()), rows)
      state.update(next)
      Iterator.single(emit(key, next))
    }
  }

  /** The keyed view as CUSTOM STREAMING STATE — the state-store
    * alternative to the `foreachBatch` merge: state lives in Spark's
    * state store (shuffle-partitioned by key, checkpointed), and each
    * micro-batch emits the updated row per touched key. Same fold
    * semantics as [[graft.cdc.Materialize]]: highest `seq` wins, deletes
    * tombstone the key (state is KEPT so an out-of-order older event
    * cannot resurrect it).
    *
    * `ttl` is the redelivery horizon, for every key: a key's state,
    * live or tombstoned, is evicted once no event has reached it for
    * `ttl`. Without eviction, dead keys would accumulate forever and
    * state would grow with the key-churn HISTORY instead of the live-key
    * set. After the horizon a replay of older events is assumed
    * impossible (the contract a watermark encodes), so a late stale
    * event for an evicted key re-creates it. Runs in processing-time
    * mode, which the store TTL needs; set the RocksDB provider
    * ([[withRocksDbState]]) before the query starts.
    */
  def statefulView(events: Dataset[KeyedEvent],
      ttl: java.time.Duration = java.time.Duration.ofMinutes(10)): Dataset[(Int, KeyState)] = {
    import events.sparkSession.implicits._
    keyedState(events.groupByKey(_.key), "view", Some(ttl)) {
      (_: Int, prev: Option[KeyState], rows: Iterator[KeyedEvent]) =>
        rows.foldLeft(prev.getOrElse(KeyState.Empty))(step)
    }(_ -> _)
  }
}
