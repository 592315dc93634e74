package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Durable, bucketed DERIVED-TABLE store for expensive corpus indexes —
  * the persistence layer under the dedup chain (MinHash sketches, LSH
  * pair sets, cluster labels).
  *
  * The production shape this models: cluster resolution (and the sketch
  * index under it) is computed ONCE per corpus snapshot and written next
  * to the corpus; every downstream consumer — sampling weights, split
  * gates, retention policies, medoid pickers, training-mix builders —
  * READS the label table instead of re-deriving the chain. Before this
  * existed, every cold consumer of `d7` paid the full d3→d7 derivation
  * (sketch pass + band joins + contraction CC): the round-7 sweep
  * measured c13/d18/d19 at exponent 0.71–0.79 with c13 = 37.6 s at
  * sf1-synth, all of it the chain, none of it the consumer.
  *
  * Mechanics:
  *   - An index is keyed by a CONTENT FINGERPRINT of its source parquet
  *     (file names, sizes, mtimes — cheap, no data scan). A changed or
  *     regenerated corpus gets a new fingerprint, hence a fresh build;
  *     two directories holding byte-identical snapshots share one index.
  *   - Builds write through `bucketBy().sortBy().saveAsTable` into a
  *     temp directory, then publish with ONE atomic rename — concurrent
  *     builders race benignly (the loser reads the winner's files), and
  *     a crashed build leaves only an unreferenced temp dir.
  *   - Reads go through a catalog table (bucket metadata lives in the
  *     catalog, not the files), re-registered per session with
  *     `CREATE TABLE … CLUSTERED BY … LOCATION` over the published
  *     files. Consumers that aggregate or join on the bucket key run
  *     Exchange-free on the bucketed scan (`CorpusIndexSpec` asserts
  *     exactly that).
  *
  * The index root defaults to `target/graft-index` under the working
  * directory (durable across sessions, disposable with a clean);
  * override with the `spark.graft.index.dir` session conf. The bucket
  * count is the building session's shuffle partitions, since consumers
  * reduce on the bucket key; a 100 TB deployment sizes it like any
  * fact-table bucketing (hundreds to thousands) through that setting —
  * the value is recorded in the published table, so readers never
  * guess.
  */
object CorpusIndex {

  private def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.index.dir")
      .getOrElse(new File(sys.props.getOrElse("user.dir", "."),
        "target/graft-index").getPath)

  /** Content fingerprint of the source parquet files: 12 hex chars of
    * md5 over sorted `name:length:mtime` entries. Metadata-only — no
    * data scan — which is exactly the staleness signal a rewritten
    * corpus snapshot changes and an untouched one cannot.
    */
  private[sources] def fingerprint(sfDir: String, tables: Seq[String]): String = {
    def entries(f: File): Seq[String] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(entries)
      else if (f.exists()) Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      else Seq(s"${f.getName}:absent")
    val all = tables.sorted.flatMap(t => entries(new File(sfDir, s"$t.parquet")))
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(all.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(6).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Generation-time dependency recorder ([[graft.RegistryManifest]]):
    * while a recording is active on the calling thread, every
    * [[ensureBucketed]] resolution logs its index name — the mechanical
    * "which durable indexes does this query ride" extraction, robust to
    * `localCheckpoint` truncating the logical plan (a plan walk would
    * lose scans behind a checkpoint; construction-time recording
    * cannot). Only reads made outside an index build count: a build's
    * own index reads happen only when the index root is cold, so
    * recording them would make the recorded set depend on the root's
    * state, not on the query.
    */
  private val depRecorder =
    new ThreadLocal[scala.collection.mutable.Set[String]]
  private[graft] def recordingDeps[T](f: => T): (T, Set[String]) = {
    val s = scala.collection.mutable.Set.empty[String]
    depRecorder.set(s)
    try { val r = f; (r, s.toSet) } finally depRecorder.remove()
  }

  /** `f` with any active recording suspended (see [[recordingDeps]]). */
  private def unrecorded[T](f: => T): T = {
    val s = depRecorder.get
    depRecorder.remove()
    try f finally if (s != null) depRecorder.set(s)
  }

  /** Return `name` for the corpus at `sfDir` as a bucketed catalog
    * table, building and publishing it first iff no published index
    * matches the corpus fingerprint. `build` is by-name: a hit never
    * evaluates it.
    */
  def ensureBucketed(spark: SparkSession, name: String, sfDir: String,
      sourceTables: Seq[String], bucketKey: String)(build: => DataFrame): DataFrame = {
    Option(depRecorder.get).foreach(_ += name)
    val fp = fingerprint(sfDir, sourceTables)
    val table = s"graft_idx_${name}_$fp"
    if (spark.catalog.tableExists(table)) return spark.table(table)
    val dir = new File(root(spark), s"${name}_$fp")
    if (!new File(dir, "_SUCCESS").exists())
      unrecorded(publish(spark, dir, bucketKey, sourceTables, build))
    register(spark, table, dir, bucketKey)
    spark.table(table)
  }

  /** Write the frame bucket-by-bucket into a temp sibling, then publish
    * with one atomic rename. Losing a publish race is fine: the winner's
    * files are equivalent (same deterministic build), the loser's temp
    * dir is removed.
    */
  private def publish(spark: SparkSession, dir: File, key: String,
      sourceTables: Seq[String], build: => DataFrame): Unit = {
    val n = spark.sessionState.conf.numShufflePartitions
    val tmp = new File(dir.getParent, s"${dir.getName}.tmp.${
      java.lang.ProcessHandle.current().pid()}.${System.nanoTime()}")
    val tmpTable = s"graft_idx_build_${System.nanoTime()}"
    Files.createDirectories(Paths.get(dir.getParent))
    // CHECKPOINT BARRIER before the bucketing repartition (r15): fused
    // into one write query, the optimizer ELIDES the explicit
    // repartition(n, key) under WriteFiles (bucketed V1 writes only
    // require a sort by bucket id, not a distribution), so the write
    // inherits the BUILD's final-stage partitioning — for the lsh_pairs
    // build (union of 8 per-band frames, each hash(doc_a)%n) that meant
    // 8n write tasks and 8 FILES PER BUCKET (190-256 tiny files for a
    // 1.6-4.2 MB table; measured ~2.5 s of per-file open cost on every
    // consumer's first touch, ~0.5 s re-read). A lineage barrier makes
    // the write its own query: the repartition survives planning and
    // each bucket publishes as exactly ONE sorted file (guide §6 file
    // sizing; verified 190 -> 32 files, AQE on). The build still runs
    // under AQE as its own execution; lazy checkpoint materializes it
    // inside the write's shuffle map stage — no extra blocking job.
    val df = build.localCheckpoint(false)
    df.repartition(n, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .bucketBy(n, key).sortBy(key)
      .option("path", tmp.getPath).options(graft.io.LocalFs.WriteOptions)
      .format("parquet").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files stay
    // sidecar metadata: re-registration must not depend on data files
    // existing (an empty build writes none) or on parsing file names;
    // the source-table list makes vacuum's liveness decision derivable
    // from what was actually published, not from a hardcoded rule
    Files.writeString(Paths.get(tmp.getPath, MetaFile),
      s"$n\n$key\n${df.schema.toDDL}\n${sourceTables.sorted.mkString(",")}\n")
    try Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileSystemException
        if new File(dir, "_SUCCESS").exists() =>
      // lost the race to an equivalent build — keep the winner's files
      deleteRecursively(tmp.toPath)
    }
  }

  private val MetaFile = "_graft_meta"

  /** Re-register the published files as a bucketed catalog table for
    * THIS session (the in-memory catalog does not survive the JVM; the
    * files and their bucket layout do). Bucket count, key, and schema
    * come from the published sidecar — never guessed from file names,
    * never dependent on data files existing.
    */
  private def register(spark: SparkSession, table: String, dir: File,
      bucketKey: String): Unit = {
    val meta = Files.readString(Paths.get(dir.getPath, MetaFile)).split("\n")
    val (n, key, schemaDdl) = (meta(0).toInt, meta(1), meta(2))
    require(key == bucketKey,
      s"index $dir was published bucketed by $key, caller expects $bucketKey")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $table ($schemaDdl)
         |USING parquet
         |CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO $n BUCKETS
         |LOCATION '${dir.getPath}'""".stripMargin)
  }

  /** Force-build every derived corpus index for `sfDir` (dedup chain +
    * text postings) so interactive consumers only ever pay reads; the
    * nightly [[graft.MaintenanceJob]] runs it per corpus. Returns
    * (index name, row count) per table; all builds are no-ops when the
    * fingerprint already matches. A production deployment schedules
    * this right after each corpus snapshot lands.
    */
  def buildAll(spark: SparkSession, sfDir: String): Seq[(String, Long)] = Seq(
    "token_hashes" -> graft.ext.Dedup.tokenHashFrame(spark, sfDir).count(),
    "shingle_postings" -> graft.ext.Dedup.shingleFrame(spark, sfDir).count(),
    "shingle_cooccur" -> graft.ext.Dedup.coOccurFrame(spark, sfDir).count(),
    "dup_spans" -> graft.ext.Dedup.substringSpans(spark, sfDir).count(),
    s"minhash_sketch${graft.ext.Dedup.geomTag}" ->
      graft.ext.Dedup.sketchFrame(spark, sfDir).count(),
    s"lsh_pairs${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}" ->
      graft.ext.Dedup.minhashLsh(spark, sfDir).count(),
    s"labels_minhash${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}" ->
      graft.ext.Dedup.dedupClusters(spark, sfDir).count(),
    s"labels_minhash_old${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}" ->
      graft.ext.Dedup.preIngestLabels(spark, sfDir).count(),
    s"labels_exact_lsh${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}" ->
      graft.ext.Dedup.exactThenLsh(spark, sfDir).count(),
    "embed_pairs" -> graft.ext.Dedup.embedNearDup(spark, sfDir).count(),
    "labels_embed" -> graft.ext.Dedup.embedClusters(spark, sfDir).count(),
    "term_freq" -> graft.ext.TextAnalysis.termFreq(spark, sfDir).count(),
    "gram_base" -> graft.ext.TextAnalysis.gramBase(spark, sfDir).count())

  /** Retention for superseded indexes: drop every published index whose
    * fingerprint matches NONE of the live corpus directories (a
    * regenerated snapshot leaves its predecessors' indexes orphaned —
    * at 100 TB the label/posting tables are big enough that orphans are
    * a real storage line item). Also removes crashed builds' temp dirs.
    * Returns the deleted directory names. Writer-side operation, same
    * contract as the stores' clean(): never run concurrently with a
    * build against the same root.
    */
  def vacuum(spark: SparkSession, liveSfDirs: Seq[String]): Seq[String] = {
    val rootDir = new File(root(spark))
    if (!rootDir.isDirectory) return Seq.empty
    // An index is live iff its OWN sidecar's source-table list, hashed
    // against any live corpus directory, reproduces the fingerprint in
    // its directory name — the rule is derived from what was actually
    // published, so indexes over future source sets are judged
    // correctly without touching this code. Unreadable/absent sidecars
    // (crashed builds, foreign files) are not indexes and go.
    def isLive(f: File): Boolean = {
      val meta = new File(f, MetaFile)
      if (f.getName.contains(".tmp.") || !meta.isFile) return false
      val lines = Files.readString(meta.toPath).split("\n")
      if (lines.length < 4 || lines(3).isEmpty) return false
      val sources = lines(3).split(",").toSeq
      liveSfDirs.exists(d => f.getName.endsWith(s"_${fingerprint(d, sources)}"))
    }
    val doomed = rootDir.listFiles().toSeq.filterNot(isLive)
    doomed.foreach(f => deleteRecursively(f.toPath))
    doomed.map(_.getName)
  }

  /** Shared recursive delete (also used by the streaming stores'
    * manifest GC — one implementation to harden, not two).
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally w.close()
  }
}
