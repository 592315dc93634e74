package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and read only the columns they need —
  * Catalyst pushes the projection and any filters into the parquet scan
  * (`V2ScanRelationPushDown`), so at 100 TB the scan cost is bounded by the
  * referenced columns, not the table width.
  */
object Tables {
  /** The analyzed scan frame is shared per (session, sfDir, table) —
    * METADATA caching only, never data: a `spark.read.parquet` call
    * lists the directory and reads footers for the schema on the
    * driver, ~100 ms per call, and a registry query that touches
    * three tables paid that three times per invocation (v2's eight
    * reads cost ~1 s of pure driver metadata work, measured round 12).
    * A real warehouse holds the schema in its catalog and resolves a
    * table reference for free; the session catalog is that catalog
    * here ([[shared]]). The frame is lazy — every action still scans
    * the parquet in full — and the driver testdata is immutable for a
    * session, so a cached listing cannot go stale. Store and index
    * directories (which DO change) never come through here: a store
    * version opens under the schema its writer recorded beside it
    * (`StreamApply.ManifestDir.open`), which saves the same inference
    * cost without a cache, and indexes have their own readers.
    *
    * SELF-JOIN caveat: every read of a shared frame carries the same
    * exprIds (the view holds one analyzed plan), so a query that
    * self-joins a base table via two `table()` calls and disambiguates
    * with `df("col")` references hits Spark's ambiguous-self-join
    * detection (`SharedFrameSpec` pins this). No registry query does —
    * a new self-join MUST `.alias("l")`/`.alias("r")` its two sides and
    * reference columns through the aliases.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    shared(spark, s"scan_$name", sfDir)(spark.read.parquet(s"$sfDir/$name.parquet"))

  private val SharedPrefix = "graft_shared_"

  /** The session-scoped frame `name` over the corpus at `sfDir`: a temp
    * view of THIS session, registered from `build` on the first call.
    * `build` is by-name, so a hit never evaluates it, and it may read
    * other shared frames (`qc_calibration`'s build reads a scan). A
    * `newSession()` sees none of its parent's views, and the views go
    * with their session. Two threads of one session that miss together
    * both build; the last registration wins.
    *
    * Where a reused frame belongs: a deterministic corpus derivation
    * read by several queries is a [[graft.sources.CorpusIndex]] table;
    * a session-scoped shared intermediate is a shared frame; a frame
    * reused within one query is a bare `localCheckpoint`.
    */
  def shared(spark: SparkSession, name: String, sfDir: String)(
      build: => DataFrame): DataFrame = {
    val dirHash = java.util.UUID.nameUUIDFromBytes(sfDir.getBytes("UTF-8"))
      .toString.replace("-", "").take(12)
    val view = s"$SharedPrefix${name}_$dirHash"
    if (spark.sessionState.catalog.getRawTempView(view).isEmpty)
      build.createOrReplaceTempView(view)
    spark.table(view)
  }

  /** Drop this session's shared frames, so the next access rebuilds
    * them: Bench and Prof call it before each timed pass, so every pass
    * pays each shared build once. Corpus indexes are catalog tables and
    * survive. Dropping a view UNPERSISTS the checkpoint blocks under it
    * — a dereferenced `localCheckpoint` RDD is only released when GC
    * hands it to the ContextCleaner, and dead blocks piling up in the
    * BlockManager slowed the codec queries late in a shared-JVM sweep
    * >10x. `clearCache()` then drops every `persist`ed frame, such as
    * d19's DISK_ONLY token frame; the cache is shared by the context's
    * sessions, but `persist` keeps lineage, so another session's frame
    * recomputes, never fails. A checkpointed plan has NO lineage: a
    * caller that holds a shared frame, or a plan over one, across this
    * call fails with "checkpoint block not found" on its next action.
    */
  def clearShared(spark: SparkSession): Unit = {
    spark.sessionState.catalog.getTempViewNames()
      .filter(_.startsWith(SharedPrefix)).foreach { view =>
        spark.table(view).queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
        spark.catalog.dropTempView(view)
      }
    spark.catalog.clearCache()
  }

  /** `events.ts` is stored as parquet `timestamp[us]` without UTC
    * adjustment, which Spark 4 reads as TIMESTAMP_NTZ. Most datetime
    * functions (`unix_micros`, `window`, …) take TIMESTAMP, so the
    * canonical reader casts to it — exact under the project-wide UTC
    * session timezone (same microsecond value, and DuckDB's naive
    * TIMESTAMP sees the identical wall time, so oracle
    * `CAST(ts AS TIMESTAMP)` stays identity).
    *
    * The NTZ->TIMESTAMP cast interprets the wall time in the SESSION
    * timezone, so the conf is pinned at read time in [[eventsRaw]] (the
    * common root of every events accessor) — otherwise an
    * external caller with a non-UTC session (e.g. the spark-shell path in
    * SKILL.md) would get silently shifted epoch values in every
    * unix_micros-based query (o22/o23, k9, a7) and diverge from the
    * oracle, which always sees naive-UTC wall times. The pin IS a global
    * session mutation — a deliberate trade: the alternative (fail fast on
    * non-UTC sessions) breaks exactly the external callers this exists to
    * serve, and every query in this library already assumes UTC
    * session-wide, so "first graft call pins the clock" is the contract.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsRaw(spark, sfDir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))

  /** Events with `ts` as the raw stored TIMESTAMP_NTZ. Time-range
    * operators filter HERE before the cast: a predicate on the stored
    * column (against a TIMESTAMP_NTZ literal, e.g. `lit(LocalDateTime)`)
    * reaches the parquet scan as a pushed filter (rowgroup min/max
    * skipping), which a predicate on the cast column never can.
    *
    * The UTC pin lives HERE — the common root of every events accessor —
    * not in [[events]]: callers that take `eventsRaw` and cast `ts`
    * themselves (e.g. the as-of dashboards) get the same guarantee as
    * callers of the canonical cast, so the contract cannot depend on
    * which accessor a query path happens to touch first.
    */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table(spark, sfDir, "events")
  }
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
