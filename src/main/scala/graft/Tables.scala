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
  /** The analyzed scan frame is memoized per (session, sfDir, table) —
    * METADATA caching only, never data: a `spark.read.parquet` call
    * lists the directory and reads footers for the schema on the
    * driver, ~100 ms per call, and a registry query that touches
    * three tables paid that three times per invocation (v2's eight
    * reads cost ~1 s of pure driver metadata work, measured round 12).
    * A real warehouse holds the schema in its catalog and resolves a
    * table reference for free; the memo is that catalog. The frame is
    * lazy — every action still scans the parquet in full — and the
    * driver testdata is immutable for a session, so a cached listing
    * cannot go stale. Store and index directories (which DO change)
    * never come through here: a store version opens under the schema
    * its writer recorded beside it (`StreamApply.ManifestDir.open`),
    * which saves the same inference cost without a memo, and indexes
    * have their own readers.
    *
    * SELF-JOIN caveat: every caller now receives the identical memoized
    * Dataset instance, so a query that self-joins a base table via two
    * `table()` calls and disambiguates with `df("col")` references hits
    * Spark's ambiguous-self-join detection (both sides share exprIds;
    * the pre-memo fresh readers got distinct ones). No current registry
    * query does — but a new self-join MUST `.alias("l")`/`.alias("r")`
    * its two sides and reference columns through the aliases.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.ext.FrameMemo(s"scan:$name", spark, sfDir)(
      spark.read.parquet(s"$sfDir/$name.parquet"))

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
