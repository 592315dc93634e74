package graft.sources

import graft.io.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-layout operators: how the engine WRITES so that future scans
  * prune. At 100 TB the difference between "scan everything and filter"
  * and "never open the file" is the dominant cost of every downstream
  * query, so layout is an operator, not an afterthought.
  *
  *   - Hive-style partitioned writes: one directory per partition value;
  *     a filter on the partition column becomes a `PartitionFilters`
  *     entry in the scan and non-matching directories are never listed.
  *   - Sorted-within-partitions writes: rowgroup-level min/max stats
  *     become selective, so predicate pushdown skips rowgroups even
  *     within a file (the poor-man's z-order for a single sort key; at
  *     scale, `repartitionByRange` first gives global range layout).
  *
  *   - Bucketed writes — `bucketBy` + `saveAsTable` — the third layout
  *     tool: the shuffle for a hot join key is paid ONCE at write time,
  *     and every later equi-join between tables bucketed on that key by
  *     the same count runs with no Exchange on either side (the layout
  *     spec asserts exactly that). At 100 TB this turns the nightly
  *     fact-to-fact join from the largest shuffle in the plan into a
  *     zipped per-bucket merge.
  */
object Layout {

  /** Write hive-partitioned by `cols` (directory per value). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").options(LocalFs.WriteOptions)
      .parquet(path)

  /** Write range-partitioned AND sorted by `col`: global range layout
    * across files plus monotone rowgroups within each — both the file
    * list and the rowgroup stats become selective for range predicates.
    */
  def writeSorted(df: DataFrame, path: String, col: String,
      partitions: Int = 8): Unit =
    df.repartitionByRange(partitions, org.apache.spark.sql.functions.col(col))
      .sortWithinPartitions(col)
      .write.mode("overwrite").options(LocalFs.WriteOptions).parquet(path)

  /** Read back a partitioned/sorted layout. Filters applied by the
    * caller reach the scan as PartitionFilters / PushedFilters — the
    * layout spec asserts both.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Interchange-format round trips: CSV and JSON-lines sinks/sources
    * with an EXPLICIT read schema (never `inferSchema` — at 100 TB
    * inference is an extra full scan, and its guesses drift with the
    * sample; the declared `StructType` is the single source of truth,
    * exactly as the engine treats the CDC wire in `cdc/CdcModel`). The
    * reference's wire format is JSON-lines over Kafka; these are the
    * same records as files. CSV needs the timestamp format pinned so
    * the round trip is lossless at microsecond precision.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").options(LocalFs.WriteOptions)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").options(LocalFs.WriteOptions)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  /** Z-order (Morton) clustered write — the MULTI-column generalization
    * of [[writeSorted]]. A single-key sort makes one column's file/rowgroup
    * min-max stats selective and leaves every other column's ranges as
    * wide as the table; interleaving the bits of two normalized keys
    * gives a layout where BOTH columns' per-file ranges are narrow, so
    * parquet's ordinary column statistics prune scans for predicates on
    * either dimension (or both). Nothing at read time knows about the
    * z-key: pruning rides the standard pushed filters over per-column
    * stats, the clustering only makes those stats tight. This is the
    * layout for the 100 TB fact table queried by user AND by time.
    *
    * Normalization here is linear min/max bucketing to `bits` bits per
    * dimension (two scalars from one aggregate); a production run on
    * skewed data substitutes sampled range-boundary ranks — the
    * interleave and everything downstream are unchanged.
    *
    * Granularity matters: pruning at the FILE level needs the z-cells
    * (4^bits of them) to be no finer than a few per file, else a
    * predicate's scattered z-intervals land in every file and nothing
    * skips — pick `bits` with `4^bits ≈ 2-8 × partitions` (the default
    * pairs with the default partition count). Finer bits only help once
    * rowgroup/page-level stats inside large files take over.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      partitions: Int = 8, bits: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    val b = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    val buckets = (1 << bits) - 1
    def normalize(c: String, lo: Double, hi: Double) =
      if (hi == lo) lit(0L)
      else least(lit(buckets.toLong),
        floor((col(c).cast("double") - lo) * (buckets + 1) / (hi - lo))
          .cast("long"))
    val za = normalize(colA, b.getDouble(0), b.getDouble(1))
    val zb = normalize(colB, b.getDouble(2), b.getDouble(3))
    val zkey = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(za, i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(1), 2 * i + 1))
    }
    df.withColumn("__z", zkey)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z") // projection preserves the clustered order
      .write.mode("overwrite").options(LocalFs.WriteOptions).parquet(path)
  }

  /** ORC round trip — the second columnar interchange format (built into
    * Spark's `sql` module, no extra dependency). Same contract as the
    * CSV/JSON pair: declared schema semantics, and ORC additionally keeps
    * the columnar virtues — predicate pushdown against stripe/rowgroup
    * statistics and column pruning both survive the format change, which
    * `FormatsSpec` asserts on the plan. The engine's storage contract is
    * "any columnar format with stats", not "parquet specifically".
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").options(LocalFs.WriteOptions).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Write `df` as a bucketed (and bucket-sorted) catalog table: `n`
    * buckets on `key`, rows sorted by `key` within each bucket file. The
    * `repartition` on the bucket key first means exactly one file per
    * bucket, which is what lets a later sort-merge join consume the
    * bucket SORT order too — no Exchange AND no per-task Sort on the
    * bucketed sides (the Sort elision additionally needs
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, which is
    * only sound with one file per bucket — exactly what the repartition
    * guarantees; the Exchange elision is unconditional). Needs a catalog
    * table (bucket metadata lives in the catalog, not the files);
    * Spark's built-in catalog suffices.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      n: Int = 8): Unit =
    df.repartition(n, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .bucketBy(n, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Read a bucketed table back from the catalog. */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
