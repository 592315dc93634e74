package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 and the per-module query registries.
  *
  * `queries` is the union of the module registries; every key that is
  * SQL-expressible also appears in `oracleSql` with column names aligned
  * to the Spark result (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on sf0.001: the CDC materialized view (SURVEY.md §2
    * O10) — latest non-deleted row per key of the change stream.
    */
  def entry(spark: SparkSession): DataFrame =
    cdc.CdcQueries.materialize(spark, "/root/testdata/sf0.001")

  /** The module registry — ONE declaration per module, from which both
    * `queries` and `oracleSql` derive, so the two can never disagree on
    * module membership. `REGISTRY.json` (the machine-readable coverage
    * manifest, [[graft.RegistryManifest]]) is generated from this list;
    * `RegistrySmokeSpec` asserts the committed manifest stays in sync.
    */
  val modules: Seq[(String,
      Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    ("cdc.CdcQueries", cdc.CdcQueries.queries, cdc.CdcQueries.oracle),
    ("analytics.Dashboards", analytics.Dashboards.queries, analytics.Dashboards.oracle),
    ("ext.Tpch", ext.Tpch.queries, ext.Tpch.oracle),
    ("ext.Dedup", ext.Dedup.queries, ext.Dedup.oracle),
    ("ext.Similarity", ext.Similarity.queries, ext.Similarity.oracle),
    ("ext.TextAnalysis", ext.TextAnalysis.queries, ext.TextAnalysis.oracle),
    ("ext.Multimodal", ext.Multimodal.queries, ext.Multimodal.oracle),
    ("ext.Sessions", ext.Sessions.queries, ext.Sessions.oracle),
    ("ext.Sampling", ext.Sampling.queries, ext.Sampling.oracle),
    ("ext.Pipeline", ext.Pipeline.queries, ext.Pipeline.oracle),
    ("ext.Temporal", ext.Temporal.queries, ext.Temporal.oracle),
    ("ext.Prep", ext.Prep.queries, ext.Prep.oracle),
    ("ext.Relational", ext.Relational.queries, ext.Relational.oracle),
    ("ext.Search", ext.Search.queries, ext.Search.oracle),
    ("ext.Bloom", ext.Bloom.queries, ext.Bloom.oracle),
    ("ext.Validate", ext.Validate.queries, ext.Validate.oracle))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  def oracleSql: Map[String, String] =
    modules.iterator.map(_._3).reduce(_ ++ _)

  /** The registry keys named by a comma-separated list, trimmed, in
    * order and without repeats. An unknown key fails by name: a typo'd
    * run that silently ran nothing would read as a pass.
    */
  def select(keys: String): Seq[String] = {
    val ks = keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = ks.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown registry keys: ${unknown.mkString(", ")}")
    ks
  }
}
