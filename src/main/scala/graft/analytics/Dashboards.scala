package graft.analytics

import graft.Tables
import graft.cdc.{CdcQueries, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Q1-Q4 — the reference's OpenSearch Dashboards analytics
  * (`README.md:144-163`), run over the O10 materialized view exactly as
  * the dashboards run over the live index.
  *
  * Scale notes: Q1/Q2 are partial+final hash aggregations (map-side
  * combine, one small shuffle keyed on a low-cardinality column); Q3 plans
  * as `TakeOrderedAndProject` (per-partition top-k, only k rows per
  * partition reach the driver-side merge — never a full sort of the
  * table). Q4 shares the materialized view across all three panels; Spark
  * reuses the exchange under AQE when the three subtrees share the scan.
  */
object Dashboards {

  type Q = (SparkSession, String) => DataFrame

  /** The shared view, pruned to the payload columns the panel reads —
    * max_by materialization is opaque to column pruning, so the pruning
    * must happen at view construction (the scan then reads only those
    * columns; see the ReadSchema assertions in `DashboardsPlanSpec`).
    * `event_type` always rides along: it is the op column the
    * delete-filter consumes.
    */
  private def view(spark: SparkSession, sfDir: String,
      payload: Seq[String]): DataFrame =
    Materialize.customerView(Tables.events(spark, sfDir),
      (payload :+ "event_type").distinct)

  private def termsOf(v: DataFrame): DataFrame =
    v.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))

  private def histogramOf(v: DataFrame): DataFrame =
    v.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"))

  private def recentOf(v: DataFrame): DataFrame =
    v.orderBy(col("ts").desc, col("event_id").desc)
      .limit(10)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))

  /** Q1 — "Count by Classification" terms aggregation
    * (`README.md:150-152`): group by the classification analog, count,
    * order by count. Secondary sort key makes the order total so the
    * oracle hash is deterministic.
    */
  def termsCount(spark: SparkSession, sfDir: String): DataFrame =
    termsOf(view(spark, sfDir, Seq("event_type")))

  /** Q2 — "New Customers Over Time" date histogram (`README.md:154-156`):
    * daily tumbling buckets of the view's event-time column.
    */
  def dateHistogram(spark: SparkSession, sfDir: String): DataFrame =
    histogramOf(view(spark, sfDir, Seq("ts")))

  /** Q3 — "Recent 10 Customers" saved search (`README.md:158-160`):
    * sort by event time desc, keep 10; seq breaks ties deterministically.
    */
  def recentTopK(spark: SparkSession, sfDir: String): DataFrame =
    recentOf(view(spark, sfDir, Seq("ts", "event_type", "value")))

  /** Q4 — dashboard composition (`README.md:162-163`): the three panels
    * over one shared view, as a single typed union `(panel, k, n)`. The
    * view (small: live keys only) is materialized ONCE — exchange reuse
    * alone would still run the materializing aggregation once per panel.
    */
  def dashboard(spark: SparkSession, sfDir: String): DataFrame = {
    val v = view(spark, sfDir, Seq("ts", "event_type", "value")).localCheckpoint()
    val q1 = termsOf(v)
      .select(lit("by_class").as("panel"), col("event_type").as("k"), col("n"))
    val q2 = histogramOf(v)
      .select(lit("histogram").as("panel"),
        date_format(col("day"), "yyyy-MM-dd").as("k"), col("n"))
    val q3 = recentOf(v)
      .select(lit("recent").as("panel"),
        col("user_id").cast("string").as("k"), col("event_id").as("n"))
    q1.unionAll(q2).unionAll(q3)
  }

  /** One keyset page of the event log: the rows strictly after the
    * `(ts, event_id)` cursor in (ts desc, id desc) order. `events` must
    * carry the RAW stored TIMESTAMP_NTZ `ts` — against an NTZ literal
    * cursor the OR predicate is sargable and reaches the parquet scan as
    * a pushed filter (rowgroup min/max skipping past the cursor), which
    * is the entire point of search_after.
    */
  def keysetPage(events: DataFrame, cTs: java.time.LocalDateTime, cId: Long,
                 k: Int = 10): DataFrame =
    events
      .filter(col("ts") < lit(cTs) ||
        (col("ts") === lit(cTs) && col("event_id") < cId))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(k)

  /** Q5 — `search_after` DEEP PAGINATION (the serving layer's scale-safe
    * cursor API; OpenSearch documents `from/size` as forbidden past
    * 10 000 hits precisely because OFFSET is a scan): page 2 of the
    * "recent events" saved search, fetched as the top-10 AFTER the
    * page-1 boundary cursor rather than as OFFSET 10. Per page the plan
    * is a pushed keyset predicate + `TakeOrderedAndProject` — cost
    * follows the matching tail and the page size, never the offset
    * depth, and the cursor is O(1) client state. Here the cursor derives
    * from page 1 in-query (a one-row broadcast) so the query is
    * self-contained at any SF; a real client passes it as a literal —
    * [[keysetPage]], plan-asserted in `DashboardsPlanSpec`.
    */
  def searchAfter(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.eventsRaw(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val cursor = raw.orderBy(col("ts").desc, col("event_id").desc).limit(10)
      .agg(min(struct(col("ts"), col("event_id"))).as("c"))
    raw.crossJoin(broadcast(cursor))
      .filter(col("ts") < col("c.ts") ||
        (col("ts") === col("c.ts") && col("event_id") < col("c.event_id")))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(10)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
  }

  val queries: Map[String, Q] = Map(
    "q6_top_movers" -> (topMovers _),
    "q1_terms_count" -> (termsCount _),
    "q2_date_histogram" -> (dateHistogram _),
    "q3_recent_topk" -> (recentTopK _),
    "q4_dashboard" -> (dashboard _),
    "q5_search_after" -> (searchAfter _)
  )

  private val viewSql =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** The Q1 panel rebuilt AS OF a cutoff: the o14 time-travel prefix
    * (raw-NTZ filter so it pushes to the scan) materialized and
    * aggregated — what the dashboard looked like at that instant.
    */
  private def termsAsof(spark: SparkSession, sfDir: String,
      cut: String): DataFrame =
    CdcQueries.customerViewAsof(spark, sfDir, cut, Seq("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** q6 — dashboard TOP MOVERS: the Q1 panel diffed between two
    * time-travel points — "what changed since yesterday's refresh", the
    * trend-arrow column next to every dashboard number. Composes the
    * CDC time travel (o14's pushed prefix filter) with the panel
    * aggregation; the diff is a full-outer join of two |classes|-row
    * frames, so its cost is the two prefix rebuilds, each reading only
    * its rowgroups. A class present in one snapshot only still shows
    * (count 0 on the other side) — an inner join would silently hide
    * births and deaths, the rows a movers panel exists for.
    */
  def topMovers(spark: SparkSession, sfDir: String): DataFrame =
    termsAsof(spark, sfDir, "2024-01-10T00:00:00")
      .withColumnRenamed("n", "n_before")
      .join(termsAsof(spark, sfDir, "2024-01-20T00:00:00")
        .withColumnRenamed("n", "n_after"), Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .withColumn("delta", col("n_after") - col("n_before"))

  private def asofViewSql(cut: String) =
    s"""SELECT user_id, event_id, ts, event_type, value FROM (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
       |  FROM events WHERE ts < TIMESTAMP '$cut'
       |) WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  val oracle: Map[String, String] = Map(
    "q6_top_movers" ->
      s"""WITH b AS (
         |  SELECT event_type, count(*) AS n
         |  FROM (${asofViewSql("2024-01-10 00:00:00")}) GROUP BY 1),
         |a AS (
         |  SELECT event_type, count(*) AS n
         |  FROM (${asofViewSql("2024-01-20 00:00:00")}) GROUP BY 1)
         |SELECT coalesce(b.event_type, a.event_type) AS event_type,
         |  CAST(coalesce(b.n, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_after,
         |  CAST(coalesce(a.n, 0) - coalesce(b.n, 0) AS BIGINT) AS delta
         |FROM b FULL OUTER JOIN a ON b.event_type = a.event_type""".stripMargin,
    "q1_terms_count" ->
      s"""SELECT event_type, count(*) AS n FROM ($viewSql)
         |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin,
    "q2_date_histogram" ->
      s"""SELECT date_trunc('day', ts) AS day, count(*) AS n
         |FROM ($viewSql) GROUP BY 1 ORDER BY day""".stripMargin,
    "q3_recent_topk" ->
      s"""SELECT user_id, event_id, ts, event_type, value
         |FROM ($viewSql) ORDER BY ts DESC, event_id DESC LIMIT 10""".stripMargin,
    "q4_dashboard" ->
      s"""WITH v AS ($viewSql)
         |SELECT 'by_class' AS panel, event_type AS k, count(*) AS n
         |FROM v GROUP BY event_type
         |UNION ALL
         |SELECT 'histogram', strftime(date_trunc('day', ts), '%Y-%m-%d'), count(*)
         |FROM v GROUP BY 2
         |UNION ALL
         |SELECT * FROM (
         |  SELECT 'recent', CAST(user_id AS VARCHAR), event_id
         |  FROM v ORDER BY ts DESC, event_id DESC LIMIT 10)""".stripMargin,
    // cursor + comparisons on the stored microsecond column (exactly
    // the order Spark's raw NTZ path compares)
    "q5_search_after" ->
      """WITH cur AS (
        |  SELECT ts AS c_ts, event_id AS c_id FROM events
        |  ORDER BY ts DESC, event_id DESC LIMIT 1 OFFSET 9)
        |SELECT user_id, event_id, CAST(events.ts AS TIMESTAMP) AS ts,
        |       event_type, value
        |FROM events, cur
        |WHERE events.ts < c_ts OR (events.ts = c_ts AND event_id < c_id)
        |ORDER BY events.ts DESC, event_id DESC
        |LIMIT 10""".stripMargin
  )
}
