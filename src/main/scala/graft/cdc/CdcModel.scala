package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC data model.
  *
  * The reference pipeline (see SURVEY.md §1) captures row changes of one
  * Postgres table (`terraform/setup_cdc.pgsql:2-9`) through Debezium and
  * lands them on a Kafka topic as schema-less JSON
  * (`terraform/main.tf:261-264`). Three wire shapes coexist
  * (`consumer_to_opensearch.py:67-96`):
  *
  *   1. flat row `{id, full_name, email, phone, classification, created_at}`
  *      — insert/update after the `ExtractNewRecordState` SMT
  *      (`terraform/main.tf:253-255`)
  *   2. delete-rewrite `{"op":"d","before":{...},"after":null}`
  *      (`terraform/main.tf:256`)
  *   3. tombstone — null value, key = id as a UTF-8 integer string
  *      (`consumer_to_opensearch.py:70-77`)
  *
  * Here the model is declared ONCE as Spark `StructType`s — the single
  * source of truth the reference never had (it declared the schema three
  * times and enforced it nowhere).
  *
  * Ordering: the reference gets per-key total order from a single Kafka
  * partition (`terraform/main.tf:79`). A distributed engine cannot rely on
  * physical order, so every event carries an explicit monotone `seq`
  * (Kafka offset / WAL LSN stand-in) and every materialization orders by
  * it. This is the invariant that survives a 1000-executor shuffle.
  */
object CdcModel {

  /** The `public.customer` row (`terraform/setup_cdc.pgsql:2-9`). */
  val customerSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("full_name", StringType, nullable = false),
    StructField("email", StringType, nullable = false),
    StructField("phone", StringType, nullable = true),
    StructField("classification", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)
  ))

  /** Delete-rewrite shape also carries `op`/`before` at the top level when
    * the flat shape is in effect — one permissive schema covers both wire
    * shapes 1 and 2: flat-row columns plus optional `op`/`before`.
    */
  val wireSchema: StructType = StructType(
    customerSchema.fields.toSeq ++ Seq(
      StructField("op", StringType, nullable = true),
      StructField("before", customerSchema, nullable = true),
      StructField("after", customerSchema, nullable = true)
    ))

  /** Maps the driver testdata `events` table (TESTDATA.md) onto the CDC
    * event model: `event_id`=seq, `user_id`=key, `event_type`=op
    * (`error` plays the delete, `signup` the insert, the rest updates),
    * `ts`/`value`/`props` = payload. The mapping is a pure projection —
    * no shuffle, fully pushed into the parquet scan.
    */
  def opCol: Column =
    when(col("event_type") === "error", lit("d"))
      .when(col("event_type") === "signup", lit("c"))
      .otherwise(lit("u"))

  def fromEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("seq"),
      col("user_id").as("key"),
      opCol.as("op"),
      col("ts"),
      col("value"),
      col("props")
    )
}
