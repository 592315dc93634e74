package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The production Kafka wiring of the CDC pipeline — what a user of the
  * reference deployment (`cdc-pg.public.customer` topic, JSON key/value,
  * `consumer_to_opensearch.py:52-63`) runs to switch onto this engine.
  *
  * [[wireFrame]] is plain Spark: `UnwrapSpec` feeds it Kafka-source
  * rows (binary key and value, partition offset) and checks that
  * [[Unwrap]] reads them as it reads the wire frame. [[readStream]] and
  * [[writeStream]] need the `spark-sql-kafka` connector on the classpath
  * and a broker, and this build ships neither, so no test runs them;
  * the unwrap → upsert chain they feed runs end to end in
  * `WireStreamSpec` on a `MemoryStream` of the same wire shapes. The
  * streaming options mirror the reference's consumer contract:
  *
  *   - `startingOffsets=earliest` ↔ `auto_offset_reset="earliest"`
  *     (`consumer_to_opensearch.py:62`)
  *   - checkpoint ↔ consumer group `customer-cdc-consumer` (`:59-61`);
  *     exactly-once to the idempotent store, strictly stronger than the
  *     reference's at-least-once + idempotent apply
  *   - `kafka.isolation.level=read_committed` ↔
  *     `consumer_isolation_level` (`terraform/main.tf:133`)
  */
object KafkaCdc {

  /** Raw Kafka records → the `(seq, key, value)` wire frame [[Unwrap]]
    * consumes: Kafka offset = `seq` (the per-partition total order the
    * reference relies on, `terraform/main.tf:79`), key/value bytes
    * decoded as UTF-8 JSON.
    */
  def wireFrame(kafka: DataFrame): DataFrame =
    kafka.select(
      col("offset").as("seq"),
      col("key").cast("string").as("key"),
      col("value").cast("string").as("value"))

  /** Streaming source on the reference's topic. */
  def readStream(spark: SparkSession, bootstrap: String,
      topic: String = "cdc-pg.public.customer"): DataFrame =
    wireFrame(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("kafka.isolation.level", "read_committed")
      .load())

  /** Write side (the connector-analog): rows → keyed JSON records on the
    * topic, key := id (`ValueToKey` SMT, `terraform/main.tf:257-258`).
    */
  def writeStream(rows: DataFrame, idCol: String, bootstrap: String,
      topic: String, checkpoint: String) =
    Unwrap.toWire(rows, idCol).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
}
