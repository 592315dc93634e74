package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O5/O6/O8/O9 — wire-format normalization.
  *
  * The reference consumer receives three JSON wire shapes on one topic
  * (`consumer_to_opensearch.py:67-96`; shapes produced by the SMT chain
  * `terraform/main.tf:253-258`):
  *
  *   1. flat row after `ExtractNewRecordState` — upsert
  *   2. delete-rewrite `{"op":"d","before":{...},"after":null}`
  *   3. tombstone (null value; the key alone carries the id)
  *
  * `unwrap` normalizes all three into one typed event frame
  * `(seq, key, op, row)` with one `from_json` per event — no shuffle,
  * codegen'd projections, so at scale this runs at parquet/Kafka scan
  * speed. The delete duality (rewrite records AND tombstones, which
  * coexist because `drop.tombstones=false`, `terraform/main.tf:255`) is
  * folded into one `op = 'd'` so downstream materialization cannot
  * resurrect deleted keys.
  */
object Unwrap {

  /** Input: `(seq: Long, key: String, value: String|null)` — the Kafka
    * record analog (key/value as UTF-8 JSON, `terraform/main.tf:261-264`).
    * Output: `(seq, key: Int, op: 'u'|'d', row: customerSchema|null)`.
    */
  def unwrap(raw: DataFrame): DataFrame = {
    // Parse in a projection of its own, below the field derivations.
    // Inline, Catalyst's JSON optimisation narrows every `getField` of the
    // parse into a `from_json` of its own, one parse per derived field; as
    // a column referenced several times, the parse is kept apart by
    // CollapseProject and runs once per event.
    val parsed = raw.select(col("seq"), col("key"), col("value"),
      from_json(col("value"), CdcModel.wireSchema).as("__j"))
    val j = col("__j")
    val flatRow = struct(
      j.getField("id").as("id"),
      j.getField("full_name").as("full_name"),
      j.getField("email").as("email"),
      j.getField("phone").as("phone"),
      j.getField("classification").as("classification"),
      j.getField("created_at").as("created_at"))
    val isTombstone = col("value").isNull
    val isDeleteRewrite = j.getField("op") === "d"
    parsed.select(
      col("seq"),
      when(isTombstone, col("key").cast("int"))
        .when(isDeleteRewrite, j.getField("before").getField("id"))
        .otherwise(coalesce(j.getField("after").getField("id"), j.getField("id")))
        .as("key"),
      when(isTombstone || isDeleteRewrite, lit("d")).otherwise(lit("u")).as("op"),
      when(isTombstone || isDeleteRewrite, lit(null).cast(CdcModel.customerSchema))
        .otherwise(coalesce(j.getField("after"), flatRow))
        .as("row"))
  }

  /** O7 write-side inverse — key extraction + JSON serialization, the
    * `ValueToKey` SMT analog (`terraform/main.tf:257-258`): row frame →
    * `(key: String, value: String)` Kafka-shaped records.
    */
  def toWire(rows: DataFrame, idCol: String): DataFrame =
    rows.select(
      col(idCol).cast("string").as("key"),
      to_json(struct(rows.columns.toIndexedSeq.map(col): _*)).as("value"))
}
