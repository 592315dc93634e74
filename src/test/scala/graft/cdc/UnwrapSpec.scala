package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._

/** The three wire shapes of SURVEY.md §1.2, end-to-end through
  * Unwrap.unwrap, plus the write-side inverse.
  */
class UnwrapSpec extends SparkSpec {
  import spark.implicits._

  private val flat =
    """{"id":4,"full_name":"Ada","email":"ada@x.io","phone":null,
      |"classification":"public","created_at":"2024-01-01T00:00:00Z"}"""
      .stripMargin.replace("\n", "")
  private val envelope =
    """{"op":"u","before":null,"after":{"id":5,"full_name":"Bob",
      |"email":"bob@x.io","phone":"1","classification":"private",
      |"created_at":"2024-01-02T00:00:00Z"}}""".stripMargin.replace("\n", "")
  private val deleteRewrite =
    """{"op":"d","before":{"id":6,"full_name":"Eve","email":"e@x.io",
      |"phone":null,"classification":"public",
      |"created_at":"2024-01-03T00:00:00Z"},"after":null}"""
      .stripMargin.replace("\n", "")

  private def raw = Seq(
    (1L, "4", flat),
    (2L, "5", envelope),
    (3L, "6", deleteRewrite),
    (4L, "7", null: String) // tombstone
  ).toDF("seq", "key", "value")

  test("all three wire shapes normalize to (seq, key, op, row)") {
    val got = Unwrap.unwrap(raw).orderBy("seq").collect()
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1L, 4, "u"), (2L, 5, "u"), (3L, 6, "d"), (4L, 7, "d")))
    // the same records as the Kafka source delivers them: binary key and
    // value, the partition offset as the sequence number
    val kafka = raw.select($"key".cast("binary").as("key"),
      $"value".cast("binary").as("value"), lit("cdc-pg.public.customer").as("topic"),
      lit(0).as("partition"), $"seq".as("offset"))
    val viaKafka = Unwrap.unwrap(KafkaCdc.wireFrame(kafka)).orderBy("seq").collect()
    assert(viaKafka.toSeq == got.toSeq)
    // Upserts carry the row payload; deletes (both forms) carry none.
    val rows = got.map(r => Option(r.getAs[Row]("row")))
    assert(rows(0).get.getAs[String]("full_name") == "Ada")
    assert(rows(0).get.isNullAt(rows(0).get.fieldIndex("phone")))
    assert(rows(1).get.getAs[String]("email") == "bob@x.io")
    assert(rows(2).isEmpty && rows(3).isEmpty)
  }

  test("unwrap then materialize: deleted keys stay deleted") {
    val events = Unwrap.unwrap(raw)
      .select($"seq", $"key", $"op", $"row.classification".as("classification"))
    val view = Materialize.view(events, "key", "seq", col("op"), "d",
      Seq("classification"))
    val keys = view.select("key").as[Int].collect().sorted
    assert(keys.toSeq == Seq(4, 5))
  }

  test("toWire round-trips through unwrap") {
    val rows = Seq((8, "Zoe", "z@x.io", "ph", "public"))
      .toDF("id", "full_name", "email", "phone", "classification")
    val wire = Unwrap.toWire(rows, "id")
      .withColumn("seq", lit(1L)).select("seq", "key", "value")
    val back = Unwrap.unwrap(wire).collect().head
    assert(back.getInt(1) == 8 && back.getString(2) == "u")
    assert(back.getAs[Row]("row").getAs[String]("full_name") == "Zoe")
  }

  test("unwrap parses each event once") {
    // an RDD source, so the optimizer cannot fold the plan into a local relation
    val plan = Unwrap.unwrap(spark.createDataFrame(raw.rdd, raw.schema)).queryExecution.optimizedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size == 1, s"${parses.size} JSON parses in:\n$plan")
  }

  test("unwrap is a single shuffle-free projection") {
    val plan = Unwrap.unwrap(raw).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
