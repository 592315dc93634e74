package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** The document-change streams share one within-batch fold
  * (`StreamApply.latestPerDoc`): at equal `seq` a delete beats an
  * upsert in every one of them, whatever the ops' spelling.
  */
class LatestPerDocSpec extends SparkSpec {

  test("a delete tied with an upsert at one seq wins in every document stream") {
    import spark.implicits._
    // doc 7: an upsert and a delete at seq 3; doc 8 keeps every view
    // non-empty, so an absent doc 7 is not an empty store
    val batch = Seq(
      (1L, 8L, "web", "key value here", "i"),
      (3L, 7L, "web", "key value there", "u"),
      (3L, 7L, "web", "", "d")).toDF("seq", "doc_id", "source", "text", "op")
    val docEvents = batch.drop("source")
    val dir = Files.createTempDirectory("graft-doc-fold").toString
    def docIds(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    val postings = new PostingsStream.Stores(spark, dir)
    PostingsStream.applyBatch(docEvents, 0L, postings)
    assert(docIds(postings.postingsView()) == Set(8L), "postingsView")

    val importance = new ImportanceStream.Stores(spark, dir)
    ImportanceStream.applyBatch(batch, 0L, importance)
    assert(docIds(importance.docWordView()) == Set(8L), "docWordView")

    val calibration = new CalibrationStream.Stores(spark, dir)
    CalibrationStream.applyBatch(batch, 0L, calibration)
    assert(docIds(calibration.scoredView()) == Set(8L), "scoredView")

    val alerts = new PercolateStream.Alerts(spark, dir)
    PercolateStream.applyBatch(docEvents, 0L, alerts,
      Seq(1 -> "key").toDF("query_id", "term"))
    assert(docIds(alerts.view()) == Set(8L), "percolate alerts")
  }
}
