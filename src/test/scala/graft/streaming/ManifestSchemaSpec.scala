package graft.streaming

import graft.SparkSpec
import org.apache.spark.TestListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

case class SchemaEv(key: Int, seq: Long, op: String, name: String, ts: Timestamp)

/** Store versions carry the schema their writer wrote (`_schema.json`):
  * opening one submits no Spark job, the recorded schema is exactly what
  * footer inference reads, and a version without a readable schema file
  * (one written before versions carried it) still opens by inference.
  */
class ManifestSchemaSpec extends SparkSpec {

  private def ts(minute: Int) = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val batch1 = Seq(
    SchemaEv(1, 1, "c", "ann", ts(1)), SchemaEv(2, 2, "c", null, ts(2)),
    SchemaEv(3, 3, "c", "cy", ts(3)), SchemaEv(1, 4, "u", null, ts(4)))
  private val batch2 = Seq(
    SchemaEv(2, 5, "d", null, ts(5)), SchemaEv(4, 6, "c", "dee", ts(6)),
    SchemaEv(3, 7, "u", "cyd", ts(7)))
  private val batch3 = Seq(
    SchemaEv(2, 8, "c", "bo", ts(8)), SchemaEv(4, 9, "d", null, ts(9)))

  private def flatStore(dir: String) = new StreamApply.ParquetUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("name", "ts"))

  private def ivmStore(dir: String) = new StreamApply.IvmUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("name", "ts"), aggCol = "name")

  private def df(b: Seq[SchemaEv]): DataFrame = {
    import spark.implicits._
    b.toDF()
  }

  private def live(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "CURRENT"))).trim

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  /** Spark jobs submitted from this thread while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"manifest-schema-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "counted")
    try {
      body
      TestListenerDrain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  /** The recorded schema of the table at `path` equals what footer
    * inference reads there.
    */
  private def assertRecorded(path: String): Unit = {
    val recorded = DataType.fromJson(
      Files.readString(Paths.get(path, "_schema.json"))).asInstanceOf[StructType]
    val inferred = spark.read.parquet(path).schema
    assert(recorded == inferred, s"$path: recorded $recorded, inferred $inferred")
  }

  test("opening a committed version submits no job; merge runs only its map stage and write") {
    val flatDir = Files.createTempDirectory("graft-schema-jobs").toString
    val flat = flatStore(flatDir)
    flat.merge(df(batch1), 0)
    val b2 = df(batch2)
    val openJobs = jobsDuring {
      flat.snapshot().queryExecution.executedPlan
      flat.view().queryExecution.executedPlan
    }
    assert(openJobs == 0, s"snapshot()/view() submitted $openJobs jobs")
    val mergeJobs = jobsDuring(flat.merge(b2, 1))
    assert(mergeJobs <= 2, s"merge submitted $mergeJobs jobs, expected map stage + write")

    val ivmDir = Files.createTempDirectory("graft-schema-jobs-ivm").toString
    val ivm = ivmStore(ivmDir)
    ivm.merge(df(batch1), 0)
    val ivmJobs = jobsDuring {
      ivm.view().queryExecution.executedPlan
      ivm.aggView().queryExecution.executedPlan
    }
    assert(ivmJobs == 0, s"view()/aggView() submitted $ivmJobs jobs")
  }

  test("the recorded schema is what footer inference reads, after every writer") {
    val root = Files.createTempDirectory("graft-schema-fidelity")
    val flatDir = s"$root/flat"
    val ivmDir = s"$root/ivm"
    val flat = flatStore(flatDir)
    val ivm = ivmStore(ivmDir)
    // several part files per version, so compactStores has work to do
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      flat.merge(df(batch1).repartition(4), 0)
      flat.merge(df(batch2).repartition(4), 1)
      ivm.merge(df(batch1).repartition(4), 0)
      ivm.merge(df(batch2).repartition(4), 1)
    } finally spark.conf.set(coalesceKey, prior)

    assertRecorded(s"$flatDir/${live(flatDir)}")
    assert(flat.snapshot().schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "key" -> "integer", "seq" -> "long", "op" -> "string",
      "name" -> "string", "ts" -> "timestamp"))
    assertRecorded(s"$ivmDir/${live(ivmDir)}/state")
    assertRecorded(s"$ivmDir/${live(ivmDir)}/agg")

    val done = StreamApply.compactStores(spark, root.toString)
    assert(done.map(_._1).toSet == Set(flatDir, ivmDir), s"nothing compacted: $done")
    assertRecorded(s"$flatDir/${live(flatDir)}")
    assertRecorded(s"$ivmDir/${live(ivmDir)}/state")
    assertRecorded(s"$ivmDir/${live(ivmDir)}/agg")

    flat.merge(df(batch3), 2)
    flat.compact()
    assert(live(flatDir).contains("compact"))
    assertRecorded(s"$flatDir/${live(flatDir)}")
  }

  test("a version with a missing or corrupt schema file opens by inference, same rows") {
    val flatDir = Files.createTempDirectory("graft-schema-fallback").toString
    val flat = flatStore(flatDir)
    flat.merge(df(batch1), 0)
    flat.merge(df(batch2), 1)
    val ivmDir = Files.createTempDirectory("graft-schema-fallback-ivm").toString
    val ivm = ivmStore(ivmDir)
    ivm.merge(df(batch1), 0)
    ivm.merge(df(batch2), 1)
    def observed = (flat.view().schema, rows(flat.view()), rows(flat.snapshot()),
      ivm.view().schema, rows(ivm.view()), rows(ivm.aggView()))
    val expected = observed
    val schemaFiles = Seq(
      Paths.get(flatDir, live(flatDir), "_schema.json"),
      Paths.get(ivmDir, live(ivmDir), "state", "_schema.json"),
      Paths.get(ivmDir, live(ivmDir), "agg", "_schema.json"))

    schemaFiles.foreach(Files.delete)
    assert(observed == expected, "a version without _schema.json read differently")
    schemaFiles.foreach(Files.writeString(_, "{\"type\":\"struct\",\"fie"))
    assert(observed == expected, "a torn _schema.json read differently")
    schemaFiles.foreach(Files.writeString(_, "\"integer\""))
    assert(observed == expected, "a non-struct _schema.json read differently")

    // the next merge reads the schema-less version and records a schema again
    flat.merge(df(batch3), 2)
    ivm.merge(df(batch3), 2)
    assertRecorded(s"$flatDir/${live(flatDir)}")
    assertRecorded(s"$ivmDir/${live(ivmDir)}/state")
    assertRecorded(s"$ivmDir/${live(ivmDir)}/agg")
    assert(flat.view().select("key").collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
  }
}
