package graft.streaming

import graft.{PlannerCells, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

case class FmtEv(key: Int, seq: Long, op: String, name: String, tsMicros: Option[Long])

/** The physical format of store versions (`StreamApply.ManifestDir.write`):
  * every writer path commits parquet with no dictionary pages and
  * timestamps as INT64 `TIMESTAMP_MICROS`; versions written the older way
  * (INT96, dictionaries) still open, merge and compact to the sequential
  * fold, timestamps exact to the microsecond; and a store write leaves
  * the caller session's `spark.sql.parquet.outputTimestampType` as it
  * found it, also when the write throws.
  */
class StoreFormatSpec extends SparkSpec with PlannerCells {

  private val tsKey = "spark.sql.parquet.outputTimestampType"
  private val noCoalesce = Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def micros(iso: String): Long = {
    val i = Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  // null, before the Julian/Gregorian switch, just before 1900 (INT96's
  // rebase switch) and an ordinary value with a microsecond part
  private val stamps = Seq(None, Some(micros("1500-01-01T00:00:00Z")),
    Some(micros("1899-12-31T23:59:59.999999Z")), Some(micros("2026-01-01T10:00:00.000001Z")))

  private def ev(key: Int, seq: Long, op: String) =
    FmtEv(key, seq, op, s"name${key % 3}", stamps(((key + seq) % stamps.size).toInt))

  private val batch0 = (1 to 40).map(k => ev(k, k, "c"))
  private val batch1 = (1 to 40 by 3).map(k => ev(k, 100 + k, if (k % 2 == 0) "d" else "u"))
  private val batch2 = (2 to 50 by 4).map(k => ev(k, 200 + k, "c"))

  private def df(b: Seq[FmtEv]): DataFrame = {
    import spark.implicits._
    b.toDF().withColumn("ts", timestamp_micros(col("tsMicros"))).drop("tsMicros")
  }

  private def flatStore(dir: String) = new StreamApply.ParquetUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("name", "ts"))

  // aggregated by the timestamp, so agg/ carries a timestamp column too
  private def ivmStore(dir: String) = new StreamApply.IvmUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("name", "ts"), aggCol = "ts")

  private def live(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "CURRENT"))).trim

  /** Footers of the part files of the table at `path`. */
  private def footers(path: String): Seq[ParquetMetadata] = {
    val s = Files.list(Paths.get(path))
    val parts =
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      finally s.close()
    assert(parts.nonEmpty, s"$path holds no parquet file")
    val conf = spark.sparkContext.hadoopConfiguration
    parts.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
      try r.getFooter finally r.close()
    }
  }

  private def chunks(fs: Seq[ParquetMetadata]) =
    for (f <- fs; b <- f.getBlocks.asScala; c <- b.getColumns.asScala) yield c

  private def tsTypes(fs: Seq[ParquetMetadata], tsCols: Seq[String]): Seq[(String, PrimitiveType)] =
    for (f <- fs; t <- tsCols) yield {
      val schema = f.getFileMetaData.getSchema
      t -> schema.getType(schema.getFieldIndex(t)).asPrimitiveType
    }

  /** The table at `path` is in the store format: no column chunk has a
    * dictionary page or a dictionary encoding, and each of `tsCols` is
    * INT64 `TIMESTAMP(MICROS, UTC-adjusted)`.
    */
  private def assertStoreFormat(path: String, tsCols: Seq[String]): Unit = {
    val fs = footers(path)
    val cs = chunks(fs)
    assert(cs.nonEmpty, s"$path: no column chunk")
    cs.foreach(c => assert(!c.hasDictionaryPage && !c.getEncodings.asScala.exists(_.usesDictionary),
      s"$path: column ${c.getPath} is dictionary-encoded (${c.getEncodings})"))
    val micros = LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)
    tsTypes(fs, tsCols).foreach { case (t, p) =>
      assert(p.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        p.getLogicalTypeAnnotation == micros, s"$path: $t is $p, not INT64 micros")
    }
  }

  /** The table at `path` is in the older format: INT96 timestamps and
    * dictionary pages.
    */
  private def assertLegacyFormat(path: String, tsCols: Seq[String]): Unit = {
    val fs = footers(path)
    assert(chunks(fs).exists(_.hasDictionaryPage), s"$path: no dictionary page")
    tsTypes(fs, tsCols).foreach { case (t, p) =>
      assert(p.getPrimitiveTypeName == PrimitiveTypeName.INT96, s"$path: $t is $p, not INT96")
    }
  }

  private def checkFlat(dir: String): Unit =
    assertStoreFormat(s"$dir/${live(dir)}", Seq("ts"))

  private def checkIvm(dir: String): Unit = {
    assertStoreFormat(s"$dir/${live(dir)}/state", Seq("ts", "__old_cat"))
    assertStoreFormat(s"$dir/${live(dir)}/agg", Seq("ts"))
  }

  test("every store writer commits plain-encoded columns and INT64 micros timestamps") {
    val root = Files.createTempDirectory("graft-format")
    val flatDir = s"$root/flat"
    val ivmDir = s"$root/ivm"
    val flat = flatStore(flatDir)
    val ivm = ivmStore(ivmDir)
    flat.merge(df(batch0), 0)
    ivm.merge(df(batch0), 0)
    withClue("first merge into an empty store: ") { checkFlat(flatDir); checkIvm(ivmDir) }
    // several part files per version, so compactStores has work to do
    withConfs(noCoalesce) {
      flat.merge(df(batch1), 1)
      ivm.merge(df(batch1), 1)
    }
    withClue("later merge: ") { checkFlat(flatDir); checkIvm(ivmDir) }
    val done = StreamApply.compactStores(spark, root.toString)
    assert(done.map(_._1).toSet == Set(flatDir, ivmDir), s"nothing compacted: $done")
    withClue("compactStores: ") { checkFlat(flatDir); checkIvm(ivmDir) }
    flat.merge(df(batch2), 2)
    withClue("merge after compactStores: ") { checkFlat(flatDir) }
  }

  /** One stored row with its timestamp as epoch micros. */
  private def asTuple(r: Row) = (r.getInt(0), r.getLong(1), r.getString(2),
    r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long]))

  private def rowsOf(d: DataFrame): Seq[(Int, Long, String, String, Option[Long])] =
    d.select(col("key"), col("seq"), col("op"), col("name"), unix_micros(col("ts")))
      .collect().map(asTuple).toSeq.sortBy(_._1)

  /** The sequential fold: per key, the event with the highest seq,
    * deletes included (the store keeps them).
    */
  private def fold(events: Seq[FmtEv]): Seq[(Int, Long, String, String, Option[Long])] =
    events.groupBy(_.key).values.map(_.maxBy(_.seq))
      .map(e => (e.key, e.seq, e.op, e.name, e.tsMicros)).toSeq.sortBy(_._1)

  private def aggOf(d: DataFrame): Map[Option[Long], Long] =
    d.select(unix_micros(col("ts")), col("n")).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1)).toMap

  /** Commit, as `dir`'s live version, the live version of the store at
    * `src` re-encoded the way store versions were written before the
    * plain INT64 format: INT96 timestamps, dictionary encoding on, three
    * part files per table, `_schema.json` beside them.
    */
  private def commitLegacy(src: String, dir: String, leaves: Seq[String]): Unit = {
    val from = new StreamApply.ManifestDir(src)
    val man = new StreamApply.ManifestDir(dir)
    val v = from.currentVersion().get
    val ver = "state_v0_e0"
    withConfs(Map(tsKey -> "INT96")) {
      leaves.foreach { l =>
        val path = man.leafPath(ver, l)
        from.open(spark, v, l).repartition(3).write.parquet(path)
        Files.copy(Paths.get(from.leafPath(v, l), "_schema.json"), Paths.get(path, "_schema.json"))
      }
    }
    man.commitPointer(ver)
  }

  test("versions in the older INT96 + dictionary format still merge and compact to the fold") {
    val root = Files.createTempDirectory("graft-format-legacy")
    val flatSrc = s"$root/src/flat"
    val ivmSrc = s"$root/src/ivm"
    flatStore(flatSrc).merge(df(batch0), 0)
    ivmStore(ivmSrc).merge(df(batch0), 0)

    def legacyFlat(name: String): String = {
      val dir = s"$root/$name"
      commitLegacy(flatSrc, dir, Seq(""))
      assertLegacyFormat(s"$dir/${live(dir)}", Seq("ts"))
      assert(rowsOf(flatStore(dir).snapshot()) == fold(batch0), s"$name: legacy version reads wrong")
      dir
    }
    def legacyIvm(name: String): String = {
      val dir = s"$root/$name"
      commitLegacy(ivmSrc, dir, Seq("state", "agg"))
      assertLegacyFormat(s"$dir/${live(dir)}/state", Seq("ts", "__old_cat"))
      assertLegacyFormat(s"$dir/${live(dir)}/agg", Seq("ts"))
      dir
    }
    def assertIvm(dir: String, events: Seq[FmtEv]): Unit = {
      val store = ivmStore(dir)
      val liveRows = fold(events).filter(_._3 != "d")
      assert(rowsOf(store.view()) == liveRows, s"$dir: state differs from the fold")
      assert(aggOf(store.aggView()) ==
        liveRows.groupBy(_._5).map { case (t, rs) => t -> rs.size.toLong },
        s"$dir: aggregate differs from the fold")
      checkIvm(dir)
    }

    val merged = legacyFlat("flat-merge")
    flatStore(merged).merge(df(batch1), 1)
    assert(rowsOf(flatStore(merged).snapshot()) == fold(batch0 ++ batch1))
    checkFlat(merged)

    val fleet = legacyFlat("flat-fleet")
    assert(StreamApply.compactStores(spark, fleet).map(_._1) == Seq(fleet))
    assert(rowsOf(flatStore(fleet).snapshot()) == fold(batch0))
    checkFlat(fleet)

    val ivmMerged = legacyIvm("ivm-merge")
    ivmStore(ivmMerged).merge(df(batch1), 1)
    assertIvm(ivmMerged, batch0 ++ batch1)

    val ivmFleet = legacyIvm("ivm-fleet")
    assert(StreamApply.compactStores(spark, ivmFleet).map(_._1) == Seq(ivmFleet))
    assertIvm(ivmFleet, batch0)
  }

  test("store writes leave the caller's parquet timestamp type as it was, also when they throw") {
    val root = Files.createTempDirectory("graft-format-conf")
    val original = spark.conf.getAll.get(tsKey)
    def reads = (spark.conf.get(tsKey), spark.conf.getAll.get(tsKey))
    try for (setting <- Seq(None, Some("INT96"), Some("TIMESTAMP_MILLIS"))) {
      setting.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
      val before = reads
      def unchanged(step: String): Unit =
        assert(reads == before, s"$step, caller setting $setting")
      val dir = s"$root/${setting.getOrElse("unset")}"
      val flat = flatStore(s"$dir/flat")
      val ivm = ivmStore(s"$dir/ivm")
      flat.merge(df(batch0), 0)
      unchanged("merge")
      withConfs(noCoalesce)(flat.merge(df(batch1), 1))
      assert(StreamApply.compactStores(spark, s"$dir/flat").nonEmpty)
      unchanged("compactStores")
      ivm.merge(df(batch0), 0)
      ivm.merge(df(batch1), 1)
      unchanged("IVM merge")
      // a store directory that is a regular file: the version directory
      // cannot be created, so the parquet write throws
      val blocked = Files.createFile(Paths.get(dir, "blocked")).toString
      intercept[Exception](flatStore(blocked).merge(df(batch0), 0))
      unchanged("a merge that threw")
    } finally original.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
  }
}
