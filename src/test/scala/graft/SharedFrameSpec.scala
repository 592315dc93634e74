package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** [[Tables.shared]] frames are temp views of the session that built
  * them; [[Tables.clearShared]] is the pass-boundary reset.
  */
class SharedFrameSpec extends SparkSpec {

  private val dir = "shared-frame-spec"

  test("a shared frame is invisible to another session, both ways") {
    val other = spark.newSession()
    var builds = 0
    val mine = Tables.shared(spark, "spec_iso", dir) { builds += 1; spark.range(3).toDF("x") }
    val theirs = Tables.shared(other, "spec_iso", dir) { builds += 1; other.range(5).toDF("x") }
    assert(builds == 2, "each session builds its own frame")
    assert(mine.count() == 3 && theirs.count() == 5)
    assert(Tables.shared(spark, "spec_iso", dir)(fail("parent rebuilt")).count() == 3)
    assert(Tables.shared(other, "spec_iso", dir)(fail("child rebuilt")).count() == 5)
    Tables.clearShared(spark)
  }

  test("clearShared drops only its session's frames and releases their checkpoints") {
    val s = spark.newSession()
    val other = spark.newSession()
    var builds = 0
    def frame = Tables.shared(s, "spec_ckpt", dir) {
      builds += 1
      s.range(100).toDF("x").localCheckpoint(false)
    }
    assert(frame.count() == 100)
    val rdds = frame.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    assert(rdds.nonEmpty && rdds.forall(spark.sparkContext.getPersistentRDDs.contains))
    assert(Tables.shared(other, "spec_ckpt", dir)(other.range(7).toDF("x")).count() == 7)

    Tables.clearShared(s)
    assert(rdds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "the checkpoint RDD under a dropped view is unpersisted")
    assert(Tables.shared(other, "spec_ckpt", dir)(fail("other session cleared")).count() == 7)
    assert(frame.count() == 100)
    assert(builds == 2, "the next access after a clear rebuilds, once")
    Tables.clearShared(other)
  }

  test("a shared build may read another shared frame") {
    val s = spark.newSession()
    var (inner, outer) = (0, 0)
    def base = Tables.shared(s, "spec_base", dir) { inner += 1; s.range(10).toDF("x") }
    def derived = Tables.shared(s, "spec_derived", dir) {
      outer += 1
      base.filter("x % 2 = 0").localCheckpoint(false)
    }
    assert(derived.count() == 5)
    assert(base.count() == 10 && derived.count() == 5)
    assert((inner, outer) == (1, 1))
    Tables.clearShared(s)
  }

  test("clearShared uncaches a DISK_ONLY-persisted frame") {
    val s = spark.newSession()
    val p = s.range(50).toDF("x").persist(StorageLevel.DISK_ONLY)
    assert(p.count() == 50)
    assert(p.storageLevel == StorageLevel.DISK_ONLY)
    Tables.clearShared(s)
    assert(p.storageLevel == StorageLevel.NONE)
    assert(p.count() == 50, "an uncached frame recomputes from its lineage")
  }

  test("two reads of one shared table self-join through aliases; df(col) is ambiguous") {
    val s = spark.newSession()
    val (l, r) = (Tables.nation(s, sf), Tables.nation(s, sf))
    val e = intercept[AnalysisException](l.join(r, l("n_regionkey") === r("n_regionkey") &&
      l("n_nationkey") < r("n_nationkey")).count())
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    val pairs = l.alias("l").join(r.alias("r"), col("l.n_regionkey") === col("r.n_regionkey") &&
      col("l.n_nationkey") < col("r.n_nationkey")).count()
    val regions = l.collect().map(_.getAs[Number]("n_regionkey").longValue)
    val expected = regions.groupBy(identity).values.map(g => g.length * (g.length - 1) / 2).sum
    assert(expected > 0 && pairs == expected)
    Tables.clearShared(s)
  }
}
