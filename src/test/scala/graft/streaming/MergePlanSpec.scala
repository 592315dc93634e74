package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec

import java.nio.file.Files

/** The physical shape of the frame `ParquetUpsertStore.merge` writes,
  * and of the state table `IvmUpsertStore.merge` writes: the micro-batch
  * is folded to one row per key, and the fold is the build side of a
  * full outer shuffled hash join that the state scan streams through.
  * The state side is shuffled once and never sorted or aggregated,
  * whatever its size.
  */
class MergePlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def store(dir: String) = new StreamApply.ParquetUpsertStore(
    spark, dir, key = "key", seq = "seq", opCol = "op", deleteOp = "d",
    payloadCols = Seq("value"))

  test("merge hash-joins the folded batch to the state: no sort or aggregate over the state, two shuffles") {
    import spark.implicits._
    val s = store(Files.createTempDirectory("graft-merge-plan").toString)
    s.merge((1 to 2000).map(k => (k, k.toLong, "u", k * 0.5)).toDF("key", "seq", "op", "value"), 0)
    // several events per key, a delete and a new key
    val batch = Seq((5, 3000L, "u", 1.0), (5, 3001L, "u", 2.0), (7, 3002L, "d", 0.0),
      (2001, 3003L, "u", 3.0)).toDF("key", "seq", "op", "value")
    val frame = s.mergedFrame(batch)
    frame.collect()
    val plan = frame.queryExecution.executedPlan

    val joins = collect(plan) { case j: ShuffledHashJoinExec => j }
    assert(joins.size == 1, s"expected one shuffled hash join:\n$plan")
    val join = joins.head
    assert(join.joinType == FullOuter && join.buildSide == BuildLeft, s"$plan")
    def has(p: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Boolean = collect(p)(pf).nonEmpty
    assert(has(join.left) { case _: LocalTableScanExec => } &&
      has(join.left) { case _: BaseAggregateExec => }, s"the build side is not the fold:\n$plan")
    assert(has(join.right) { case _: FileSourceScanExec => }, s"the state does not stream:\n$plan")

    val overState = collect(plan) {
      case n @ (_: SortExec | _: SortAggregateExec) if has(n) { case _: FileSourceScanExec => } => n
    }
    assert(overState.isEmpty, s"sort or sort aggregate over the state scan:\n$plan")
    assert(MergePlanSpec.shuffles(plan) == 2, s"$plan")
  }

  test("the IVM state write is the same fold-then-join, carrying its changelog columns") {
    import spark.implicits._
    val s = new StreamApply.IvmUpsertStore(spark,
      Files.createTempDirectory("graft-ivm-merge-plan").toString,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d",
      payloadCols = Seq("cat", "value"), aggCol = "cat")
    s.merge((1 to 2000).map(k => (k, k.toLong, "u", s"c${k % 3}", k * 0.5))
      .toDF("key", "seq", "op", "cat", "value"), 0)
    val batch = Seq((5, 3000L, "u", "c0", 1.0), (5, 3001L, "u", "c1", 2.0),
      (7, 3002L, "d", "c1", 0.0), (2001, 3003L, "u", "c2", 3.0))
      .toDF("key", "seq", "op", "cat", "value")
    val frame = s.stateFrame(batch)
    assert(frame.columns.toSeq == Seq("key", "seq", "op", "cat", "value",
      "__old_op", "__old_cat", "__touched"))
    frame.collect()
    val plan = frame.queryExecution.executedPlan

    val joins = collect(plan) { case j: ShuffledHashJoinExec => j }
    assert(joins.size == 1 && joins.head.joinType == FullOuter &&
      joins.head.buildSide == BuildLeft, s"expected one full outer hash join on the fold:\n$plan")
    def has(p: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Boolean = collect(p)(pf).nonEmpty
    assert(has(joins.head.left) { case _: LocalTableScanExec => } &&
      has(joins.head.left) { case _: BaseAggregateExec => }, s"the build side is not the fold:\n$plan")
    assert(has(joins.head.right) { case _: FileSourceScanExec => }, s"the state does not stream:\n$plan")
    val overState = collect(plan) {
      case n @ (_: SortExec | _: SortAggregateExec) if has(n) { case _: FileSourceScanExec => } => n
    }
    assert(overState.isEmpty, s"sort or sort aggregate over the state scan:\n$plan")
    assert(MergePlanSpec.shuffles(plan) == 2, s"$plan")
  }
}

object MergePlanSpec extends AdaptiveSparkPlanHelper {

  /** Shuffle exchanges in `plan`, inside adaptive query stages too. */
  def shuffles(plan: SparkPlan): Int =
    collect(plan) { case e: ShuffleExchangeLike => e }.size
}
