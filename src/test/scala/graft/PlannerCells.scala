package graft

/** The planner settings a result must not depend on: shuffle width,
  * broadcast vs shuffle join, AQE and whole-stage codegen, each against
  * the session defaults.
  */
trait PlannerCells { self: SparkSpec =>

  val plannerCells: Seq[(String, Map[String, String])] = Seq(
    "session defaults" -> Map.empty,
    "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "7 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "no broadcast joins" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "whole-stage codegen off" -> Map("spark.sql.codegen.wholeStage" -> "false"))

  /** Run `body` with `confs` set on the session, then restore them. */
  def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
