package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body` on the RocksDB state-store provider, which
    * `transformWithState` requires.
    */
  def withRocksDb[T](body: => T): T = streaming.StreamApply.withRocksDbState(spark)(body)
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cores = 4, shuffle = Some(4))
}
