package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.select]]: the key list every registry main takes. */
class SparkEntrySpec extends AnyFunSuite {

  private val keys = SparkEntry.queries.keys.toSeq.sorted.take(2)

  test("select trims keys, drops empty and repeated ones, and keeps their order") {
    assert(SparkEntry.select(s" ${keys(1)} ,, ${keys(0)}\t,${keys(1)}") == keys.reverse)
  }

  test("select rejects an unknown key by name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(s"${keys(0)},o10_materialze"))
    assert(e.getMessage.contains("o10_materialze"), e.getMessage)
  }
}
