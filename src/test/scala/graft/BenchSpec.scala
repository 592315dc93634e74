package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's `BENCH_FULL.json` object and compact stdout line must parse
  * back, with their field order, whatever characters the SF dir, a
  * query key or a maintenance error carries.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("reports parse back with a quote and a backslash in the SF dir") {
    val sf = "/data/sf\"0.01\\run"
    val err = "java.io.IOException: \"a\\b\"\n\tat x"
    val (full, compact) = Bench.reports(sf,
      Map("o1_a" -> (true, 1.25), "o2_\"b\\" -> (false, 0.5), "d3_c" -> (true, 2.0)),
      skipBatch = false,
      dials = Seq(("upsert_rows_per_sec", 123.5, Bench.obj("attempt" -> 1))),
      maintenance = Some(Bench.obj("error" -> err)),
      host = Bench.obj("loadavg1_pre" -> 0.5))
    val f = mapper.readTree(full)
    val c = mapper.readTree(compact)
    assert(f.get("sf").asText == sf && c.get("sf").asText == sf)
    assert(f.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "queries",
      "sf", "errors", "streaming", "streaming_markers", "maintenance", "host"))
    assert(c.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "sf",
      "n_queries", "queries", "queries_note", "families", "errors", "streaming",
      "host", "detail"))
    assert(f.get("value").asDouble == 3.25)
    assert(f.get("queries").get("o2_\"b\\").asDouble == -1.0)
    assert(c.get("errors").get(0).asText == "o2_\"b\\")
    assert(f.get("maintenance").get("error").asText == err)
    assert(f.get("streaming_markers").get("upsert_rows_per_sec").get("attempt").asInt == 1)
    assert(c.get("families").get("o").asDouble == 1.25)
  }

  test("a skipped batch pass is marked, not zero-filled") {
    val (full, compact) = Bench.reports("sf", Map.empty, skipBatch = true,
      dials = Nil, maintenance = None, host = Bench.obj())
    assert(mapper.readTree(full).get("queries").asText == "skipped")
    assert(mapper.readTree(compact).get("batch").asText == "skipped")
  }
}
