package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable

/** Order statistics over one run's samples. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One metric as reported: value, unit and, for an order statistic, the
  * number of samples it was taken from.
  */
final case class Metric(value: Double, unit: String, samples: Option[Int] = None)

/** Everything one workload run reports. End-to-end metrics and per-layer
  * metrics are kept apart because they come from different runs: the
  * untraced run gives the first, the traced run the second.
  */
final class Report(val workload: String) {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def e2e(name: String, value: Double, unit: String, samples: Option[Int] = None): Unit =
    endToEnd(name) = Metric(value, unit, samples)

  def layer(name: String, value: Double, unit: String): Unit =
    perLayer(name) = Metric(if (value.isNaN || value.isInfinite) 0.0 else value, unit)

  /** A median and a tail percentile of `xs` under `prefix`, with counts. */
  def percentiles(prefix: String, xs: Seq[Double], unit: String, tails: Seq[Int]): Unit = {
    e2e(s"${prefix}_p50_$unit", Stats.median(xs), unit, Some(xs.size))
    tails.foreach(p => e2e(s"${prefix}_p${p}_$unit", Stats.quantile(xs, p / 100.0), unit, Some(xs.size)))
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def correct: Boolean = failed == 0 && attempted > 0

  /** Human-readable block: every metric with its unit and sample count. */
  def render(): String = {
    val sb = new StringBuilder
    sb ++= s"== $workload ==\n"
    info.foreach { case (k, v) => sb ++= f"  $k%-28s $v\n" }
    def block(title: String, ms: mutable.LinkedHashMap[String, Metric]): Unit = if (ms.nonEmpty) {
      sb ++= s"  -- $title --\n"
      ms.foreach { case (k, m) =>
        val n = m.samples.map(s => s"  (n=$s)").getOrElse("")
        sb ++= f"  $k%-36s ${m.value}%14.4f ${m.unit}%-8s$n\n"
      }
    }
    block("end to end", endToEnd)
    block("per layer", perLayer)
    sb ++= f"  ${"attempted"}%-36s $attempted%14d\n  ${"failed"}%-36s $failed%14d\n"
    failures.foreach(f => sb ++= s"  FAIL $f\n")
    sb.toString
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
