package perfbench

import scala.collection.mutable

/** What one run measured: the end-to-end and per-layer metrics, each with
  * its unit and sample count, and the op accounting. */
final class Report {
  import Report.Metric


  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val perLayer = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0
  var failed = 0
  private val errors = mutable.ArrayBuffer[String]()

  def e2e(name: String, value: Double, unit: String, samples: Int): Unit =
    endToEnd(name) = Metric(value, unit, samples)
  def layer(name: String, value: Double, unit: String, samples: Int): Unit =
    perLayer(name) = Metric(value, unit, samples)

  /** An output check that failed. The run is then reported incorrect. */
  def error(msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    errors += msg
  }
  def correct: Boolean = errors.isEmpty

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  private def obj(ms: mutable.LinkedHashMap[String, Metric]): String =
    ms.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}","samples":${m.samples}}"""
    }.mkString("{", ",", "}")

  def json: String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(perLayer)},""" +
      s""""errors":${errors.map(e => "\"" + e.replace("\\", "\\\\")
        .replace("\"", "'").replace("\n", " ") + "\"").mkString("[", ",", "]")}}"""
}

object Report {
  final case class Metric(value: Double, unit: String, samples: Int)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest of the given percentiles that has at least ten samples
    * beyond it, and that percentile; the maximum when there are too few
    * samples for any. */
  def tail(xs: Seq[Double], ps: Seq[Double] = Seq(99, 95, 90, 75, 50)):
      (Double, Double) = {
    val s = xs.sorted
    ps.find(p => s.length * (1 - p / 100) >= 10) match {
      case Some(p) => (p, s(math.min(s.length - 1,
        math.ceil(p / 100 * s.length).toInt - 1)))
      case None => (100, s.last)
    }
  }
}
