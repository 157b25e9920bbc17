package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Full-precision number; non-finite values have no JSON form. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}

/** The metrics one run reports, by name with unit, in insertion order. */
final class Report {
  private val order = mutable.ArrayBuffer.empty[String]
  private val values = mutable.Map.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = {
    if (!values.contains(name)) order += name
    values(name) = (value, unit)
  }

  def get(name: String): Option[Double] = values.get(name).map(_._1)

  def all: Seq[(String, Double, String)] =
    order.toSeq.map(n => { val (v, u) = values(n); (n, v, u) })

  /** `{"name": {"value": v, "unit": u}, ...}` for the given names. */
  def metricsJson(names: Seq[String]): String =
    names.map { n =>
      val (v, u) = values(n)
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
}

/** Counts of checked operations; `failed` includes wrong results. */
final class Outcome {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]

  def record(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (notes.size < 20) notes += what
    }
  }

  def failures: Seq[String] = synchronized(notes.toSeq)
  def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
}
