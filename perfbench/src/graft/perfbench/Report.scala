package graft.perfbench

import scala.collection.mutable

/** Run-wide bookkeeping shared by the workloads: attempted/failed op
  * counts, correctness-gate failures, named span samples, and the final
  * one-line JSON result. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val gateFailures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def gate(ok: Boolean, what: => String): Boolean = {
    if (!ok && gateFailures.size < 20) gateFailures += what
    ok
  }

  /** Run one counted operation; an exception or a failed gate counts it
    * as failed (the run then reports correct = false). */
  def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        gate(false, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    if (!ok) failed += 1
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def correct: Boolean = failed == 0 && gateFailures.isEmpty

  def resultJson: String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s"${Json.str(n)}: {${"\"value\""}: ${Json.num(v)}, ${"\"unit\""}: ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }
}
