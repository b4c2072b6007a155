package graftbench

/** Order statistics and a minimal JSON writer for the benchmark's output. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean, over operation kinds, of each kind's median latency:
    * one summary for a list of operations whose latencies differ by kind. */
  def geomeanOfMedians(samples: Seq[(String, Double)]): Double = {
    val medians = samples.groupBy(_._1).values.map(s => median(s.map(_._2))).filter(_ > 0)
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }

  def secs(nanos: Long): Double = nanos / 1e9
  def millis(nanos: Long): Double = nanos / 1e6
}

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Tiny JSON rendering: maps keep insertion order via Seq of pairs. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Render a value built from String, numbers, Boolean, Seq, Map/Seq-of-pairs. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Metric => obj(Seq("value" -> m.value, "unit" -> m.unit))
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o: Obj => obj(o.fields)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")

  /** An ordered JSON object. */
  final case class Obj(fields: (String, Any)*)
}
