package graft.perfbench

/** Minimal JSON writer for the benchmark's report lines (no JSON library
  * is on the offline classpath). Values are Double/Float, Int/Long,
  * Boolean, String, null, Seq and ordered Map; doubles print with every
  * digit Java keeps (`Double.toString` round-trips). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in report: $d")
      sb.append(d.toString)
    case f: Float => put(sb, f.toDouble)
    case s: String => str(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; put(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]); requires samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that leaves at least 10 samples above
    * it, or None when there are too few samples for any tail. */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 20) None else Some(math.min(99, (100.0 * (n - 10) / n).toInt))

  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
}
