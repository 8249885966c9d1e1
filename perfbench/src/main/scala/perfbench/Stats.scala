package perfbench

/** Summary statistics and the hand-rolled JSON the result line needs. */
object Stats {

  /** The middle value; the mean of the two middle ones for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail of a latency sample: the mean of the samples beyond the
    * highest of p99, p95, p90, p80 and p75 that still leaves at least ten
    * samples beyond it. The mean, not the percentile itself: at these
    * sample sizes a single order statistic often sits on the edge between
    * two clusters (the slowest endpoint's requests and the rest, one
    * query's runs and the next one's), where it jumps by hundreds of
    * milliseconds from run to run. A sample too small even for p75
    * reports its maximum. The result records which.
    */
  final case class Tail(value: Double, percentile: String, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.90 -> "p90", 0.80 -> "p80", 0.75 -> "p75")
      .find { case (p, _) => n - math.ceil(p * n) >= 10 }
      .map { case (p, label) => Tail(mean(xs.sorted.drop(math.ceil(p * n).toInt)), label, n) }
      .getOrElse(Tail(xs.max, "max", n))
  }
}

/** Minimal JSON rendering: numbers keep every digit they were measured
  * with (no rounding), strings are escaped, nested values are Maps/Seqs.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
