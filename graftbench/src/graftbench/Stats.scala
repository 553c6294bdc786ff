package graftbench

/** Summary statistics for timing samples.
  *
  * A timing is reported as its median plus the highest tail percentile the
  * sample can back: a percentile p is reported only when at least
  * [[MinBeyond]] samples lie strictly beyond it, so p90 needs n >= 100,
  * p99 needs n >= 1000 and p99.9 needs n >= 10000.
  */
object Stats {

  val MinBeyond = 10

  /** Tail percentiles tried from the highest down. */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 90.0)

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Number of samples strictly beyond the p-th percentile rank. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The p-th percentile by the nearest-rank rule, or None when fewer than
    * [[MinBeyond]] samples lie beyond it.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    if (n == 0 || beyond(n, p) < MinBeyond) None
    else {
      val rank = math.max(1, math.ceil(n * p / 100.0 - 1e-9).toInt)
      Some(xs.sorted.apply(rank - 1))
    }
  }

  /** The highest of [[TailLevels]] the sample backs, with its value. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLevels.iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()

  /** Median, backed tail and sample count, as a JSON object. */
  def summaryJson(xs: Seq[Double]): String = {
    val parts = Seq(s""""n":${xs.size}""") ++
      (if (xs.nonEmpty) Seq(s""""p50":${Json.num(median(xs))}""") else Nil) ++
      tail(xs).map { case (p, v) => s""""p${Json.pct(p)}":${Json.num(v)}""" }
    parts.mkString("{", ",", "}")
  }
}

/** Minimal JSON writing: the benchmark emits flat objects only. */
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

  /** A finite number with all its digits; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def pct(p: Double): String =
    if (p == math.rint(p)) p.toLong.toString else p.toString.replace('.', '_')

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
