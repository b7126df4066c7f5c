package perfbench

/** Order statistics the benchmark reports. A timing is a median plus the
  * highest percentile that still has at least ten samples beyond it, each
  * with its sample count; nothing is a best-of.
  */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray
      java.util.Arrays.sort(s)
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** The highest of p99, p98, p95, p90, p75, p50 with at least ten samples
    * above it, as (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = Seq(0.99, 0.98, 0.95, 0.90, 0.75).find(p => n * (1 - p) >= 10 - 1e-9).getOrElse(0.5)
    (p * 100, quantile(xs, p))
  }
}

/** A latency sample set with its summary, in milliseconds. */
final case class Latencies(ms: IndexedSeq[Double]) {
  def n: Int = ms.size
  def p50: Double = Stats.median(ms)
  def json: String = {
    val (tp, tv) = Stats.tail(ms)
    s"""{"n":$n,"p50":${Json.num(p50)},"tail_p":${Json.num(tp)},"tail":${Json.num(tv)},"max":${Json.num(if (ms.isEmpty) Double.NaN else ms.max)}}"""
  }
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    graft.core.JsonText.escInto(sb, s)
    sb.append('"').toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
