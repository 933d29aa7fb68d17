package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linearly interpolated percentile (the `inclusive` method of
    * Python's `statistics.quantiles`), `p` in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail metric may be reported at. */
  val Candidates: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest candidate percentile that leaves at least `beyond`
    * samples above it, or None when even the median does not. With
    * 100 samples that is p90; 99 samples only support p75.
    */
  def highestSupported(n: Int, beyond: Int = 10): Option[Double] =
    Candidates.filter(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9).lastOption
}

/** Operation latency: batch calls in annotate_batch, arrivals (due time
  * to commit) in stream_ingest. Printed by every run and a per-layer
  * metric of the traced run, not an end-to-end metric: on 4 cores a
  * one-minute run holds only a few tail triggers of about 3 s each, and
  * its median moved by up to a third from run to run.
  */
object Latency {
  def metrics(ms: Seq[Double]): Seq[Metric] = Seq(
    Metric("latency.p50_ms", Stats.percentile(ms, 50), "ms"),
    Metric("latency.p90_ms", Stats.percentile(ms, 90), "ms"),
    Metric("latency.samples", ms.size.toDouble, "count"))
}
