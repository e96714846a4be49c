package graftbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Percentile `p` in [0, 1] with linear interpolation between the two
    * nearest ranks (numpy's default, Python's
    * `statistics.quantiles(method="inclusive")`). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the p-th percentile. */
  def samplesAbove(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }

  /** Typical op latency of a mix: the median latency of each op kind,
    * geometric mean over the kinds. Unlike the median of the pooled
    * samples it does not jump between kinds when the keys drawn make one
    * kind a little slower or faster. NaN without samples. */
  def kindLatency(samples: Seq[(String, Double)]): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val meds = samples.groupBy(_._1).values.map(ss => median(ss.map(_._2))).toSeq
      math.exp(meds.map(math.log).sum / meds.length)
    }

  /** Share of requests whose key occurred earlier in the sequence. */
  def repeatShare(keys: Seq[String]): Double = {
    require(keys.nonEmpty, "repeat share of no requests")
    val seen = scala.collection.mutable.HashSet.empty[String]
    keys.count(k => !seen.add(k)).toDouble / keys.length
  }
}
