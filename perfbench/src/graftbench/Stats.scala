package graftbench

/** Summary statistics the benchmark reports. */
object Stats {
  /** Samples beyond a reported tail percentile: fewer and the tail is
    * not reported.
    */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0,1]")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The p-th percentile of grouped samples (value, group), or None
    * when fewer than [[MinBeyond]] distinct groups have a sample
    * strictly beyond it. Freshness is grouped by batch: the changes of
    * one commit are not independent samples.
    */
  def groupedTail(xs: Seq[(Double, Long)], p: Double): Option[Double] = {
    val v = percentile(xs.map(_._1), p)
    if (xs.iterator.filter(_._1 > v).map(_._2).toSet.size >= MinBeyond) Some(v)
    else None
  }

  /** Throughput over whole compaction cycles: `batches` are (items,
    * seconds, compacted) per batch in order, starting right after a
    * compaction; only batches up to and including the last compacting
    * one count. None when no batch compacted.
    */
  def cycleThroughput(batches: Seq[(Long, Double, Boolean)]): Option[Double] = {
    val whole = batches.lastIndexWhere(_._3) + 1
    if (whole == 0) None
    else {
      val used = batches.take(whole)
      Some(used.map(_._1).sum / used.map(_._2).sum)
    }
  }
}
