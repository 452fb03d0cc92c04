package perfbench

/** Summary statistics for latency samples and the open-loop schedule.
  * Pure functions; StatsSpec pins their edge cases. */
object Stats {

  /** Nearest-rank percentile (q in [0, 1]) of an unsorted sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"percentile rank $q outside [0, 1]")
    val s = xs.sorted
    val rank = math.ceil(q * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** True when at least `minBeyond` samples lie strictly above the q-th
    * percentile's rank, i.e. the percentile is backed by that many worse
    * samples rather than set by a handful of outliers. */
  def supported(n: Int, q: Double, minBeyond: Int = 10): Boolean =
    n - math.ceil(q * n).toInt >= minBeyond

  /** Open-loop schedule: request i is due at `startNs + i * 1e9 / rate`.
    * Its latency runs from that due time, not from when it was sent, so a
    * stall also charges the requests queued behind it. */
  final case class Schedule(startNs: Long, ratePerS: Double) {
    require(ratePerS > 0, "rate must be positive")
    def dueNs(i: Long): Long = startNs + math.round(i * 1e9 / ratePerS)
  }

  /** One open-loop request: when it was due, sent and answered (ns). */
  final case class Timing(dueNs: Long, sentNs: Long, doneNs: Long) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def latenessMs: Double = math.max(0L, sentNs - dueNs) / 1e6
  }

  /** A rate step keeps up when the generator's lateness does not grow over
    * the step: the median lateness of the last third of the requests stays
    * within `slackMs` of the first third's (and within twice it). A system
    * that cannot serve the rate queues requests, and each waits longer than
    * the one before. */
  def backlogGrowing(ts: Seq[Timing], slackMs: Double = 10.0): Boolean =
    if (ts.length < 6) false
    else {
      val bySent = ts.sortBy(_.dueNs)
      val third = bySent.length / 3
      val first = median(bySent.take(third).map(_.latenessMs))
      val last = median(bySent.takeRight(third).map(_.latenessMs))
      last > first + slackMs && last > 2 * first
    }

  /** Largest number of requests due but not yet sent at any send instant. */
  def backlogMax(ts: Seq[Timing]): Int = {
    val sends = ts.map(_.sentNs).sorted.toArray
    val dues = ts.map(_.dueNs).sorted.toArray
    var best = 0; var j = 0
    var i = 0
    while (i < sends.length) {
      while (j < dues.length && dues(j) <= sends(i)) j += 1
      best = math.max(best, j - (i + 1))
      i += 1
    }
    best
  }
}
