package cdcbench

/** Pure accounting: quantiles, per-file visibility and latency. Times are
  * whatever clock the caller passes (nanoseconds in a run, a fake clock in
  * the self-test).
  */
object Stats {

  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** When each file became fully visible: the latest visibility time of
    * any of its events, and how many of its events were seen. `commits`
    * yields (visible time, file index of each record); records of no
    * file (index < 0) are ignored.
    */
  final case class Visibility(visibleAt: Array[Long], seen: Array[Int])

  def visibility(files: Int, commits: Iterator[(Long, Iterator[Int])]): Visibility = {
    val at = Array.fill(files)(Long.MinValue)
    val seen = new Array[Int](files)
    commits.foreach { case (t, idx) =>
      idx.foreach { f =>
        if (f >= 0) { seen(f) += 1; if (t > at(f)) at(f) = t }
      }
    }
    Visibility(at, seen)
  }

  /** Latency of every file whose events all became visible, measured from
    * when the file landed, in ms.
    */
  def latenciesMs(landed: Array[Long], sizes: Array[Int], v: Visibility): Array[Double] =
    landed.indices.collect {
      case f if v.seen(f) >= sizes(f) => (v.visibleAt(f) - landed(f)) / 1e6
    }.toArray

  /** Committed events per second between the first landing and the last
    * visible commit.
    */
  def eventsPerSec(committed: Long, firstLanding: Long, lastVisible: Long): Double =
    if (lastVisible <= firstLanding) 0.0 else committed / ((lastVisible - firstLanding) / 1e9)
}
