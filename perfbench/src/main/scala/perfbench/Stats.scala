package perfbench

/** The benchmark's own arithmetic, kept pure so [[SelfCheck]] can test it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, rank(p, s.length) - 1))
  }

  /** 1-based nearest rank; the epsilon keeps 0.9 × 100 at rank 90. */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n - 1e-9).toInt

  /** Samples that must lie beyond a percentile's nearest-rank position. */
  val MinBeyond = 10

  /** The percentiles a sample summary may report, in rising order. */
  val Percentiles = Seq(0.5, 0.9, 0.95, 0.99, 0.999)

  /** A percentile is reportable only if at least [[MinBeyond]] samples
    * lie beyond its nearest-rank position. */
  def reportable(p: Double, n: Int): Boolean = n - rank(p, n) >= MinBeyond

  /** The highest of [[Percentiles]] that is reportable for `n` samples. */
  def highestReportable(n: Int): Option[Double] = Percentiles.filter(reportable(_, n)).lastOption

  /** Did the backlog grow over a rung? `samples` are (seconds since the
    * rung started, frames decoded but not yet committed). The sawtooth of
    * a healthy stream falls back to its floor at every commit, so the
    * detector looks at the floor — the minimum in each one-second window —
    * and calls the backlog growing when a least-squares line through the
    * floors rises, over the rung, by more than half a second of input
    * (and by more than 50 frames). The first window is skipped: it holds
    * the query's first, slower batch. */
  def backlogGrew(samples: Seq[(Double, Long)], fps: Double): Boolean = {
    val floors = samples.groupBy(s => math.floor(s._1).toLong).toSeq
      .filter(_._1 >= 1).sortBy(_._1)
      .map { case (w, ss) => (w.toDouble, ss.map(_._2).min.toDouble) }
    if (floors.length < 2) return false
    val mx = mean(floors.map(_._1))
    val my = mean(floors.map(_._2))
    val sxx = floors.map(f => (f._1 - mx) * (f._1 - mx)).sum
    val slope = floors.map(f => (f._1 - mx) * (f._2 - my)).sum / sxx
    val span = samples.map(_._1).max
    slope * span > math.max(50.0, 0.5 * fps)
  }

  /** A completed micro-batch: the stream offsets it covered (MemoryStream
    * offsets count `addData` calls from 0, the bridge makes one per
    * decoded datagram; `start` is exclusive and -1 before the first
    * batch) and when it finished, in epoch milliseconds. */
  case class Batch(start: Long, end: Long, doneMs: Double)

  /** Scheduled send times (ms from the schedule's start) of the valid
    * frames, in send order: the i-th of these is the i-th datagram the
    * bridge decodes, because truncated frames are dropped and loopback
    * keeps one sender's order. */
  def validSchedule(frames: Seq[Gen.Frame]): IndexedSeq[Double] =
    frames.iterator.filter(_.valid).map(_.atNs / 1e6).toIndexedSeq

  /** Event-to-output latency of each valid frame that a batch committed:
    * batch completion minus the frame's scheduled send time. `base` is the
    * stream offset of the schedule's first valid frame; frames scheduled
    * before `skipMs` are left out. */
  def latencies(sched: IndexedSeq[Double], startEpochMs: Double, base: Long,
      batches: Seq[Batch], skipMs: Double = 0.0): Seq[Double] =
    batches.flatMap { b =>
      val from = math.max(b.start + 1, base)
      val to = math.min(b.end, base + sched.length - 1)
      (from to to).iterator.map(o => sched((o - base).toInt))
        .filter(_ >= skipMs).map(s => b.doneMs - (startEpochMs + s))
    }
}
