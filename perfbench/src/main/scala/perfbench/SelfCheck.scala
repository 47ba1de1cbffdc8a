package perfbench

/** Self-checks of the benchmark's own helpers; each returns the names of
  * the checks that failed. They run in every run, after the timed part. */
object SelfCheck {

  def helpers(): Seq[String] = percentileRule ++ backlogDetector ++ offsetMapping

  /** p50 needs 20 samples, p90 100, p99 1,000 (≥ 10 beyond the rank). */
  def percentileRule: Seq[String] = {
    val cases = Seq(19 -> None, 20 -> Some(0.5), 99 -> Some(0.5), 100 -> Some(0.9),
      199 -> Some(0.9), 200 -> Some(0.95), 999 -> Some(0.95), 1000 -> Some(0.99))
    val bad = cases.filter { case (n, want) => Stats.highestReportable(n) != want }
    val xs = (1 to 100).map(_.toDouble)
    Expect(bad.isEmpty, s"percentile rule: wrong for n = ${bad.map(_._1).mkString(",")}") ++
      Expect(Stats.percentile(xs, 0.9) == 90.0 && Stats.percentile(xs, 0.5) == 50.0 &&
        Stats.percentile(Seq(7.0), 0.99) == 7.0, "percentile: nearest rank is off")
  }

  /** A healthy sawtooth (a commit every 0.8 s) is steady; the same
    * sawtooth on a rising floor, a backlog that only rises, and a stream
    * that never commits are growing. */
  def backlogDetector: Seq[String] = {
    val t = (0 until 60).map(_ * 0.1)
    val fps = 120.0
    val saw = t.map(s => s -> ((s % 0.8) * fps).toLong)
    val rising = t.map(s => s -> ((s % 0.8) * fps + 100 * s).toLong)
    val ramp = t.map(s => s -> (s * 0.5 * fps).toLong)
    val stuck = t.map(s => s -> (s * fps).toLong)
    Expect(!Stats.backlogGrew(saw, fps), "backlog detector: flags a steady sawtooth") ++
      Expect(Stats.backlogGrew(rising, fps), "backlog detector: misses a rising floor") ++
      Expect(Stats.backlogGrew(ramp, fps), "backlog detector: misses a slow ramp") ++
      Expect(Stats.backlogGrew(stuck, fps), "backlog detector: misses a stuck stream")
  }

  /** Truncated frames take no stream offset; offsets map back to the
    * valid frames' own scheduled times. */
  def offsetMapping: Seq[String] = {
    val f = (i: Long, v: Boolean) => Gen.Frame(i * 1000000L, Array.emptyByteArray, v)
    // frames at 0..5 ms; the one at 2 ms is truncated
    val frames = Seq(f(0, true), f(1, true), f(2, false), f(3, true), f(4, true), f(5, true))
    val sched = Stats.validSchedule(frames)
    // this schedule's first valid frame is stream offset 10; two batches
    val batches = Seq(Stats.Batch(-1, 11, 1000.0), Stats.Batch(11, 14, 1010.0),
      Stats.Batch(14, 20, 2000.0))
    val lat = Stats.latencies(sched, 990.0, 10L, batches)
    // offsets 10,11 → frames at 0,1 ms done at 1000; 12,13,14 → 3,4,5 ms at 1010
    val want = Seq(10.0, 9.0, 17.0, 16.0, 15.0)
    Expect(sched == IndexedSeq(0.0, 1.0, 3.0, 4.0, 5.0), s"offset mapping: schedule $sched") ++
      Expect(lat == want, s"offset mapping: latencies $lat, want $want") ++
      Expect(Stats.latencies(sched, 990.0, 10L, batches, skipMs = 3.0) == want.drop(2),
        "offset mapping: skip window")
  }
}
