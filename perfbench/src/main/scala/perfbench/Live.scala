package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{LiveMerge, PacketCodec, UdpBridge, UpsertSink}

/** The reference's live recorder, over real loopback UDP: one sender
  * thread plays a seeded frame schedule at its scheduled times (open
  * loop) into one `UdpBridge` (one car, one port), whose stream runs
  * `LiveMerge.merged` into `UpsertSink.maintain` (a live micro-batch
  * loop). A frame's latency runs from its scheduled send time to the
  * completion of the micro-batch that committed it. */
class Live extends Workload {
  val RefFps = 120.0 // 60 Hz × telemetry + lap packets
  val BurstFps = RefFps * 16
  /** The latency segment's rate, ×0.25. A micro-batch costs ~0.3 s plus
    * ~4.7 ms per frame here (4 cores), so at ×1 the stream is ~56 % busy
    * and frame latency, ~a / (1 − busy), amplifies any host slowdown and
    * each restart from idle: its run-to-run spread reached 0.30 of the
    * median. At ×0.25 it follows the per-batch cost; the traced ladder
    * still measures ×1. */
  val LatencyFps = RefFps / 4

  /** Length of the latency segment: --seconds. */
  private def steadySeconds(c: Ctx): Double = c.seconds

  /** One bridge + one query, fed by [[send]]. */
  private class Session(c: Ctx, tag: String, progress: ProgressLog) {
    val bridge = new UdpBridge(c.spark, port = 0, driver = 1L)
    bridge.start()
    private val table = s"${c.work}/live/$tag/table"
    val query = UpsertSink.maintain(c.spark, LiveMerge.merged(bridge.packets).toDF(),
      table, s"${c.work}/live/$tag/checkpoint", Seq("Driver"), "Timestamp",
      availableNow = false)
    private val socket = new DatagramSocket()
    /** Valid frames sent so far: the stream offset of the next one. */
    var sentValid = 0L

    def progressed: Seq[StreamingQueryProgress] =
      progress.progress(query.id).filter(_.numInputRows > 0)

    def batches: Seq[Stats.Batch] = progressed.map { p =>
      val src = p.sources.head
      Stats.Batch(Option(src.startOffset).map(_.trim.toLong).getOrElse(-1L),
        src.endOffset.trim.toLong,
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").doubleValue)
    }

    /** Frames committed so far (the next uncommitted stream offset). */
    def committed: Long = batches.lastOption.map(_.end + 1).getOrElse(0L)

    /** Play `s` open loop; samples (seconds, backlog) every 100 ms into
      * `backlog` and returns (start epoch ms, lateness of each send in ms). */
    def send(s: Gen.FrameSchedule, backlog: ArrayBuffer[(Double, Long)]): (Double, Seq[Double]) = {
      val addr = InetAddress.getLoopbackAddress
      val port = bridge.boundPort
      val lags = new Array[Double](s.frames.length)
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis().toDouble
      var nextSample = 0L
      var i = 0
      while (i < s.frames.length) {
        val f = s.frames(i)
        var now = System.nanoTime() - t0
        while (now < f.atNs) {
          val ahead = f.atNs - now
          if (ahead > 2000000L) Thread.sleep((ahead - 1000000L) / 1000000L)
          else Thread.onSpinWait()
          now = System.nanoTime() - t0
        }
        socket.send(new DatagramPacket(f.bytes, f.bytes.length, addr, port))
        lags(i) = (System.nanoTime() - t0 - f.atNs) / 1e6
        if (f.valid) sentValid += 1
        if (now >= nextSample) {
          backlog += ((now / 1e9, bridge.packetsDecoded - committed))
          nextSample = now + 100000000L
        }
        i += 1
      }
      (startMs, lags.toSeq)
    }

    /** Wait until the stream has committed `n` frames. */
    def awaitCommitted(n: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committed < n && System.nanoTime() < deadline) Thread.sleep(5)
      committed >= n
    }

    def lastRow: Option[Gen.LastPair] = UpsertSink.currentDir(table).map { _ =>
      val r = UpsertSink.read(c.spark, table).collect().head
      Gen.LastPair(r.getAs[Int]("Speed"), r.getAs[Int]("Gear"), r.getAs[Int]("RPM"),
        r.getAs[Double]("Distance"), r.getAs[Int]("LapNumber"))
    }

    def stop(): Unit = {
      try query.stop() finally { bridge.stop(); socket.close() }
    }
  }

  private var progress: ProgressLog = _
  private var main: Session = _
  private var warm: Gen.FrameSchedule = _
  private var steady: Gen.FrameSchedule = _
  private var bursts: IndexedSeq[Gen.FrameSchedule] = _

  def setup(c: Ctx): Unit = {
    progress = new ProgressLog
    c.spark.streams.addListener(progress)
    // at ×1 a fresh stream's micro-batches stay slow for its first 10–20
    // batches; a trickle of 20 frames/s for 6 s runs ~15 small ones first
    warm = Gen.frames(c.seed * 7 + 1, 20.0, 6.0)
    steady = Gen.frames(c.seed * 7 + 2, LatencyFps, steadySeconds(c))
    bursts = (0 until 12).map(k => Gen.frames(c.seed * 7 + 3 + k, BurstFps, 0.3))
    main = new Session(c, "main", progress)
    playAndDrain(c, main, warm, "live.warmup")
  }

  /** Play a schedule and wait for the stream to commit all of it; one
    * checked operation. Returns (start epoch ms, done epoch ms). */
  private def playAndDrain(c: Ctx, s: Session, sched: Gen.FrameSchedule,
      name: String): Option[(Double, Double)] = {
    val base = s.sentValid
    val (startMs, _) = s.send(sched, ArrayBuffer.empty)
    val want = base + sched.validCount
    c.checks.op(name) {
      val drained = s.awaitCommitted(want, 30.0)
      val done = s.batches.lastOption.map(_.doneMs).getOrElse(Double.NaN)
      ((startMs, done), checkSession(s.bridge.packetsDecoded, want, drained, s.lastRow,
        sched.last))
    }
  }

  private def checkSession(decoded: Long, want: Long, drained: Boolean,
      last: Option[Gen.LastPair], sent: Gen.LastPair): Seq[String] =
    Expect.eq("decoded frames", decoded, want) ++
      Expect(drained, s"stream did not commit all $want frames") ++
      Expect.eq("final merged row", last, Some(sent))

  def measure(c: Ctx, spans: Spans, requests: Boolean): Measured = {
    // the latency segment: event-to-commit latency of every frame after
    // the first 0.5 s
    val base = main.sentValid
    val lat = if (!requests) Nil else playAndDrain(c, main, steady, "live.latency").map {
      case (startMs, _) =>
        Stats.latencies(Stats.validSchedule(steady.frames), startMs, base, main.batches, 500.0)
    }.getOrElse(Nil)
    // bursts at ×16, one per ~3 s of --seconds: first send → commit of the
    // schedule's final pair
    val drains = bursts.take(math.max(3, (0.3 * c.seconds).round.toInt)).flatMap { b =>
      playAndDrain(c, main, b, "live.burst").map { case (s, e) => (e - s) / 1e3 }
    }
    Measured(drains, lat)
  }

  /** The traced run's extra: the open-loop ladder at ×1, ×4, ×16 and ×64
    * of the reference rate, each rung on a fresh bridge and query. A rung
    * is sustained when its backlog did not grow and the bridge dropped no
    * valid frame; the ladder stops at the first rung that is not. */
  override def layers(c: Ctx, tracer: Tracer, progress: ProgressLog): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("streaming.codec.ns_per_frame") = codecNsPerFrame(steady)
    var sustained = 0.0
    var holding = true
    for ((mult, secs) <- Seq(1 -> 10.0, 4 -> 3.0, 16 -> 3.0, 64 -> 3.0) if holding) {
      val fps = RefFps * mult
      val sched = Gen.frames(c.seed * 11 + mult, fps, secs)
      val s = new Session(c, s"x$mult", progress)
      try {
        val samples = ArrayBuffer.empty[(Double, Long)]
        val (startMs, lags) = s.send(sched, samples)
        Thread.sleep(200)
        val decoded = s.bridge.packetsDecoded
        val backlog = decoded - s.committed
        val dropRatio = 1.0 - decoded.toDouble / sched.validCount
        val grew = Stats.backlogGrew(samples.toSeq, fps)
        holding = !grew && decoded == sched.validCount
        if (holding) {
          c.checks.op(s"live.ladder.x$mult") {
            val drained = s.awaitCommitted(sched.validCount, 20.0)
            ((), checkSession(decoded, sched.validCount, drained, s.lastRow, sched.last))
          }
          sustained = fps
        }
        // the ×1 rung drains even when it did not hold, so every frame has
        // a latency, however late (the p99 below needs ≥ 1,000 of them)
        if (mult == 1 && !holding) s.awaitCommitted(sched.validCount, 20.0)
        if (mult <= 4) {
          val p = s.progressed
          def med(f: StreamingQueryProgress => Double) =
            if (p.isEmpty) 0.0 else Stats.median(p.map(f))
          def dur(k: String)(q: StreamingQueryProgress) =
            Option(q.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          val ops = p.flatMap(_.stateOperators.headOption)
          val n = s"streaming.x$mult"
          val lat = Stats.latencies(Stats.validSchedule(sched.frames), startMs, 0L, s.batches)
          out(s"$n.bridge.drop_ratio") = dropRatio
          out(s"$n.bridge.backlog_frames") = backlog.toDouble
          out(s"$n.batch.duration_ms") = med(dur("triggerExecution"))
          out(s"$n.batch.rows") = med(_.numInputRows.toDouble)
          out(s"$n.batch.tasks") = {
            tracer.fence()
            tracer.streamCounters(s.query.id.toString).tasks.toDouble / math.max(1, p.length)
          }
          out(s"$n.batch.planning_ms") = med(dur("queryPlanning"))
          out(s"$n.batch.add_batch_ms") = med(dur("addBatch"))
          out(s"$n.batch.wal_ms") = med(dur("walCommit"))
          out(s"$n.merge.state_rows") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
          out(s"$n.merge.state_mem_mb") =
            ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
          out(s"$n.merge.commit_ms") =
            if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble))
          out(s"$n.gen.lag_ms") = Stats.mean(lags)
          // the ×1 rung is long enough for ≥ 10 samples beyond p99; a
          // shorter sample leaves the metric missing, and the run incorrect
          if (mult == 1) out(s"$n.p99_ms") =
            if (Stats.reportable(0.99, lat.length)) Stats.percentile(lat, 0.99) else Double.NaN
        }
      } finally s.stop()
    }
    out("streaming.sustained_fps") = sustained
    out.toMap
  }

  /** `PacketCodec.decode` timed directly: median ns per frame of 15 sweeps. */
  private def codecNsPerFrame(s: Gen.FrameSchedule): Double = {
    val bytes = s.frames.map(_.bytes).toArray
    var sink = 0L
    val perFrame = (0 until 15).map { _ =>
      val t0 = System.nanoTime()
      bytes.foreach(b => sink += PacketCodec.decode(0L, b).size)
      (System.nanoTime() - t0).toDouble / bytes.length
    }
    require(sink > 0)
    Stats.median(perFrame.drop(5))
  }

  def close(): Unit = if (main != null) main.stop()

  def checkersCatchCorruption(c: Ctx): Seq[String] = {
    val last = steady.last
    Seq(
      "decoded frames" -> checkSession(9, 10, drained = true, Some(last), last),
      "drain" -> checkSession(10, 10, drained = false, Some(last), last),
      "final row" -> checkSession(10, 10, drained = true,
        Some(last.copy(speed = last.speed + 1)), last)
    ).collect { case (name, problems) if problems.isEmpty => s"live $name checker" }
  }

  def determinism(c: Ctx): Seq[String] = {
    val again = Gen.frames(c.seed * 7 + 2, LatencyFps, steadySeconds(c)).digest
    val other = Gen.frames(c.seed * 7 + 3, LatencyFps, steadySeconds(c)).digest
    Expect(again == steady.digest, "frame generator: same seed, other bytes") ++
      Expect(other != steady.digest, "frame generator: other seed, same bytes")
  }
}
