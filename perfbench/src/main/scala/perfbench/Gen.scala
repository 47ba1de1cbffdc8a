package perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.streaming.PacketCodec

/** Seeded input generators. Everything here is plain driver-side Scala
  * driven by one `java.util.Random`-backed `scala.util.Random`, so a seed
  * always yields the same rows; each generator also returns a SHA-256
  * digest of its canonical content, which the determinism self-check
  * compares across two generations. The generators also keep their own
  * ground truth (the lap list, the frame schedule) so the output checks
  * never consult the operators under test. */
object Gen {

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------------ f1

  /** One generated lap, as the generator itself understands it. `valid`
    * mirrors the warehouse validity gates (≥ 10 distinct distances after
    * cleaning, max distance ≥ 2,000 m); `lapTime` is max − min sample time
    * over the surviving samples; `maxDist` is the largest surviving
    * distance. */
  case class Lap(round: Long, driver: Long, lap: Long, compound: String,
      valid: Boolean, maxDist: Double, lapTime: Double) {
    def gridPoints: Int = if (valid) math.ceil(maxDist / 10.0).toInt else 0
  }

  case class F1Spec(rounds: Int, drivers: Int, laps: Int, hz: Double)

  /** The generator's view of one input: its laps, track lengths and the
    * digest of every row. The rows themselves are regenerated where they
    * are needed ([[f1Rows]]), one (round, driver) group at a time. */
  case class F1Input(laps: IndexedSeq[Lap], trackLength: Map[Long, Double], digest: String)

  val Year = 2022L
  val Compounds = Array("SOFT", "MEDIUM", "HARD")

  val bronzeSchema: StructType = StructType(Seq(
    StructField("Year", LongType), StructField("Round", LongType),
    StructField("Driver", LongType), StructField("LapNumber", LongType, nullable = true),
    StructField("Time", DoubleType), StructField("Speed", DoubleType, nullable = true),
    StructField("RPM", DoubleType), StructField("nGear", DoubleType),
    StructField("Throttle", DoubleType), StructField("Brake", IntegerType),
    StructField("DRS", DoubleType), StructField("Distance", DoubleType, nullable = true),
    StructField("Compound", StringType), StructField("TyreLife", DoubleType)))

  def f1Groups(spec: F1Spec): IndexedSeq[(Int, Int)] =
    for (r <- 1 to spec.rounds; d <- 1 to spec.drivers) yield (r, d)

  def f1Tracks(seed: Long, spec: F1Spec): Map[Long, Double] = {
    val rnd = new Random(seed)
    (1 to spec.rounds).map(r => r.toLong -> (4300.0 + 150.0 * r + rnd.nextInt(200))).toMap
  }

  /** The generator's view of the whole input (laps + digest). */
  def f1(seed: Long, spec: F1Spec): F1Input = {
    val tracks = f1Tracks(seed, spec)
    val md = MessageDigest.getInstance("SHA-256")
    val laps = f1Groups(spec).flatMap { case (r, d) =>
      val (rows, laps) = f1Rows(seed, spec, tracks, r, d)
      rows.foreach(row => md.update((row.mkString("|") + "\n").getBytes("UTF-8")))
      laps
    }
    F1Input(laps, tracks, md.digest().map("%02x".format(_)).mkString)
  }

  /** Bronze samples of one (round, driver), with every FIXTURES.md §1
    * case: duplicate Distance (a later-in-time repeat that dedup must
    * drop), laps with fewer than 10 samples, laps under 2,000 m, null
    * Speed / Distance / LapNumber rows, the UNKNOWN compound, and rows out
    * of time order. Lap times are either within 1.03 × or beyond 1.12 × the
    * driver's pace, so the 107 % rule never sits on a rounding edge. */
  def f1Rows(seed: Long, spec: F1Spec, tracks: Map[Long, Double], r: Int,
      d: Int): (IndexedSeq[Row], IndexedSeq[Lap]) = {
    val rnd = new Random(seed * 1000003L + r * 1009L + d)
    val rows = ArrayBuffer.empty[Row]
    val laps = ArrayBuffer.empty[Lap]
    val round = r.toLong
    val driver = (d * 3 + 1).toLong
    val len = tracks(round)
    val base = len / 1000.0 * 17.0 // ~80 s for a 4.7 km lap
    val pace = 1.0 + 0.0015 * d
    var compound = Compounds(rnd.nextInt(3))
    var tyre = 1.0
    for (l <- 1 to spec.laps) {
      if (rnd.nextInt(18) == 0) { compound = Compounds(rnd.nextInt(3)); tyre = 1.0 }
      val kind = rnd.nextInt(100)
      val lapCompound = if (kind < 3) "UNKNOWN" else compound
      val slow = kind >= 3 && kind < 9 // in/out laps beyond the 107 % cut
      val lapSec = base * pace * (if (slow) 1.12 + 0.05 * rnd.nextDouble()
        else 1.0 + 0.03 * rnd.nextDouble())
      val t0 = 1000.0 * l + rnd.nextDouble()
      val short = kind == 97 // under 10 samples
      val partial = kind == 98 // under 2,000 m
      val lapLen = if (partial) 1200.0 + rnd.nextInt(600) else len
      val n = if (short) 6 else math.max(12, (lapSec * spec.hz).toInt)
      // sample positions: strictly increasing, the first at 0 m
      val dists = Array.tabulate(n) { i =>
        val frac = (i + 0.15 + 0.7 * rnd.nextDouble()) / n
        math.rint(lapLen * frac * 100.0) / 100.0
      }
      dists(0) = 0.0
      def time(i: Int) = t0 + lapSec * (dists(i) / lapLen) + 1e-4 * i
      def speed0(i: Int): Double =
        180.0 + 120.0 * math.sin(i * 0.07 + d) + 5.0 * math.cos(l + i * 0.3)
      def sample(i: Int, dist: java.lang.Double, speed: java.lang.Double,
          lapNo: java.lang.Long, dt: Double = 0.0): Row =
        Row(Year, round, driver, lapNo, time(i) + dt, speed,
          8000.0 + 30.0 * speed0(i), math.min(8, 1 + (speed0(i) / 40).toInt).toDouble,
          60.0 + 40.0 * rnd.nextDouble(), if (rnd.nextInt(7) == 0) 1 else 0,
          if (rnd.nextInt(5) == 0) 12.0 else 0.0, dist, lapCompound, tyre)
      for (i <- 0 until n)
        rows += sample(i, dists(i), speed0(i) + rnd.nextDouble(), l.toLong)
      if (!short && rnd.nextInt(4) == 0) {
        // a duplicate Distance, later in time: dedup keeps the first
        val i = 1 + rnd.nextInt(n - 2)
        rows += sample(i, dists(i), 99.0, l.toLong, dt = 0.01)
      }
      if (rnd.nextInt(5) == 0) {
        // null Speed / Distance / LapNumber rows that cleaning drops
        val i = 1 + rnd.nextInt(n - 2)
        rows += sample(i, dists(i) + 0.5, null, l.toLong)
        rows += sample(i, null, 150.0, l.toLong)
        rows += sample(i, dists(i) + 0.25, 150.0, null)
      }
      val times = (0 until n).map(time)
      laps += Lap(round, driver, l.toLong, lapCompound, valid = !short && !partial,
        maxDist = dists.max, lapTime = times.max - times.min)
      tyre += 1.0
    }
    // out-of-order rows: a seeded partial shuffle
    val arr = rows.toArray
    for (_ <- 0 until arr.length / 10) {
      val i = rnd.nextInt(arr.length); val j = rnd.nextInt(arr.length)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    (arr.toIndexedSeq, laps.toIndexedSeq)
  }

  // -------------------------------------------------------------- corpus

  case class CorpusSpec(parents: Int, variants: Int)

  case class CorpusInput(rows: IndexedSeq[Row], digest: String)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val markers = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "mit"),
    "es" -> Seq("el", "los", "las", "y", "para"),
    "zh" -> Seq("数据", "查询", "表格", "流式", "合并"))
  private val langs = Array("en", "en", "fr", "de", "es", "zh")

  /** `parents` documents over a seeded Zipf vocabulary of pseudo-words
    * (so word 3-shingles are rare and the shingle-DF cap keeps real
    * near-duplicates visible), plus `variants` near-duplicates. Variants
    * come in chains of 1–8: each edits ~3 % of the words of the previous
    * link, so a cluster holds ≤ 9 docs and its far ends may share little
    * beyond the chain. A few percent of the parents are too short,
    * repetitive or mislabeled, so the quality and langid gates bite. */
  def corpus(seed: Long, spec: CorpusSpec): CorpusInput = {
    val rnd = new Random(seed)
    val syll = Array("ka", "ro", "mi", "ten", "sa", "lu", "ve", "no", "dar",
      "pi", "sto", "gre", "ul", "fen", "qui", "bo", "zel", "ma", "tri", "hos")
    val vocabSize = 3000
    // words of at most 8 chars: the bound of the WordPiece DuckDB mirror
    val vocab = Iterator.continually {
      (0 until 2 + rnd.nextInt(2)).map(_ => syll(rnd.nextInt(syll.length))).mkString
    }.filter(_.length <= 8).take(vocabSize).toArray
    // Zipf(1) sampling by inverse CDF over the cumulative harmonic weights
    val cum = vocab.indices.scanLeft(0.0)((a, i) => a + 1.0 / (i + 1)).tail.toArray
    def word(): String = {
      val u = rnd.nextDouble() * cum.last
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cum(m) < u) lo = m + 1 else hi = m }
      vocab(lo)
    }
    def text(lang: String, nWords: Int): Array[String] = {
      val ms = markers(lang)
      Array.fill(nWords)(if (rnd.nextInt(6) == 0) ms(rnd.nextInt(ms.length)) else word())
    }
    val total = spec.parents + spec.variants
    val ids = rnd.shuffle((0 until total).map(_.toLong)).toIndexedSeq
    val docs = ArrayBuffer.empty[(Long, String, String)]
    val parentsWords = ArrayBuffer.empty[(Array[String], String)]
    for (p <- 0 until spec.parents) {
      val lang = langs(rnd.nextInt(langs.length))
      val kind = rnd.nextInt(100)
      val ws =
        if (kind < 3) text(lang, 8) // too short
        else if (kind < 5) Array.fill(60)(markers(lang).head) // repetitive
        else text(lang, 40 + rnd.nextInt(50))
      val label = if (kind >= 5 && kind < 8) langs((langs.indexOf(lang) + 2) % langs.length)
        else lang
      docs += ((ids(p), ws.mkString(" "), label))
      parentsWords += ((ws, label))
    }
    // one chain per parent at most, hung off parents long and varied enough
    // to pass the quality gate
    val used = scala.collection.mutable.Set.empty[Int]
    var made = 0
    while (made < spec.variants) {
      val p = rnd.nextInt(spec.parents)
      val (pw, label) = parentsWords(p)
      if (pw.length >= 40 && pw.distinct.length > 20 && used.add(p)) {
        val len = math.min(1 + rnd.nextInt(8), spec.variants - made)
        var cur = pw
        for (_ <- 0 until len) {
          val next = cur.clone()
          val edits = math.max(1, (next.length * 0.03).round.toInt)
          for (_ <- 0 until edits) next(rnd.nextInt(next.length)) = word()
          val id = ids(spec.parents + made)
          docs += ((id, next.mkString(" "), label))
          cur = next
          made += 1
        }
      }
    }
    val rows = docs.sortBy(_._1).map { case (id, t, l) =>
      Row(id, t, l, s"src${id % 20}", t.length.toLong)
    }.toIndexedSeq
    CorpusInput(rows, digest(rows.iterator.map(_.mkString("|"))))
  }

  // ---------------------------------------------------------------- live

  /** One scheduled datagram: its offset from the start of the schedule,
    * its bytes, and whether the codec must accept it. */
  case class Frame(atNs: Long, bytes: Array[Byte], valid: Boolean)

  /** The last telemetry + lap pair of a schedule, as the merged row the
    * sink must end on. */
  case class LastPair(speed: Int, gear: Int, rpm: Int, distance: Double, lapNumber: Int)

  case class FrameSchedule(frames: IndexedSeq[Frame], last: LastPair, digest: String) {
    def validCount: Int = frames.count(_.valid)
    def durationNs: Long = frames.last.atNs
  }

  /** The reference recorder's frame stream at `fps` frames/s (telemetry
    * and lap frames alternating, one car in slot 0) for `seconds`;
    * 1 % are truncated copies the codec must drop. The schedule ends
    * with a telemetry frame and then a lap frame, each sent more than
    * 0.1 s after the frame before it, so the 0.1 s merge throttle has to
    * emit exactly that pair as the final merged row. */
  def frames(seed: Long, fps: Double, seconds: Double): FrameSchedule = {
    val rnd = new Random(seed)
    val n = math.max(2, (fps * seconds).toInt)
    val stepNs = 1e9 / fps
    val out = ArrayBuffer.empty[Frame]
    var dist = 0.0f
    var lap = 1
    var lastTel: (Int, Int, Int) = null
    def tel(at: Long): Unit = {
      val speed = 80 + rnd.nextInt(250)
      val gear = 1 + rnd.nextInt(8)
      val rpm = 6000 + rnd.nextInt(6000)
      lastTel = (speed, gear, rpm)
      out += Frame(at, PacketCodec.telemetryFrame(0, speed, rnd.nextFloat(),
        rnd.nextFloat(), gear.toByte, rpm), valid = true)
    }
    def lapF(at: Long): Unit = {
      dist += 20.0f + rnd.nextInt(10)
      if (dist > 5000.0f) { dist = 0.0f; lap += 1 }
      out += Frame(at, PacketCodec.lapFrame(0, dist, lap), valid = true)
    }
    for (i <- 0 until n) {
      val at = (i * stepNs).toLong
      if (rnd.nextInt(100) == 0) {
        val full = if (i % 2 == 0) PacketCodec.telemetryFrame(0, 100, 0.5f, 0f, 3, 9000)
          else PacketCodec.lapFrame(0, 1.0f, 1)
        out += Frame(at, java.util.Arrays.copyOf(full, 30 + rnd.nextInt(full.length - 40)),
          valid = false)
      } else if (i % 2 == 0) tel(at) else lapF(at)
    }
    val gap = 150000000L // 0.15 s
    val tEnd = out.last.atNs + gap
    tel(tEnd)
    lapF(tEnd + gap)
    val last = LastPair(lastTel._1, lastTel._2, lastTel._3, dist.toDouble, lap)
    val dg = digest(out.iterator.map(f => s"${f.atNs}:${f.valid}:" +
      java.util.Base64.getEncoder.encodeToString(f.bytes)))
    FrameSchedule(out.toIndexedSeq, last, dg)
  }
}
