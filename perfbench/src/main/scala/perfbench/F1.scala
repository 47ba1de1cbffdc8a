package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.f1.{Analytics, LapAggregate, SequenceWindows, WarehouseBuild}
import graft.ml.InferenceHook

/** The reference's batch path plus its dashboard. The build phase turns
  * bronze samples on disk into the 10 m warehouse, the gold lap table and
  * the inference-scored sequence windows; the serve phase is one dashboard
  * user asking, per request, for the teacher/student pair, a ghost car and
  * coaching zones against the warehouse the last build wrote. */
class F1(spec: Gen.F1Spec) extends Workload {
  private var in: Gen.F1Input = _
  private var bronze: String = _
  private var expectedGold: Map[(Long, Long, Long), Double] = Map.empty

  private def validLaps = in.laps.filter(_.valid)

  def setup(c: Ctx): Unit = {
    in = Gen.f1(c.seed, spec)
    bronze = s"${c.work}/f1/bronze"
    // the rows are generated inside the write's tasks, one group each
    val (seed, sp, tracks) = (c.seed, spec, in.trackLength)
    val rows = c.spark.sparkContext.parallelize(Gen.f1Groups(spec), c.slots)
      .flatMap { case (r, d) => Gen.f1Rows(seed, sp, tracks, r, d)._1 }
    c.spark.createDataFrame(rows, Gen.bronzeSchema).write.mode("overwrite").parquet(bronze)
    expectedGold = goldFromLapList(in.laps)
    // warm-up on three drivers of round 1, unmeasured and unchecked: it
    // loads and code-generates what a build and a request run
    val warm = s"${c.work}/f1/warmup"
    val spans = new Spans(c.spark, None)
    buildPass(c, spans,
      c.spark.read.parquet(bronze).filter(col("Round") === 1 && col("Driver") <= 10), warm)
    request(c, spans, warm, Pick(1L, in.laps.head.driver), -1)
  }

  /** The gold table as the generator's own lap list implies it: valid
    * laps whose time is within 1.07 × the round's fastest valid lap and
    * above 50 s, with a known compound. */
  private def goldFromLapList(laps: Seq[Gen.Lap]): Map[(Long, Long, Long), Double] = {
    val valid = laps.filter(_.valid)
    val fastest = valid.groupBy(_.round).map { case (r, ls) => r -> ls.map(_.lapTime).min }
    valid.filter(l => l.lapTime <= fastest(l.round) * 1.07 && l.lapTime > 50.0 &&
      l.compound != "UNKNOWN")
      .map(l => (l.round, l.driver, l.lap) -> l.lapTime).toMap
  }

  private def buildPass(c: Ctx, spans: Spans, source: => DataFrame, dir: String): Double = {
    val spark = c.spark
    val wh = s"$dir/warehouse"
    val t0 = System.nanoTime()
    spans.run("f1.warehouse", parent = "f1.build") {
      WarehouseBuild.build(spark, source)
    }(WarehouseBuild.writeWarehouse(_, wh))
    spans.run("f1.gold", parent = "f1.build") {
      LapAggregate.trainingTable(WarehouseBuild.readWarehouse(spark, wh))
    }(_.write.mode("overwrite").parquet(s"$dir/gold"))
    spans.run("f1.windows_infer", parent = "f1.build") {
      val w = WarehouseBuild.readWarehouse(spark, wh)
      // windows are per circuit: one scaling bound per round
      val perRound = in.trackLength.toSeq.sortBy(_._1).map { case (r, len) =>
        SequenceWindows.windows(SequenceWindows.scaled(w.filter(col("Round") === r), len))
      }
      InferenceHook.withPredictions(perRound.reduce(_ union _), InferenceHook.MeanSpeedStub)
    }(_.write.mode("overwrite").parquet(s"$dir/windows"))
    (System.nanoTime() - t0) / 1e9
  }

  /** Output checks of one build phase, against the generator's lap list. */
  private def checkBuild(c: Ctx, dir: String): Seq[String] =
    checkBuildCounts(
      c.spark.read.parquet(s"$dir/warehouse").count(),
      c.spark.read.parquet(s"$dir/gold").select("Round", "Driver", "LapNumber", "LapTime_Sec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap,
      c.spark.read.parquet(s"$dir/windows").count())

  private def checkBuildCounts(warehouseRows: Long, gold: Map[(Long, Long, Long), Double],
      windows: Long): Seq[String] = {
    val wantRows = validLaps.map(_.gridPoints.toLong).sum
    val wantWindows = validLaps.map(l => math.max(0, l.gridPoints - 19).toLong).sum
    val fastest = gold.groupBy(_._1._1).map { case (r, ls) => r -> ls.values.min }
    val badLaps = gold.filter { case ((r, _, _), t) => !(t <= fastest(r) * 1.07 && t > 50.0) }
    Expect.eq("warehouse rows", warehouseRows, wantRows) ++
      Expect.eq("gold laps", gold.keySet, expectedGold.keySet) ++
      Expect(badLaps.isEmpty, s"${badLaps.size} gold laps break the 107 % / 50 s rule") ++
      Expect.eq("windows", windows, wantWindows)
  }

  // ---------------------------------------------------------------- serve

  private case class Pick(round: Long, driver: Long)

  private def picks(seed: Long): Iterator[Pick] = {
    val rnd = new Random(seed ^ 0x5eed)
    val keys = in.laps.map(l => (l.round, l.driver)).distinct
    Iterator.continually { val (r, d) = keys(rnd.nextInt(keys.length)); Pick(r, d) }
  }

  private def bestLap(round: Long, driver: Long): Option[(Long, Double)] = {
    val mine = expectedGold.collect { case ((r, d, l), t) if r == round && d == driver => (l, t) }
    if (mine.isEmpty) None else Some(mine.minBy(x => (x._2, x._1)))
  }

  private def teacherOf(round: Long): Long =
    expectedGold.keys.filter(_._1 == round).map(_._2).toSeq.distinct
      .map(d => (bestLap(round, d).get._2, d)).min._2

  private def ghostRows(round: Long, driver: Long): Long =
    validLaps.filter(l => l.round == round && l.driver == driver)
      .map(l => if (l.gridPoints >= 20) (l.gridPoints / 5 - 3).toLong else 0L).sum

  /** One dashboard request against the build output in `dir`; returns its
    * latency and its problems. */
  private def request(c: Ctx, spans: Spans, dir: String, p: Pick, i: Int): (Double, Seq[String]) = {
    val spark = c.spark
    val wh = s"$dir/warehouse"
    def round(df: DataFrame) = df.filter(col("Year") === Gen.Year && col("Round") === p.round)
    val t0 = System.nanoTime()
    val (ts, _) = spans.run("f1.serve.teacher", "f1.serve", i) {
      Analytics.teacherStudent(round(spark.read.parquet(s"$dir/gold")))
    }(_.collect())
    val teacher = ts.head.getLong(0)
    val (ghost, _) = spans.run("f1.serve.ghost", "f1.serve", i) {
      val laps = round(WarehouseBuild.readWarehouse(spark, wh)).filter(col("Driver") === p.driver)
      val w = SequenceWindows.windows(SequenceWindows.scaled(laps, in.trackLength(p.round)),
        stride = 5)
      SequenceWindows.inverseScaleSpeed(
        InferenceHook.withPredictions(w, InferenceHook.MeanSpeedStub), "prediction")
    }(_.select("LapNumber", "Distance", "pred_speed").collect())
    val mine = bestLap(p.round, p.driver)
    val zones = mine.map { case (lap, _) =>
      val tLap = bestLap(p.round, teacher).map(_._1).getOrElse(-1L)
      spans.run("f1.serve.coach", "f1.serve", i) {
        Analytics.problemZones(Analytics.alignLaps(round(WarehouseBuild.readWarehouse(spark, wh)),
          teacher, tLap, p.driver, lap))
      }(_.select("length", "max_loss").collect()
        .map(r => (r.getAs[Number](0).doubleValue, r.getAs[Number](1).doubleValue)).toSeq)._1
    }
    val latency = (System.nanoTime() - t0) / 1e9
    (latency, checkRequest(p, ts.map(_.getLong(0)).toSeq, ghost.length.toLong, zones))
  }

  /** `zones` are (length, max_loss) of the coaching answer. */
  private def checkRequest(p: Pick, teacher: Seq[Long], ghost: Long,
      zones: Option[Seq[(Double, Double)]]): Seq[String] =
    Expect.eq("teacher", teacher, Seq(teacherOf(p.round))) ++
      Expect.eq(s"ghost rows r${p.round} d${p.driver}", ghost, ghostRows(p.round, p.driver)) ++
      Expect.eq("coach ran", zones.isDefined, bestLap(p.round, p.driver).isDefined) ++
      zones.toSeq.flatMap { z =>
        Expect(z.length <= 5, s"${z.length} problem zones > top 5") ++
          Expect(z.forall { case (len, loss) => len >= 50.0 && loss > 15.0 },
            "a problem zone breaks the length/loss bounds") ++
          Expect(z.map(_._2) == z.map(_._2).sortBy(-_), "problem zones not by loss")
      }

  // -------------------------------------------------------------- measure

  def measure(c: Ctx, spans: Spans, requests: Boolean): Measured = {
    val dir = s"${c.work}/f1/build"
    // fixed work per run, so runs compare: 2 builds per 10 s, and 2
    // requests per s and at least 20, the fewest whose median is reportable
    val builds = (1 to math.max(2, (c.seconds / 5).round.toInt)).map { _ =>
      val t = buildPass(c, spans, c.spark.read.parquet(bronze), dir)
      c.checks.record("f1.build", checkBuild(c, dir))
      t
    }
    val lat = ArrayBuffer.empty[Double]
    val it = picks(c.seed)
    for (_ <- 1 to (if (requests) math.max(20, (2 * c.seconds).round.toInt) else 0)) {
      val p = it.next()
      c.checks.op(s"f1.serve(r${p.round},d${p.driver})") {
        val (l, problems) = request(c, spans, dir, p, lat.length)
        lat += l * 1e3
        ((), problems)
      }
    }
    Measured(builds, lat.toSeq)
  }

  def checkersCatchCorruption(c: Ctx): Seq[String] = {
    val rows = validLaps.map(_.gridPoints.toLong).sum
    val wins = validLaps.map(l => math.max(0, l.gridPoints - 19).toLong).sum
    val p = in.laps.find(l => expectedGold.contains((l.round, l.driver, l.lap)))
      .map(l => Pick(l.round, l.driver)).get
    val ts = Seq(teacherOf(p.round))
    val zones = Some(Seq.empty[(Double, Double)])
    Seq(
      "warehouse rows" -> checkBuildCounts(rows + 1, expectedGold, wins),
      "gold laps" -> checkBuildCounts(rows, expectedGold.drop(1), wins),
      "107 % rule" -> checkBuildCounts(rows,
        expectedGold.map { case (k, t) => k -> t * 1.2 }.updated(expectedGold.head._1,
          expectedGold.values.min), wins),
      "windows" -> checkBuildCounts(rows, expectedGold, wins - 1),
      "teacher" -> checkRequest(p, Seq(-1L), ghostRows(p.round, p.driver), zones),
      "ghost rows" -> checkRequest(p, ts, ghostRows(p.round, p.driver) + 1, zones),
      "zones" -> checkRequest(p, ts, ghostRows(p.round, p.driver),
        Some(Seq.fill(6)((100.0, 20.0))))
    ).collect { case (name, problems) if problems.isEmpty => s"f1 $name checker" }
  }

  def determinism(c: Ctx): Seq[String] = {
    val again = Gen.f1(c.seed, spec).digest
    val small = spec.copy(rounds = 1, drivers = 2)
    val other = Gen.f1(c.seed + 1, small).digest
    Expect(again == in.digest, "f1 generator: same seed, other bytes") ++
      Expect(other != Gen.f1(c.seed, small).digest, "f1 generator: other seed, same bytes")
  }
}
