package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload f1|corpus|live --seed N --seconds S --trace 0|1
  *                --work DIR --out RESULT.json [--commit SHA]
  * }}}
  *
  * Set-up (session, seeded inputs, one unmeasured warm-up pass), then the
  * timed part, then the self-checks; the result (metrics, checked-operation
  * counts, config) goes to `--out` as JSON for `run.py` to finish. With
  * `--trace 1` the timed part runs twice, with the listeners attached and
  * then without; the per-layer metrics come from the traced one, and the
  * difference between the two is the tracing overhead. */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "f1" -> (() => new F1(Gen.F1Spec(rounds = 2, drivers = 10, laps = 16, hz = 4.5))),
    "corpus" -> (() => new Corpus(Gen.CorpusSpec(parents = 600, variants = 300))),
    "live" -> (() => new Live))

  /** Spark-side spans, each reported with [[SpanCounters]]. */
  val SparkSpans = Seq("f1.warehouse", "f1.gold", "f1.windows_infer",
    "f1.serve.teacher", "f1.serve.ghost", "f1.serve.coach",
    "text.e2e_build", "text.wordpiece", "text.bpe", "text.serve")
  val SpanCounters = Seq("wall_s", "jobs", "eager_jobs", "tasks", "exec_run_s",
    "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "busy_share")
  private val rung = Seq("bridge.drop_ratio", "bridge.backlog_frames", "batch.duration_ms",
    "batch.rows", "batch.tasks", "batch.planning_ms", "batch.add_batch_ms", "batch.wal_ms",
    "merge.state_rows", "merge.state_mem_mb", "merge.commit_ms", "gen.lag_ms")
  /** Every per-layer metric, in report order. A layer a workload never
    * calls reports 0 there. */
  val LayerMetrics: Seq[String] =
    SparkSpans.flatMap(s => SpanCounters.map(k => s"$s.$k")) ++
      Seq("streaming.codec.ns_per_frame") ++
      rung.map("streaming.x1." + _) ++ Seq("streaming.x1.p99_ms") ++
      rung.map("streaming.x4." + _) ++
      Seq("streaming.sustained_fps", "trace.overhead_s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))()
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .appName(s"perfbench-$name")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the status store's job/stage/task history would otherwise be most
      // of the live heap, and retained_heap_mb would follow its clean-up
      .config("spark.ui.retainedJobs", 50)
      .config("spark.ui.retainedStages", 50)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 50)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val checks = new Checks
    val c = Ctx(spark, work, seed, seconds, checks)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $what")
    try {
      phase("session up")
      workload.setup(c)
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      phase("set-up done")
      RetainedHeap.sample()
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      if (!traced) {
        val plain = workload.measure(c, new Spans(spark, None), requests = true)
        RetainedHeap.sample()
        phase("measured")
        // a median of too few samples is left out, and the run incorrect
        val p50 = if (Stats.reportable(0.5, plain.latencyMs.length)) median(plain.latencyMs)
          else Double.NaN
        metrics ++= Seq("setup_s" -> setupS, "pass_s" -> median(plain.passS),
          "p50_ms" -> p50, "peak_rss_mb" -> peakRssMb, "retained_heap_mb" -> RetainedHeap.mb)
        out("samples") = Map("pass_s" -> summary(plain.passS),
          "latency_ms" -> summary(plain.latencyMs))
      } else {
        // traced first, then the passes untraced: warm-up drift can only
        // inflate the overhead estimate, never hide it
        val tracer = new Tracer(spark)
        spark.sparkContext.addSparkListener(tracer)
        val progress = new ProgressLog
        spark.streams.addListener(progress)
        val withTrace = workload.measure(c, new Spans(spark, Some(tracer)), requests = true)
        LayerMetrics.foreach(metrics(_) = 0.0)
        metrics ++= spanMetrics(tracer.spans.toSeq, c.slots)
        metrics ++= workload.layers(c, tracer, progress)
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(progress)
        phase("traced")
        val untraced = workload.measure(c, new Spans(spark, None), requests = false)
        phase("measured")
        metrics("trace.overhead_s") = median(withTrace.passS) - median(untraced.passS)
        out("spans") = tracer.spans.map(s => Map("name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "parent" -> s.parent, "request" -> s.request,
          "jobs" -> (s.build.jobs + s.action.jobs), "eager_jobs" -> s.build.jobs,
          "tasks" -> (s.build.tasks + s.action.tasks)))
        out("untraced_pass_s") = median(untraced.passS)
        out("traced_pass_s") = median(withTrace.passS)
      }
      val selfCheck = SelfCheck.helpers() ++ workload.checkersCatchCorruption(c) ++
        workload.determinism(c)
      workload match {
        case w: Corpus =>
          out("oracle") = Map("dir" -> s"$work/corpus/out", "documents" ->
            s"$work/corpus/documents.parquet", "sql" -> w.oracle)
        case _ => ()
      }
      phase("self-checked")
      out("metrics") = metrics
      out("self_check_failures") = selfCheck
      out("ok") = true
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        out("ok") = false
        out("error") = e.toString
    } finally {
      workload match { case l: Live => scala.util.Try(l.close()); case _ => () }
      out("attempted") = checks.attempted
      out("failed") = checks.failed
      out("failures") = checks.failures.toSeq
      out("config") = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "nproc" -> cpus, "master" -> s"local[$cpus]",
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "commit" -> a.getOrElse("commit", "unknown"))
      Files.write(Paths.get(a("out")), Json(out).getBytes(UTF_8))
      spark.stop()
    }
  }

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Sample count, median and the highest percentile the sample supports. */
  private def summary(xs: Seq[Double]): Map[String, Any] =
    Map("n" -> xs.length, "median" -> median(xs), "values" -> xs) ++
      Stats.highestReportable(xs.length).map(p =>
        Map("tail_p" -> p, "tail" -> Stats.percentile(xs, p))).getOrElse(Map.empty)

  /** Per-invocation means of each span's counters. An invocation is one
    * call, or one serve request when several calls share a request id. */
  def spanMetrics(spans: Seq[Span], slots: Int): Map[String, Double] =
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val n = ss.map(s => if (s.request >= 0) s"r${s.request}" else s"${s.startNs}")
        .distinct.length.toDouble
      val all = new Counters
      val eager = new Counters
      ss.foreach { s => all += s.build; all += s.action; eager += s.build }
      val wall = ss.map(_.wallS).sum / n
      val run = all.runMs / 1e3 / n
      Map(
        s"$name.wall_s" -> wall, s"$name.jobs" -> all.jobs / n,
        s"$name.eager_jobs" -> eager.jobs / n, s"$name.tasks" -> all.tasks / n,
        s"$name.exec_run_s" -> run, s"$name.exec_cpu_s" -> all.cpuNs / 1e9 / n,
        s"$name.gc_s" -> all.gcMs / 1e3 / n,
        s"$name.shuffle_write_mb" -> all.shuffleWriteBytes / 1048576.0 / n,
        s"$name.spill_mb" -> all.spillBytes / 1048576.0 / n,
        s"$name.busy_share" -> (if (wall > 0) run / (wall * slots) else 0.0))
    }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. The heap is fixed
    * and pre-touched, so this follows native and off-heap memory; the
    * heap's own use is [[RetainedHeap]]. */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else new String(Files.readAllBytes(status), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}

/** The heap still in use after full collections, in MiB: the live set,
  * which grows with whatever a run keeps cached. [[sample]] runs outside
  * the timed part; [[mb]] is the largest sample. */
object RetainedHeap {
  private var peakBytes = 0L

  /** Force full collections and record what they left. The first lets
    * Spark's `ContextCleaner` drop the blocks and shuffles of unreachable
    * RDDs and broadcasts; the second reclaims what that released. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    peakBytes = math.max(peakBytes,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def mb: Double = peakBytes / 1048576.0
}

/** A minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
}
