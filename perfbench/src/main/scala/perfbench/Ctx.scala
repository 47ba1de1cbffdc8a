package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Checked operations: each records whether its output passed every
  * check. `fail_ratio` = failed ÷ attempted. */
class Checks {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Record one operation whose checks returned `problems`. */
  def record(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += s"$op: ${problems.mkString("; ")}"
    }
  }

  /** Run `body` as one checked operation; an exception fails it. */
  def op[A](name: String)(body: => (A, Seq[String])): Option[A] =
    try {
      val (a, problems) = body
      record(name, problems)
      Some(a)
    } catch {
      case scala.util.control.NonFatal(e) =>
        record(name, Seq(s"threw $e"))
        None
    }
}

/** Expect-helper for the checkers: a problem message when `ok` is false. */
object Expect {
  def apply(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)
  def eq[A](name: String, got: A, want: A): Seq[String] =
    apply(got == want, s"$name: got $got, want $want")
}

/** Everything a workload needs: the session, where it may write, its
  * seed and time budget, and where checked operations are counted. */
case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
    checks: Checks) {
  def slots: Int = spark.sparkContext.defaultParallelism
}

/** The timed samples of one `measure`: wall seconds of each pass over the
  * workload's input, and the latency in ms of each request or frame. */
case class Measured(passS: Seq[Double], latencyMs: Seq[Double])

/** One workload: `setup` runs before the first timed operation (input
  * generation and a warm-up pass), `measure` runs the timed part — with
  * `requests = false` only its passes, which is all the tracing-overhead
  * reference needs — and `layers` adds, in a traced run, the per-layer
  * metrics spans do not give. */
trait Workload {
  def setup(c: Ctx): Unit
  def measure(c: Ctx, spans: Spans, requests: Boolean): Measured
  def layers(c: Ctx, tracer: Tracer, progress: ProgressLog): Map[String, Double] = Map.empty
  /** Feed each checker a corrupted output; returns the checkers that
    * failed to notice. */
  def checkersCatchCorruption(c: Ctx): Seq[String]
  /** Same seed, same bytes; another seed, other bytes. */
  def determinism(c: Ctx): Seq[String]
}
