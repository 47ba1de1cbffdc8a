package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-job-group counters summed from `SparkListener` task-end events. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** A timed call into one layer's public functions, with the counters of
  * the jobs it launched while building its DataFrame (`build`) and in its
  * action. `parent` and `request` place it inside a pass or a request. */
case class Span(name: String, startNs: Long, endNs: Long, parent: String,
    request: Int, build: Counters, action: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Attributes every Spark job to the job group the benchmark set around
  * the call that launched it, and every streaming micro-batch job to its
  * query. Listener callbacks run on Spark's listener-bus thread; readers
  * call [[Tracer.fence]] first, which runs a tiny job and waits for its
  * task-end event, so everything posted before it has been seen. */
class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()

  /** Spans recorded so far, in completion order. */
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private def groupOf(props: java.util.Properties): String =
    // a micro-batch's job group is its run id, so the query id goes first
    Option(props).flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")).map("stream:" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    counters(g).synchronized { counters(g).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("other")
    val c = counters(g)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private var fenceSeq = 0

  /** Wait until the listener has seen every event posted so far. */
  def fence(): Unit = {
    fenceSeq += 1
    val g = s"fence-$fenceSeq"
    sc.setJobGroup(g, "perfbench fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    // every task-end of the traced calls was posted before the fence
    // job started, and the bus delivers in order
    while (counters(g).synchronized(counters(g).tasks) == 0) {
      require(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(2)
    }
    take(g)
  }

  /** Counters of one job group (an empty set if it launched nothing). */
  def take(group: String): Counters = Option(groups.remove(group)).getOrElse(new Counters)

  /** Streaming-query counters, summed over all of its micro-batches. */
  def streamCounters(queryId: String): Counters = take("stream:" + queryId)
}

/** Runs one call into a layer under two job groups: `<id>/build` while the
  * DataFrame is being built (eager jobs land here) and `<id>/action` for
  * the action that consumes it. Without a tracer the call is only timed. */
class Spans(spark: SparkSession, val tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private var seq = 0

  def run[A, B](name: String, parent: String = "", request: Int = -1)(build: => A)(
      action: A => B): (B, Double) = {
    seq += 1
    val id = s"$name#$seq"
    val t0 = System.nanoTime()
    if (tracer.isDefined) sc.setJobGroup(s"$id/build", name)
    val built = try build finally if (tracer.isDefined) sc.clearJobGroup()
    if (tracer.isDefined) sc.setJobGroup(s"$id/action", name)
    val out = try action(built) finally if (tracer.isDefined) sc.clearJobGroup()
    val t1 = System.nanoTime()
    tracer.foreach { t =>
      t.fence()
      t.spans.synchronized {
        t.spans += Span(name, t0, t1, parent, request, t.take(s"$id/build"),
          t.take(s"$id/action"))
      }
    }
    (out, (t1 - t0) / 1e9)
  }
}

/** Collects `StreamingQueryProgress` events per query. */
class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[java.util.UUID, java.util.List[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(e.progress)

  def progress(id: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(id)).map(l => l.synchronized(l.asScala.toList)).getOrElse(Nil)
}
