package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call. `parent` links op → pass → run; -1 marks the root. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, startMs: Long, var endNs: Long = -1L) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleBytes, spillBytes, inputBytes, outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** In-memory span recorder and the traced-run collectors.
  *
  * Spans nest by call order: every op runs on the driver thread, one at a
  * time, so an explicit stack gives each span its parent. The open span id
  * is also set as a Spark local property, so a job started inside it (on
  * this thread, or on a streaming thread spawned inside it) carries the id
  * and the listener can attribute the job, its stages and its tasks.
  * With tracing off nothing is recorded and no listener is registered.
  */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile var on = false
  var runId = ""
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var sc: SparkContext = _

  def start(spark: SparkSession, run: String): Unit = {
    sc = spark.sparkContext
    runId = run
    on = true
  }

  def stop(): Unit = {
    on = false
    if (sc != null) sc.setLocalProperty(SpanProp, null)
  }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      runId, System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Self time: duration minus the part its direct children cover
    * (children never overlap: they run one after another).
    */
  def selfMs(s: Span): Double =
    s.durMs - spans.iterator.filter(_.parent == s.id).map(_.durMs).sum

  // ---- Spark job/task attribution ----------------------------------

  val counts = mutable.Map[Int, SparkCounts]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, (Int, Long)]()

  object JobListener extends SparkListener {
    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { id =>
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(st => stageSpan(st) = id)
        counts.getOrElseUpdate(id, new SparkCounts).jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        counts(id).jobIntervals += ((t0, e.time))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts.getOrElseUpdate(id, new SparkCounts)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wall time of the span not covered by any of its jobs: planning,
    * metadata I/O and other driver-side work.
    */
  def driverMs(s: Span): Double = {
    val iv = counts.get(s.id).map(_.jobIntervals.sortBy(_._1)).getOrElse(Nil)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.durMs - covered)
  }

  // ---- streaming progress ------------------------------------------

  val progress = mutable.ArrayBuffer[java.util.Map[String, java.lang.Long]]()

  object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        if (e.progress.numInputRows > 0)
          progress += e.progress.durationMs
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    spark.streams.addListener(StreamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.streams.removeListener(StreamListener)
  }
}
