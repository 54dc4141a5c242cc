package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters the scheduler reports for one tag (a job group). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedMs += o.schedMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    inBytes += o.inBytes; inRows += o.inRows
  }
}

/** One timed interval. `parent` is -1 for a root. Times are nanoseconds
  * on the `System.nanoTime` clock.
  */
final case class Span(id: Int, parent: Int, name: String, label: String,
                      start: Long, end: Long)

/** The benchmark's own tracing: spans recorded around the calls it makes
  * into the engine, plus a SparkListener and a StreamingQueryListener
  * that attribute scheduler work to the job group the benchmark set for
  * each entry and phase. Everything stays in memory until [[write]].
  * When `on` is false no listener is registered and [[span]] only runs
  * its body.
  */
final class Trace(val on: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  // wall-clock (ms) to nanoTime offset, for listener-reported times
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nanoOf(epochMs: Long): Long = nanoAtEpoch + epochMs * 1000000L

  private val byTag = mutable.Map[String, Counters]()
  private val stageTag = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val jobSpans = mutable.ArrayBuffer[(String, Int, Long, Long)]()
  val progress = mutable.ArrayBuffer[
    StreamingQueryListener.QueryProgressEvent]()

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!on) body else {
      val id = spans.synchronized(spans.size)
      val parent = stack.headOption.getOrElse(-1)
      spans.synchronized(spans += Span(id, parent, name, label, 0L, 0L))
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans.synchronized(
          spans(id) = spans(id).copy(start = t0, end = System.nanoTime()))
      }
    }

  /** Records an interval measured elsewhere, e.g. on a streaming thread. */
  def record(name: String, label: String, start: Long, end: Long,
             parent: Int = -1): Unit =
    if (on) spans.synchronized(
      spans += Span(spans.size, parent, name, label, start, end))

  /** Id of the latest span called `name` with `label` (-1 if none). */
  def idOf(name: String, label: String): Int = spans.synchronized(
    spans.lastIndexWhere(s => s.name == name && s.label == label))

  /** Parents every root span called `child` to the span called `parent`
    * that carries the same label.
    */
  def nest(child: String, parent: String): Unit = spans.synchronized {
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.name == child && s.parent < 0)
        spans(i) = s.copy(parent = idOf(parent, s.label))
    }
  }

  /** Sets the job group that attributes scheduler work to `tag`. */
  def tag(spark: SparkSession, tag: String): Unit =
    if (on) spark.sparkContext.setJobGroup(tag, tag)

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      byTag.synchronized {
        val t = tagOf(j.properties)
        counters(t).jobs += 1
        jobStart(j.jobId) = (t, j.time)
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      byTag.synchronized {
        jobStart.remove(j.jobId).foreach { case (t, s) =>
          jobSpans += ((t, j.jobId, s, j.time))
        }
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      byTag.synchronized {
        val t = tagOf(s.properties)
        stageTag(s.stageInfo.stageId) = t
        counters(t).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      byTag.synchronized {
        val c = counters(stageTag.getOrElse(e.stageId, ""))
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRows += m.inputMetrics.recordsRead
          val i = e.taskInfo
          if (i != null)
            c.schedMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbench.SparkShim.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Sum of the counters of every tag that `keep` accepts. */
  def sum(keep: String => Boolean): Counters = byTag.synchronized {
    val out = new Counters
    byTag.foreach { case (t, c) => if (keep(t)) out += c }
    out
  }

  /** Completed spans plus one `job` span per scheduler job, each job
    * parented to the innermost benchmark span whose label is its tag.
    */
  def allSpans: Seq[Span] = {
    val own = spans.synchronized(spans.toVector)
    val byLabel = own.filter(_.label.nonEmpty).groupBy(_.label)
      .map { case (k, v) => k -> v.last.id }
    val jobs = byTag.synchronized(jobSpans.toVector).zipWithIndex.map {
      case ((t, jobId, s, e), i) =>
        Span(own.size + i, byLabel.getOrElse(t, -1), "job", s"job$jobId",
          nanoOf(s), nanoOf(e))
    }
    own ++ jobs
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its children's merged intervals cover.
    */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = if (on) {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""label":"${s.label}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
