package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch nanoseconds; `request` is the id
  * of the root span (the iteration, batch or call) the span belongs to. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      request: Long, start: Long, end: Long) {
  def dur: Long = end - start
  def json: String =
    s"""{"id":$id,"name":"$name","layer":"$layer","parent":$parent,""" +
      s""""request":$request,"start_ns":$start,"end_ns":$end}"""
}

/** Client-side spans around the benchmark's calls into the library. When
  * disabled every method just runs its body: the end-to-end runs pay
  * nothing. When enabled each span tags the Spark jobs it triggers with a
  * job group `pb-<span id>`, which [[EngineListener]] reads back.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val offset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = System.nanoTime() + offset
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var request = 0L
  val spans = ArrayBuffer.empty[Span]

  def root[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      nextId += 1
      request = nextId
      record(name, "bench", f)
    }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f else record(name, layer, f)

  /** Id of the innermost open span (0 outside any span). */
  def current: Long = stack.headOption.getOrElse(0L)

  private def record[A](name: String, layer: String, f: => A): A = {
    val id = if (stack.isEmpty) request else { nextId += 1; nextId }
    val parent = current
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = now
    try f
    finally {
      spans += Span(id, name, layer, parent, request, t0, now)
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, name, interruptOnCancel = false)
    }
  }
}

object Tracer {
  def off(spark: org.apache.spark.sql.SparkSession): Tracer =
    new Tracer(spark.sparkContext, enabled = false)
}

/** What one completed stage did, summed over its tasks. */
final case class StageRec(stageId: Int, group: String, batchId: Long,
                          tasks: Int, cpuNs: Long, inBytes: Long,
                          inRecords: Long, outBytes: Long, outRecords: Long,
                          shuffleWrite: Long, shuffleRead: Long,
                          taskMs: Seq[Long])

final case class JobRec(jobId: Int, group: String, batchId: Long,
                        startMs: Long, endMs: Long)

final case class ProgressRec(batchId: Long, inputRows: Long,
                             durations: Map[String, Long])

/** Public scheduler and streaming events, recorded for the traced run.
  * Jobs and stages are tagged with the submitting thread's job group and
  * the `streaming.sql.batchId` local property. */
final class EngineListener extends SparkListener {
  @volatile var lastEventNs: Long = System.nanoTime()
  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val stageTags = new ConcurrentHashMap[Int, (String, Long)]()
  private val taskMs =
    new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()

  private def tags(p: java.util.Properties): (String, Long) =
    if (p == null) ("", -1L)
    else (Option(p.getProperty("spark.jobGroup.id")).getOrElse(""),
      Option(p.getProperty("streaming.sql.batchId")).map(_.toLong)
        .getOrElse(-1L))

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (g, b) = tags(e.properties)
    jobStarts.put(e.jobId, JobRec(e.jobId, g, b, e.time, -1L))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add(s.copy(endMs = e.time))
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageTags.put(e.stageInfo.stageId, tags(e.properties))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskMs.computeIfAbsent(e.stageId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (g, b) = Option(stageTags.get(si.stageId)).getOrElse(("", -1L))
    val m = si.taskMetrics
    val durs = Option(taskMs.remove(si.stageId)).map(_.asScala.toSeq)
      .getOrElse(Nil)
    if (m != null) stages.add(StageRec(si.stageId, g, b, si.numTasks,
      m.executorCpuTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, durs))
    touch()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      touch()
    }
  }

  /** Waits until no event has arrived for `quietMs` (listener delivery is
    * asynchronous), at most `maxMs`. */
  def quiesce(quietMs: Long = 400, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object Trace {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo),
      math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by layer. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.dur - covered(kids, s.start, s.end)
      }.sum
    }
  }
}
