package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs started while it was the
  * innermost open span, and their stages and tasks. Written by the listener
  * thread, read by the driver thread after [[Tracer.drain]]. */
final class Counters {
  var jobs         = 0L
  var stages       = 0L
  var tasks        = 0L
  var taskMs       = 0L
  var shuffleRead  = 0L
  var shuffleWrite = 0L
  var spill        = 0L
  /** per stage: task run times (ms) — the skew signal */
  val stageTaskMs = mutable.HashMap[Int, ArrayBuffer[Long]]()
}

/** One call into a layer. `job` is the benchmark job the span belongs to
  * (-1 during set-up); `sparkJobs` are the Spark job ids it started. */
final class Span(val id: Int, val name: String, val parent: Int, val job: Int,
                 val start: Long) {
  var end = 0L
  val sparkJobs = ArrayBuffer[Int]()
  val c = new Counters
  def seconds: Double = (end - start) / 1e9
}

/**
 * Span recorder. `span(name) { body }` is a no-op wrapper unless tracing is
 * on; when on it records (name, start, end, parent, job) in memory and tags
 * every Spark job started inside it with the span id (a local property, so
 * the listener can scope counters to the innermost span). Spans are written
 * out once, at the end of the run.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  /** toggled per job: traced and untraced jobs alternate in a traced run */
  var active = false
  var job = -1

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { sid =>
        val s = byId.get(sid.toInt)
        if (s != null) s.synchronized {
          s.sparkJobs += e.jobId
          s.c.jobs += 1
          e.stageIds.foreach(st => stageSpan.put(st, s))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null) s.synchronized { s.c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.c.tasks += 1
        s.c.taskMs += m.executorRunTime
        s.c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.c.spill += m.diskBytesSpilled
        s.c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
  })

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), job, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.BusDrain.drain(sc)

  /** Spans of one benchmark job with their self times (duration minus the
    * durations of their direct children). */
  def selfSeconds(jobNo: Int): Seq[(Span, Double)] = {
    val js = spans.filter(_.job == jobNo)
    val childSum = js.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    js.map(s => s -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toSeq
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"job":${s.job},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"spark_jobs":[${s.sparkJobs.mkString(",")}]}"""
  }
}
