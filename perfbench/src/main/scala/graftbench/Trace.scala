package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region: `parent` is -1 for a root span; all spans of one
  * op share `op`. Times are epoch nanoseconds, so they line up with the
  * job times Spark's listener events carry. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans in memory while `on`. Each span tags the Spark jobs it
  * launches with its own job group, which is how [[SpanListener]]
  * rolls job, stage and task metrics into it. */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var on = false
  private var op = -1
  private var started = 0
  private var stack = List.empty[(Int, String)]
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  def forOp[T](id: Int)(body: => T): T = { op = id; try span("op")(body) finally op = -1 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = started
      started += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      val t0 = now()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, now())
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(Tracer.group(p), pName, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  private val Prefix = "graftbench-span-"
  def group(id: Int): String = Prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(Prefix)).map(_.drop(Prefix.length).toInt)

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      s.id -> Stats.uncovered(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Rolls each job's stages and tasks into the span whose job group
  * launched it. Callbacks run on the listener-bus thread; read
  * [[work]] only after the bus has drained. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, SparkWork]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]

  private def at(span: Int) = bySpan.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty(org.apache.spark.GraftBenchBus.JobGroupKey)).orNull
    Tracer.spanOf(group).foreach { span =>
      at(span).jobs += 1
      jobStart(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      at(span).jobIntervals += ((t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = at(span)
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def work: Map[Int, SparkWork] = synchronized(bySpan.toMap)
}
