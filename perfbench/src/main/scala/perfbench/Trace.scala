package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Executor work summed over tasks. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                      shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** Attributes every job, and every task of its stages, to the span named
  * by the job's [[SpanListener.Key]] local property (jobs without one go
  * to [[SpanListener.Untagged]]). Shuffle bytes are bytes written, spill
  * bytes are bytes spilled to disk. */
final class SpanListener extends SparkListener {
  import SpanListener._
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val bySpan = new ConcurrentHashMap[String, Work]()

  private def add(span: String, w: Work): Unit =
    bySpan.merge(span, w, (a: Work, b: Work) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse(Untagged)
    // a stage shared with an earlier job keeps that job's span: a skipped
    // stage runs no tasks here
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    add(span, Work(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val w = if (m == null) Work(tasks = 1)
      else Work(tasks = 1, cpuNs = m.executorCpuTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled)
    add(stageSpan.getOrDefault(e.stageId, Untagged), w)
  }

  /** Totals per span so far, after every posted event has been handled. */
  def snapshot(sc: SparkContext): Map[String, Work] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    bySpan.asScala.toMap
  }

  def total(sc: SparkContext): Work = snapshot(sc).values.foldLeft(Work())(_ + _)
}

object SpanListener {
  val Key = "perfbench.span"
  val Untagged = "untagged"
}

/** A finished span: wall interval in nanoseconds, its parent, its pass. */
final case class Span(pass: Int, name: String, parent: String,
                      startNs: Long, endNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Spans {
  /** Seconds of `parent` covered by none of `children`: the parent's
    * duration minus the union of the children's intervals clipped to it. */
  def selfSeconds(parent: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, parent.startNs),
        math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (parent.endNs - parent.startNs - covered) / 1e9
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Span recorder around the calls into each layer. Off, it only runs the
  * bodies. On, it tags the jobs each body launches with the span's name,
  * keeps the spans in memory, and [[force]] materializes a lazy frame so
  * its span holds its own layer's work and nothing downstream. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  var pass = 0

  def spans: Seq[Span] = done.toSeq

  /** Layer calls made, traced or not. */
  var calls = 0

  def span[T](name: String)(body: => T): T = {
    calls += 1
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse("")
      val prevTag = sc.getLocalProperty(SpanListener.Key)
      sc.setLocalProperty(SpanListener.Key, name)
      stack = name :: stack
      val gc0 = Spans.gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done += Span(pass, name, parent, t0, t1, Spans.gcMillis() - gc0)
        stack = stack.tail
        sc.setLocalProperty(SpanListener.Key, prevTag)
      }
    }
  }

  /** Traced: persist and count `df` inside span `name`. Untraced: `df`. */
  def force(name: String)(df: => DataFrame): DataFrame =
    if (!on) span(name)(df)
    else span(name) { val p = df.persist(); p.count(); p }
}
