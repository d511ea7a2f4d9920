package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into a layer (or a Spark job it ran), with its parent
  * and the op it belongs to. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
                      start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Counters of one Spark job, from the listener. */
final case class JobStats(span: Int, start: Long, end: Long, tasks: Long,
    inputBytes: Long, inputRows: Long, shuffleBytes: Long)

/**
 * Spans around the benchmark's calls into each layer. Between [[start]] and
 * [[stop]] spans are recorded and a listener counts Spark jobs; otherwise
 * `span` only runs the body, so untraced ops pay nothing. The benchmark has a
 * single client thread, so a stack gives each span its parent; the active
 * span id rides on the Spark local property [[Tracer.Prop]], which every
 * job started inside it carries, so the listener attributes jobs to spans
 * even though it hears of them later.
 */
final class Tracer(sc: SparkContext) {
  private val epochOffset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochOffset

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = -1L
  private var on = false
  private val listener = new JobListener

  def start(): Unit = { sc.addSparkListener(listener); on = true }

  /** Stops recording once the listener bus has delivered every job's
    * end and no new job has arrived for 100 ms (bounded by 10 s). */
  def stop(): Unit = if (on) {
    on = false
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1
    while ((!listener.settled || listener.count != seen) &&
           System.nanoTime() < deadline) {
      seen = listener.count
      Thread.sleep(100)
    }
    sc.removeSparkListener(listener)
  }

  def beginOp(i: Long): Unit = op = i

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = now()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, now())
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Per-job counters, each keyed by the span that started the job. */
  def jobs(): Seq[JobStats] = listener.stats
}

object Tracer {
  val Prop = "graftbench.span"
}

final class JobListener extends SparkListener {
  private final class Acc(val span: Int, val start: Long) {
    var end = -1L; var tasks = 0L; var inBytes = 0L; var inRows = 0L
    var shuffle = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.HashMap.empty[Int, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(0)
    val acc = new Acc(span, e.time * 1000000L)
    jobs(e.jobId) = acc
    e.stageIds.foreach(stageJob(_) = acc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (acc <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      acc.tasks += 1
      acc.inBytes += m.inputMetrics.bytesRead
      acc.inRows += m.inputMetrics.recordsRead
      acc.shuffle += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def count: Int = synchronized(jobs.size)

  def settled: Boolean = synchronized(jobs.valuesIterator.forall(_.end >= 0))

  def stats: Seq[JobStats] = synchronized(jobs.valuesIterator.map(a =>
    JobStats(a.span, a.start, a.end, a.tasks, a.inBytes, a.inRows,
      a.shuffle)).toVector)
}
