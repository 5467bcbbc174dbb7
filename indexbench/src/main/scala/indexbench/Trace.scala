package indexbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One span: a call into a layer, or a trigger seen by the listener.
  * Times are wall-clock milliseconds (fractional). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder, written out once the run ends. When disabled
  * (`--trace 0`) `span` only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized { val i = nextId; nextId += 1; (i, stack.get.headOption.getOrElse(0)) }
      stack.set(id :: stack.get)
      val t0 = Tracer.wallMs()
      try body
      finally {
        val t1 = Tracer.wallMs()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Record a span measured elsewhere (a trigger from its progress event). */
  def add(name: String, parent: Int, start: Double, end: Double): Int = synchronized {
    val i = nextId; nextId += 1
    spans += Span(i, parent, name, start, end)
    i
  }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.start))

  /** Forget the spans recorded so far (the warm-up's). */
  def clear(): Unit = synchronized(spans.clear())
}

object Tracer {
  private val msBase = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  /** Wall-clock ms with nanoTime resolution, on the same clock as file
    * modification times. */
  def wallMs(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One trigger's progress: batch id, start time, `durationMs` phases and
  * input rows. An empty drain posts one without an `addBatch` phase. */
final case class Trigger(batchId: Long, start: Double, phases: Map[String, Long], inputRows: Long) {
  def ms: Double = phases.getOrElse("triggerExecution", 0L).toDouble
  def end: Double = start + ms
}

/** Streaming progress per trigger, from a StreamingQueryListener. */
final class TriggerLog(spark: SparkSession) extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[Trigger]
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    synchronized { buf += Trigger(p.batchId, t, phases, p.numInputRows) }
  }

  /** Triggers so far; waits until the listener bus has delivered every
    * event posted before the call. */
  def all: Seq[Trigger] = {
    org.apache.spark.indexbench.Bus.drain(spark.sparkContext)
    synchronized(buf.toList)
  }
  def clear(): Unit = { org.apache.spark.indexbench.Bus.drain(spark.sparkContext); synchronized(buf.clear()) }
}

/** Job and task counters from a SparkListener: job submission times (to
  * attribute jobs to spans), tasks, shuffle bytes written and executor CPU. */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val jobs = ArrayBuffer.empty[(Int, Double)]
  private val tasks = ArrayBuffer.empty[(Double, Long, Long)] // (end ms, shuffle bytes, cpu ns)
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += ((e.jobId, e.time.toDouble)) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += ((e.taskInfo.finishTime.toDouble, m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime))
    }
  }
  private def settle(): Unit = org.apache.spark.indexbench.Bus.drain(spark.sparkContext)

  def jobsIn(start: Double, end: Double): Int = { settle(); synchronized(jobs.count(j => j._2 >= start && j._2 <= end)) }
  def tasksIn(start: Double, end: Double): Int = { settle(); synchronized(tasks.count(t => t._1 >= start && t._1 <= end)) }
  def shuffleBytesIn(start: Double, end: Double): Long =
    { settle(); synchronized(tasks.filter(t => t._1 >= start && t._1 <= end).map(_._2).sum) }
  def cpuMsIn(start: Double, end: Double): Double =
    { settle(); synchronized(tasks.filter(t => t._1 >= start && t._1 <= end).map(_._3).sum / 1e6) }
}
