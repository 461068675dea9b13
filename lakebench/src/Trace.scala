package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: wall-clock window (the clock Spark stamps its events
  * with), the enclosing span, the cycle it ran in, and counts the
  * benchmark adds from the call's own result. */
final class Span(val id: Int, val name: String, val parent: Option[Span], val cycle: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  val gcStartMs: Long = Trace.gcMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  var gcMs: Long = 0L
  val counts = mutable.LinkedHashMap[String, Double]()
  val depth: Int = parent.fold(0)(_.depth + 1)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work seen by the listener, attributed afterwards to the
  * innermost span whose window holds `atMs`. */
final case class SparkEvent(atMs: Long, jobs: Int, tasks: Int, inputBytes: Long,
    shuffleBytes: Long, resultBytes: Long)

/** In-memory span recorder plus a listener that counts Spark jobs, tasks
  * and bytes. Off by default: an untraced run pays one branch per call. */
object Trace {
  @volatile var on = false
  var cycle = 0
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val events = new ConcurrentLinkedQueue[SparkEvent]()

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val s = new Span(spans.size, name, stack.headOption, cycle)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMillis() - s.gcStartMs
        stack = stack.tail
      }
    }

  /** The most recent traced span called `name` (None when untraced). */
  def lastSpan(name: String): Option[Span] =
    if (!on) None else spans.reverseIterator.find(_.name == name)

  /** Adds to the innermost open span's counts (no-op when untraced). */
  def count(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(SparkEvent(e.time, 1, 0, 0, 0, 0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        events.add(SparkEvent(e.taskInfo.launchTime, 0, 1, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.resultSize))
    }
  }

  /** Starts recording spans and Spark events (traced runs only). */
  def start(sc: SparkContext): Unit = if (!on) {
    sc.addSparkListener(listener)
    on = true
  }

  def stop(sc: SparkContext): Unit = if (on) {
    org.apache.spark.LakebenchBus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  /** Per-span sums of the Spark events inside each span's own window
    * (a child's events count for the child only). */
  def sparkTotals(sc: SparkContext): Map[Int, SparkEvent] = {
    org.apache.spark.LakebenchBus.drain(sc)
    val bySpan = mutable.HashMap[Int, SparkEvent]()
    events.asScala.foreach { ev =>
      val holders = spans.filter(s => s.startMs <= ev.atMs && ev.atMs <= s.endMs)
      if (holders.nonEmpty) {
        val s = holders.maxBy(h => (h.depth, h.startNs))
        val t = bySpan.getOrElse(s.id, SparkEvent(0, 0, 0, 0, 0, 0))
        bySpan(s.id) = SparkEvent(0, t.jobs + ev.jobs, t.tasks + ev.tasks,
          t.inputBytes + ev.inputBytes, t.shuffleBytes + ev.shuffleBytes,
          t.resultBytes + ev.resultBytes)
      }
    }
    bySpan.toMap
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent.contains(s)).map(_.seconds).sum

  /** The trace as JSON lines, one span each. */
  def dump(path: java.nio.file.Path, totals: Map[Int, SparkEvent]): Unit = {
    val lines = spans.map { s =>
      val t = totals.getOrElse(s.id, SparkEvent(0, 0, 0, 0, 0, 0))
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.fold(-1)(_.id)},""" +
        s""""cycle":${s.cycle},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""s":${s.seconds},"self_s":${selfSeconds(s)},"gc_s":${s.gcMs / 1e3},""" +
        s""""jobs":${t.jobs},"tasks":${t.tasks},"input_bytes":${t.inputBytes},""" +
        s""""shuffle_bytes":${t.shuffleBytes},"driver_bytes":${t.resultBytes},""" +
        s""""counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
