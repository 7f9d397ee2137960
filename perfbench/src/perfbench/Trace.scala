package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** One recorded span. Counters are filled by [[Trace]] (GC, codegen
  * compiles: global deltas over the span's lifetime) and by the listener
  * (jobs, tasks, shuffle, spill: attributed by the span id the submitting
  * thread set as a local property when the span opened). */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String,
    val thread: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var gcMs: Long = 0L
  @volatile var compiles: Long = 0L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** In-memory span recorder plus the outside-in Spark counters.
  *
  * A span opened in a thread becomes that thread's current span and is
  * written, explicitly, into the thread's Spark local property
  * [[Trace.SpanProp]] — never inherited: a pool thread gets the property
  * set when its own span opens, and cleared when it closes. */
final class Trace(sc: SparkContext, val runId: String) {
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val current = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      id.flatMap(i => Option(spans.get(i.toInt))).foreach { s =>
        s.jobs.incrementAndGet()
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }
  sc.addSparkListener(listener)

  /** Run `body` in a span under the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    spanUnder(current.get.headOption.getOrElse(0), name)(body)

  /** Run `body` in a span with an explicit parent — for work handed to a
    * pool thread, whose own current span says nothing about the caller. */
  def spanUnder[T](parent: Int, name: String)(body: => T): T = {
    val s = new Span(nextId.incrementAndGet(), name, parent, runId,
      Thread.currentThread.getName, System.nanoTime())
    spans.put(s.id, s)
    val outer = current.get
    current.set(s.id :: outer)
    sc.setLocalProperty(Trace.SpanProp, s.id.toString)
    val gc0 = Trace.gcMs()
    val cc0 = Trace.compiles()
    try body
    finally {
      s.compiles = Trace.compiles() - cc0
      s.gcMs = Trace.gcMs() - gc0
      s.endNs = System.nanoTime()
      current.set(outer)
      sc.setLocalProperty(Trace.SpanProp, outer.headOption.map(_.toString).orNull)
    }
  }

  def currentId: Int = current.get.headOption.getOrElse(0)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Deliver every queued listener event, then detach. */
  def close(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  /** Spans as JSON lines; times relative to `originNs`, in seconds. */
  def toJsonLines(originNs: Long): Seq[String] = all.map { s =>
    def sec(ns: Long) = ((ns - originNs) / 1e9).toString
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
      s""""thread":"${Json.esc(s.thread)}","start":${sec(s.startNs)},"end":${sec(s.endNs)},""" +
      s""""jobs":${s.jobs.get},"tasks":${s.tasks.get},"shuffle_bytes":${s.shuffleBytes.get},""" +
      s""""spill_bytes":${s.spillBytes.get},"gc_ms":${s.gcMs},"compiles":${s.compiles}}"""
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Janino compiles so far (Spark's own codegen metric, process-wide). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** VmHWM of this process in MiB (peak resident set). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
}
