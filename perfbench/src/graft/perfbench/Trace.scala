package graft.perfbench

import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.http.RequestCallback

/** Traced-run instrumentation, all kept in memory until the run ends:
  *   - [[Trace.Wire]]: a named graft [[RequestCallback]] timing every HTTP
  *     attempt (onRequest to onResponse/onException);
  *   - [[Trace.Listener]]: Spark task/stage/job counters;
  *   - codegen compile count and time from Spark's own counters;
  *   - spans around the benchmark's calls into each layer.
  */
object Trace {
  val CallbackName = "perfbench-trace"

  // ---- HTTP attempts ------------------------------------------------------

  object Wire {
    val attempts = new LongAdder
    val retries = new LongAdder
    val exceptions = new LongAdder
    val wireNanos = new LongAdder
    private val inflight = new AtomicInteger
    val inflightMax = new AtomicInteger
    val samplesMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

    def reset(): Unit = {
      Seq(attempts, retries, exceptions, wireNanos).foreach(_.reset())
      inflightMax.set(0)
      samplesMs.clear()
    }

    private[Trace] def started(): Unit =
      inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)

    private[Trace] def ended(nanos: Long): Unit = {
      inflight.decrementAndGet()
      wireNanos.add(nanos)
      samplesMs.add(nanos / 1e6)
    }
  }

  /** One instance per lookup task / sink partition writer (graft builds
    * the named callback per client). An attempt's response arrives on the
    * requesting thread for lookups and on a client thread for the sink;
    * an attempt is matched to its own thread's start if there is one, else
    * to the oldest open start (exact for the sink's one-in-flight writers).
    */
  final class WireCallback extends RequestCallback {
    @transient private lazy val open = new ConcurrentLinkedDeque[(Long, Long)]()
    @transient private lazy val retryUrl = new ThreadLocal[String]

    def onRequest(method: String, url: String, body: Option[String]): Unit = {
      Wire.attempts.increment()
      if (url == retryUrl.get()) Wire.retries.increment()
      retryUrl.remove()
      Wire.started()
      open.add(Thread.currentThread().getId -> System.nanoTime())
    }

    def onResponse(method: String, url: String, status: Int): Unit = {
      close()
      if (status >= 500) retryUrl.set(url)
    }

    def onException(method: String, url: String, e: Throwable): Unit = {
      Wire.exceptions.increment()
      close()
      retryUrl.set(url)
    }

    private def close(): Unit = {
      val now = System.nanoTime()
      val me = Thread.currentThread().getId
      val it = open.iterator()
      var found: (Long, Long) = null
      while (found == null && it.hasNext) {
        val e = it.next()
        if (e._1 == me) found = e
      }
      val start =
        if (found != null && open.remove(found)) found._2
        else Option(open.pollFirst()).map(_._2).getOrElse(now)
      Wire.ended(now - start)
    }
  }

  RequestCallback.register(CallbackName, _ => new WireCallback)

  /** Forces registration of [[CallbackName]]. */
  def init(): Unit = ()

  // ---- Spark --------------------------------------------------------------

  final case class SparkCounters(
      jobs: Long = 0,
      stages: Long = 0,
      tasks: Long = 0,
      runMs: Long = 0,
      cpuNs: Long = 0,
      gcMs: Long = 0,
      shuffleWrite: Long = 0,
      shuffleRead: Long = 0,
      spill: Long = 0,
      peakExecMem: Long = 0) {
    def -(o: SparkCounters): SparkCounters = SparkCounters(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, peakExecMem)
  }

  final class Listener extends SparkListener {
    private var c = SparkCounters()

    def snapshot(sc: SparkContext): SparkCounters = {
      org.apache.spark.perfbench.BusShim.drain(sc)
      synchronized(c)
    }

    /** Snapshot after clearing the running peak-memory maximum. */
    def mark(sc: SparkContext): SparkCounters = {
      org.apache.spark.perfbench.BusShim.drain(sc)
      synchronized { c = c.copy(peakExecMem = 0); c }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { c = c.copy(jobs = c.jobs + 1) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c = c.copy(stages = c.stages + 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        c = c.copy(
          tasks = c.tasks + 1,
          runMs = c.runMs + m.executorRunTime,
          cpuNs = c.cpuNs + m.executorCpuTime,
          gcMs = c.gcMs + m.jvmGCTime,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory))
      }
    }
  }

  // ---- codegen ------------------------------------------------------------

  /** (classes compiled, compile nanos) since JVM start. */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  // ---- spans --------------------------------------------------------------

  /** One timed call: `parent` is the span open on the same thread when it
    * started ("" at top level); times are nanoseconds since [[Origin]].
    */
  final case class Span(name: String, parent: String, startNs: Long, durNs: Long)

  private val Origin = System.nanoTime()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[String](() => "")

  /** Time `body` and keep it as a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.get()
    open.set(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(name, parent, t0 - Origin, System.nanoTime() - t0))
      open.set(parent)
    }
  }

  /** Write every span as one JSON line to `file` and print one summary
    * line per (parent, name).
    */
  def writeSpans(file: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.write(file, all.map { s =>
      s"""{"name": "${s.name}", "parent": "${s.parent}", "start_s": ${s.startNs / 1e9}, """ +
        s""""dur_s": ${s.durNs / 1e9}}"""
    }.asJava)
    all.groupBy(s => (s.parent, s.name)).toSeq.sortBy(_._2.head.startNs).foreach {
      case ((parent, name), ss) =>
        val d = ss.map(_.durNs / 1e9)
        println(s"span name=$name parent=${if (parent.isEmpty) "-" else parent} " +
          s"count=${d.size} total_s=${d.sum} median_s=${Stats.median(d)}")
    }
  }
}
