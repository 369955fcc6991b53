package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work done under one layer span: jobs, tasks, shuffle bytes
  * written, executor CPU and JVM GC time. */
final class Totals {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong

  def snapshot: Counts =
    Counts(jobs.get, tasks.get, shuffleBytes.get, cpuNs.get, gcMs.get)
}

final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long, cpuNs: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, cpuNs - o.cpuNs, gcMs - o.gcMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, cpuNs + o.cpuNs, gcMs + o.gcMs)
}

object Counts { val zero: Counts = Counts(0, 0, 0, 0, 0) }

/**
 * Listener that attributes Spark work to the innermost open span. A span
 * sets the `perfbench.layer` local property; every job started under it
 * (AQE query stages and broadcast jobs inherit the property) carries the
 * name, and its stages' task metrics are added to that layer's totals.
 * Work outside any span lands under `Trace.Untagged`.
 */
final class LayerCounters extends SparkListener {
  private val byLayer = new ConcurrentHashMap[String, Totals]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def totals(layer: String): Totals =
    byLayer.computeIfAbsent(layer, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.LayerKey)))
      .getOrElse(Trace.Untagged)
    totals(layer).jobs.incrementAndGet()
    e.stageIds.foreach(stageLayer.put(_, layer))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totals(stageLayer.getOrDefault(e.stageId, Trace.Untagged))
    t.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Wait until the listener bus has delivered the end of every job it
    * has seen start (events arrive asynchronously after an action
    * returns), so a snapshot taken next is complete. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (started.get != ended.get || System.currentTimeMillis() - stableSince < 100)) {
      val now = started.get + ended.get
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      Thread.sleep(10)
    }
  }

  def jobsStarted: Long = started.get

  def snapshot: Map[String, Counts] =
    byLayer.asScala.map { case (k, v) => k -> v.snapshot }.toMap
}

/** One timed call into a layer: name, start, end and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Trace(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List((0, Trace.Untagged))
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head._1
    stack = (id, name) :: stack
    sc.setLocalProperty(Trace.LayerKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Trace.LayerKey,
        if (stack.head._1 == 0) null else stack.head._2)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Spans recorded since `from` (an index into `all`). */
  def since(from: Int): Seq[Span] = spans.drop(from).toSeq

  def size: Int = spans.size
}

object Trace {
  val LayerKey = "perfbench.layer"
  val Untagged = "untagged"
}
