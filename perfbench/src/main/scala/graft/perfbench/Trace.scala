package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Counters of the Spark engine under the program: jobs, tasks, shuffle
  * bytes written, executor GC time, and job busy time (the summed
  * wall-clock of jobs, start to end). Registered once per session; a
  * layer's share is the difference of two [[snap]]s around its call.
  */
final class EngineCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val gcMs = new AtomicLong
  private val busyMs = new AtomicLong
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    started.put(e.jobId, e.time)
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(t => busyMs.addAndGet(e.time - t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snap: EngineCounters.Snap = EngineCounters.Snap(jobs.get, tasks.get,
    shuffleBytes.get, gcMs.get, busyMs.get)
}

object EngineCounters {
  final case class Snap(jobs: Long, tasks: Long, shuffleBytes: Long,
      gcMs: Long, busyMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, gcMs - o.gcMs, busyMs - o.busyMs)
  }
}

/** Spans recorded from outside the engine: one per call into a layer's
  * public function, with its parent, kept in memory and written as JSON
  * when the run ends. With tracing off, [[span]] only runs the body.
  */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val t0 = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, s - t0, System.nanoTime() - t0)
      }
    }

  /** Summed duration (s) of the spans named `name`. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  /** Duration (s) of the latest span named `name`. */
  def last(name: String): Double =
    spans.filter(_.name == name).lastOption
      .map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long)
}
