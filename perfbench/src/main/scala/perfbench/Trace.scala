package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed region: name, start/end (ns), and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest per thread (a thread-local stack
  * gives the parent); they are only kept in memory and written out once,
  * when the run ends. While disabled, `apply` is a plain call. */
final class Spans {
  @volatile var enabled = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        buf.synchronized { buf += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = buf.synchronized(buf.toList)

  /** Self time per layer (the span name up to its first '.'): each span's
    * duration minus the part of its interval covered by its children
    * (overlapping children are merged, so concurrent child spans are not
    * subtracted twice). */
  def selfTimes: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
            if (b <= hi) (acc, hi)
            else (acc + (b - math.max(a, hi)), b)
          }._1
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def toJson: String = all.sortBy(_.start).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("[", ",\n", "]")
}

/** Spark runtime counters gathered by a listener the benchmark registers:
  * jobs, stages, tasks, task time split, shuffle, spill and scan/sink
  * bytes. `snapshot` differences give the counts of one region. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleBytes, spillBytes, inBytes, outBytes,
    maxTaskMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      maxTaskMs.accumulateAndGet(m.executorRunTime, math.max)
    }
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_run_s" -> runMs.get / 1e3,
    "task_cpu_s" -> cpuNs.get / 1e9, "task_gc_s" -> gcMs.get / 1e3,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "input_bytes" -> inBytes.get.toDouble,
    "output_bytes" -> outBytes.get.toDouble)
}
