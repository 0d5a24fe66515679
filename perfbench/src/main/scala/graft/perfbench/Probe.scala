package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** Spark engine counters, summed over every job the session runs. */
final class EngineCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
    ()
  }

  def snapshot: Counts = Counts(jobs.get, stages.get, tasks.get, cpuNs.get,
    inputBytes.get, shuffleReadBytes.get, shuffleWriteBytes.get, spillBytes.get)
}

final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
                        inputBytes: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, inputBytes - o.inputBytes,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)

  /** The `spark.*` per-layer metrics these counts make. */
  def foreachMetric(f: (String, Double) => Unit): Unit = {
    f("spark.jobs", jobs.toDouble)
    f("spark.stages", stages.toDouble)
    f("spark.tasks", tasks.toDouble)
    f("spark.cpu_s", cpuNs / 1e9)
    f("spark.input_mb", inputBytes / 1e6)
    f("spark.shuffle_read_mb", shuffleReadBytes / 1e6)
    f("spark.shuffle_write_mb", shuffleWriteBytes / 1e6)
    f("spark.spill_mb", spillBytes / 1e6)
  }
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)
}

/** One timed call into a layer. `counts` is the engine work the call
  * caused (all zero when tracing is off).
  */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
                      counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times calls into the program's layers from outside. With `traced`,
  * each span also records the engine counters its call caused: the
  * listener bus is drained before and after the call, and the time spent
  * draining is kept apart as the tracer's own overhead. Spans stay in
  * memory until the run ends.
  */
final class Probe(sc: SparkContext, val traced: Boolean) {
  private val counters = new EngineCounters
  if (traced) sc.addSparkListener(counters)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Nanoseconds spent draining the bus and reading counters. */
  var overheadNs = 0L

  private def drained(): Counts = {
    val s = System.nanoTime()
    BusDrain(sc)
    val c = counters.snapshot
    overheadNs += System.nanoTime() - s
    c
  }

  def span[T](name: String, parent: String = "")(body: => T): T = {
    val before = if (traced) drained() else Counts.zero
    val start = System.nanoTime()
    val r = body
    val end = System.nanoTime()
    val after = if (traced) drained() else Counts.zero
    spans += Span(name, parent, start, end, after - before)
    r
  }

  def peakExecMemBytes: Long = counters.peakExecMem.get

  def close(): Unit = if (traced) sc.removeSparkListener(counters)
}
