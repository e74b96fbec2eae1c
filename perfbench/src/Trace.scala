package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Stage-level counters, summed over every task the session runs.
  * `selfNs` is the time spent in these callbacks: the listener's own cost. */
final class StageStats extends SparkListener {
  val jobs, stages, tasks, cpuNs, runMs, spillBytes, selfNs = new AtomicLong
  val shuffleReadBytes, shuffleWriteBytes, inputBytes, outputBytes, outputRecords = new AtomicLong

  private def counted(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    selfNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = counted(jobs.incrementAndGet())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counted(stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      outputRecords.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "executor_cpu_ns" -> cpuNs.get, "executor_run_ms" -> runMs.get,
    "spill_bytes" -> spillBytes.get, "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "input_bytes" -> inputBytes.get,
    "output_bytes" -> outputBytes.get, "output_records" -> outputRecords.get,
    "listener_ns" -> selfNs.get)
}

object Gc {
  /** (collection count, collection milliseconds) summed over all collectors. */
  def totals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans
    var n, ms = 0L
    beans.forEach { b => n += math.max(0L, b.getCollectionCount); ms += math.max(0L, b.getCollectionTime) }
    (n, ms)
  }
}

/** Wall-clock spans kept in memory and written once at the end. Times are
  * epoch milliseconds; `parent` is the enclosing span's name or empty. */
final case class Span(name: String, start: Double, end: Double, parent: String,
    counters: Map[String, Long])

final class Spans(val runId: String) {
  private val epochAtInit = System.currentTimeMillis().toDouble
  private val nanoAtInit = System.nanoTime()
  val buf = ArrayBuffer.empty[Span]

  def now(): Double = epochAtInit + (System.nanoTime() - nanoAtInit) / 1e6

  def add(name: String, start: Double, end: Double, parent: String = "",
      counters: Map[String, Long] = Map.empty): Unit =
    buf += Span(name, start, end, parent, counters)

  def timed[T](name: String)(f: => T): T = {
    val s = now()
    try f finally add(name, s, now())
  }

  def json: String = buf.map { s =>
    val c = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    f"""{"name":"${Json.esc(s.name)}","start":${s.start}%.3f,"end":${s.end}%.3f,""" +
      s""""parent":"${Json.esc(s.parent)}","run":"${Json.esc(runId)}","counters":{$c}}"""
  }.mkString("[", ",", "]")
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
