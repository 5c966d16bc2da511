package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one phase of work, as the difference of two snapshots. */
final case class Counts(wallS: Double, jobs: Long, tasks: Long,
    runMs: Long, inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
    gcMs: Long) {
  def -(o: Counts): Counts = Counts(wallS - o.wallS, jobs - o.jobs,
    tasks - o.tasks, runMs - o.runMs, inputBytes - o.inputBytes,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    gcMs - o.gcMs)
  def +(o: Counts): Counts = Counts(wallS + o.wallS, jobs + o.jobs,
    tasks + o.tasks, runMs + o.runMs, inputBytes + o.inputBytes,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs)
  /** Σ executor run time ÷ (wall × cores). */
  def busyShare(cores: Int): Double =
    if (wallS <= 0) 0.0 else runMs / 1000.0 / (wallS * cores)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Engine counters for the traced run: a `SparkListener` for jobs/tasks
  * and task metrics, a `QueryExecutionListener` for each action's
  * analysis/optimization/planning time (from `QueryExecution.tracker`),
  * and the JVM collectors for GC time. One per process; `watch` adds a
  * session's actions. */
final class Meter(spark: SparkSession) {
  private val jobs, tasks, runMs, inputBytes, shuffleBytes, spillBytes =
    new AtomicLong(0L)
  /** (action name, plan ms) of every Dataset action since the last take. */
  val actions = new ConcurrentLinkedQueue[(String, Long)]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  /** Record the plan time of every action of `session` (the listener
    * manager is per session). */
  def watch(session: SparkSession): Unit =
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        actions.add(funcName -> ms)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Counts = {
    drain()
    Counts(System.nanoTime() / 1e9, jobs.get, tasks.get, runMs.get,
      inputBytes.get, shuffleBytes.get, spillBytes.get,
      Meter.gcMillis)
  }
}

object Meter {
  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this process in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }
}
