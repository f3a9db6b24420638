package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime counters at one instant. Spark counters come from [[Probe]]'s
  * listeners; JVM and process counters are read directly.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long,
    execRunMs: Long, execCpuNs: Long, schedDelayMs: Long,
    shuffleWriteB: Long, shuffleReadB: Long,
    spillB: Long, peakExecMemB: Long, planNs: Long,
    gcMs: Long, jitMs: Long, readB: Long, writeB: Long, wallNs: Long) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    execRunMs - o.execRunMs, execCpuNs - o.execCpuNs, schedDelayMs - o.schedDelayMs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    spillB - o.spillB, peakExecMemB, planNs - o.planNs,
    gcMs - o.gcMs, jitMs - o.jitMs, readB - o.readB, writeB - o.writeB, wallNs - o.wallNs)

  /** Two intervals' deltas together (peak memory: the larger). */
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    execRunMs + o.execRunMs, execCpuNs + o.execCpuNs, schedDelayMs + o.schedDelayMs,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    spillB + o.spillB, math.max(peakExecMemB, o.peakExecMemB), planNs + o.planNs,
    gcMs + o.gcMs, jitMs + o.jitMs, readB + o.readB, writeB + o.writeB, wallNs + o.wallNs)

  /** Runtime-layer metrics of the interval this delta covers. */
  def metrics(cores: Int): Map[String, Double] = {
    val wall = wallNs / 1e9
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> execRunMs / 1e3,
      "spark.executor_cpu_s" -> execCpuNs / 1e9,
      "spark.sched_delay_s" -> schedDelayMs / 1e3,
      "spark.core_util" -> (if (wall > 0) execRunMs / 1e3 / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> shuffleWriteB / 1e6,
      "spark.shuffle_read_mb" -> shuffleReadB / 1e6,
      "spark.spill_mb" -> spillB / 1e6,
      "spark.peak_exec_mem_mb" -> peakExecMemB / 1e6,
      "catalyst.plan_s" -> planNs / 1e9,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> jitMs / 1e3,
      "io.read_mb" -> readB / 1e6,
      "io.write_mb" -> writeB / 1e6)
  }
}

object Counters {
  val metricNames: Seq[String] = zero.metrics(1).keys.toSeq.sorted
  def zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Process-level readings that need no listener. */
object Proc {
  private def field(file: String, key: String): Long =
    try Files.readAllLines(Path.of(file)).asScala
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** Bytes the process read / wrote through syscalls (/proc/self/io). */
  def readBytes: Long = field("/proc/self/io", "rchar:")
  def writeBytes: Long = field("/proc/self/io", "wchar:")

  /** Peak resident set size in MB (VmHWM). */
  def peakRssMb: Double = field("/proc/self/status", "VmHWM:") / 1024.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** The traced run's listeners: a [[SparkListener]] for job, stage and task
  * counters and a [[QueryExecutionListener]] for Catalyst planning time.
  * Registered only while a traced pass runs; an untraced run never creates
  * one.
  */
final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, execRunMs, execCpuNs, schedDelayMs = new LongAdder
  private val shuffleWriteB, shuffleReadB, spillB, planNs = new LongAdder
  private val peakExecMemB = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        execRunMs.add(m.executorRunTime)
        execCpuNs.add(m.executorCpuTime)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        spillB.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecMemB.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
        // The web UI's definition of scheduler delay.
        if (i != null && i.finishTime > 0) {
          val getting = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
          schedDelayMs.add(math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - getting))
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planNs.add(qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def manager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    manager.register(planListener)
  }

  def stop(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    manager.unregister(planListener)
  }

  /** Counters now; drains the listener bus first so that every finished
    * job is counted.
    */
  def read(): Counters = {
    ListenerBus.drain(spark.sparkContext)
    Counters(jobs.sum, stages.sum, tasks.sum, execRunMs.sum, execCpuNs.sum, schedDelayMs.sum,
      shuffleWriteB.sum, shuffleReadB.sum, spillB.sum, peakExecMemB.getAndSet(0),
      planNs.sum, Proc.gcMs, Proc.jitMs, Proc.readBytes, Proc.writeBytes, System.nanoTime())
  }
}

/** One timed call into a layer's public function. */
final case class Span(name: String, pass: Int, parent: String, startNs: Long, endNs: Long,
                      ioWriteB: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written into the run record when the run ends. */
final class Spans(t0: Long) {
  val all = ArrayBuffer.empty[Span]

  def apply[T](name: String, pass: Int, parent: String = "")(body: => T): T = {
    val w0 = Proc.writeBytes
    val s = System.nanoTime()
    try body
    finally all += Span(name, pass, parent, s, System.nanoTime(), Proc.writeBytes - w0)
  }

  def records: Seq[Map[String, Any]] = all.toSeq.map(s => Map(
    "name" -> s.name, "pass" -> s.pass, "parent" -> s.parent,
    "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
}
