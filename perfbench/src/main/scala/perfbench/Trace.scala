package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Host and process counters read around a measured window. */
object Host {
  final case class Cpu(steal: Long, total: Long)

  /** Aggregate jiffies from the first line of /proc/stat (user nice system
    * idle iowait irq softirq steal; guest time is already inside user). */
  def cpu(): Cpu = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Cpu(xs(7), xs.take(8).sum)
    } finally src.close()
  }

  def stealPct(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total)
    else 0.0

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }

  def processCpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Counters for one span label (a module and a phase, e.g. `Signals|c`). */
final class LayerAcc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, records = 0L
  /** max/median task run time of each stage with at least two tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]
}

/** Per-layer tracing, attached only for the traced run.
  *
  * Every timed call runs inside [[span]], which tags the calling thread's
  * Spark local property; jobs started under it (construction-time jobs,
  * actions, streaming micro-batches, whose thread inherits the property)
  * carry the tag, and the listener files stage and task metrics under it.
  * Catalyst phases, codegen compile time and streaming progress are
  * summed over the whole window, since their events carry no tag.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Key
  private val sc = spark.sparkContext

  private val byLabel = mutable.Map.empty[String, LayerAcc]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val catalystMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L,
    "planning" -> 0L)
  var batches = 0L
  var streamRows = 0L
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val compileNs0 = CodeGenerator.compileTime

  private def acc(label: String): LayerAcc =
    byLabel.getOrElseUpdate(label, new LayerAcc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val label = Option(e.properties).map(_.getProperty(Key)).orNull
        if (label != null) {
          acc(label).jobs += 1
          e.stageIds.foreach(stageLabel(_) = label)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        stageLabel.get(e.stageId).filter(_ => m != null).foreach { label =>
          val a = acc(label)
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.records += m.inputMetrics.recordsRead
          stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stageLabel.get(id).foreach { label =>
          val a = acc(label)
          a.stages += 1
          stageRuns.remove(id).filter(_.size >= 2).foreach { runs =>
            val sorted = runs.sorted
            val p50 = math.max(sorted(sorted.size / 2), 1L)
            a.stageSkew += sorted.last.toDouble / p50
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (catalystMs.contains(phase)) catalystMs(phase) += s.durationMs
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        batches += 1
        streamRows += p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v }
      }
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def span[T](label: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Drains the listener bus, detaches every hook and returns the
    * per-label counters plus the codegen compile time of the window. */
  def finish(): (Map[String, LayerAcc], Double) = {
    org.apache.spark.perfbench.ListenerBusDrain.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    synchronized((byLabel.toMap, compileMs))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
