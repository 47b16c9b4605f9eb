package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Process-wide JVM counters, read at pass and phase boundaries. */
final case class JvmCounters(compiles: Long, codegenNs: Long, jitMs: Long, gcMs: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(compiles - o.compiles, codegenNs - o.codegenNs, jitMs - o.jitMs, gcMs - o.gcMs)
  def +(o: JvmCounters): JvmCounters =
    JvmCounters(compiles + o.compiles, codegenNs + o.codegenNs, jitMs + o.jitMs, gcMs + o.gcMs)
}

object JvmCounters {
  val zero: JvmCounters = JvmCounters(0, 0, 0, 0)
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def now(): JvmCounters = JvmCounters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
    gcs.map(g => math.max(0L, g.getCollectionTime)).sum)

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

/** Counters of every job that ran under one job group (one op phase). */
final class GroupAcc {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var maxTaskMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inRows = 0L
  var inBytes = 0L
  var outBytes = 0L
  /** Wall-clock intervals (epoch ms) during which a job of the group ran. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** RDD blocks stored while a job of the group ran: (rddId, bytes). */
  val blocks = mutable.ArrayBuffer.empty[(Int, Long)]
}

/** Benchmark-side listener: attributes jobs, stages, tasks and stored RDD
  * blocks to the job group that was set when the job was submitted. The
  * harness sets one group per op phase, so the per-pass trace can split
  * a pass into build, plan, action and driver-side work.
  */
final class LayerListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupAcc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val active = mutable.ArrayBuffer.empty[Int]

  // SparkContext.SPARK_JOB_GROUP_ID, which is package-private
  private val JobGroupKey = "spark.jobGroup.id"

  private def acc(g: String): GroupAcc = groups.getOrElseUpdate(g, new GroupAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("none")
    val a = acc(g)
    a.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobStart(e.jobId) = (g, e.time)
    active += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => acc(g).jobSpans += ((t0, e.time)) }
    active -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = info.memSize + info.diskSize
    info.blockId.asRDDId.filter(_ => bytes > 0 && active.nonEmpty).foreach { rdd =>
      acc(jobStart.get(active.last).map(_._1).getOrElse("none")).blocks += ((rdd.rddId, bytes))
    }
  }

  /** Removes and returns the accumulators of the given groups. */
  def take(names: Iterable[String]): Map[String, GroupAcc] = synchronized {
    names.flatMap(n => groups.remove(n).map(n -> _)).toMap
  }

  def clear(): Unit = synchronized { groups.clear(); stageGroup.clear() }
}
