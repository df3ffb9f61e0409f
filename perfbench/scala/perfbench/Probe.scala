package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the engine: one SparkListener (jobs,
  * stages, tasks and task metrics) and one QueryExecutionListener
  * (planning phases and operator counts of each executed plan). The
  * counters only grow; a span reads them at its start and end and keeps
  * the difference. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val stageTasks = mutable.Map.empty[Int, ArrayBuffer[Long]] // listener thread only
  private val skews = ArrayBuffer.empty[Double]

  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private val CheckpointSites = Seq("localCheckpoint", "checkpoint", "count")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("sched.jobs", 1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      if (CheckpointSites.exists(s => site.startsWith(s + " at "))) add("sched.checkpoint_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("sched.stages", 1)
      stageTasks.remove(e.stageInfo.stageId).filter(_.size > 1).foreach { ds =>
        val s = ds.sorted
        val med = s(s.size / 2).toDouble
        if (med > 0) skews.synchronized { skews += s.last / med }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        add("store.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        phases.get(ph).foreach(s => add(s"plan.${ph}_ms", s.durationMs.toDouble))
      }
      nodes(qe.executedPlan).foreach {
        case _: Exchange => add("plan.exchanges", 1)
        case _: DataSourceScanExec | _: BatchScanExec => add("plan.scans", 1)
        case _: SortMergeJoinExec => add("plan.smj", 1)
        case _: BroadcastHashJoinExec => add("plan.bhj", 1)
        case _: BroadcastNestedLoopJoinExec => add("plan.bnlj", 1)
        case _ => ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Counter values once every event posted so far has been seen. */
  def snapshot(): Probe.Snap = {
    Bus.drain(sc)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    Probe.Snap(sums.asScala.map { case (k, v) => k -> v.sum() }.toMap + ("jvm.gc_s" -> gc),
      skews.synchronized(skews.size))
  }

  /** Counter growth between two snapshots; `exec.skew` is the largest
    * max/median task-time ratio of the stages completed in between. */
  def delta(a: Probe.Snap, b: Probe.Snap): Map[String, Double] = {
    val grown = b.sums.map { case (k, v) => k -> (v - a.sums.getOrElse(k, 0.0)) }
    val skew = skews.synchronized(skews.slice(a.skewCount, b.skewCount).maxOption)
    Probe.Counters.map(k => k -> grown.getOrElse(k, 0.0)).toMap + ("exec.skew" -> skew.getOrElse(1.0))
  }
}

object Probe {
  final case class Snap(sums: Map[String, Double], skewCount: Int)

  /** Additive counters and their units, in the order they are reported. */
  val Units: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.exchanges" -> "count", "plan.scans" -> "count", "plan.smj" -> "count",
    "plan.bhj" -> "count", "plan.bnlj" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.checkpoint_jobs" -> "count",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.records" -> "count",
    "spill.bytes" -> "bytes", "scan.bytes_read" -> "bytes", "scan.records_read" -> "count",
    "store.bytes_written" -> "bytes", "jvm.gc_s" -> "s")
  val Counters: Seq[String] = Units.map(_._1)

  /** Peak heap use since the last reset, in MB (sum of the heap pools' peaks). */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
}
