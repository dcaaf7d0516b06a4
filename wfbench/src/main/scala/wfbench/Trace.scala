package wfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine, recorded from the benchmark's side of
  * the API. Times are epoch milliseconds so they line up with Spark's task
  * launch/finish times. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, var endMs: Long = 0L)

/** In-memory span recorder. When tracing is on, each span also becomes the
  * Spark job group of the calling thread, so the engine listener can charge
  * jobs, stages and tasks to the span that caused them. When it is off, a
  * span is just its body. */
final class Tracer(spark: SparkSession) {
  val spans = new ArrayBuffer[Span]
  @volatile var enabled = false
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(s"span-${p.id}", p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }
}

final case class TaskRec(stage: Int, stageAttempt: Int, group: String, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, spillBytes: Long, peakExecBytes: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long, fetchWaitMs: Long,
                         inputBytes: Long, inputRecords: Long, resultBytes: Long, failed: Boolean)

final case class PlanRec(planMs: Long, filesRead: Long, filesPresent: Long,
                         filesWritten: Long, bytesWritten: Long)

/** Engine-side counters: a `SparkListener` for jobs, stages and tasks and a
  * session `QueryExecutionListener` for planning phases, scans and writes.
  * Both are attached only while tracing. */
final class EngineProbe(spark: SparkSession) {
  val tasks = new ArrayBuffer[TaskRec]
  val jobs = new ArrayBuffer[(Int, String)]
  val stages = new ArrayBuffer[(Int, Int)]
  val plans = new ArrayBuffer[PlanRec]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += e.jobId -> g
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages += e.stageInfo.stageId -> e.stageInfo.attemptNumber()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, e.stageAttemptId, stageGroup.getOrElse(e.stageId, ""),
        i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime, m.diskBytesSpilled,
        m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.resultSize, e.reason != Success)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      var read, present, written, bytes = 0L
      EngineProbe.walk(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          read += s.metrics.get("numFiles").fold(0L)(_.value)
          present += s.relation.location.inputFiles.length
        case w: DataWritingCommandExec =>
          written += w.cmd.metrics.get("numFiles").fold(0L)(_.value)
          bytes += w.cmd.metrics.get("numOutputBytes").fold(0L)(_.value)
        case _ =>
      }
      EngineProbe.this.synchronized { plans += PlanRec(planMs, read, present, written, bytes) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.wfbenchbridge.Bus.drain(spark.sparkContext)

  /** Position of every buffer, to cut a window later. */
  def mark(): (Int, Int, Int, Int) = synchronized { (tasks.size, jobs.size, stages.size, plans.size) }
  def since(m: (Int, Int, Int, Int)): (Seq[TaskRec], Seq[(Int, String)], Seq[(Int, Int)], Seq[PlanRec]) =
    synchronized {
      (tasks.drop(m._1).toSeq, jobs.drop(m._2).toSeq, stages.drop(m._3).toSeq, plans.drop(m._4).toSeq)
    }
}

object EngineProbe {
  /** Every physical operator of an executed plan, looking through adaptive
    * execution, query stages, command wrappers and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => w.children.flatMap(walk)
    case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
  })

  /** Process-wide codegen counters: (classes compiled, compile ns). */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** Heap occupancy left after a full collection, taken between jobs: the
  * live set the program retains. Young collections are not sampled: what
  * they leave includes old-generation garbage not yet collected, which
  * varies with collector timing rather than with the program. */
object HeapWatch {
  private var peak = 0L

  /** Run a full collection and record what it leaves. The second collection
    * follows a pause in which Spark's cleaner drops the blocks and
    * broadcasts the first one released, so their bytes are not counted as
    * live. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def reset(): Unit = peak = 0L
  def peakMb(): Double = peak / 1048576.0
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
