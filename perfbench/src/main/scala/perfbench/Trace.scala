package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end, parent and run id, written out
  * once when the run ends. Disabled, a span only runs its body. */
final class Spans(runId: String, enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def apply[T](name: String, parent: String = null)(body: => T): T = if (!enabled) body else {
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    try body
    finally spans.add(Map("name" -> name, "parent" -> parent, "run" -> runId,
      "start_ms" -> start, "end_ms" -> (start + (System.nanoTime() - t0) / 1000000L)))
  }

  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      spans.asScala.map(Json(_)).mkString("", "\n", "\n"))
}

/** Spark engine counters, keyed by the `perfbench.unit` local property of
  * the thread that launched each job (a micro-batch, a pass, or one
  * query phase). Jobs launched without the property are not counted. */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var shuffleWrite, inputBytes, spill, recordsWritten, gcMs, cpuNs, runMs = 0L
    var peakMem = 0L
    val stageSkew = mutable.ArrayBuffer.empty[Double]
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "shuffle_write_bytes" -> shuffleWrite, "input_bytes" -> inputBytes,
      "spill_bytes" -> spill, "records_written" -> recordsWritten,
      "gc_ms" -> gcMs, "cpu_ns" -> cpuNs, "task_run_ms" -> runMs,
      "peak_exec_mem_bytes" -> peakMem, "stage_skew" -> stageSkew.toSeq)
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def acc(unit: String) = accs.computeIfAbsent(unit, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val unit = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.Key)))
    unit.foreach { u =>
      val a = acc(u)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(stageUnit.put(_, u))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val u = stageUnit.get(e.stageId)
    if (u != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = acc(u)
      a.synchronized {
        a.tasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsWritten += m.outputMetrics.recordsWritten
        a.gcMs += m.jvmGCTime
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageTaskMs.get(e.stageId) += e.taskInfo.duration }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val u = stageUnit.get(id)
    val ms = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty)
    if (u != null && e.stageInfo.submissionTime.isDefined) {
      val a = acc(u)
      a.synchronized {
        a.stages += 1
        if (ms.nonEmpty) a.stageSkew += ms.last.toDouble / math.max(ms(ms.length / 2), 1L)
      }
    }
  }

  /** Counters of every unit seen, as plain maps. */
  def snapshot: Map[String, Map[String, Any]] =
    accs.asScala.map { case (k, a) => k -> a.synchronized(a.toMap) }.toMap
}

object EngineListener {
  val Key = "perfbench.unit"
  def setUnit(sc: SparkContext, unit: String): Unit = sc.setLocalProperty(Key, unit)
}

/** Exchange and join counts of a finished query's executed plan,
  * looking through adaptive query stages and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Int] = Map(
    "exchanges" -> collectWithSubqueries(plan) { case _: ShuffleExchangeLike => 1 }.size,
    "bhj" -> collectWithSubqueries(plan) { case _: BroadcastHashJoinExec => 1 }.size,
    "smj" -> collectWithSubqueries(plan) { case _: SortMergeJoinExec => 1 }.size)
}

/** Hands the executed plans of finished data source writes to the thread
  * that launched them; the listener bus delivers them asynchronously. */
final class SavedPlans extends QueryExecutionListener {
  private val q = new LinkedBlockingQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.isInstanceOf[V2WriteCommand]) q.put(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def clear(): Unit = q.clear()
  def next(timeoutMs: Long = 5000): Option[QueryExecution] =
    Option(q.poll(timeoutMs, TimeUnit.MILLISECONDS))
}
