package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top); every span of one run shares `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: summed over the jobs, stages, tasks
  * and SQL executions that ran while the span was the innermost one. */
final class Work {
  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
  var spillBytes, peakExecMem, cpuNs, gcMs = 0L
  var exchanges, reusedExchanges = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    cpuNs += o.cpuNs; gcMs += o.gcMs
    exchanges += o.exchanges; reusedExchanges += o.reusedExchanges
  }
}

/** Counts Spark work per job group. The tracer sets the job group to the
  * innermost open span, so every job, stage, task and SQL execution lands
  * on the span that caused it. Exchange counts come from the final
  * adaptive plan of each SQL execution. */
final class WorkListener extends SparkListener {
  val byGroup = mutable.Map[String, Work]()
  private val stageGroup = mutable.Map[Int, String]()
  private val execGroup = mutable.Map[Long, String]()
  private val execPlan = mutable.Map[Long, SparkPlanInfo]()

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    work(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = work(stageGroup.getOrElse(info.stageId, ""))
    w.stages += 1
    w.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrElse(e.stageId, ""))
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("")
        execPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execPlan(u.executionId) = u.sparkPlanInfo
      case x: SparkListenerSQLExecutionEnd =>
        for (plan <- execPlan.remove(x.executionId)) {
          val w = work(execGroup.remove(x.executionId).getOrElse(""))
          def walk(p: SparkPlanInfo): Unit = {
            p.nodeName match {
              case "Exchange" | "BroadcastExchange" => w.exchanges += 1
              case "ReusedExchange" => w.reusedExchanges += 1
              case _ =>
            }
            p.children.foreach(walk)
          }
          walk(plan)
        }
      case _ =>
    }
  }
}

/** Spans and counts for one run. Disabled, `span` only runs its body: the
  * untraced run pays nothing. Enabled, each span sets the Spark job group
  * so that [[WorkListener]] can attribute work to it. */
final class Tracer(spark: SparkSession, val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  /** Work counts the benchmark takes itself (files, buckets, rows). */
  val counts = mutable.LinkedHashMap[String, Double]()
  private var stack = List.empty[Span]
  private var listener: Option[WorkListener] = None

  def enabled: Boolean = listener.isDefined

  def start(): Unit = {
    val l = new WorkListener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
  }

  /** Stops listening; waits until every event already posted is handled. */
  def stop(): WorkListener = {
    val l = listener.get
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    listener = None
    l
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId,
        System.nanoTime())
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(s"span-${p.id}", p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Self time: the span's duration minus the time its children cover
    * (children of one client thread never overlap). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** Rows that the scans of one table returned in a query that has run: the
  * `numOutputRows` SQL metric of each such scan in its executed (final
  * adaptive) plan, subqueries included. */
object ScanRows extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame, table: String): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) =>
        s.metrics("numOutputRows").value
    }.sum
}
