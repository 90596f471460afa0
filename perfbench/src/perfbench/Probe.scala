package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{PerfbenchPlans, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Work counted inside one span. Additive except `peakExecMem`, which is
  * the largest single task's peak execution memory. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  /** Exchanges in the final plans of the SQL executions the span ran. */
  var finalExchanges = 0L
  /** Tables those plans scan. */
  val tables = scala.collection.mutable.SortedSet.empty[String]
}

/** Charges Spark jobs, stages, tasks and SQL executions to the benchmark's
  * spans.
  *
  * A span is named by a local property set on the calling thread while it
  * runs. Spark copies local properties into every job it launches for that
  * thread, including the broadcast and subquery jobs it starts from its own
  * pools, so a job is charged to the span that caused it however late its
  * events arrive. Events reach this listener asynchronously: [[take]] first
  * drains the listener bus, after which every event of a finished span has
  * been counted. Nothing sleeps. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val spans = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val executionSpan = new ConcurrentHashMap[Long, String]()
  private val latestPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()

  private def counts(span: String): Counts = spans.computeIfAbsent(span, _ => new Counts)
  private def property(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  /** Runs `body` with every job it launches charged to `span`. */
  def charged[T](span: String)(body: => T): T = {
    sc.setLocalProperty(Probe.Key, span)
    try body finally sc.setLocalProperty(Probe.Key, null)
  }

  /** Drains the bus, then removes and returns the counters of `spans`. */
  def take(names: Seq[String]): Seq[Counts] = {
    PerfbenchBus.drain(sc)
    names.map(n => Option(spans.remove(n)).getOrElse(new Counts))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    property(e.properties, Probe.Key).foreach { s =>
      counts(s).jobs += 1
      property(e.properties, "spark.sql.execution.id")
        .foreach(id => executionSpan.put(id.toLong, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    property(e.properties, Probe.Key).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      counts(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = c.peakExecMem.max(m.peakExecutionMemory)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => latestPlan.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => latestPlan.put(u.executionId, u.sparkPlanInfo)
    case end: SparkListenerSQLExecutionEnd =>
      val plan = Option(latestPlan.remove(end.executionId))
      Option(executionSpan.remove(end.executionId)).zip(plan).foreach { case (s, p) =>
        counts(s).finalExchanges += Probe.exchanges(p)
        counts(s).tables ++= Probe.scannedTables(p)
      }
    case _ =>
  }
}

object Probe {
  val Key = "perfbench.span"

  /** Shuffle and broadcast exchanges in a plan, subqueries and adaptive
    * query stages included; a reused exchange is not counted again. */
  def exchanges(info: SparkPlanInfo): Int = info.nodeName match {
    case "ReusedExchange" | "ReusedSubquery" => 0
    case name => (if (name == "Exchange" || name == "BroadcastExchange") 1 else 0) +
      info.children.map(exchanges).sum
  }

  def exchanges(plan: SparkPlan): Int = exchanges(PerfbenchPlans.info(plan))

  private val TableFile = """([A-Za-z0-9_]+)\.parquet""".r

  /** Names of the `<name>.parquet` tables a plan's file scans read. */
  def scannedTables(info: SparkPlanInfo): Set[String] =
    info.metadata.get("Location").toSet[String].flatMap(l => TableFile.findAllMatchIn(l).map(_.group(1))) ++
      info.children.flatMap(scannedTables)
}
