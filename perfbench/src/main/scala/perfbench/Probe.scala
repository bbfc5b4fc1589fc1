package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Observes the engine from outside through Spark's public listeners:
  * per-op scheduler work (jobs, stages, tasks and their metrics), every
  * streaming micro-batch's progress, and executed-plan shapes.
  *
  * An op is named by the `perfbench.op` local property of the thread that
  * submits its jobs; a micro-batch is named by its query and batch id.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  val ops = new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private def stats(op: String) = ops.computeIfAbsent(op, _ => new OpStats)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey)))
        .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))
          .map(q => s"batch:$q#${x.getProperty("streaming.sql.batchId")}")))
        .getOrElse("other")
      e.stageIds.foreach(stageOp.put(_, op))
      stats(op).synchronized { stats(op).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = Option(stageOp.get(e.stageInfo.stageId)).getOrElse("other")
      val s = stats(op)
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val s = stats(Option(stageOp.get(e.stageId)).getOrElse("other"))
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.taskIntervals += ((i.launchTime, i.finishTime))
        }
      }
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.streams.addListener(streaming)

  def progressOf(queryIds: Set[String]): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => queryIds.contains(p.id.toString))

  /** Wait until the scheduler's listener bus has delivered every event
    * posted so far.
    */
  def drain(): Unit =
    org.apache.spark.perfbench.Internals.waitForListeners(spark.sparkContext)
}

object Probe {
  val OpKey = "perfbench.op"

  final class OpStats {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, schedDelayMs, shuffleWriteBytes, fetchWaitMs = 0L
    var spillBytes, inputBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Run `body` with its jobs attributed to `op`. */
  def withOp[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Operator counts of an executed plan, through adaptive query stages
    * and cached relations: the `plan.*` vector of one op.
    */
  def planCounts(df: DataFrame): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = Plans.foreach(p) {
      case _: ShuffleExchangeExec => counts("plan.exchanges") += 1
      case _: BroadcastExchangeExec => counts("plan.broadcast_exchanges") += 1
      case _: SortMergeJoinExec => counts("plan.smj") += 1
      case _: ShuffledHashJoinExec => counts("plan.shj") += 1
      case _: BroadcastHashJoinExec => counts("plan.bhj") += 1
      case _: ReusedExchangeExec => counts("plan.reused_exchanges") += 1
      case s: FileSourceScanExec =>
        counts("spark.files_read") += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => ()
    }
    walk(df.queryExecution.executedPlan)
    PlanKeys.map(k => k -> counts(k)).toMap + ("spark.files_read" -> counts("spark.files_read"))
  }

  val PlanKeys: Seq[String] = Seq("plan.exchanges", "plan.broadcast_exchanges",
    "plan.smj", "plan.shj", "plan.bhj", "plan.reused_exchanges")
}
