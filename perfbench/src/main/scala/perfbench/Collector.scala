package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spark cost attributed to one span (its job group). */
final class Cost {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskDurMs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var materializeMs = 0L
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  /** task durations of each stage the span ran */
  val stageTasks: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map.empty
  /** (persisted RDD, fully cached when first referenced, epoch ms) */
  val cacheRefs: ArrayBuffer[(Int, Boolean, Long)] = ArrayBuffer.empty
}

/** What one executed query's final physical plan shows. */
final case class PlanCounts(scanRows: Long, generateRows: Long, cacheScanRows: Long,
                            exchangeBytes: Long, codegenStages: Long)

/** Outside-in cost collector: a SparkListener keyed by the job group each
  * [[Tracer]] span sets, plus a walk of every executed query's final
  * plan. Listener callbacks arrive on Spark's listener thread; callers
  * read only after [[org.apache.spark.perfbenchglue.Bus.drain]]. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val costs = mutable.Map.empty[Int, Cost]
  private val stageGroup = mutable.Map.empty[Int, Int]
  private val stageMaterializing = mutable.Set.empty[Int]
  private val jobGroup = mutable.Map.empty[Int, (Int, Long)]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private val rddBytes = mutable.Map.empty[Int, Long]
  private val plans = ArrayBuffer.empty[PlanCounts]
  private val planOwner = mutable.Map.empty[Int, ArrayBuffer[PlanCounts]]

  private def groupOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toInt).getOrElse(0)

  private def cost(g: Int): Cost = costs.getOrElseUpdate(g, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = (g, e.time)
    cost(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) => cost(g).jobIntervals += ((start, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    val id = e.stageInfo.stageId
    stageGroup(id) = g
    val now = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
      val cached = blocks.keysIterator.count(_.rddId == r.id)
      val full = cached >= r.numPartitions
      if (!full) stageMaterializing += id
      cost(g).cacheRefs += ((r.id, full, now))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (stageMaterializing.remove(id))
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        cost(stageGroup.getOrElse(id, 0)).materializeMs += b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cost(stageGroup.getOrElse(e.stageId, 0))
    val m = e.taskMetrics
    val info = e.taskInfo
    c.tasks += 1
    c.taskDurMs += info.duration
    c.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += info.duration
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.deserMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      // Spark UI's scheduler delay: task time not spent deserializing,
      // running, serializing the result or fetching it
      c.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        if (e.blockUpdatedInfo.storageLevel.isValid && size > 0) blocks(b) = size
        else blocks.remove(b)
        val total = blocks.iterator.filter(_._1.rddId == b.rddId).map(_._2).sum
        rddBytes(b.rddId) = math.max(rddBytes.getOrElse(b.rddId, 0L), total)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val counts = Collector.walk(qe.executedPlan)
    synchronized(plans += counts)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Hand every plan executed since the last claim to span `id`. */
  def claimPlans(id: Int): Unit = synchronized {
    planOwner.getOrElseUpdate(id, ArrayBuffer.empty) ++= plans
    plans.clear()
  }

  def costOf(id: Int): Cost = synchronized(costs.getOrElse(id, new Cost))
  def plansOf(id: Int): Seq[PlanCounts] = synchronized(planOwner.getOrElse(id, ArrayBuffer.empty).toSeq)
  def bytesOf(rdd: Int): Long = synchronized(rddBytes.getOrElse(rdd, 0L))
  def heldBytes: Long = synchronized(blocks.valuesIterator.sum)
}

object Collector {
  private object Helper extends AdaptiveSparkPlanHelper

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** SQL metrics of a final plan, descending through adaptive query
    * stages: rows out of scans, Generate and InMemoryTableScan nodes,
    * bytes through exchanges, and whole-stage codegen stages. */
  def walk(plan: SparkPlan): PlanCounts = {
    var scan, gen, imts, exch, wscg = 0L
    Helper.foreach(plan) {
      case p: InMemoryTableScanExec => imts += metric(p, "numOutputRows")
      case p: GenerateExec => gen += metric(p, "numOutputRows")
      case p: Exchange => exch += metric(p, "dataSize")
      case _: WholeStageCodegenExec => wscg += 1
      case p if p.children.isEmpty => scan += metric(p, "numOutputRows")
      case _ =>
    }
    PlanCounts(scan, gen, imts, exch, wscg)
  }
}
