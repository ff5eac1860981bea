package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a pass, an op, or a call inside an op. Spans of
  * one pass share `pass`; `parent` is the id of the enclosing span
  * (-1 for a pass).
  */
final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long, endNs: Long)

/** Engine work behind one op call, gathered while the op runs. */
final class OpStats {
  var planJobs = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val stageWallMs = new ConcurrentHashMap[Int, Long]()
  val plans = ArrayBuffer.empty[SparkPlan]

  /** Max over median task time in the op's longest-running stage. */
  def taskSkew: Double = {
    val longest = stageWallMs.asScala.toSeq.sortBy(-_._2).headOption.map(_._1)
    longest.flatMap(s => Option(stageTaskMs.get(s))).filter(_.nonEmpty).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
    }.getOrElse(1.0)
  }

  private def nodes: Seq[SparkPlan] = plans.toSeq.flatMap(Trace.walk)

  /** Rows out of graft's as-of join node. A left as-of join emits one
    * row per left row, and the node declares no row metric of its
    * own, so this reads the left input's row count.
    */
  def asofRowsOut: Long =
    nodes.collect { case n: graft.plans.AsofJoinExec => Trace.rows(n.left) }.sum

  /** Rows into graft's in-cell scoring node. */
  def cellScoreRowsIn: Long =
    nodes.collect { case n: graft.plans.CellScoreExec => Trace.rows(n.child) }.sum
}

/** Engine-side tracing: a SparkListener that charges jobs, stages and
  * tasks to the op running when they start, and a query listener that
  * keeps each executed physical plan for its SQL metrics. Only one op
  * runs at a time (a single closed-loop caller), so "the op running
  * now" is well defined.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var cur: OpStats = null
  @volatile var building = false
  private val stageOwner = new ConcurrentHashMap[Int, OpStats]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Blocks until every posted event has reached this listener. */
  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def begin(): OpStats = {
    drain()
    val s = new OpStats
    s.gcMs = -Trace.gcMs
    cur = s
    s
  }

  def end(s: OpStats): Unit = {
    drain()
    s.gcMs += Trace.gcMs
    cur = null
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = cur
    if (s != null) {
      if (building) s.synchronized(s.planJobs += 1)
      e.stageInfos.foreach(si => stageOwner.put(si.stageId, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageOwner.get(e.stageInfo.stageId)
    if (s != null)
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        s.stageWallMs.merge(e.stageInfo.stageId, b - a, (x: Long, y: Long) => x + y)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageOwner.get(e.stageId)
    if (s != null && e.taskMetrics != null) s.synchronized {
      s.stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration
      s.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      s.spillBytes += e.taskMetrics.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = cur
    if (s != null) s.synchronized(s.plans += qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {

  /** Stop-the-world GC time so far, over all collectors, in ms. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
      .map(b => math.max(0L, b.getCollectionTime))
      .sum

  /** Heap still in use right after a full collection, in MB. Spark
    * frees broadcast and shuffle blocks from a cleaner thread once the
    * first collection has found their handles unreachable, so a second
    * collection follows after the cleaner has had time to run.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Every node of an executed plan, through adaptive and reused stages. */
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(walk)
  }

  private val rowMetrics = Seq("numOutputRows", "shuffleRecordsWritten", "recordsRead")

  /** Rows a node emits: its own row metric, else the nearest one below
    * it through single-child nodes (sorts and codegen wrappers declare
    * none).
    */
  def rows(p: SparkPlan): Long = {
    val node = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q: QueryStageExec => q.plan
      case r: ReusedExchangeExec => r.child
      case other => other
    }
    rowMetrics.flatMap(node.metrics.get).headOption.map(_.value)
      .orElse(node.children.headOption.map(rows))
      .getOrElse(0L)
  }
}
