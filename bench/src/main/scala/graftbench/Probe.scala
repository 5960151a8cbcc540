package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SortExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did during one op: jobs, tasks, stages (from a
  * SparkListener) and the AQE-final executed plan of every action (from
  * a QueryExecutionListener). Installed only for traced runs. */
final class Probe(spark: SparkSession) {

  case class Job(id: Int, callSite: String, execId: String, stageIds: Seq[Int],
      startMs: Long, var endMs: Long = -1L)
  case class Task(stageId: Int, durMs: Long, runMs: Long, shuffleWrite: Long, spill: Long,
      failed: Boolean)

  private val jobs = mutable.ArrayBuffer[Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val stageShuffle = mutable.Map[Int, Int]() // stageId -> shuffleDepId
  private val plans = mutable.ArrayBuffer[QueryExecution]()
  @volatile private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      // a job's call site is the name of its final stage, e.g. "collect at X.scala:12"
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      val exec = Option(e.properties).map(_.getProperty("spark.sql.execution.id", "")).getOrElse("")
      jobs += Job(e.jobId, site, exec, e.stageIds, e.time)
      e.stageInfos.foreach(s => BenchBus.shuffleDepId(s).foreach(d => stageShuffle(s.stageId) = d))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      tasks += (if (m == null) Task(e.stageId, e.taskInfo.duration, 0, 0, 0, failed)
      else Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, failed))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) synchronized { plans += qe }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Start collecting for one op (drops what the previous op left). */
  def begin(): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized { jobs.clear(); tasks.clear(); stageShuffle.clear(); plans.clear() }
    on = true
  }

  /** Stop collecting and return the op's record. */
  def end(): OpSpark = {
    BenchBus.drain(spark.sparkContext)
    on = false
    synchronized {
      OpSpark(jobs.toList, tasks.toList, stageShuffle.toMap, plans.toList.map(Probe.nodes))
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** One op's Spark record; `plans` holds each action's flattened plan. */
final case class OpSpark(
    jobs: List[Probe#Job],
    tasks: List[Probe#Task],
    stageShuffle: Map[Int, Int],
    plans: List[Seq[SparkPlan]]) {

  def allNodes: Seq[SparkPlan] = plans.flatten
  def taskMs: Long = tasks.map(_.runMs).sum
  def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
  def spill: Long = tasks.map(_.spill).sum
  def failedTasks: Int = tasks.count(_.failed)

  /** Tasks of the stage that writes shuffle `shuffleId`. */
  def tasksOfShuffle(shuffleId: Int): List[Probe#Task] = {
    val stages = stageShuffle.collect { case (s, d) if d == shuffleId => s }.toSet
    tasks.filter(t => stages.contains(t.stageId))
  }
}

object Probe {

  /** Every node of an executed plan, looking through AQE wrappers and
    * query stages into the plan AQE actually ran. */
  def nodes(qe: QueryExecution): Seq[SparkPlan] = nodes(qe.executedPlan)

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def hashExchanges(ns: Seq[SparkPlan]): Seq[ShuffleExchangeExec] = ns.collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.toString.startsWith("hashpartitioning") => e
  }
  def sorts(ns: Seq[SparkPlan]): Seq[SortExec] = ns.collect { case s: SortExec => s }
  def windows(ns: Seq[SparkPlan]): Seq[WindowExec] = ns.collect { case w: WindowExec => w }
  def skewSplits(ns: Seq[SparkPlan]): Long =
    ns.collect { case r: AQEShuffleReadExec => metric(r, "numSkewedSplits") }.sum

  /** Shuffle ids of the query stages whose own subtree (not crossing
    * into another stage) runs a WindowExec: the stages that do the
    * window work. */
  def windowStageShuffles(ns: Seq[SparkPlan]): Seq[Int] = ns.collect {
    case q: QueryStageExec if stageLocal(q.plan).exists(_.isInstanceOf[WindowExec]) =>
      q.plan match {
        case e: ShuffleExchangeExec => Some(e.shuffleDependency.shuffleId)
        case _                      => None
      }
  }.flatten

  /** Nodes of a stage's own subtree, stopping at nested query stages. */
  def stageLocal(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: QueryStageExec => Nil
    case other             => other +: other.children.flatMap(stageLocal)
  }
}
