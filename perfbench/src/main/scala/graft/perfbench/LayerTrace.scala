package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.perfbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics of one layer, summed over every task of every stage whose job
  * ran under the layer's job group. */
final class LayerTotals {
  var wallNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var fetchWaitMs = 0L; var shuffleWriteNs = 0L
  var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var jobs = 0; var failedTasks = 0
  /** Executed physical plans of the SQL actions the layer ran. */
  val plans = mutable.ArrayBuffer.empty[SparkPlan]
}

/**
 * Per-layer collection for the traced pass. Each call into a layer runs under
 * a Spark job group named after the layer ([[layer]]); one listener maps every
 * stage to the group of the job that submitted it and folds the stage's task
 * metrics into that group's totals. Jobs are counted at job start, the way
 * JobCountSpec counts them by group. Every read drains the listener bus first,
 * so totals never depend on how far the asynchronous bus has got.
 */
final class LayerTrace(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, LayerTotals]
  private val pendingPlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]

  private def acc(group: String): LayerTotals =
    totals.computeIfAbsent(group, _ => new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(ListenerBridge.JobGroupKey)))
      .getOrElse(LayerTrace.Untagged)
    e.stageIds.foreach(id => stageGroup.put(id, group))
    val t = acc(group)
    t.synchronized { t.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = acc(Option(stageGroup.get(e.stageId)).getOrElse(LayerTrace.Untagged))
    t.synchronized {
      if (e.reason != Success) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPlans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    ListenerBridge.drain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    ListenerBridge.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `body` as one call into `name`: its jobs carry the layer's job group,
    * its driver wall time and its executed SQL plans are added to the layer. */
  def layer[T](name: String)(body: => T): T = {
    ListenerBridge.drain(sc)
    pendingPlans.clear()
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wall = System.nanoTime() - t0
    ListenerBridge.drain(sc)
    val t = acc(name)
    t.synchronized {
      t.wallNs += wall
      t.plans ++= pendingPlans.asScala
    }
    pendingPlans.clear()
    out
  }

  /** Run `body` (a correctness check inside the traced pass) under the
    * [[LayerTrace.Check]] group, which no layer and no attribution counts. */
  def unattributed[T](body: => T): T = {
    sc.setJobGroup(LayerTrace.Check, LayerTrace.Check)
    try body finally sc.clearJobGroup()
  }

  /** Totals per group, read after draining the bus. */
  def snapshot(): Map[String, LayerTotals] = {
    ListenerBridge.drain(sc)
    totals.asScala.toMap
  }
}

object LayerTrace {
  /** Group of tasks whose job carried no job group. */
  val Untagged = "<untagged>"
  /** Group of the benchmark's own checks during the traced pass. */
  val Check = "<check>"

  /** Physical parquet scans of `path` executed by `plans`: the plan-census of
    * GoldenEngineSpec, recursing through adaptive plans, query stages and
    * in-memory caches. A cache is counted once however often it is read, and
    * a reused exchange is not counted (its scan ran once, where it was built). */
  def scansOf(plans: Seq[SparkPlan], path: String): Int = {
    val seenCaches = mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Int = p match {
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(path))) 1 else 0
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case im: InMemoryTableScanExec =>
        if (seenCaches.add(im.relation.cacheBuilder)) walk(im.relation.cachedPlan) else 0
      case other => other.children.map(walk).sum
    }
    plans.map(walk).sum
  }
}
