package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.{BusAccess, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark scheduler did for one traced step: task time, shuffle,
  * spill and retries, per stage, plus the shape of the final AQE plans
  * of the step's queries. */
final class StepStats(val name: String) {
  var wallS = 0.0
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var tasks = 0
  var taskRetries = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0
  var codegenStages = 0
  /** stage id → (run time of each finished task, ms) */
  val stageTasks = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** finished stage spans: (stage id, parent job id, submitted ms, completed ms, tasks) */
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
  /** job spans: (job id, start ms, end ms, succeeded) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, Boolean)]

  /** max/median task time of the heaviest stage among `own` stage ids. */
  def taskSkew(own: Seq[Int]): Double = {
    val heaviest = own.flatMap(stageTasks.get).filter(_.nonEmpty).sortBy(-_.sum).headOption
    heaviest.map { ts =>
      val s = ts.sorted
      val med = s(s.length / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }.getOrElse(1.0)
  }
}

/** Listener registered by the benchmark for the traced run only. The
  * harness runs one step at a time and tags its jobs with the
  * `graftbench.step` local property; events are attributed through it
  * and the bus is drained before the next step starts. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val steps = mutable.Map.empty[String, StepStats]
  private val stageStep = mutable.Map.empty[Int, StepStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStep = mutable.Map.empty[Int, StepStats]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val plans = new ConcurrentLinkedQueue[SparkPlan]()

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    BusAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as step `id`, timing it and attributing its scheduler
    * events and final plans to the returned stats. */
  def step(id: String)(body: => Unit): StepStats = {
    val st = new StepStats(id)
    synchronized { steps(id) = st }
    plans.clear()
    sc.setLocalProperty(Tracer.StepKey, id)
    st.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      st.wallS = (System.nanoTime() - t0) / 1e9
      st.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.StepKey, null)
      BusAccess.drain(sc)
    }
    plans.forEach { p =>
      val nodes = Tracer.walk(p).toSeq
      st.exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      st.codegenStages += nodes.count(_.isInstanceOf[WholeStageCodegenExec])
    }
    st
  }

  private def stepOf(props: java.util.Properties): Option[StepStats] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.StepKey))).flatMap(steps.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    stepOf(e.properties).foreach { st =>
      st.jobs += 1
      jobStep(e.jobId) = st
      jobStart(e.jobId) = e.time
      e.stageIds.foreach { s => stageStep(s) = st; stageJob(s) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStep.remove(e.jobId).foreach { st =>
      st.jobSpans += ((e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time,
        e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageStep.get(e.stageId).foreach { st =>
      st.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || e.reason != Success) st.taskRetries += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
        st.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageStep.get(i.stageId).foreach { st =>
      st.stages += ((i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val StepKey = "graftbench.step"

  /** Every node of a physical plan, descending into the final plan of
    * each adaptive query, into query stages and into subqueries. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(walk)
  }
}
