package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShims

/** Counts the jobs, stages and tasks Spark actually submits — AQE
  * re-plans and reused-exchange skips included, so it is the real
  * execution, not the static plan. The stage count is structural (same
  * plans → same count), which is what lets a bench artifact separate "the
  * host was slow" from "a query grew stages", and what the floor model
  * (`tools/floor_model.py`) multiplies by the per-stage cost.
  *
  * The listener bus is asynchronous; [[measure]] drains it before and
  * after its body, so no event of earlier or later work leaks into a
  * census. One measurement at a time per census.
  */
final class StageCensus(sc: SparkContext) extends SparkListener {
  import StageCensus._

  // written on the bus thread, read after a drain on the caller's
  private var jobs = 0
  private var stages = 0
  private var tasks = 0L
  private val completed = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    completed += Stage(si.stageId, si.numTasks,
      si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L), si.name)
  }

  sc.addSparkListener(this)

  /** Runs `body` and returns its result with the census of exactly the
    * work it submitted.
    */
  def measure[T](body: => T): (T, Census) = {
    GraftShims.drainListenerBus(sc)
    val (j0, s0, t0) = synchronized { completed.clear(); (jobs, stages, tasks) }
    val result = body
    GraftShims.drainListenerBus(sc)
    synchronized {
      (result, Census(jobs - j0, stages - s0, tasks - t0, completed.toList))
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object StageCensus {
  /** One completed stage: id, task count, wall ms, call-site name. */
  final case class Stage(id: Int, tasks: Int, ms: Long, name: String)

  final case class Census(jobs: Int, stages: Int, tasks: Long, completed: Seq[Stage])
}
