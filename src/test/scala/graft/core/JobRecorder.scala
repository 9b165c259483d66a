package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Test listener: the job group of every job started, per stage the
  * number of finished tasks and whether any of them wrote output rows, and
  * the physical plan of every SQL execution started.
  * Events arrive asynchronously; [[drain]] waits until every event posted
  * before it has been seen. Call [[close]] when done.
  */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  /** Job group of each started job ("" when none), in start order. */
  val jobGroups = new ConcurrentLinkedQueue[String]
  /** Stage id -> tasks finished. */
  val stageTasks = new ConcurrentHashMap[Int, AtomicInteger]
  /** Ids of stages with a task that wrote output rows. */
  val writeStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]
  /** Physical plan description of each SQL execution, in start order. */
  val plans = new ConcurrentLinkedQueue[String]
  private val markerJobs: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]
  private val markersDone = new AtomicInteger(0)
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(JobRecorder.Marker) != null)) markerJobs.add(e.jobId)
    else jobGroups.add(props.flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markersDone.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageTasks.computeIfAbsent(e.stageId, _ => new AtomicInteger).incrementAndGet()
    if (Option(e.taskMetrics).exists(_.outputMetrics.recordsWritten > 0))
      writeStages.add(e.stageId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
    case _ =>
  }

  /** Run a marker job and wait for its end event: the bus delivers events
    * in order, so every earlier event has been seen by then.
    */
  def drain(): Unit = {
    val seen = markersDone.get
    sc.setLocalProperty(JobRecorder.Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobRecorder.Marker, null)
    val deadline = System.nanoTime() + 30000000000L
    while (markersDone.get == seen && System.nanoTime() < deadline) Thread.sleep(5)
    require(markersDone.get > seen, "listener did not drain within 30 s")
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobRecorder {
  val Marker = "graft.test.recorder.marker"
}
