package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one job group. Times are milliseconds. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0.0
  var gcMs = 0.0
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
  val taskIntervals = ArrayBuffer.empty[(Double, Double)]
}

/** Catalyst phase durations (seconds) of one action's planning tracker. */
final case class Phases(analysis: Double, optimization: Double, planning: Double)

/** The benchmark's listeners. Jobs are attributed through the job group
  * the benchmark sets around each call (a stream's own jobs carry its
  * run id as their group); listener callbacks run on Spark's bus thread,
  * and `sync` waits for the bus before a caller reads what it gathered.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val groups = mutable.Map.empty[String, GroupStats]
  private val actions = ArrayBuffer.empty[(String, Phases)]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private def stats(group: String): GroupStats = groups.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = stats(jobGroup.getOrElse(e.jobId, ""))
    s.jobs += 1
    s.jobIntervals += ((jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageJob.get(e.stageId).flatMap(jobGroup.get).getOrElse("")
    val s = stats(g)
    s.tasks += 1
    s.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def sec(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      Probe.this.synchronized {
        actions += ((funcName, Phases(sec("analysis"), sec("optimization"), sec("planning"))))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def sync(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Remove and return what the group's jobs did since the last take. */
  def take(group: String): GroupStats = { sync(); synchronized(groups.remove(group).getOrElse(new GroupStats)) }

  /** Remove and return the actions seen since the last call, oldest first. */
  def takeActions(): Seq[(String, Phases)] = {
    sync(); synchronized { val r = actions.toSeq; actions.clear(); r }
  }

  def takeProgress(): Seq[StreamingQueryProgress] = {
    sync(); synchronized { val r = progress.toSeq; progress.clear(); r }
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(this)
  }
}
