package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** What Spark did during one window (one timed call): jobs, stages and
  * tasks, with the task metrics summed per stage.
  */
final class StageStats {
  val runTimesMs = mutable.ArrayBuffer.empty[Long]
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  def runTimeS: Double = runTimesMs.sum / 1e3
}

final case class Window(jobs: Int, stagesRun: Int, stages: Seq[StageStats]) {
  def tasks: Int = stages.map(_.runTimesMs.size).sum
  def shuffleWriteMb: Double = stages.map(_.shuffleWriteBytes).sum / 1e6
  def fetchWaitMs: Double = stages.map(_.fetchWaitMs).sum.toDouble
  def gcMs: Double = stages.map(_.gcMs).sum.toDouble
  def spillMb: Double = stages.map(_.spillBytes).sum / 1e6
  /** Task seconds of the stages that wrote output files. */
  def writeTaskS: Double = stages.filter(_.outputBytes > 0).map(_.runTimeS).sum

  /** ExtractJob's scan → extract map stage: the stage that wrote the
    * bucket shuffle of the extracted rows, by far the largest shuffle of
    * a call (the lineage statistics shuffle a few rows per bucket).
    */
  def extractStage: Option[StageStats] =
    stages.filter(_.shuffleWriteBytes > 0).sortBy(-_.shuffleWriteBytes).headOption
}

/** Collects per-window Spark counters from the listener bus. */
final class SparkStats(sc: SparkContext) extends SparkListener {
  private var jobs = 0
  private var stagesRun = 0
  private val stages = mutable.LinkedHashMap.empty[Int, StageStats]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageStats)
      s.runTimesMs += m.executorRunTime
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Starts a new window. */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      jobs = 0; stagesRun = 0
      stages.clear()
    }
  }

  /** The window since the last reset, once every event of it arrived. */
  def window(): Window = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(Window(jobs, stagesRun, stages.values.toVector))
  }

  def close(): Unit = sc.removeSparkListener(this)
}
