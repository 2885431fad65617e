package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters summed over every task of one job group. */
final class Counters {
  var taskMs = 0L        // executor run time
  var gcMs = 0L
  var maxTaskMs = 0L     // wall duration of the slowest task
  var shuffleWriteBytes = 0L
  var spillBytes = 0L    // bytes spilled to disk
  var peakExecMem = 0L   // largest peakExecutionMemory of one task

  def add(o: Counters): Unit = {
    taskMs += o.taskMs; gcMs += o.gcMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Benchmark-owned listener: attributes every finished task to the job
  * group its stage was submitted under (`Ungrouped` when none was set).
  *
  * Only job starts and task ends are consumed. A task whose stage was never
  * seen in a job start (listener added mid-job, or a dropped event) falls
  * into `Ungrouped` instead of failing the listener thread; job ends are not
  * used at all, so a job end without a recorded start cannot break it.
  */
final class Listener extends SparkListener {
  import Listener.Ungrouped

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Listener.JobGroupKey)))
      .getOrElse(Ungrouped)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, Ungrouped))
    val m = e.taskMetrics
    c.synchronized {
      if (e.taskInfo != null) c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Counters per job group since the last drain; resets them. */
  def drain(sc: SparkContext): Map[String, Counters] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val out = scala.collection.mutable.Map.empty[String, Counters]
    byGroup.forEach((g, c) => c.synchronized { out(g) = { val x = new Counters; x.add(c); x } })
    byGroup.clear()
    out.toMap
  }
}

object Listener {
  val Ungrouped = "-"
  /** The job property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  def total(groups: Iterable[Counters]): Counters = {
    val t = new Counters
    groups.foreach(t.add)
    t
  }
}
