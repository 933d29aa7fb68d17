package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** The traced run's Spark listener: per-stage task time, GC, shuffle
  * write and spill, and a count of jobs by description. Registered
  * only with `--trace 1`.
  */
final class StageListener extends SparkListener {
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val jobsByDesc = mutable.Map.empty[String, Int]
  private var callbackNs = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t0 = System.nanoTime()
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobsByDesc(d) = jobsByDesc.getOrElse(d, 0) + 1
    callbackNs += System.nanoTime() - t0
  }

  def jobs(desc: String): Int = synchronized(jobsByDesc.getOrElse(desc, 0))
  def totalJobs: Int = synchronized(jobsByDesc.values.sum)

  /** Max over stages (with at least two tasks) of max / median task time. */
  def taskSkewMax: Double = synchronized {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def metrics: Seq[Metric] = synchronized(Seq(
    Metric("spark.gc_ms", gcMs.toDouble, "ms"),
    Metric("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    Metric("spark.spill_bytes", spill.toDouble, "bytes"),
    Metric("spark.task_skew_max", taskSkewMax, "ratio"),
    Metric("spark.jobs", totalJobs.toDouble, "count"),
    Metric("trace.listener_ms", callbackNs / 1e6, "ms")))
}
