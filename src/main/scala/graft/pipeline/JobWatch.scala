package graft.pipeline

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}

/** Follows, from Spark's listener events, the jobs that [[run]] submits
  * (from any thread) and their tasks, until [[close]]. A failed job's
  * killed tasks can still be running when the failure reaches the driver,
  * so cleanup after a failed write waits for them with [[awaitIdle]]
  * first. [[cancel]] stops the tagged jobs, also those started later. */
private[graft] final class JobWatch(sc: SparkContext) extends SparkListener {
  private val tag = java.util.UUID.randomUUID().toString
  private val barrierTag = s"$tag/barrier"
  private var jobs = Set.empty[Int] // started and not yet ended
  private var stages = Set.empty[Int]
  private var running = 0
  private var barrier = -1
  private var barrierEnded = false
  private var cancelled = false
  sc.addSparkListener(this)

  /** Runs `body` with the jobs it submits tagged as this watch's. Local
    * properties are per thread: call it on the thread that submits. */
  def run[T](body: => T): T = tagged(tag)(body)

  /** Cancels every tagged job that has started, and each one that starts
    * from now on as soon as its start is seen. */
  def cancel(): Unit = synchronized {
    cancelled = true
    jobs.foreach(sc.cancelJob)
  }

  /** Returns once every tagged job and task started so far has ended, and
    * every listener event posted before the call has been delivered: a
    * no-op job is submitted after them and the listener bus delivers in
    * order. Gives up after `timeoutMs`, as the bus drops events when its
    * queue overflows. */
  def awaitIdle(timeoutMs: Long = 120000L): Unit = {
    tagged(barrierTag)(sc.parallelize(Seq(0), 1).foreach(_ => ()))
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      var left = timeoutMs
      while ((!barrierEnded || jobs.nonEmpty || running > 0) && left > 0) {
        wait(left)
        left = deadline - System.currentTimeMillis()
      }
    }
  }

  def close(): Unit = sc.removeSparkListener(this)

  private def tagged[T](value: String)(body: => T): T = {
    val outer = sc.getLocalProperty(JobWatch.Key)
    sc.setLocalProperty(JobWatch.Key, value)
    try body finally sc.setLocalProperty(JobWatch.Key, outer)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).map(_.getProperty(JobWatch.Key)).foreach {
      case `tag` =>
        jobs += e.jobId; stages ++= e.stageIds
        if (cancelled) sc.cancelJob(e.jobId)
      case `barrierTag` => barrier = e.jobId
      case _ =>
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs -= e.jobId
    if (e.jobId == barrier) barrierEnded = true
    notifyAll()
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stages(e.stageId)) running += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stages(e.stageId)) running -= 1
    notifyAll()
  }
}

private object JobWatch {
  val Key = "graft.jobWatch"
}
