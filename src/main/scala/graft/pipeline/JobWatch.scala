package graft.pipeline

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}

/** Follows, from Spark's listener events, the jobs that [[run]] submits
  * (from any thread) and their tasks, until [[close]], and sums the tasks'
  * metrics for [[JobWatch.measure]]. Jobs are marked with a Spark job tag,
  * so watches nest: a job submitted inside the `run` of two watches counts
  * for both. A failed job's killed tasks can still be running when the
  * failure reaches the driver, so cleanup after a failed write waits for
  * them with [[awaitIdle]] first. [[cancel]] stops the tagged jobs, also
  * those started later. */
private[graft] final class JobWatch(sc: SparkContext) extends SparkListener {
  import JobWatch.Totals
  private val tag = java.util.UUID.randomUUID().toString
  private val barrierTag = s"$tag/barrier"
  private var jobs = Set.empty[Int] // started and not yet ended
  private var stages = Set.empty[Int]
  private var running = 0
  private var barrier = -1
  private var barrierEnded = false
  private var cancelled = false
  private var sum = Totals(0, 0, 0, 0, 0, 0)
  sc.addSparkListener(this)

  /** Runs `body` with the jobs it submits tagged as this watch's, besides
    * any tags they already carry. Job tags are per thread and inherited by
    * the threads it starts: call it on the thread that submits, or that
    * starts the submitting threads. */
  def run[T](body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Cancels every tagged job that has started, and each one that starts
    * from now on as soon as its start is seen. */
  def cancel(): Unit = synchronized {
    cancelled = true
    sc.cancelJobsWithTag(tag)
  }

  /** Waits until every tagged job and task started so far has ended, and
    * every listener event posted before the call has been delivered: a
    * no-op job, tagged only as this watch's barrier, is submitted after
    * them and the listener bus delivers in order. Returns false if it gave
    * up after `timeoutMs`, as the bus drops events when its queue
    * overflows. */
  def awaitIdle(timeoutMs: Long = 120000L): Boolean = {
    synchronized { barrier = -1; barrierEnded = false }
    val outer = sc.getJobTags()
    sc.clearJobTags(); sc.addJobTag(barrierTag)
    try sc.parallelize(Seq(0), 1).foreach(_ => ())
    finally { sc.clearJobTags(); sc.addJobTags(outer) }
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      def idle = barrierEnded && jobs.isEmpty && running == 0
      var left = timeoutMs
      while (!idle && left > 0) {
        wait(left)
        left = deadline - System.currentTimeMillis()
      }
      idle
    }
  }

  /** The tagged jobs started so far and their ended tasks' metrics. */
  private def totals: Totals = synchronized(sum)

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobWatch.TagsKey)))
      .fold(Set.empty[String])(_.split(",").toSet)
    if (tags(tag)) {
      jobs += e.jobId; stages ++= e.stageIds
      sum = sum.copy(jobs = sum.jobs + 1)
      if (cancelled) sc.cancelJob(e.jobId)
    } else if (tags(barrierTag)) barrier = e.jobId
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
    if (stages(e.stageId)) {
      running -= 1
      Option(e.taskMetrics).foreach { m =>
        sum = Totals(sum.jobs,
          sum.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          sum.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          sum.spillBytes + m.diskBytesSpilled,
          sum.inputRecords + m.inputMetrics.recordsRead,
          sum.outputRecords + m.outputMetrics.recordsWritten)
      }
    }
    notifyAll()
  }
}

private[graft] object JobWatch {

  /** The job property that carries a job's tags, comma-separated: Spark's
    * `SparkContext.SPARK_JOB_TAGS`, which is private to Spark. */
  private val TagsKey = "spark.job.tags"

  /** Tagged jobs, and the summed metrics of their tasks: the numbers behind
    * "did that join shuffle, and how much?". */
  final case class Totals(jobs: Int, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, spillBytes: Long,
                          inputRecords: Long, outputRecords: Long)

  /** Runs `body` under a new watch and returns its result with the totals
    * of every job it submitted, once all their events have arrived; throws
    * rather than return partial totals if they do not. */
  def measure[T](sc: SparkContext)(body: => T): (T, Totals) = {
    val watch = new JobWatch(sc)
    try {
      val result = watch.run(body)
      if (!watch.awaitIdle())
        throw new IllegalStateException("the measured jobs' events did not all arrive")
      (result, watch.totals)
    } finally watch.close()
  }
}
