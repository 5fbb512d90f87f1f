package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read through public Spark and JVM APIs only: a SparkListener
  * for jobs, stages and task metrics, a QueryExecutionListener for the
  * Catalyst phase times of every executed plan, the codegen compile-time
  * accumulator and histogram, and the JMX beans. Each is a monotonic
  * total; callers diff two [[Snap]]s taken around a block of work.
  */
final class Probes(spark: SparkSession) {
  private val jobsStarted = new LongAdder
  private val jobsEnded = new LongAdder
  private val stages = new LongAdder
  private val tasks = new LongAdder
  private val runMs = new LongAdder
  private val cpuNs = new LongAdder
  private val shW = new LongAdder
  private val shR = new LongAdder
  private val spill = new LongAdder
  private val inRec = new LongAdder
  private val outRec = new LongAdder
  private val sqlStarted = new LongAdder
  private val sqlEnded = new LongAdder
  private val analysisMs = new LongAdder
  private val optimizationMs = new LongAdder
  private val planningMs = new LongAdder
  /** (launch, finish) epoch ms of every finished task: the union of these
    * intervals is the wall time during which executors were busy. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.increment()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val i = e.taskInfo
      if (i != null) taskIntervals.add((i.launchTime, i.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        shW.add(m.shuffleWriteMetrics.bytesWritten)
        shR.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
        inRec.add(m.inputMetrics.recordsRead)
        outRec.add(m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlStarted.increment()
      case _: SparkListenerSQLExecutionEnd => sqlEnded.increment()
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.add(ms("analysis"))
      optimizationMs.add(ms("optimization"))
      planningMs.add(ms("planning"))
    }
  }

  private var attached = false
  // executions and jobs whose start was delivered without their end (or
  // the reverse) when the listeners were attached; see [[attach]]
  private var sqlOpen = 0L
  private var jobsOpen = 0L

  /** Register both listeners. The QueryExecutionListener goes first, so on
    * the shared listener queue it sees an execution's end before the
    * SparkListener does — [[drain]] relies on that order. Events already
    * queued when the listeners are added still reach them, so after a
    * short wait the unmatched starts and ends so far become the baseline
    * that [[drain]] compares against. */
  def attach(): Unit = if (!attached) {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    attached = true
    Thread.sleep(200)
    sqlOpen = sqlStarted.sum - sqlEnded.sum
    jobsOpen = jobsStarted.sum - jobsEnded.sum
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every event of the work
    * done so far: at least `minSqlEnds` SQL executions have ended and every
    * job and execution started since [[attach]] has ended. Events are
    * posted before the action that caused them returns, so this is a
    * bounded delivery wait. */
  def drain(minSqlEnds: Long, timeoutMs: Long = 2000): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = sqlEnded.sum >= minSqlEnds &&
      sqlStarted.sum - sqlEnded.sum == sqlOpen && jobsStarted.sum - jobsEnded.sum == jobsOpen
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(1)
  }

  def sqlEnds: Long = sqlEnded.sum

  def snap(): Snap = Snap(
    jobs = jobsEnded.sum, stages = stages.sum, tasks = tasks.sum,
    taskRunS = runMs.sum / 1e3, taskCpuS = cpuNs.sum / 1e9,
    shuffleWriteMb = shW.sum / 1048576.0, shuffleReadMb = shR.sum / 1048576.0,
    spillMb = spill.sum / 1048576.0,
    inputRecords = inRec.sum, outputRecords = outRec.sum,
    analysisS = analysisMs.sum / 1e3, optimizationS = optimizationMs.sum / 1e3,
    planningS = planningMs.sum / 1e3,
    codegenCompiles = Probes.codegenCompiles, codegenS = Probes.codegenSeconds,
    gcS = Probes.gcSeconds, jitS = Probes.jitSeconds,
    checkpointS = graft.PlanUtil.checkpointStats._1,
    artifacts = graft.ArtifactCaches.entryCount.toLong)

  /** Wall time inside [t0, t1] (epoch ms) covered by at least one task. */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = scala.jdk.CollectionConverters.IterableHasAsScala(taskIntervals).asScala
      .filter { case (a, b) => b > t0 && a < t1 }
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** One reading of every monotonic counter. */
final case class Snap(jobs: Long, stages: Long, tasks: Long,
                      taskRunS: Double, taskCpuS: Double,
                      shuffleWriteMb: Double, shuffleReadMb: Double,
                      spillMb: Double, inputRecords: Long, outputRecords: Long,
                      analysisS: Double, optimizationS: Double, planningS: Double,
                      codegenCompiles: Long, codegenS: Double,
                      gcS: Double, jitS: Double, checkpointS: Double,
                      artifacts: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunS - o.taskRunS, taskCpuS - o.taskCpuS,
    shuffleWriteMb - o.shuffleWriteMb, shuffleReadMb - o.shuffleReadMb,
    spillMb - o.spillMb, inputRecords - o.inputRecords,
    outputRecords - o.outputRecords, analysisS - o.analysisS,
    optimizationS - o.optimizationS, planningS - o.planningS,
    codegenCompiles - o.codegenCompiles, codegenS - o.codegenS,
    gcS - o.gcS, jitS - o.jitS, checkpointS - o.checkpointS,
    artifacts - o.artifacts)

  def toMap: Map[String, Any] = Map(
    "exec.jobs" -> jobs, "exec.stages" -> stages, "exec.tasks" -> tasks,
    "exec.task_run_s" -> taskRunS, "exec.task_cpu_s" -> taskCpuS,
    "exec.shuffle_write_mb" -> shuffleWriteMb,
    "exec.shuffle_read_mb" -> shuffleReadMb, "exec.spill_mb" -> spillMb,
    "exec.input_records" -> inputRecords, "exec.output_records" -> outputRecords,
    "catalyst.analysis_s" -> analysisS,
    "catalyst.optimization_s" -> optimizationS,
    "catalyst.planning_s" -> planningS,
    "codegen.compiles" -> codegenCompiles, "codegen.compile_s" -> codegenS,
    "jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "checkpoint_s" -> checkpointS,
    "artifacts.trained" -> artifacts)
}

object Probes {
  import scala.jdk.CollectionConverters._

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The accumulator behind the "duration of compiling" SQL metrics. */
  def codegenSeconds: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitSeconds: Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime / 1e3 else 0.0
  }

  private def poolMb(p: String => Boolean): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(b => p(b.getName)).map(_.getUsage.getUsed).sum / 1048576.0

  /** (busy, stolen) CPU seconds of the whole machine so far, from the
    * first line of /proc/stat (USER_HZ ticks, 100 a second); (0, 0) where
    * it cannot be read. Stolen is time the hypervisor ran other guests
    * while this one had work: it lengthens every wall time it falls in. */
  def cpuSeconds: (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      ((f(0) + f(1) + f(2) + f(5) + f(6)) / 100.0, f(7) / 100.0)
    } catch { case _: Exception => (0.0, 0.0) }

  def codeCacheMb: Double = poolMb(n => n.contains("CodeHeap") || n.contains("Code Cache"))
  def metaspaceMb: Double = poolMb(_ == "Metaspace")

  /** Heap in use after a full collection, in MB: what the program
    * retains. Read once, after the last pass, since a forced collection
    * resizes the heap and would slow the passes after it. Spark's own
    * threads can still be allocating when one collection runs (one run in
    * five read 205 MB against 75 MB), so this collects until the figure
    * settles and keeps the lowest. */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var best = collect()
    var i = 0
    var settled = false
    while (i < 4 && !settled) {
      Thread.sleep(200)
      val m = collect()
      settled = math.abs(m - best) < 1.0
      best = math.min(best, m)
      i += 1
    }
    best
  }
}
