package graft

/** [[Bench]]'s pass-runner and JVM counters. A subset of the catalog is
  * timed through `Bench` itself (`SPARK_GRAFT_BENCH_QUERIES`), at any sf
  * dir (`SPARK_GRAFT_SF_DIR`), into any file (`SPARK_GRAFT_BENCH_OUT`).
  *
  * Round-6 post-mortem: the bench and soak tools caught per-query
  * exceptions and printed them to stderr only, so a query that OOM'd or
  * threw appeared in the JSON artifact as a missing (or implausibly fast)
  * entry under `rc=0` — an sf10 soak at the default 8 GB heap silently
  * lost queries mid-round and cost a debugging cycle. The contract now: a
  * failed query gets NO time entry (never a bogus fast one), DOES get an
  * entry in the `errors` map that is embedded in the JSON artifact, and
  * the run exits non-zero when any query failed — so a truncated artifact
  * can no longer look complete.
  */
object BenchHarness {

  final case class PassResult(times: Seq[(String, Double)],
                              errors: Map[String, String],
                              checkpointSec: Map[String, Double])

  /** One timing pass over `names`. `run` must fully evaluate the query
    * (noop-sink write). Returns times for the queries that succeeded and
    * a message per query that threw. Per-query localCheckpoint wall time
    * (diffed from [[PlanUtil.checkpointStats]]) is recorded separately —
    * only for queries where it is non-zero — so a checkpoint-cost creep
    * in the iterative family is its own line in the artifact instead of
    * hiding inside warm totals (VERDICT r7 #8).
    *
    * `afterEach` runs between queries, OUTSIDE the timed window — the
    * round-9 drift fix hands `spark.catalog.clearCache()` here so a
    * query's leaked `.cache()` frames (cached inside a returned lazy
    * plan, where the query closure CANNOT unpersist them — evaluation
    * happens at the sink write, after the closure returns) stop
    * accumulating in storage memory across a 1,008-execution bench JVM.
    * Intentional cross-query artifacts are unaffected: trained models
    * live in driver-side [[ArtifactCaches]] maps and checkpoint-backed
    * frames, not in the CacheManager. */
  def passDetailed(names: Seq[String], run: String => Unit, tag: String,
                   afterEach: () => Unit = () => ())
      : PassResult = {
    val times = Seq.newBuilder[(String, Double)]
    val errs = Map.newBuilder[String, String]
    val cps = Map.newBuilder[String, Double]
    names.foreach { name =>
      val cp0 = PlanUtil.checkpointStats._1
      val t0 = System.nanoTime()
      try {
        run(name)
        times += name -> (System.nanoTime() - t0) / 1e9
        val cp = PlanUtil.checkpointStats._1 - cp0
        if (cp > 0) cps += name -> cp
      } catch {
        case e: Throwable =>
          System.err.println(s"[$tag] $name: $e")
          errs += name ->
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      afterEach()
    }
    PassResult(times.result(), errs.result(), cps.result())
  }

  /** Cumulative JVM GC wall time — the drift attributor VERDICT r9
    * asked for: per-pass deltas land in the bench artifact so a
    * residency tax shows up as a number, not a hypothesis. */
  def gcMillis: Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => if (b.getCollectionTime > 0) t += b.getCollectionTime)
    t
  }

  /** Storage memory currently held by cached/checkpointed RDD blocks. */
  def storageMb(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum >> 20

  /** Cumulative JIT compilation wall time — with ~1,000 codegen units
    * live in a full-catalog bench JVM, code-cache pressure shows up
    * here (and in [[codeCacheMb]]) long before it shows in GC. */
  def jitMillis: Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime else -1L
  }

  /** Used bytes across the CodeHeap/CodeCache memory pools (MB). The
    * JVM's default reserve is 240 MB; usage at that ceiling means the
    * sweeper is flushing hot compiled code and queries re-JIT every
    * pass — the catalog-size-correlated drift mechanism telemetry. */
  def codeCacheMb: Long = {
    var used = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach {
      p =>
        val n = p.getName
        if (n.contains("CodeHeap") || n.contains("Code Cache"))
          used += p.getUsage.getUsed
    }
    used >> 20
  }

  /** Metaspace used MB — ~1,000 generated classes live here. */
  def metaspaceMb: Long = {
    var used = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach {
      p => if (p.getName.contains("Metaspace")) used += p.getUsage.getUsed
    }
    used >> 20
  }

  /** Merge per-pass error maps; the FIRST message per query wins (the
    * cold-pass failure is usually the informative one — later passes often
    * fail with a follow-on symptom of the same root cause). */
  def mergeErrors(perPass: Seq[Map[String, String]]): Map[String, String] =
    perPass.foldLeft(Map.empty[String, String])((acc, m) => m ++ acc)

  /** Minimal JSON string escaping — error messages routinely carry quotes,
    * backslashes (Windows-style paths never, but regexes yes) and
    * newlines from multi-line Spark exceptions. */
  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def errorsJson(errors: Map[String, String]): String =
    errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")

  /** -Xmx actually in effect, recorded in every artifact so a SCALE.md
    * column can never again silently mix 8 GB and 64 GB runs. */
  def heapMaxMb: Long = Runtime.getRuntime.maxMemory() >> 20
}
