package graft

import org.apache.spark.sql.SparkSession

/** The library's front door and the only place a SparkSession is built:
  * `Bench`, `Verify`, `Smoke`, `JobRunner.main`, the tools and the test
  * suite all come through [[local]], so the session that is timed is the
  * session the oracle checks. It is wired the way this engine expects —
  * native SQL functions registered ([[graft.plans.GraftExtensions]]:
  * `cosine_sim`, `shingle_hashes`, `simhash64`, `minhash_sig`, …), UTC
  * session time, shuffle parallelism sized to the machine. A user
  * switching from the reference calls [[local]] (or applies [[configure]]
  * to their own cluster builder) and every `SparkEntry.queries` entry and
  * SQL function works unchanged.
  */
object GraftSession {

  /** Every engine conf [[configure]] sets, in order. */
  val profile: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // catalog queries assume UTC (date_trunc, windows, unix_millis parity)
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // The generated-class cache defaults to 100 entries; this catalog
    // compiles ~3× that many distinct codegen units, so at the default
    // size every pass evicts and recompiles plans that ran seconds ago
    // (the round-4 +18% "regression" on unchanged plans — scalar_math
    // 1.14→2.43s — was exactly this churn once the catalog crossed the
    // cache size). Sized to hold the whole catalog with headroom.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Round-9 drift fixes: shuffle files and broadcast blocks are only
    // reclaimed when the DRIVER GC collects their references — at this
    // heap size GC can stay silent for most of a 1,008-execution run,
    // so MapOutputTracker/BlockManager state grows monotonically and
    // every later query pays the bookkeeping tax. The periodic-GC
    // interval (default 30min — longer than the whole run) makes the
    // ContextCleaner actually fire.
    "spark.cleaner.periodicGC.interval" -> "2min",
    // The status stores retain per-execution plan graphs and per-stage
    // metadata even with the UI off; at 336 queries × 3 passes ×
    // multiple jobs each, the defaults (1000 executions / 1000 stages)
    // hold thousands of plan strings on the driver heap for the run's
    // lifetime. Nothing here reads them — keep a diagnostic stub only.
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "64",
    "spark.ui.retainedStages" -> "128",
    "spark.ui.retainedTasks" -> "1000",
    // Local files: Hadoop's checksummed local file system, but setting
    // permissions in-process instead of forking /bin/chmod for each file
    // and directory it creates (without libhadoop: 183 forks for a put of
    // a 5,702-resource project with its snapshot, 28 for a get). Cluster
    // schemes (hdfs:, s3a:) never reach it.
    "spark.hadoop.fs.file.impl" -> "graft.ops.LocalFs")

  /** Local core count: `SPARK_GRAFT_CPUS`, else every core of the JVM. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply the engine's session settings to any builder (cluster
    * deployments pass their own master/resources). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    profile.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Local session on `cores` cores (`local[cores]`, as many shuffle
    * partitions). `extra` confs go on top of the profile for a fresh
    * session (the test suite's app name and warehouse dir).
    *
    * If the JVM already has a session it is ADOPTED as-is (functions
    * registered post-hoc, no conf changes — `getOrCreate` would silently
    * push this builder's runtime confs onto it, stomping the owner's
    * settings). Registration is idempotent.
    *
    * Adoption caveat: catalog queries assume UTC session time
    * (`date_trunc`, window, and unix_millis parity all depend on it). An
    * adopted non-UTC session keeps its timezone — the owner set it — but
    * [[local]] logs a loud warning, and [[utcParityHolds]] exposes the
    * check so callers can decide (set
    * `spark.conf.set("spark.sql.session.timeZone", "UTC")` — a runtime
    * conf — to opt in). */
  def local(cores: Int = GraftSession.cores,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(
        configure(SparkSession.builder()
            .master(s"local[$cores]")
            .config("spark.sql.shuffle.partitions", cores.toString))
          .config(extra)
          .getOrCreate())
    graft.plans.GraftExtensions.register(s)
    if (!utcParityHolds(s))
      System.err.println(
        "[graft] WARNING: adopted session timeZone is " +
          s"'${s.conf.get("spark.sql.session.timeZone", "<unset>")}', not " +
          "UTC — timestamp-bucketing queries (date_trunc, windows, " +
          "unix_millis parity) will follow the session zone. Set " +
          "spark.sql.session.timeZone=UTC for engine-default semantics.")
    s
  }

  /** True when the session's timezone matches the engine's UTC
    * assumption — the precondition for timestamp-parity of the catalog
    * queries on an adopted session. */
  def utcParityHolds(s: SparkSession): Boolean =
    s.conf.get("spark.sql.session.timeZone", "") == "UTC"
}
