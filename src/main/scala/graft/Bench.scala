package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Three full passes at the target sf. Reported numbers:
    //  - queries      = per-query MIN over passes (steady-state: tracks
    //    plan quality, not compiler scheduling — JIT + whole-stage-codegen
    //    compilation lands on whichever query touches a plan shape first;
    //    measured join_range 7.4s cold vs 1.1s warm at sf0.1)
    //  - queries_cold = per-query FIRST-pass time. Queries that memoize a
    //    standing artifact (dedup_cluster labels, IVF/PQ codebooks) pay
    //    training here and serve from cache in later passes; publishing
    //    both columns keeps round-over-round comparisons honest instead
    //    of letting cache order masquerade as a plan win (VERDICT r4).
    val qs = SparkEntry.queries
    // Optional subset (comma-separated names) — the A/B lever for
    // catalog-growth investigations: bench exactly a prior round's query
    // set in the current JVM and compare like against like.
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val missing = want -- qs.keySet
        require(missing.isEmpty, s"unknown bench queries: ${missing.toSeq.sorted.mkString(",")}")
        qs.keys.toSeq.filter(want).sorted
      case None => qs.keys.toSeq.sorted
    }
    // Pass p runs the catalog ROTATED by p·n/3: alphabetical order would
    // hand every pass the same predecessor set per query, so JVM state
    // (JIT warmth, page cache, GC phase) lands on the same queries every
    // round and min-of-3 inherits the bias (VERDICT r9 task 6). Pass 0
    // stays unrotated — queries_cold keeps its first-ever-execution
    // meaning.
    def order(p: Int): Seq[String] = {
      val off = p * names.size / 3
      names.drop(off) ++ names.take(off)
    }
    // noop sink forces full evaluation of every column (count() lets
    // Catalyst prune the projections away). Failed queries get NO time
    // entry and land in `errors` instead (BenchHarness contract).
    // Between queries (outside the timed window) leaked cache() frames
    // are dropped — see BenchHarness.passDetailed's scaladoc.
    def onePass(p: Int): BenchHarness.PassResult =
      BenchHarness.passDetailed(order(p),
        n => qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save(),
        "bench", afterEach = () => spark.catalog.clearCache())
    // Per-pass residency telemetry (gc_ms is the DELTA accrued during
    // the pass): a monotone gc_ms or storage_mb climb across passes is
    // the round-9 drift signature made visible in the artifact itself.
    val passMeta = Seq.newBuilder[String]
    val passes = (0 until 3).map { p =>
      val gc0 = BenchHarness.gcMillis
      val jit0 = BenchHarness.jitMillis
      val w0 = System.nanoTime()
      val r = onePass(p)
      val wall = (System.nanoTime() - w0) / 1e9
      val gc = BenchHarness.gcMillis - gc0
      val jit = BenchHarness.jitMillis - jit0
      val stor = BenchHarness.storageMb(spark)
      val arts = ArtifactCaches.entryCount
      // locale-pinned: f"%.1f" uses the JVM default locale, which in
      // comma-decimal locales would emit invalid JSON (ADVICE r10)
      val wall1 = math.round(wall * 10.0) / 10.0
      passMeta += s"""{"wall_s":$wall1,"gc_ms":$gc,"jit_ms":$jit,""" +
        s""""code_cache_mb":${BenchHarness.codeCacheMb},""" +
        s""""metaspace_mb":${BenchHarness.metaspaceMb},""" +
        s""""storage_mb_after":$stor,"artifact_entries":$arts,""" +
        s""""first":"${order(p).headOption.getOrElse("")}"}"""
      r
    }
    val errors = BenchHarness.mergeErrors(passes.map(_.errors))
    val cold = passes.head.times.toMap
    val results = passes.flatMap(_.times).groupMapReduce(_._1)(_._2)(math.min)
    // per-query localCheckpoint wall time, WARM passes' MIN (matches the
    // `queries` column's semantics) — the iterative-family creep counter
    val cpSec = passes.drop(1).flatMap(_.checkpointSec)
      .groupMapReduce(_._1)(_._2)(math.min)
    def jmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalCold = if (cold.nonEmpty) cold.values.sum else 0.0
    val errJson = BenchHarness.errorsJson(errors)
    val heap = BenchHarness.heapMaxMb
    val passesJson = passMeta.result().mkString("[", ",", "]")
    // Echo the EFFECTIVE core count into the artifact: round 11's driver
    // flagged `suspect_cpus_ignored` because nothing in the JSON proved
    // `$SPARK_GRAFT_CPUS` reached the master string — `cpus` is the
    // resolved core count (`GraftSession.cores`), `parallelism` is what
    // the scheduler actually runs with.
    val cpuEcho =
      s""""cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism},"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
      s""""total_cold":$totalCold,$cpuEcho"errors":$errJson,"heap_max_mb":$heap,""" +
      s""""passes":$passesJson,""" +
      s""""queries":${jmap(results)},""" +
      s""""checkpoint_sec":${jmap(cpSec)},""" +
      s""""queries_cold":${jmap(cold)},"sf":"$sfDir"}"""
    // Full per-query artifact goes to a FILE: at 171 queries the JSON is
    // ~10 KB and the driver's bounded tail capture truncates it mid-line
    // (BENCH_r04 recorded "parsed": null). sbt also wraps stdout in
    // [info] prefixes (broke round 1), so the file is the durable record.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    // Stdout gets the full line FIRST (for anyone reading a complete log)
    // and then a SHORT final line — total, n, sf, the 10 most expensive
    // queries, and a pointer to the file — sized so a bounded tail always
    // ends with one complete JSON object the driver can parse.
    println(full)
    // Short-line contents (round-11 PERF post-mortem): top-10 starved the
    // driver's round-over-round comparison to a 4-query intersection and
    // made 6 faster-than-top-10 queries look "dropped". Now: the 25 most
    // expensive queries (ms-rounded — full precision stays in the full
    // line and bench_out.json) plus per-module warm subtotals, so the
    // bounded tail still ends in one complete-and-parseable JSON object
    // (~2.5 KB) while carrying enough intersection to compare rounds.
    def ms(v: Double): Double = math.round(v * 1000.0) / 1000.0
    val top25 = results.toSeq.sortBy(-_._2).take(25).map {
      case (k, v) => k -> ms(v) }.toMap
    val byQuery = SparkEntry.moduleCatalog.flatMap { case (m, qs2) =>
      qs2.map(q => q.name -> m) }.toMap
    val moduleTotals = results.toSeq
      .groupMapReduce { case (n, _) => byQuery.getOrElse(n, "other") }(_._2)(_ + _)
      .map { case (m, v) => m -> ms(v) }
    val short =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
      s""""total_cold":$totalCold,$cpuEcho"errors":$errJson,"heap_max_mb":$heap,""" +
      s""""passes":$passesJson,""" +
      s""""queries":${jmap(top25)},""" +
      s""""modules":${jmap(moduleTotals)},""" +
      s""""detail":"$outFile","sf":"$sfDir"}"""
    println(short)
    spark.stop()
    // A bench with failed queries is a truncated artifact — say so in the
    // exit code, not just stderr (the round-6 sf10 OOM hid behind rc=0).
    if (errors.nonEmpty) sys.exit(1)
  }
}
