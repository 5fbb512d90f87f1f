package graft.tools

/** Scale soak: times a named subset of the query catalog at one sf dir.
  *
  * Run it at sf0.1 and at the [[ScaleGen]]-generated sf1, then compare:
  * the measured exponent log10(t_sf1 / t_sf0.1) is the empirical scaling
  * of the whole plan (1.0 = linear). Results feed docs/SCALE.md.
  *
  * Reports cold (first pass) and min-over-passes per query, same columns
  * as [[graft.Bench]], so training/memoized-artifact cost is visible.
  *
  * Usage: runMain graft.tools.Soak <sfDir> <outFile> <query>[,...] [k=v[,k=v...]]
  *
  * The optional 4th arg sets session confs before the passes — e.g.
  * `graft.lsh.planesPerTable=10` to measure a scale knob's effect.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val names = args(2).split(",").toSeq
    val spark = graft.GraftSession.local()
    args.lift(3).foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")
    val qs = graft.SparkEntry.queries
    // same between-queries cache hygiene as Bench (outside the timed
    // window) — a leaked cache() frame from query i must not tax query
    // i+1's measured decade
    def onePass(): graft.BenchHarness.PassResult =
      graft.BenchHarness.passDetailed(names,
        n => qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save(),
        "soak", afterEach = () => spark.catalog.clearCache())
    val passes = Seq.fill(2)(onePass())
    val errors = graft.BenchHarness.mergeErrors(passes.map(_.errors))
    val cold = passes.head.times.toMap
    val best = passes.flatMap(_.times).groupMapReduce(_._1)(_._2)(math.min)
    // warm-pass localCheckpoint seconds (the iterative-family counter)
    val cpSec = passes.drop(1).flatMap(_.checkpointSec)
      .groupMapReduce(_._1)(_._2)(math.min)
    def jmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val line =
      s"""{"sf":"$sfDir","total":${best.values.sum},""" +
      s""""errors":${graft.BenchHarness.errorsJson(errors)},""" +
      s""""heap_max_mb":${graft.BenchHarness.heapMaxMb},""" +
      s""""queries":${jmap(best)},"checkpoint_sec":${jmap(cpSec)},""" +
      s""""queries_cold":${jmap(cold)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    println(line)
    spark.stop()
    // Failed queries must fail the soak (round-6: an 8 GB-heap sf10 OOM
    // produced a clean-looking artifact with rc=0).
    if (errors.nonEmpty) sys.exit(1)
  }
}
