package perfbench

/** JVM side of the benchmark. `perfbench/run.py` prepares the inputs and
  * launches one fresh JVM per run:
  *
  * {{{
  * Harness --kind catalog|etl --seed N --warm N --trace 0|1 --cores C
  *         --data DIR --work DIR --out FILE [--queries a,b,c]
  * }}}
  *
  * It creates the session through `GraftSession.local(cores)`, prints
  * `READY` (the end of set-up), runs the workload and writes its raw
  * measurements to `--out` as one JSON object; `run.py` turns them into
  * metrics.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    def parse(l: List[String]): Map[String, String] = l match {
      case k :: v :: rest if k.startsWith("--") && !v.startsWith("--") =>
        parse(rest) + (k.drop(2) -> v)
      case k :: rest => parse(rest) + (k.drop(2) -> "1")
      case Nil => Map.empty
    }
    val a = parse(argv.toList)
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val createS = (System.nanoTime() - t0) / 1e9
    println("READY")
    System.out.flush()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(a("trace") == "1")
    val probes = new Probes(spark)
    val seed = a("seed").toLong
    val warm = a("warm").toInt
    val g0 = (Probes.gcSeconds, Probes.jitSeconds, Probes.codegenCompiles, Probes.codegenSeconds)
    val body = a("kind") match {
      case "catalog" =>
        CatalogRun.run(spark, probes, trace, a("queries").split(",").toSeq, a("data"),
          seed, warm, s"${a("work")}/outputs")
      case "etl" =>
        EtlRun.run(spark, probes, trace, a("data"), warm, a("work"))
    }
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val rig = Map(
      "cores" -> cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20),
      "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(runtime.getInputArguments).asScala,
      "java_version" -> System.getProperty("java.version"))
    val jvm = Map(
      "session.create_s" -> createS,
      "jvm.gc_s" -> (Probes.gcSeconds - g0._1), "jvm.jit_s" -> (Probes.jitSeconds - g0._2),
      "codegen.compiles" -> (Probes.codegenCompiles - g0._3),
      "codegen.compile_s" -> (Probes.codegenSeconds - g0._4),
      "jvm.code_cache_mb" -> Probes.codeCacheMb, "jvm.metaspace_mb" -> Probes.metaspaceMb)
    val retained = Map("retained_heap_mb" -> Probes.retainedHeapMb()) // forces a GC: last
    Json.write(a("out"), body ++ Map("rig" -> rig, "jvm" -> (jvm ++ retained),
      "self_s" -> trace.selfSeconds, "spans" -> trace.toJson))
    spark.stop()
  }
}
