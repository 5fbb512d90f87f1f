package graft.operators

import java.nio.file.{Files, Paths}

/** Plan snapshot tool for the optimization rounds:
  * `sbt "Test/runMain graft.operators.PlanDump <sfDir> <outDir> <suffix> [name...]"`
  * writes `<outDir>/<query>_<suffix>.txt` with the FORMATTED physical
  * plan of each named catalog query (all queries when no names given).
  * Eager queries run their parameter-derivation jobs at plan-build time
  * (by design); the dump accepts that cost. The files are the judge's
  * evidence that a claimed plan shape (Exchange count, join strategy,
  * PushedFilters) is real — see OPTIMIZATION_r11.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val out = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    val qs = graft.SparkEntry.catalog
      .filter(q => names.isEmpty || names.contains(q.name))
    qs.foreach { q =>
      try {
        val df = q.fn(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(out, s"${q.name}_$suffix.txt"), txt)
        println(s"[plandump] ${q.name} ok")
      } catch {
        case e: Throwable =>
          println(s"[plandump] ${q.name} FAILED: $e")
      }
    }
    spark.stop()
  }
}
