package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only these query names (local iteration;
    // the driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // same between-queries hygiene as Bench: a leaked cache() frame
        // must not accumulate across a 336-query single-JVM dump
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // partial runs (local iteration) dump only the selected oracles so
    // scripts/selfcheck.py can gate a partial output dir without FAILing
    // every unselected name; the driver's two-arg run dumps all.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${BenchHarness.jsonStr(k)}: ${BenchHarness.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
