package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The only confs the test session adds to [[GraftSession.profile]]
    * (`SessionProfileSpec` holds the suite to this list). */
  val testOnlyConfs: Map[String, String] = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("warehouse").toString,
    // full PushedFilters in plan audits
    "spark.sql.maxMetadataStringLength" -> "10000")

  lazy val session: SparkSession = {
    val s = GraftSession.local(extra = testOnlyConfs)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
