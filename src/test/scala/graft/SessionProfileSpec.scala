package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session profile for every entry point: [[GraftSession]] is the
  * only code that builds a session, and the suite's shared session runs
  * the profile the mains run, so what the tests check is what is timed.
  */
class SessionProfileSpec extends SparkSpec {

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  test("no file under src/ but GraftSession.scala builds a session") {
    // split so this file does not match its own pattern
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(read(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local: ${offenders.mkString(", ")}")
  }

  test("the shared test session resolves every conf of the profile") {
    // documented allow-list: the only confs the test session adds
    val allowList = Set("spark.app.name", "spark.sql.warehouse.dir",
      "spark.sql.maxMetadataStringLength")
    assert(SparkSpec.testOnlyConfs.keySet.subsetOf(allowList))
    val sc = spark.sparkContext.getConf
    def resolved(k: String): Option[String] =
      spark.conf.getOption(k).orElse(sc.getOption(k))
    val n = GraftSession.cores
    val expected = GraftSession.profile ++ Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString)
    assert(expected.map(_._1).toSet.intersect(allowList).isEmpty,
      "an allow-listed conf must not override the profile")
    val wrong = expected.filter { case (k, v) => !resolved(k).contains(v) }
      .map { case (k, v) => s"$k=${resolved(k).getOrElse("<unset>")} (want $v)" }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }
}
