package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._

/** The reference's job entry point re-expressed over [[Etl]]: parse an
  * INPUT_DATA envelope, dispatch on `method` ∈ {put, get, delete}
  * (etl-job/fhir_import_export.py:393-436), run the verb, and return the
  * result object that the reference prints as the last `[out]` stdout
  * line (:401-403,435-436). A user of the reference can hand this the
  * same envelope they submit today; [[JobRunner.main]] is the executable
  * contract (env `INPUT_DATA` in, final `[out]` JSON line out).
  *
  * Envelope (FIXTURES.md §A.3):
  * {"method":"put","project_id":"<program>-<project>",
  *  "push":{"commits":[{"commit_id":"c1","meta_path":"/dir/with/ndjson"}]}}
  */
final class JobRunner(etl: Etl, clock: () => String =
    () => java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))) {

  private val mapper = new ObjectMapper()

  /** Run one job; returns the `[out]` result map, shaped like the
    * reference's `output` dict (:401 `{'user','files','logs'}`, plus
    * `snapshot: {object_id}` after put :421-423 / `object_id` after get
    * :427-429). `user` is the caller's arborist-style profile (the
    * reference fetches it from the authz service, :44-46). */
  def run(spark: SparkSession, inputData: String,
          user: Authz.UserProfile, exportDir: String): Map[String, Any] = {
    val env: JsonNode = mapper.readTree(inputData)
    val method = env.path("method").asText().toLowerCase
    val projectId = env.path("project_id").asText()
    val (program, project) = Authz.splitProjectId(projectId)
    val logs = scala.collection.mutable.ArrayBuffer[String]()

    val result: Map[String, Any] = method match {
      case "put" =>
        val canCreate = Authz.canCreate(user, program, project, logs)
        logs += s"CAN CREATE: $canCreate"
        require(canCreate, s"No create permissions on $program")
        val commits = env.path("push").path("commits").elements().asScala.toSeq
        val dirs = commits.map { c =>
          val dir = c.path("meta_path").asText()
          logs += s"loading commit ${c.path("commit_id").asText()} from $dir"
          dir
        }
        // all commits of the push load as ONE cumulative import
        // (reference :455-470) — per-commit writes would overwrite;
        // Etl.put validates that every dir exists before writing
        etl.put(spark, projectId, dirs, limit = None)
        val files = dirs.flatMap { d =>
          val dir = new Path(d)
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .listStatus(dir).map(_.getPath.getName).sorted.toSeq
        }
        // reference auto-snapshots after put (:421-423)
        val snap = snapshot(spark, projectId, program, project, user,
                            exportDir, logs)
        Map("files" -> files, "snapshot" -> Map("object_id" -> snap.orNull))
      case "get" =>
        Map("object_id" ->
          snapshot(spark, projectId, program, project, user, exportDir, logs)
            .orNull)
      case "delete" =>
        // The reference's `_empty_project` (:360-390) wraps the permission
        // check AND the emptying in try/except: a failed delete appends the
        // exception (+ traceback) to the logs and the job still returns its
        // output map — it never raises. Progress log lines mirror :374-385.
        try {
          val canCreate = Authz.canCreate(user, program, project, logs)
          logs += s"CAN CREATE: $canCreate"
          require(canCreate, s"No create permissions on $program")
          etl.deleteGraph(spark, projectId)
          logs += s"EMPTIED graph for $projectId"
          etl.deleteFlat(spark, projectId)
          logs += s"EMPTIED flat for $projectId"
          etl.deleteFhir(spark, projectId)
          logs += s"EMPTIED FHIR STORE for $projectId"
          etl.discoveryStudy(spark, projectId).foreach { data =>
            logs += s"Empty discovery study: $data"
            etl.deleteDiscovery(spark, projectId)
          }
        } catch {
          case e: Exception =>
            logs += s"An Exception Occurred emptying project $projectId: ${e.getMessage}"
            logs += e.getStackTrace.mkString("\n")
        }
        Map.empty
      case other =>
        // reference raises on unknown methods (:433)
        throw new IllegalArgumentException(s"unknown method $other")
    }
    Map("user" -> user.email, "files" -> Nil, "logs" -> Nil) ++
      result + ("logs" -> logs.toSeq)
  }

  /** Export + zip: `{project_id}_{ts}_SNAPSHOT.zip` (:340-355). A denied
    * read SOFT-fails — log + None, no exception — exactly like the
    * reference's `_get` (:322-325 returns None), so a put by a
    * create-only user still succeeds, just without the auto-snapshot. A
    * `.meta.json` sidecar carries the reference's upload metadata map
    * (:351-352). Each exported part file is streamed into the zip, never
    * held whole in driver memory. */
  private def snapshot(spark: SparkSession, projectId: String,
                       program: String, project: String,
                       user: Authz.UserProfile, exportDir: String,
                       logs: scala.collection.mutable.Buffer[String])
      : Option[String] = {
    val canRead = Authz.canRead(user, program, project, logs)
    if (!canRead) {
      logs += s"No read permissions on $projectId"
      return None
    }
    // the export holds the project's full NDJSON: drop it once zipped
    val stage = Files.createTempDirectory("export")
    val zipPath = Paths.get(exportDir, s"${projectId}_${clock()}_SNAPSHOT.zip")
    try {
      etl.get(spark, projectId, stage.toString)
      Files.createDirectories(zipPath.getParent)
      val zout = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
      try {
        Files.walk(stage).iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
                       !p.getFileName.toString.startsWith("_") &&
                       !p.getFileName.toString.endsWith(".crc"))
          .toSeq.sortBy(_.toString)
          .foreach { p =>
            zout.putNextEntry(new ZipEntry(stage.relativize(p).toString))
            Files.copy(p, zout)
            zout.closeEntry()
          }
      } finally zout.close()
    } finally FileUtils.deleteQuietly(stage.toFile)
    Files.writeString(Paths.get(zipPath.toString + ".meta.json"),
      """{"submitter":null,"metadata_version":"0.0.1","is_metadata":true,"is_snapshot":true}""")
    Some(zipPath.toString)
  }
}

object JobRunner {

  /** Render the result map as compact JSON (the reference uses
    * `json.dumps(output, separators=(',',':'))`, :436). */
  def toJson(result: Map[String, Any]): String = {
    def toJava(v: Any): AnyRef = v match {
      case m: Map[_, _] =>
        val lm = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => lm.put(k.toString, toJava(x)) }
        lm
      case s: Seq[_] => s.map(toJava).asJava
      case other => other.asInstanceOf[AnyRef]
    }
    new ObjectMapper().writeValueAsString(toJava(result))
  }

  /** Env-driven single job: the testable core of [[main]]. Returns every
    * `[out]` line; the LAST one is the caller-visible result (reference
    * contract :408,435-436). */
  def runFromEnv(spark: SparkSession, env: Map[String, String]): Seq[String] = {
    val inputData = env.getOrElse("INPUT_DATA",
      sys.error("INPUT_DATA not found in environment"))
    val profile = Authz.parseProfile(
      Files.readString(Paths.get(env.getOrElse("GRAFT_USER_PROFILE",
        sys.error("GRAFT_USER_PROFILE not found in environment")))))
    val logs = scala.collection.mutable.ArrayBuffer[String]()
    // DICTIONARY_URL flow (:411-414): absent → bundled default, logged
    val schemas = Dictionary.resolve(env.get("DICTIONARY_URL"), logs = logs)
    val etl = new Etl(
      env.getOrElse("GRAFT_STORE_DIR", "/tmp/graft/store"), schemas)
    val exportDir = env.getOrElse("GRAFT_EXPORT_DIR", "/tmp/graft/export")
    // the reference echoes the PARSED envelope re-serialized compact
    // (json.dumps(input_data, separators=(',',':')), :408) — never the raw
    // env string, which could be multi-line and break the [out] contract.
    // A malformed envelope throws before any [out] line, matching the
    // reference (it parses at :52 before the first print).
    val mapper = new ObjectMapper()
    val first = s"[out] ${mapper.writeValueAsString(mapper.readTree(inputData))}"
    val result = new JobRunner(etl).run(spark, inputData, profile, exportDir)
    val merged = result + ("logs" ->
      (logs.toSeq ++ result("logs").asInstanceOf[Seq[String]]))
    Seq(first, s"[out] ${toJson(merged)}")
  }

  /** Executable entry: mirrors the reference job's stdout contract — the
    * last `[out]`-prefixed line is the result JSON. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try runFromEnv(spark, sys.env.toMap).foreach(println)
    finally spark.stop()
  }
}
