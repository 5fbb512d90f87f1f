package graft

import graft.pipeline.{Authz, Etl, JobRunner}
import graft.pipeline.Authz.{Grant, UserProfile}
import java.nio.file.{Files, Paths}

class JobRunnerSpec extends SparkSpec {

  /** Full-rights profile in the reference's arborist shape: BOTH program
    * resources plus the exact project-path grants. */
  private val admin = UserProfile(
    email = "admin@example.org",
    resources = Set("/programs/aced", "/programs/aced/projects"),
    authz = Map("/programs/aced/projects/demo" ->
      Seq(Grant("create", "*"), Grant("read-storage", "*"))))

  private def commitDir(patientId: String = "p1"): String = {
    val dir = Files.createTempDirectory("jr-commit").toString
    Files.writeString(Paths.get(dir, "Patient.ndjson"),
      s"""{"id":"$patientId","gender":"female","birthDate":"1980-02-03","identifier":[]}""" + "\n")
    Files.writeString(Paths.get(dir, "ResearchStudy.ndjson"),
      """{"id":"s1","status":"active","description":"d","identifier_coding":[]}""" + "\n")
    dir
  }

  /** Temp export directories the snapshot step creates. */
  private def exportTemps(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("export")).toSet

  test("put envelope loads commits, auto-snapshots, reports files") {
    val root = Files.createTempDirectory("jr")
    val etl = new Etl(root.toString)
    val runner = new JobRunner(etl, clock = () => "20260101-000000")
    val exp = Files.createTempDirectory("jr-exp").toString
    val temps = exportTemps()
    val out = runner.run(spark,
      s"""{"method":"put","project_id":"aced-demo",
         |"push":{"commits":[{"commit_id":"c1","meta_path":"${commitDir()}"}]}}"""
        .stripMargin,
      admin, exp)
    assert(out("files").asInstanceOf[Seq[String]]
      === Seq("Patient.ndjson", "ResearchStudy.ndjson"))
    assert(out("user") === "admin@example.org")
    val snap = out("snapshot").asInstanceOf[Map[String, Any]]("object_id")
      .asInstanceOf[String]
    assert(snap.endsWith("aced-demo_20260101-000000_SNAPSHOT.zip"))
    assert(Files.size(Paths.get(snap)) > 0)
    // upload-metadata sidecar (reference's cp metadata map)
    assert(Files.readString(Paths.get(snap + ".meta.json"))
      .contains("\"is_snapshot\":true"))
    assert(etl.flatPatient.readProject(spark, "aced-demo").count() === 1)
    runner.run(spark, """{"method":"get","project_id":"aced-demo"}""", admin, exp)
    // put + get leave no staging directory: not the exported NDJSON, not
    // a staged store write
    assert(exportTemps() -- temps === Set.empty)
    assert(root.toFile.list().toSet === Set("fhir_raw", "vertices", "edges",
      "flat_patient", "flat_observation", "flat_file", "discovery"))
  }

  test("get without read-storage soft-fails: null object_id + log, no throw") {
    val etl = new Etl(Files.createTempDirectory("jr-ro").toString)
    val runner = new JobRunner(etl, clock = () => "20260101-000000")
    val exp = Files.createTempDirectory("jr-ro-exp").toString
    val createOnly = UserProfile(
      "writer@example.org",
      Set("/programs/aced", "/programs/aced/projects"),
      Map("/programs/aced/projects/demo" -> Seq(Grant("create", "*"))))
    runner.run(spark,
      s"""{"method":"put","project_id":"aced-demo",
         |"push":{"commits":[{"commit_id":"c1","meta_path":"${commitDir()}"}]}}"""
        .stripMargin, createOnly, exp)
    // reference's _get returns None on denied read (no exception): the
    // create-only put above succeeded with a null snapshot, and an
    // explicit get behaves the same
    val out = runner.run(spark,
      """{"method":"get","project_id":"aced-demo"}""", createOnly, exp)
    assert(out("object_id") == null)
    assert(out("logs").asInstanceOf[Seq[String]]
      .exists(_.contains("No read permissions")))
    assert(etl.flatPatient.readProject(spark, "aced-demo").count() === 1)
  }

  test("multi-commit push loads cumulatively (not last-commit-wins)") {
    val etl = new Etl(Files.createTempDirectory("jr-mc").toString)
    val runner = new JobRunner(etl, clock = () => "20260101-000000")
    val exp = Files.createTempDirectory("jr-mc-exp").toString
    runner.run(spark,
      s"""{"method":"put","project_id":"aced-demo","push":{"commits":[
         |{"commit_id":"c1","meta_path":"${commitDir("p1")}"},
         |{"commit_id":"c2","meta_path":"${commitDir("p2")}"}]}}"""
        .stripMargin, admin, exp)
    val ids = etl.flatPatient.readProject(spark, "aced-demo")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids === Seq("p1", "p2"))
  }

  test("delete empties the project; unknown method raises; authz enforced") {
    val etl = new Etl(Files.createTempDirectory("jr2").toString)
    val runner = new JobRunner(etl, clock = () => "20260101-000000")
    val exp = Files.createTempDirectory("jr2-exp").toString
    runner.run(spark,
      s"""{"method":"put","project_id":"aced-demo",
         |"push":{"commits":[{"commit_id":"c1","meta_path":"${commitDir()}"}]}}"""
        .stripMargin, admin, exp)
    val delOut = runner.run(spark,
      """{"method":"delete","project_id":"aced-demo"}""", admin, exp)
    assert(etl.flatPatient.read(spark).count() === 0)
    // per-store progress log lines mirror _empty_project (:374-385)
    val delLogs = delOut("logs").asInstanceOf[Seq[String]]
    assert(delLogs.exists(_.startsWith("EMPTIED graph")))
    assert(delLogs.exists(_.startsWith("EMPTIED flat")))
    assert(delLogs.exists(_.startsWith("EMPTIED FHIR STORE")))
    assert(delLogs.exists(_.startsWith("Empty discovery study:")))

    intercept[IllegalArgumentException] {
      runner.run(spark,
        """{"method":"frobnicate","project_id":"aced-demo"}""", admin, exp)
    }
    // _empty_project wraps everything in try/except (:360-390): an
    // unauthorized delete soft-fails — exception goes to logs, no throw
    val denied = runner.run(spark,
      """{"method":"delete","project_id":"aced-demo"}""",
      UserProfile("nobody@example.org", Set.empty, Map.empty), exp)
    assert(denied("logs").asInstanceOf[Seq[String]]
      .exists(_.startsWith("An Exception Occurred emptying project")))
  }

  test("delete before any put is clean — no spurious exception in logs") {
    val etl = new Etl(Files.createTempDirectory("jr-fresh").toString)
    val runner = new JobRunner(etl, clock = () => "20260101-000000")
    val out = runner.run(spark,
      """{"method":"delete","project_id":"aced-demo"}""", admin,
      Files.createTempDirectory("jr-fresh-exp").toString)
    val logs = out("logs").asInstanceOf[Seq[String]]
    assert(!logs.exists(_.startsWith("An Exception Occurred")), logs)
    assert(logs.exists(_.startsWith("EMPTIED FHIR STORE")))
  }

  test("authz predicate semantics match the reference rules") {
    val resources = Set("/programs/p1", "/programs/p1/projects")
    def profile(grants: Grant*): UserProfile =
      UserProfile("u@x", resources, Map("/programs/p1/projects/x" -> grants))

    // the happy path: both program resources + exact {method, service:*}
    assert(Authz.canCreate(profile(Grant("create", "*")), "p1", "x"))
    assert(Authz.canRead(profile(Grant("read-storage", "*")), "p1", "x"))
    // non-"*" service is NOT a grant (reference requires the exact dict)
    assert(!Authz.canCreate(profile(Grant("create", "fence")), "p1", "x"))
    // wildcard method is NOT a grant either
    assert(!Authz.canCreate(profile(Grant("*", "*")), "p1", "x"))
    // missing program-level resources deny even with the project grant
    assert(!Authz.canCreate(
      UserProfile("u@x", Set("/programs/p1"), // lacks /programs/p1/projects
        Map("/programs/p1/projects/x" -> Seq(Grant("create", "*")))),
      "p1", "x"))
    // program-level-only authz entry (no project path) denies
    assert(!Authz.canCreate(
      UserProfile("u@x", resources,
        Map("/programs/p1" -> Seq(Grant("create", "*")))), "p1", "x"))
    // wrong project denies; create != read-storage
    assert(!Authz.canCreate(profile(Grant("create", "*")), "p1", "y"))
    assert(!Authz.canRead(profile(Grant("create", "*")), "p1", "x"))

    val logs = scala.collection.mutable.ArrayBuffer[String]()
    Authz.canCreate(profile(Grant("create", "*")), "p1", "x", logs)
    assert(logs.exists(_.startsWith("HAS RESOURCE /programs/p1")))
    assert(logs.exists(_.contains("HAS SERVICE create")))

    assert(Authz.splitProjectId("aced-myproj") === ("aced", "myproj"))
    intercept[IllegalArgumentException](Authz.splitProjectId("noseparator"))
    // strict two-part unpack, matching the reference's
    // `program, project = project_id.split('-')` which raises on a
    // second dash (fhir_import_export.py:55-59)
    intercept[IllegalArgumentException](Authz.splitProjectId("aced-my-proj"))
    // …while EMPTY parts unpack fine in Python ('prog-'.split('-') ==
    // ['prog','']), so the reference accepts them and so do we
    assert(Authz.splitProjectId("-proj") === ("", "proj"))
    assert(Authz.splitProjectId("prog-") === ("prog", ""))
  }

  test("runFromEnv: INPUT_DATA in, final [out] JSON line out") {
    val profilePath = Files.createTempFile("profile", ".json")
    Files.writeString(profilePath,
      """{"email":"admin@example.org",
        |"resources":["/programs/aced","/programs/aced/projects"],
        |"authz":{"/programs/aced/projects/demo":[
        |  {"method":"create","service":"*"},
        |  {"method":"read-storage","service":"*"}]}}""".stripMargin)
    val store = Files.createTempDirectory("jr-env").toString
    val exp = Files.createTempDirectory("jr-env-exp").toString
    val lines = JobRunner.runFromEnv(spark, Map(
      "INPUT_DATA" ->
        s"""{"method":"put","project_id":"aced-demo","push":{"commits":[{"commit_id":"c1","meta_path":"${commitDir()}"}]}}""",
      "GRAFT_USER_PROFILE" -> profilePath.toString,
      "GRAFT_STORE_DIR" -> store,
      "GRAFT_EXPORT_DIR" -> exp))
    assert(lines.forall(_.startsWith("[out] ")))
    // only the LAST [out] line is the caller-visible result
    val result = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lines.last.stripPrefix("[out] "))
    assert(result.path("user").asText() === "admin@example.org")
    assert(result.path("snapshot").path("object_id").asText()
      .endsWith("_SNAPSHOT.zip"))
    assert(result.path("files").size() === 2)
    // no DICTIONARY_URL → bundled-default log line (reference :411-414)
    val logTexts = (0 until result.path("logs").size())
      .map(result.path("logs").get(_).asText())
    assert(logTexts.exists(_.contains("DICTIONARY_URL not found")))
    // missing INPUT_DATA is an assertion, like the reference
    intercept[RuntimeException] {
      JobRunner.runFromEnv(spark, Map.empty)
    }
  }
}
