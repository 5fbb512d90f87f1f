package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import graft.pipeline.{Authz, Etl, JobRunner}
import graft.sources.Ndjson
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The pod's own traffic: one client in a closed loop runs, per project,
  * `JobRunner.run` put (with its auto-snapshot), the three flat-table reads
  * through `Store.readProject`, `JobRunner.run` get, and `JobRunner.run`
  * delete. Round 0 is the cold round of a fresh JVM; `warmRounds` warm
  * rounds follow. Every round takes the projects in manifest order,
  * largest first: the first put of a round is still the slowest (the JIT
  * is still warming), and a seeded order made op_p50_s depend on which
  * project came first.
  *
  * The cold round also checks outputs, untimed, once its puts, reads and
  * gets are all timed: store row counts against the generator's counts,
  * every resource present in the export; then it deletes each project,
  * untimed, and checks zero rows in all seven stores. No timed job follows
  * a check in its round, and the files a check reads are gone (deleted and
  * rewritten) before the next round.
  */
object EtlRun {

  final case class Project(id: String, dirs: Seq[String], counts: Map[String, Long],
                           inputBytes: Long) {
    def resources: Long = counts.values.sum
  }

  private val Types = Seq("ResearchStudy", "Patient", "Observation", "DocumentReference")

  def run(spark: SparkSession, probes: Probes, trace: Trace, data: String,
          warmRounds: Int, work: String): Map[String, Any] = {
    val m = Json.read(s"$data/manifest.json")
    val projects = m.get("projects").elements().asScala.toSeq.map { p =>
      Project(p.get("project_id").asText(),
        p.get("commits").elements().asScala.map(c => s"$data/${c.asText()}").toSeq,
        Types.map(t => t -> p.get("counts").path(t).asLong(0L)).toMap,
        p.get("input_bytes").asLong())
    }
    val storeRoot = s"$work/store"
    deleteTree(Paths.get(storeRoot))
    val etl = new Etl(storeRoot)
    val runner = new JobRunner(etl)
    val grants = Seq(Authz.Grant("create", "*"), Authz.Grant("read-storage", "*"))
    val user = Authz.UserProfile("bench@example.org",
      projects.flatMap { p =>
        val (prog, _) = Authz.splitProjectId(p.id)
        Seq(s"/programs/$prog", s"/programs/$prog/projects")
      }.toSet,
      projects.map { p =>
        val (prog, proj) = Authz.splitProjectId(p.id)
        s"/programs/$prog/projects/$proj" -> grants
      }.toMap)
    def envelope(method: String, p: Project): String = Json.render(Map(
      "method" -> method, "project_id" -> p.id,
      "push" -> Map("commits" -> p.dirs.zipWithIndex.map { case (d, i) =>
        Map("commit_id" -> s"c$i", "meta_path" -> d) })))

    val ops = Seq.newBuilder[Map[String, Any]]
    val rounds = Seq.newBuilder[Map[String, Any]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def fail(key: String, msg: String): Unit = if (!errors.contains(key)) errors(key) = msg

    /** One timed verb call; traced runs attach the counters it moved. */
    def op(verb: String, p: Project, round: Int, traced: Boolean)(body: => Unit): Unit = {
      val sql0 = probes.sqlEnds
      val s0 = if (traced) Some(probes.snap()) else None
      val wall0 = System.currentTimeMillis()
      val cpu0 = Probes.cpuSeconds
      val t0 = System.nanoTime()
      val ok = try { trace.span(s"pipeline.$verb", p.id)(body); true }
      catch {
        case e: Throwable =>
          fail(s"$verb:${p.id}", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          false
      }
      val s = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      val cpu1 = Probes.cpuSeconds
      var rec = Map[String, Any]("op" -> verb, "project" -> p.id, "pass" -> round,
        "traced" -> traced, "wall_s" -> s, "resources" -> p.resources,
        "input_bytes" -> p.inputBytes,
        "cpu_busy_s" -> (cpu1._1 - cpu0._1), "cpu_steal_s" -> (cpu1._2 - cpu0._2))
      if (!ok) rec += ("error" -> true)
      s0.foreach { a =>
        probes.drain(sql0 + 1)
        val d = (probes.snap() - a).toMap +
          ("exec.busy_wall_s" -> probes.busyMs(wall0, wall1) / 1e3)
        trace.annotate(s"pipeline.$verb", d.collect {
          case (k, v: Long) => k -> v.toDouble
          case (k, v: Double) => k -> v })
        rec ++= d
      }
      ops += rec
    }

    def job(method: String, p: Project, exportDir: String): Map[String, Any] = {
      val out = runner.run(spark, envelope(method, p), user, exportDir)
      val logs = out.getOrElse("logs", Nil).asInstanceOf[Seq[String]]
      logs.find(_.startsWith("An Exception Occurred")).foreach(l => sys.error(l))
      out
    }

    def step(key: String)(body: => Option[String]): Unit =
      try body.foreach(fail(key, _))
      catch { case e: Throwable =>
        fail(key, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }

    /** Round 0 is cold and checked: its puts, reads and gets are timed;
      * then, untimed, the stores and exports of every project are checked,
      * and every project is deleted and checked empty. Warm rounds time all
      * four verbs and check nothing. */
    def oneRound(r: Int, traced: Boolean): Unit = {
      if (traced) probes.attach() else probes.detach()
      trace.on = traced && r > 0 // spans cover warm rounds only
      val exportDir = s"$work/export/round-$r"
      var parseS = 0.0
      val zips = scala.collection.mutable.Map.empty[String, Option[String]]
      projects.foreach { p =>
        op("put", p, r, traced)(job("put", p, exportDir))
        if (traced && r > 0) {
          val (files, bytes) = partitionFiles(storeRoot, p.id)
          ops += Map("op" -> "store", "project" -> p.id, "pass" -> r, "traced" -> true,
            "files" -> files, "bytes" -> bytes, "input_bytes" -> p.inputBytes,
            "resources" -> p.resources)
          parseS += parse(spark, trace, p)
        }
        op("read", p, r, traced) {
          Seq(etl.flatPatient, etl.flatObservation, etl.flatFile).foreach { s =>
            s.readProject(spark, p.id).write.format("noop").mode("overwrite").save()
          }
        }
        op("get", p, r, traced) {
          zips(p.id) = Option(job("get", p, exportDir)("object_id")).map(_.toString)
        }
        if (r > 0) op("delete", p, r, traced)(job("delete", p, exportDir))
      }
      if (r == 0) {
        probes.detach()
        projects.foreach { p =>
          step(s"check:put:${p.id}")(checkStores(spark, etl, p))
          step(s"check:get:${p.id}")(checkExport(zips.getOrElse(p.id, None), p))
        }
        projects.foreach { p =>
          step(s"check:delete:${p.id}") {
            job("delete", p, exportDir)
            val left = etl.fhirRaw :: etl.vertices :: etl.edges :: etl.flatPatient ::
              etl.flatObservation :: etl.flatFile :: etl.discovery :: Nil
            val rows = left.filter(_.isInitialized(spark))
              .map(_.readProject(spark, p.id).count()).sum
            if (rows != 0) Some(s"$rows rows left after delete") else None
          }
        }
      }
      rounds += Map("pass" -> r, "traced" -> traced,
        "ndjson.parse_s" -> parseS, "artifacts.entries" -> graft.ArtifactCaches.entryCount)
      deleteTree(Paths.get(exportDir))
    }

    oneRound(0, trace.enabled)
    // a traced run goes plain, traced, plain; the overhead estimate leaves
    // out round 1, much the slowest, so it compares rounds 2 and 3
    val nWarm = math.max(if (trace.enabled) 3 else 1, warmRounds)
    (1 to nWarm).foreach(r => oneRound(r, trace.enabled && r % 2 == 0))
    probes.detach()
    Map("ops" -> ops.result(), "passes" -> rounds.result(), "errors" -> errors.toMap)
  }

  /** Time `Ndjson.readOrEmpty` for every resource file of the project,
    * each read evaluated with a noop sink. */
  private def parse(spark: SparkSession, trace: Trace, p: Project): Double = {
    val t0 = System.nanoTime()
    trace.span("sources.Ndjson", p.id) {
      for (d <- p.dirs; t <- Types)
        Ndjson.readOrEmpty(spark, d, t, graft.pipeline.Dictionary.default(t))
          .write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Row counts of every store against the generator's counts. */
  private def checkStores(spark: SparkSession, etl: Etl, p: Project): Option[String] = {
    val c = p.counts
    val want = Seq(
      "fhir_raw" -> (etl.fhirRaw, p.resources),
      "vertices" -> (etl.vertices, p.resources),
      "edges" -> (etl.edges, c("Observation") + c("DocumentReference")),
      "flat_patient" -> (etl.flatPatient, c("Patient")),
      "flat_observation" -> (etl.flatObservation, c("Observation")),
      "flat_file" -> (etl.flatFile, c("DocumentReference")),
      "discovery" -> (etl.discovery, 1L))
    val bad = want.flatMap { case (n, (s, w)) =>
      val got = s.readProject(spark, p.id).count()
      if (got != w) Some(s"$n=$got (want $w)") else None
    }
    if (bad.isEmpty) None else Some(bad.mkString("store rows: ", ", ", ""))
  }

  /** Every resource of the project appears once in the exported zip. */
  private def checkExport(zip: Option[String], p: Project): Option[String] = zip match {
    case None => Some("get returned no snapshot")
    case Some(z) =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ids = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
      var lines = 0L
      val zf = new java.util.zip.ZipFile(z)
      try zf.entries().asScala.foreach { e =>
        val t = e.getName.takeWhile(_ != '.')
        val src = scala.io.Source.fromInputStream(zf.getInputStream(e), "UTF-8")
        try src.getLines().filter(_.nonEmpty).foreach { l =>
          lines += 1
          ids.getOrElseUpdate(t, scala.collection.mutable.Set.empty) += mapper.readTree(l).path("id").asText()
        } finally src.close()
      } finally zf.close()
      val bad = Types.filter(t => ids.get(t).map(_.size.toLong).getOrElse(0L) != p.counts(t))
      if (bad.isEmpty && lines == p.resources) None
      else Some(s"export: $lines lines, types off: ${bad.mkString(",")}")
  }

  /** (data files, bytes) under the project's partition of every store. */
  private def partitionFiles(root: String, projectId: String): (Long, Long) = {
    val dirs = Option(new File(root).listFiles()).getOrElse(Array.empty[File])
      .map(s => new File(s, s"project_id=$projectId")).filter(_.isDirectory)
    var files, bytes = 0L
    dirs.foreach { d =>
      Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val n = f.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) { files += 1; bytes += Files.size(f) }
      }
    }
    (files, bytes)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
  }
}
