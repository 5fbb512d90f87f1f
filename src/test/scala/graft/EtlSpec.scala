package graft

import graft.operators.PlanDump
import graft.ops.LocalFs
import graft.pipeline.{Dictionary, Etl, JobWatch}
import graft.plans.SchemaFlattener
import graft.sources.{Ndjson, ZipNdjson}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** End-to-end reference lifecycle: put (import) → get (export) → delete,
  * including the missing-resource-file fallback and re-import idempotence
  * (SURVEY.md §3, §5 item 2), plus the distributed zip-NDJSON source.
  */
class EtlSpec extends SparkSpec {

  private val patientLines =
    """{"id":"p1","gender":"female","birthDate":"1980-02-03","identifier":["a#1"]}
      |{"id":"p2","gender":"male","birthDate":"1990-05-06","identifier":[]}
      |""".stripMargin
  private val obsLines =
    """{"id":"o1","patient_id":"p1","code":"hr","value_numeric":61.0,"effectiveDateTime":"2024-01-01T10:00:00Z"}
      |{"id":"o2","patient_id":"p1","code":"hr","value_numeric":63.0,"effectiveDateTime":"2024-01-01T11:00:00Z"}
      |""".stripMargin
  private val studyLines =
    """{"id":"s1","status":"active","description":"demo study","identifier_coding":["x#y"]}
      |""".stripMargin

  private def commitDir(): String = {
    val dir = Files.createTempDirectory("commit").toString
    Files.writeString(Paths.get(dir, "Patient.ndjson"), patientLines)
    Files.writeString(Paths.get(dir, "Observation.ndjson"), obsLines)
    Files.writeString(Paths.get(dir, "ResearchStudy.ndjson"), studyLines)
    // DocumentReference.ndjson deliberately absent -> /dev/null path
    dir
  }

  test("put -> flat/graph/discovery stores; missing resource type loads empty") {
    val etl = new Etl(Files.createTempDirectory("etl").toString)
    etl.put(spark, "aced-demo", commitDir())

    val fp = etl.flatPatient.readProject(spark, "aced-demo")
    assert(fp.count() === 2)
    val p1 = fp.filter("id = 'p1'").collect()(0)
    assert(p1.getAs[Long]("observation_count") === 2L)
    assert(p1.getAs[Long]("file_count") === 0L) // absent DocumentReference

    assert(etl.flatFile.readProject(spark, "aced-demo").count() === 0)
    assert(etl.edges.readProject(spark, "aced-demo").count() === 2)
    assert(etl.vertices.readProject(spark, "aced-demo").count() === 5)

    val disc = etl.discovery.readProject(spark, "aced-demo").collect()(0)
    assert(disc.getAs[Long]("patient_count") === 2L)
    assert(disc.getAs[String]("description") === "demo study")
  }

  test("put is idempotent; get exports NDJSON; delete empties every store") {
    val etl = new Etl(Files.createTempDirectory("etl2").toString)
    val dir = commitDir()
    etl.put(spark, "aced-demo", dir)
    etl.put(spark, "aced-demo", dir) // re-import same commit
    assert(etl.flatPatient.readProject(spark, "aced-demo").count() === 2)

    val out = Files.createTempDirectory("export").toString
    val types = etl.get(spark, "aced-demo", out)
    assert(types === Seq("Observation", "Patient", "ResearchStudy"))
    val exported = spark.read.json(s"$out/Patient.ndjson")
    assert(exported.count() === 2)
    assert(exported.columns.contains("gender"))

    etl.delete(spark, "aced-demo")
    assert(etl.flatPatient.read(spark).count() === 0)
    assert(etl.fhirRaw.read(spark).count() === 0)
    etl.delete(spark, "aced-demo") // idempotent
  }

  test("typed Dataset[FlatPatient] view + partition pruning on readProject") {
    val etl = new graft.pipeline.Etl(Files.createTempDirectory("etl3").toString)
    etl.put(spark, "aced-demo", commitDir())
    etl.put(spark, "aced-other", commitDir())
    val ds = etl.patients(spark, "aced-demo")
    // typed ops through the encoder
    val spark2 = spark
    import spark2.implicits._
    val names = ds.filter(_.observation_count > 0).map(_.id).collect().sorted
    assert(names.toSeq === Seq("p1"))
    // per-project read prunes partitions at the scan, not post-filter
    val plan = etl.flatPatient.readProject(spark, "aced-demo")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
           plan.contains("project_id#") && plan.contains("aced-demo"),
      s"expected partition prune in:\n${plan.take(800)}")
  }

  test("export -> re-import round-trip preserves the project (durability)") {
    val etl1 = new Etl(Files.createTempDirectory("etl-rt1").toString)
    etl1.put(spark, "aced-demo", commitDir())
    val out = Files.createTempDirectory("rt-export").toString
    etl1.get(spark, "aced-demo", out)
    // the exported dir has <Type>.ndjson entries (as directories of JSON
    // lines) — re-importable as a commit dir
    val etl2 = new Etl(Files.createTempDirectory("etl-rt2").toString)
    etl2.put(spark, "aced-demo", out)
    assert(etl2.flatPatient.readProject(spark, "aced-demo").count() ===
           etl1.flatPatient.readProject(spark, "aced-demo").count())
    assert(etl2.flatObservation.readProject(spark, "aced-demo").count() ===
           etl1.flatObservation.readProject(spark, "aced-demo").count())
    val ids1 = etl1.flatPatient.readProject(spark, "aced-demo")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    val ids2 = etl2.flatPatient.readProject(spark, "aced-demo")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids1 === ids2)
  }

  test("re-import wipes stale partitions; limit caps flat loads; " +
       "discovery is deterministic with >1 study") {
    val etl = new Etl(Files.createTempDirectory("etl-wipe").toString)
    etl.put(spark, "aced-demo", commitDir()) // has 2 observations
    assert(etl.flatObservation.readProject(spark, "aced-demo").count() === 2)

    // second import has NO Observation file → stale obs rows must go
    val d2 = Files.createTempDirectory("commit2").toString
    Files.writeString(Paths.get(d2, "Patient.ndjson"),
      """{"id":"p3","gender":"male","birthDate":"1970-01-01","identifier":[]}""" + "\n")
    // two studies, written s2-first: orderBy must still pick s1
    Files.writeString(Paths.get(d2, "ResearchStudy.ndjson"),
      """{"id":"s2","status":"active","description":"zzz","identifier_coding":[]}
        |{"id":"s1","status":"active","description":"first","identifier_coding":[]}
        |""".stripMargin)
    etl.put(spark, "aced-demo", d2)
    assert(etl.flatObservation.readProject(spark, "aced-demo").count() === 0)
    assert(etl.flatPatient.readProject(spark, "aced-demo")
      .select("id").collect().map(_.getString(0)).toSeq === Seq("p3"))
    val disc = etl.discovery.readProject(spark, "aced-demo").collect()(0)
    assert(disc.getAs[String]("description") === "first")

    // load_flat(limit=...) parity: flat stores capped, raw store is not
    val d3 = commitDir() // 2 patients, 2 observations
    etl.put(spark, "aced-demo", Seq(d3), limit = Some(1))
    assert(etl.flatPatient.readProject(spark, "aced-demo").count() === 1)
    assert(etl.flatObservation.readProject(spark, "aced-demo").count() === 1)
  }

  test("get writes one <Type>.ndjson per type into outDir and touches nothing else") {
    val etl = new Etl(Files.createTempDirectory("etl-get").toString)
    etl.put(spark, "aced-demo", commitDir())
    val out = Files.createTempDirectory("get-layout")
    Files.writeString(out.resolve("keep.txt"), "mine")
    def ids(t: String): Seq[String] = spark.read.json(s"$out/$t.ndjson")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    val exported = Set("keep.txt", "Observation.ndjson", "Patient.ndjson",
                       "ResearchStudy.ndjson")
    assert(etl.get(spark, "aced-demo", out.toString) ===
      Seq("Observation", "Patient", "ResearchStudy"))
    assert(out.toFile.list().toSet === exported)
    assert(ids("Patient") === Seq("p1", "p2"))

    // a second get replaces each type's export whole
    val d2 = Files.createTempDirectory("commit-next")
    Files.writeString(d2.resolve("Patient.ndjson"),
      """{"id":"p3","gender":"male","birthDate":"1970-01-01","identifier":[]}""" + "\n")
    Files.writeString(d2.resolve("Observation.ndjson"),
      """{"id":"o3","patient_id":"p3","code":"hr","value_numeric":70.0}""" + "\n")
    Files.writeString(d2.resolve("ResearchStudy.ndjson"),
      """{"id":"s2","status":"active","description":"next","identifier_coding":[]}""" + "\n")
    etl.put(spark, "aced-demo", d2.toString)
    assert(etl.get(spark, "aced-demo", out.toString) ===
      Seq("Observation", "Patient", "ResearchStudy"))
    assert(out.toFile.list().toSet === exported)
    assert(Seq("Observation", "Patient", "ResearchStudy").map(ids) ===
      Seq(Seq("o3"), Seq("p3"), Seq("s2")))
    assert(Files.readString(out.resolve("keep.txt")) === "mine")

    assert(etl.get(spark, "aced-unknown", out.toString) === Nil)
    assert(out.toFile.list().toSet === exported)
  }

  test("a commit dir given as a file:// URI imports like its plain path") {
    val dir = commitDir()
    def counts(commit: String): Seq[Long] = {
      val etl = new Etl(Files.createTempDirectory("etl-uri").toString)
      etl.put(spark, "aced-demo", commit)
      stores(etl).map(_.readProject(spark, "aced-demo").count())
    }
    val plain = counts(dir)
    assert(plain === Seq(5L, 5L, 2L, 2L, 2L, 0L, 1L))
    assert(counts(s"file://$dir") === plain)
  }

  test("a put runs its staged store writes as concurrent jobs") {
    val etl = new Etl(Files.createTempDirectory("etl-concurrent").toString)
    // each store write is one SQL execution: jobs of two executions
    // running at once are two writes in flight together
    val running = scala.collection.mutable.Map.empty[Int, String]
    var mostAtOnce = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = running.synchronized {
        Option(e.properties).flatMap(p =>
          Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).foreach { id =>
          running(e.jobId) = id
          mostAtOnce = math.max(mostAtOnce, running.values.toSet.size)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.synchronized(running -= e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    val watch = new JobWatch(spark.sparkContext)
    try { etl.put(spark, "aced-demo", commitDir()); assert(watch.awaitIdle()) }
    finally { watch.close(); spark.sparkContext.removeSparkListener(listener) }
    assert(running.synchronized(mostAtOnce) >= 2,
      "the staged writes ran one after another")
    // the writers' pool is gone with the call
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-putAll"))
  }

  private def stores(etl: Etl) =
    Seq(etl.fhirRaw, etl.vertices, etl.edges, etl.flatPatient,
        etl.flatObservation, etl.flatFile, etl.discovery)

  test("a failed put leaves the previous import readable in every store") {
    val root = Files.createTempDirectory("etl-fail")
    val etl = new Etl(root.toString)
    etl.put(spark, "aced-demo", commitDir())
    def contents(): Seq[Seq[String]] = stores(etl).map(
      _.readProject(spark, "aced-demo").toJSON.collect().sorted.toSeq)
    val v1 = contents()
    assert(v1.count(_.nonEmpty) === 6) // all but flat_file

    // the Observation input fails only when a job reads it
    val bad = Files.createTempDirectory("commit-bad")
    Files.writeString(bad.resolve("Patient.ndjson"), patientLines)
    Files.writeString(bad.resolve("ResearchStudy.ndjson"), studyLines)
    Files.createDirectories(bad.resolve("Observation.ndjson"))
    Files.write(bad.resolve("Observation.ndjson/part.json.gz"),
      "not gzip".getBytes("UTF-8"))
    intercept[Exception](etl.put(spark, "aced-demo", bad.toString))
    assert(contents() === v1)
    // no staging directory is left next to the stores
    assert(root.toFile.list().toSet === Set("fhir_raw", "vertices", "edges",
      "flat_patient", "flat_observation", "flat_file", "discovery"))

    // a failed first put leaves a fresh root uninitialized
    val fresh = Files.createTempDirectory("etl-fail-fresh")
    val etl2 = new Etl(fresh.toString)
    intercept[Exception](etl2.put(spark, "aced-demo", bad.toString))
    assert(fresh.toFile.list().isEmpty, fresh.toFile.list().toSeq)
    assert(!stores(etl2).exists(_.isInitialized(spark)))
    assert(etl2.discoveryStudy(spark, "aced-demo") === None)
  }

  test("outside project ids stay inside their own partition directory") {
    val etl = new Etl(Files.createTempDirectory("etl-ids").toString)
    etl.put(spark, "aced-other", commitDir())
    def other(): Seq[Long] =
      stores(etl).map(_.readProject(spark, "aced-other").count())
    val otherRows = other()
    // unescaped, this id resolves to the edges store's root directory
    etl.delete(spark, "a-../../../edges")
    assert(other() === otherRows)
    // Spark writes this id as project_id=aced-brca%3Av2
    val escaped = "aced-brca:v2"
    etl.put(spark, escaped, commitDir())
    val noObs = Files.createTempDirectory("commit-noobs")
    Files.writeString(noObs.resolve("Patient.ndjson"), patientLines)
    etl.put(spark, escaped, noObs.toString)
    assert(etl.flatObservation.readProject(spark, escaped).count() === 0)
    assert(etl.flatPatient.readProject(spark, escaped).count() === 2)
    etl.delete(spark, escaped)
    assert(stores(etl).forall(_.readProject(spark, escaped).isEmpty))
    assert(other() === otherRows)
  }

  /** Every NDJSON scan operator that executed while `body` ran, as its
    * resource type and output rows (a cached frame's scan counts once,
    * however many queries read the cache). A scan over several commit
    * dirs has one root path per dir, all named `<Type>.ndjson`. */
  private def ndjsonScans(body: => Unit): Seq[(String, Long)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    val watch = new JobWatch(spark.sparkContext)
    try { body; assert(watch.awaitIdle()) }
    finally { watch.close(); spark.listenerManager.unregister(listener) }
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    plans.asScala.flatMap(PlanDump.operators(_, executed = true))
      .foreach { case s: FileSourceScanExec => scans.add(s); case _ => }
    scans.asScala.toSeq.flatMap { s =>
      val names = s.relation.location.rootPaths.map(_.getName).distinct
      if (!names.forall(_.endsWith(".ndjson"))) None
      else {
        assert(names.size === 1, s"one scan over several types: $names")
        Some(names.head.stripSuffix(".ndjson") -> s.metrics("numOutputRows").value)
      }
    }
  }

  /** Rows each `<Type>.ndjson` file's scans produced while `body` ran. */
  private def ndjsonRowsScanned(body: => Unit): Map[String, Long] =
    ndjsonScans(body).groupMapReduce(_._1)(_._2)(_ + _)

  test("a put scans each resource file once") {
    val etl = new Etl(Files.createTempDirectory("etl-once").toString)
    val rows = ndjsonRowsScanned(etl.put(spark, "aced-demo", commitDir()))
    // one pass over a file yields its line count
    assert(rows === Map("Patient" -> 2L, "Observation" -> 2L,
                        "ResearchStudy" -> 1L))
  }

  test("a warm put fills its four cached inputs in one job before the writes") {
    val dir = commitDir()
    Files.writeString(Paths.get(dir, "DocumentReference.ndjson"),
      """{"id":"d1","patient_id":"p1","content_url":"s3://b/k","content_size":10}""" + "\n")
    val etl = new Etl(Files.createTempDirectory("etl-jobs").toString)
    etl.put(spark, "aced-demo", dir)
    // an outer watch sees the jobs of the put's own inner one
    val (_, put) = JobWatch.measure(spark.sparkContext) {
      etl.put(spark, "aced-demo", dir)
    }
    // the fill job and the seven writes' 9 jobs: one each, and two more
    // for flat_patient's aggregate (its shuffle and its broadcast); no
    // write submits a cache-stage job of its own (18 jobs when they did)
    assert(put.jobs === 10)
  }

  /** The import's inputs as the put reads them: one frame per type with
    * its `project_id`. */
  private def inputs(dirs: Seq[String], projectId: String): Map[String, DataFrame] =
    Seq("ResearchStudy", "Patient", "Observation", "DocumentReference").map { t =>
      t -> Ndjson.readOrEmpty(spark, dirs, t, Dictionary.default(t))
        .withColumn("project_id", lit(projectId))
    }.toMap

  private def sortedJson(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  test("a two-commit put scans each resource type once over both commits") {
    val c1 = commitDir()
    val c2 = Files.createTempDirectory("commit-second")
    Files.writeString(c2.resolve("Patient.ndjson"),
      """{"id":"p3","gender":"male","birthDate":"1970-01-01","identifier":[]}""" + "\n")
    Files.writeString(c2.resolve("Observation.ndjson"),
      """{"id":"o3","patient_id":"p3","code":"hr","value_numeric":70.0}""" + "\n")
    val commits = Seq(c1, c2.toString)
    val etl = new Etl(Files.createTempDirectory("etl-two").toString)
    val scans = ndjsonScans(etl.put(spark, "aced-demo", commits, None))
    assert(scans.sortBy(_._1) === Seq("Observation" -> 3L, "Patient" -> 3L,
                                      "ResearchStudy" -> 1L))
    // the rows of the union of one scan per commit dir
    def perCommit(t: String): DataFrame =
      commits.map(Ndjson.readOrEmpty(spark, _, t, Dictionary.default(t))).reduce(_ unionByName _)
    Seq("Patient", "Observation", "ResearchStudy", "DocumentReference").foreach { t =>
      assert(sortedJson(inputs(commits, "aced-demo")(t).drop("project_id")) ===
        sortedJson(perCommit(t)))
    }
    assert(sortedJson(etl.flatObservation.readProject(spark, "aced-demo")
      .drop("project_id")) === sortedJson(SchemaFlattener.flatten(perCommit("Observation"))))
    assert(etl.fhirRaw.readProject(spark, "aced-demo").count() === 7)
  }

  test("flat_patient and discovery match the two-aggregate, counting-job formulation") {
    val dir = Files.createTempDirectory("commit-edges")
    // p1: observations and documents, one document without a size; p2:
    // observations only, one without a value; p3: documents only; p4:
    // neither; p9's observation and a document without a patient match
    // nobody
    Files.writeString(dir.resolve("Patient.ndjson"), Seq("p1", "p2", "p3", "p4").map(p =>
      s"""{"id":"$p","gender":"female","birthDate":"1980-02-03","identifier":[]}""")
      .mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("Observation.ndjson"),
      """{"id":"o1","patient_id":"p1","code":"hr","value_numeric":61.0}
        |{"id":"o2","patient_id":"p1","code":"hr","value_numeric":63.5}
        |{"id":"o3","patient_id":"p2","code":"hr"}
        |{"id":"o4","patient_id":"p2","code":"hr","value_numeric":1.25}
        |{"id":"o9","patient_id":"p9","code":"hr","value_numeric":2.0}
        |""".stripMargin)
    Files.writeString(dir.resolve("DocumentReference.ndjson"),
      """{"id":"d1","patient_id":"p1","content_url":"s3://b/1","content_size":10}
        |{"id":"d2","patient_id":"p1","content_url":"s3://b/2"}
        |{"id":"d3","patient_id":"p3","content_url":"s3://b/3","content_size":7}
        |{"id":"d4","content_url":"s3://b/4","content_size":5}
        |""".stripMargin)
    val noStudy = Files.createTempDirectory("commit-edges-nostudy")
    Files.list(dir).forEach(f => Files.copy(f, noStudy.resolve(f.getFileName)))
    Files.writeString(dir.resolve("ResearchStudy.ndjson"),
      """{"id":"s2","status":"active","description":"second","identifier_coding":[]}
        |{"id":"s1","status":"active","description":"first","identifier_coding":["a#b"]}
        |""".stripMargin)

    // the formulation this put replaced: one aggregate and one join per
    // child type, and a counting aggregate cross-joined to the study
    def reference(in: Map[String, DataFrame]): (DataFrame, DataFrame) = {
      val (study, patient) = (in("ResearchStudy"), in("Patient"))
      val (obs, docRef) = (in("Observation"), in("DocumentReference"))
      val obsStats = obs.groupBy(col("patient_id").as("id"))
        .agg(count(lit(1)).as("observation_count"), avg(col("value_numeric")).as("avg_value"))
      val docStats = docRef.groupBy(col("patient_id").as("id"))
        .agg(count(lit(1)).as("file_count"), sum(col("content_size")).as("total_bytes"))
      (SchemaFlattener.flatten(patient)
         .join(obsStats, Seq("id"), "left").join(docStats, Seq("id"), "left")
         .na.fill(0, Seq("observation_count", "file_count", "total_bytes")),
       study.orderBy("id").limit(1)
         .crossJoin(patient.agg(count(lit(1)).as("patient_count")))
         .select(col("project_id"), col("patient_count"), col("description"),
                 col("identifier_coding")))
    }
    val etl = new Etl(Files.createTempDirectory("etl-edges").toString)
    for ((commit, limit) <- Seq(dir -> None, dir -> Some(2), noStudy -> None)) {
      etl.put(spark, "aced-demo", Seq(commit.toString), limit)
      val (flat, disc) = reference(inputs(Seq(commit.toString), "aced-demo"))
      // a store reads its partition column last
      val stored = etl.flatPatient.readProject(spark, "aced-demo")
        .select(flat.columns.toIndexedSeq.map(col): _*)
      if (limit.isEmpty) assert(sortedJson(stored) === sortedJson(flat))
      else {
        assert(stored.count() === 2)
        assert(sortedJson(stored).toSet.subsetOf(sortedJson(flat).toSet))
      }
      // the count is of every patient, not only the capped load's
      assert(sortedJson(etl.discovery.readProject(spark, "aced-demo")
        .select(disc.columns.toIndexedSeq.map(col): _*)) === sortedJson(disc))
    }
    assert(sortedJson(reference(inputs(Seq(dir.toString), "aced-demo"))._1) ===
      Seq(
        """{"id":"p1","gender":"female","birthDate":"1980-02-03","identifier":[],"project_id":"aced-demo","observation_count":2,"avg_value":62.25,"file_count":2,"total_bytes":10}""",
        """{"id":"p2","gender":"female","birthDate":"1980-02-03","identifier":[],"project_id":"aced-demo","observation_count":2,"avg_value":1.25,"file_count":0,"total_bytes":0}""",
        """{"id":"p3","gender":"female","birthDate":"1980-02-03","identifier":[],"project_id":"aced-demo","observation_count":0,"file_count":1,"total_bytes":7}""",
        """{"id":"p4","gender":"female","birthDate":"1980-02-03","identifier":[],"project_id":"aced-demo","observation_count":0,"file_count":0,"total_bytes":0}"""))
    assert(etl.discovery.readProject(spark, "aced-demo").isEmpty) // no study
  }

  test("a warm put compiles nothing, also when the patient count changes") {
    val a = commitDir()
    val b = Files.createTempDirectory("commit-more")
    Files.list(Paths.get(a)).forEach(f => Files.copy(f, b.resolve(f.getFileName)))
    Files.writeString(b.resolve("Patient.ndjson"), patientLines +
      """{"id":"p3","gender":"male","birthDate":"1970-01-01","identifier":[]}""" + "\n")
    Files.writeString(b.resolve("Observation.ndjson"), obsLines.linesIterator.take(1)
      .mkString("", "\n", "\n"))
    val etl = new Etl(Files.createTempDirectory("etl-compiles").toString)
    etl.put(spark, "aced-a", a)
    etl.put(spark, "aced-a", a)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    etl.put(spark, "aced-b", b.toString)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
    assert(etl.discovery.readProject(spark, "aced-b").select("patient_count")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("each store write is sized from the cached bytes it reads") {
    val c2 = Files.createTempDirectory("commit-sized")
    Files.writeString(c2.resolve("Observation.ndjson"),
      """{"id":"o3","patient_id":"p2","code":"hr","value_numeric":70.0}""" + "\n")
    val commits = Seq(commitDir(), c2.toString)
    val root = Files.createTempDirectory("etl-sized")
    def obsFiles(): Int = {
      val etl = new Etl(root.toString)
      etl.put(spark, "aced-demo", commits, None)
      assert(etl.flatObservation.readProject(spark, "aced-demo").count() === 3)
      root.resolve("flat_observation/project_id=aced-demo").toFile.list()
        .count(_.startsWith("part-"))
    }
    // a few hundred cached bytes, below the minimum partition size: one
    // task, one file
    assert(obsFiles() === 1)
    def withConf(kv: (String, String)*)(body: => Int): Int = {
      val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val coalesce = "spark.sql.adaptive.coalescePartitions"
    val minSize = s"$coalesce.minPartitionSize" -> "1b"
    // an advisory size below the cached bytes: one file per commit's scan
    // partition, as many as the plan has
    assert(withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16b",
      minSize)(obsFiles()) === 2)
    // the target size is lowered to keep minPartitionNum tasks (by default
    // one per core) ...
    assert(withConf(minSize, s"$coalesce.minPartitionNum" -> "4")(obsFiles()) === 2)
    // ... unless parallelism-first is off
    assert(withConf(minSize, s"$coalesce.minPartitionNum" -> "4",
      s"$coalesce.parallelismFirst" -> "false")(obsFiles()) === 1)
  }

  test("a put and a get set every permission in-process") {
    val root = Files.createTempDirectory("etl-chmod").toString
    val etl = new Etl(root)
    assert(new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[LocalFs])
    val before = LocalFs.fallbacks.sum
    etl.put(spark, "aced-demo", commitDir())
    etl.get(spark, "aced-demo", Files.createTempDirectory("etl-chmod-out").toString)
    assert(LocalFs.fallbacks.sum === before)
  }

  test("zip-of-ndjson source decompresses in executors") {
    val zdir = Files.createTempDirectory("zips")
    val zip = zdir.resolve("commit1.zip")
    val zout = new ZipOutputStream(Files.newOutputStream(zip))
    zout.putNextEntry(new ZipEntry("Patient.ndjson"))
    zout.write(patientLines.getBytes("UTF-8"))
    zout.closeEntry()
    zout.putNextEntry(new ZipEntry("README.txt")) // non-ndjson: skipped
    zout.write("ignore me".getBytes("UTF-8"))
    zout.closeEntry()
    zout.close()

    val df = ZipNdjson.read(spark, zdir.toString + "/*.zip", Etl.patientSchema)
    assert(df.count() === 2)
    assert(df.filter("id = 'p1'").select("gender").collect()(0)
      .getString(0) === "female")
  }
}
