package graft.pipeline

import graft.plans.SchemaFlattener
import graft.sources.Ndjson
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's three job verbs (SURVEY.md §3) as Spark pipelines over
  * project-partitioned parquet stores:
  *
  *  - [[put]]  = import: NDJSON commit dir → flatten → fhir_raw +
  *    graph (vertices/edges) + flat tables + discovery refresh
  *    (fhir_import_export.py:439-470 `_put` / :183-314 `_load_all`)
  *  - [[get]]  = export: one project's fhir_raw partition → NDJSON dir
  *    (:317-357 `_get`; zipping the dir is a driver-side afterthought)
  *  - [[delete]] = empty project: partition drop across every store
  *    (:360-390 `_empty_project`)
  *
  * A put replaces the project's partition in every store (idempotent
  * re-import — the reference wipes and reloads a project per commit); all
  * per-project reads prune to one partition directory. At 100 TB: imports for
  * different projects touch disjoint partitions and parallelize
  * trivially; no operation ever scans another project's data.
  */
final class Etl(root: String,
                schemas: Map[String, StructType] = null) {

  /** Resource schemas: externally supplied dictionary (the reference's
    * DICTIONARY_URL design, see [[Dictionary]]) or the built-in default. */
  private val dict: Map[String, StructType] =
    Option(schemas).getOrElse(Dictionary.default)

  val fhirRaw = new Store(s"$root/fhir_raw", Seq("project_id", "resource_type"))
  val vertices = new Store(s"$root/vertices")
  val edges = new Store(s"$root/edges")
  val flatPatient = new Store(s"$root/flat_patient")
  val flatObservation = new Store(s"$root/flat_observation")
  val flatFile = new Store(s"$root/flat_file")
  val discovery = new Store(s"$root/discovery")

  private def stores: Seq[Store] =
    Seq(fhirRaw, vertices, edges, flatPatient, flatObservation, flatFile,
        discovery)

  import Etl._

  /** Import one unzipped commit directory for a project. Missing resource
    * files load as empty-but-schema'd frames (the reference's "/dev/null"
    * fallback — indices must exist even with zero rows). */
  def put(spark: SparkSession, projectId: String, commitDir: String): Unit =
    put(spark, projectId, Seq(commitDir), None)

  /** Import a project from one or more commit directories in ONE load —
    * the reference loads every commit of a push cumulatively
    * (fhir_import_export.py:455-470), so per-commit puts would keep only
    * the last commit. Each store's project directory is replaced whole
    * ("wipe and reload", :360-390 `_empty_project` semantics), so a
    * re-import where a resource file disappeared leaves no stale partition
    * behind; all seven are staged before any is swapped in, so a failed
    * import leaves the old project readable everywhere. `limit` caps rows
    * per flat table (`load_flat(limit=...)`, :231-258). */
  def put(spark: SparkSession, projectId: String, commitDirs: Seq[String],
          limit: Option[Int]): Unit = {
    require(commitDirs.nonEmpty, "at least one commit dir required")
    // a typo'd meta_path must fail the job, not load an empty project
    // (missing resource FILES inside an existing dir are still fine —
    // that's the reference's "/dev/null" empty-load); a dir is a Hadoop
    // path, so a `file://` or cluster URI resolves like a plain path
    val missing = commitDirs.filterNot { d =>
      d.nonEmpty && {
        val dir = new Path(d)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(dir) && fs.getFileStatus(dir).isDirectory
      }
    }
    require(missing.isEmpty,
      s"commit dir(s) not found: ${missing.mkString(", ")}")
    def readAll(name: String): DataFrame =
      commitDirs.map(read(spark, _, name, dict(name), projectId))
        .reduce(_ unionByName _)
    val study = readAll("ResearchStudy")
    val patient = readAll("Patient")
    val obs = readAll("Observation")
    val docRef = readAll("DocumentReference")
    def capped(df: DataFrame): DataFrame = limit.map(df.limit).getOrElse(df)

    val typed = Seq("ResearchStudy" -> study, "Patient" -> patient,
                    "Observation" -> obs, "DocumentReference" -> docRef)
    // each input is read once per put: the frames are persisted and one
    // job fills all four caches before the writes start (a write that
    // meets an unfilled cache submits its own job to fill it, one per
    // input and write); the seven writes read them and the finally
    // releases them, also when a job fails
    typed.foreach(_._2.persist())

    // flat tables (load_flat x3, :230-258); patient denormalized with
    // related-resource aggregates (denormalize_patient, :229) —
    // aggregate-then-join so the shuffle carries one row per patient
    val obsStats = obs.groupBy(col("patient_id").as("id"))
      .agg(count(lit(1)).as("observation_count"),
           avg(col("value_numeric")).as("avg_value"))
    val docStats = docRef.groupBy(col("patient_id").as("id"))
      .agg(count(lit(1)).as("file_count"), sum(col("content_size")).as("total_bytes"))
    try {
      spark.sparkContext.union(typed.flatMap(_._2.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers }))
        .count()
      Store.putAll(Seq(
        // full-fidelity store (the ES `fhir` index, :291-293)
        fhirRaw -> typed.map { case (t, df) =>
          df.select(col("project_id"), lit(t).as("resource_type"), col("id"),
                    to_json(struct(df.columns.toIndexedSeq.map(col): _*))
                      .as("resource_json"))
        }.reduce(_ unionByName _),
        // graph store (meta_upload, :224-226): one vertex per resource,
        // edges from the child->patient references
        vertices -> typed.map { case (t, df) =>
          df.select(col("project_id"), col("id"), lit(t).as("label"))
        }.reduce(_ unionByName _),
        edges -> obs.select(col("project_id"), col("id").as("src"),
                            col("patient_id").as("dst"), lit("observes").as("label"))
          .unionByName(
            docRef.select(col("project_id"), col("id").as("src"),
                          col("patient_id").as("dst"), lit("documents").as("label"))),
        flatPatient -> capped(SchemaFlattener.flatten(patient)
          .join(obsStats, Seq("id"), "left")
          .join(docStats, Seq("id"), "left")
          .na.fill(0, Seq("observation_count", "file_count", "total_bytes"))),
        flatObservation -> capped(SchemaFlattener.flatten(obs)),
        flatFile -> capped(SchemaFlattener.flatten(docRef)),
        // discovery summary (:261-289): one row per project; orderBy before
        // limit(1) so the chosen study row is partition-order independent
        discovery -> study.orderBy("id").limit(1)
          .crossJoin(patient.agg(count(lit(1)).as("patient_count")))
          .select(col("project_id"), col("patient_count"), col("description"),
                  col("identifier_coding"))),
        Seq(projectId))
    } finally typed.foreach(_._2.unpersist())
  }

  /** Export one project's resources as NDJSON files under `outDir`
    * (one file tree `<Type>.ndjson` per resource type, like the
    * reference's `studies/<project>` layout); returns the exported types,
    * sorted. One write job partitioned by `resource_type` fills a fresh
    * `_get_<uuid>` directory inside `outDir` (each fhir_raw file holds one
    * type, so the writer's per-task sort on it never shuffles), then each
    * `resource_type=<T>` directory replaces `<T>.ndjson`. Nothing else in
    * `outDir` is touched. */
  def get(spark: SparkSession, projectId: String, outDir: String): Seq[String] = {
    val tmp = new Path(outDir, s"_get_${java.util.UUID.randomUUID()}")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = "resource_type="
    try {
      fhirRaw.readProject(spark, projectId)
        .select("resource_type", "resource_json")
        .write.partitionBy("resource_type").text(tmp.toString)
      fs.listStatus(tmp).map(_.getPath.getName).filter(_.startsWith(prefix))
        .map { name =>
          val t = ExternalCatalogUtils.unescapePathName(name.stripPrefix(prefix))
          val dest = new Path(outDir, s"$t.ndjson")
          if (fs.exists(dest) && !fs.delete(dest, true))
            throw new java.io.IOException(s"could not replace $dest")
          if (!fs.rename(new Path(tmp, name), dest))
            throw new java.io.IOException(s"could not move the export of $t to $dest")
          t
        }.sorted.toSeq
    } finally fs.delete(tmp, true)
  }

  /** Drop one project from every store (idempotent). */
  def delete(spark: SparkSession, projectId: String): Unit =
    stores.foreach(_.deleteProject(spark, projectId))

  // Granular per-store wipes so a caller can interleave the reference's
  // progress log lines ("EMPTIED graph/flat/FHIR STORE",
  // fhir_import_export.py:374-380) between stages.
  def deleteGraph(spark: SparkSession, projectId: String): Unit =
    Seq(vertices, edges).foreach(_.deleteProject(spark, projectId))
  def deleteFlat(spark: SparkSession, projectId: String): Unit =
    Seq(flatPatient, flatObservation, flatFile)
      .foreach(_.deleteProject(spark, projectId))
  def deleteFhir(spark: SparkSession, projectId: String): Unit =
    fhirRaw.deleteProject(spark, projectId)
  def deleteDiscovery(spark: SparkSession, projectId: String): Unit =
    discovery.deleteProject(spark, projectId)

  /** The project's discovery summary row as JSON, if present — the
    * reference's `discovery_get` guard before `discovery_delete`
    * (:382-385). One partition, one row. A never-written discovery store
    * (fresh root, delete-before-first-put) is simply "no study", not an
    * error. */
  def discoveryStudy(spark: SparkSession, projectId: String): Option[String] =
    if (!discovery.isInitialized(spark)) None
    else discovery.readProject(spark, projectId).toJSON.take(1).headOption

  /** Typed view of the denormalized patient table. */
  def patients(spark: SparkSession, projectId: String): Dataset[FlatPatient] = {
    import spark.implicits._
    flatPatient.readProject(spark, projectId).as[FlatPatient]
  }

  private def read(spark: SparkSession, dir: String, name: String,
                   schema: StructType, projectId: String): DataFrame =
    Ndjson.readOrEmpty(spark, dir, name, schema)
      .withColumn("project_id", lit(projectId))
}

/** Typed row of the denormalized patient table — `Dataset[T]` surface for
  * the core resource types (SURVEY §1.4: case-class Datasets where a fixed
  * schema pays; everything else stays DataFrame). */
case class FlatPatient(project_id: String, id: String, gender: String,
                       birthDate: java.sql.Date, identifier: Seq[String],
                       observation_count: Long, avg_value: Option[Double],
                       file_count: Long, total_bytes: Long)

object Etl {
  /** Post-simplify flat schemas (FIXTURES.md §A.2). */
  val patientSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("gender", StringType),
    StructField("birthDate", DateType),
    StructField("identifier", ArrayType(StringType))))
  val observationSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("patient_id", StringType),
    StructField("code", StringType),
    StructField("value_numeric", DoubleType),
    StructField("effectiveDateTime", TimestampType)))
  val docRefSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("patient_id", StringType),
    StructField("content_url", StringType),
    StructField("content_size", LongType),
    StructField("date", TimestampType)))
  val studySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("status", StringType),
    StructField("description", StringType),
    StructField("identifier_coding", ArrayType(StringType))))
}
