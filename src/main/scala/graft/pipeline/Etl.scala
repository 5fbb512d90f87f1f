package graft.pipeline

import graft.plans.SchemaFlattener
import graft.sources.Ndjson
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
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
    // one scan per resource type over every commit of the push
    def readAll(name: String): DataFrame =
      Ndjson.readOrEmpty(spark, commitDirs, name, dict(name))
        .withColumn("project_id", lit(projectId))
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
    // aggregate-then-join so the shuffle carries one row per patient, and
    // one aggregate over observations and documents together: one shuffle
    // and one join for both
    val perPatient = obs.select(col("patient_id").as("id"), lit(true).as("is_obs"),
        lit(false).as("is_doc"), col("value_numeric"),
        lit(null).cast(LongType).as("content_size"))
      .unionByName(docRef.select(col("patient_id").as("id"), lit(false).as("is_obs"),
        lit(true).as("is_doc"), lit(null).cast(DoubleType).as("value_numeric"),
        col("content_size")))
      .groupBy("id")
      .agg(count_if(col("is_obs")).as("observation_count"),
           avg(col("value_numeric")).as("avg_value"),
           count_if(col("is_doc")).as("file_count"),
           sum(col("content_size")).as("total_bytes"))
    try {
      val filled @ Seq(_, patientFill, obsFill, docFill) = fill(typed.map(_._2))
      // AQE's partition-coalescing rule (CoalesceShufflePartitions, at its
      // default parallelism-first target), applied where AQE cannot reach:
      // a write that reads cached inputs has no shuffle to coalesce. The
      // target size is the advisory size, lowered so that the write keeps
      // minPartitionNum tasks (by default one per core), but never below
      // the minimum partition size; a write never gets more tasks than its
      // plan has
      val conf = spark.sessionState.conf
      val minParts =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
            .getOrElse(spark.sparkContext.defaultParallelism)
        else 1
      def sized(df: DataFrame, inputs: Filled*): DataFrame = {
        val bytes = inputs.map(_.bytes).sum
        val target = math.max(
          math.min((bytes + minParts - 1) / minParts,
                   conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)),
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
        df.coalesce(math.max(1L, (bytes + target - 1) / target).toInt)
      }
      // the count rides in as a one-row relation, not a literal: a long
      // literal is inlined into generated code, so every new count would
      // compile a new class. A replicated nested-loop join reads the local
      // rows in the write's own task; a broadcast would be one more job.
      val patientCount = spark.createDataFrame(
        java.util.List.of(Row(patientFill.rows)),
        StructType(Seq(StructField("patient_count", LongType, nullable = false))))
        .hint("shuffle_replicate_nl")
      Store.putAll(Seq(
        // full-fidelity store (the ES `fhir` index, :291-293)
        fhirRaw -> sized(typed.map { case (t, df) =>
          df.select(col("project_id"), lit(t).as("resource_type"), col("id"),
                    to_json(struct(df.columns.toIndexedSeq.map(col): _*))
                      .as("resource_json"))
        }.reduce(_ unionByName _), filled: _*),
        // graph store (meta_upload, :224-226): one vertex per resource,
        // edges from the child->patient references
        vertices -> sized(typed.map { case (t, df) =>
          df.select(col("project_id"), col("id"), lit(t).as("label"))
        }.reduce(_ unionByName _), filled: _*),
        edges -> sized(obs.select(col("project_id"), col("id").as("src"),
                                  col("patient_id").as("dst"), lit("observes").as("label"))
          .unionByName(
            docRef.select(col("project_id"), col("id").as("src"),
                          col("patient_id").as("dst"), lit("documents").as("label"))),
          obsFill, docFill),
        flatPatient -> sized(capped(SchemaFlattener.flatten(patient)
          .join(perPatient, Seq("id"), "left")
          .na.fill(0, Seq("observation_count", "file_count", "total_bytes"))),
          patientFill, obsFill, docFill),
        flatObservation -> sized(capped(SchemaFlattener.flatten(obs)), obsFill),
        flatFile -> sized(capped(SchemaFlattener.flatten(docRef)), docFill),
        // discovery summary (:261-289): one row per project; orderBy before
        // limit(1) so the chosen study row is partition-order independent;
        // the count is of every patient, not only a capped load's
        discovery -> study.orderBy("id").limit(1).crossJoin(patientCount)
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
}

/** Typed row of the denormalized patient table — `Dataset[T]` surface for
  * the core resource types (SURVEY §1.4: case-class Datasets where a fixed
  * schema pays; everything else stays DataFrame). */
case class FlatPatient(project_id: String, id: String, gender: String,
                       birthDate: java.sql.Date, identifier: Seq[String],
                       observation_count: Long, avg_value: Option[Double],
                       file_count: Long, total_bytes: Long)

object Etl {
  /** Rows and in-memory bytes of one filled cache. */
  private final case class Filled(rows: Long, bytes: Long)

  /** Fill the persisted `inputs`' caches in ONE job, no shuffle, and
    * return each input's exact row count and cached bytes, summed over its
    * cached batches. Task results, unlike an accumulator, count a
    * recomputed block once. */
  private def fill(inputs: Seq[DataFrame]): Seq[Filled] = {
    val buffers = inputs.map(_.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
    }.getOrElse(throw new IllegalStateException("fill: input is not persisted")))
    val perPartition = inputs.head.sparkSession.sparkContext.union(
      buffers.zipWithIndex.map { case (batches, i) =>
        batches.mapPartitions { it =>
          var rows, bytes = 0L
          it.foreach { b => rows += b.numRows; bytes += b.sizeInBytes }
          Iterator.single((i, rows, bytes))
        }
      }).collect()
    inputs.indices.map { i =>
      val mine = perPartition.filter(_._1 == i)
      Filled(mine.map(_._2).sum, mine.map(_._3).sum)
    }
  }

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
