package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Project-partitioned parquet store — the engine's replacement for the
  * reference's four stores (SURVEY.md §1.4, §2.12). The reference loads a
  * graph DB + three Elasticsearch indices + an ES `fhir` index per project
  * (fhir_import_export.py:224-293) and deletes per project
  * (:372-385, `empty_project` / `meta_flat_delete` / `fhir_delete`).
  *
  * Here every store is one parquet table partitioned by `project_id`
  * (optionally sub-partitioned, e.g. `resource_type` for the fhir_raw
  * table). At 100 TB this gives:
  *  - dynamic partition pruning for every per-project read (the reference's
  *    ES `match: project_id` filter becomes a directory prune, zero I/O for
  *    other projects);
  *  - one way to replace a project ([[Store.putAll]]): stage the write,
  *    then swap each `project_id=…` directory in whole, so the live data
  *    stays intact until the write has committed, and sub-partitions the
  *    new write lacks go with the old directory;
  *  - idempotent re-import (the reference wipes and reloads a project per
  *    commit, :451-470): replacing the same project twice converges.
  */
final class Store(private val root: String,
                  private val partitionCols: Seq[String] = Seq("project_id")) {

  /** Replace the projects present in `df` (put verb); `options` are extra
    * parquet writer options (e.g. a small `parquet.block.size` in tests to
    * force multiple row groups). Also persists the schema as a
    * `_schema.ddl` sidecar (underscore-prefixed → invisible to Spark's file
    * listing) so an empty table — the reference's "/dev/null" empty-load,
    * which writes zero partition directories — still reads back as an
    * empty-but-schema'd frame. */
  def put(df: DataFrame, options: Map[String, String] = Map.empty): Unit =
    Store.putAll(Seq(this -> df), Nil, options)

  /** Swap a committed staged write in: each staged `project_id=…`
    * directory and each of `projectIds` (dropped if nothing was staged)
    * is moved aside, replaced, and its backup dropped. Every rename is
    * checked (Hadoop reports most failures as a false return); a failed
    * swap restores the backup, else leaves it (dot-prefixed, invisible to
    * readers) for manual recovery. */
  private def swapIn(df: DataFrame, staging: Path, projectIds: Seq[String]): Unit = {
    val fs = fileSystem(df.sparkSession)
    val out = fs.create(schemaPath, true)
    try out.write(df.schema.toDDL.getBytes("UTF-8")) finally out.close()
    val staged = fs.listStatus(staging).map(_.getPath.getName)
      .filter(_.startsWith(s"${partitionCols.head}="))
    (staged ++ projectIds.map(partitionDir)).distinct.foreach { name =>
      val (live, next) = (new Path(path, name), new Path(staging, name))
      val backup = new Path(path, s".${staging.getName}.$name")
      if (fs.exists(live) && !fs.rename(live, backup))
        throw new java.io.IOException(s"could not move $live aside")
      if (fs.exists(next) && !fs.rename(next, live)) {
        if (fs.exists(backup) && !fs.rename(backup, live))
          throw new java.io.IOException(
            s"swap AND restore failed for $live; old data kept at $backup")
        throw new java.io.IOException(s"could not swap staged partition into $live")
      }
      fs.delete(backup, true)
    }
  }

  /** Read the whole table; partition filters prune directories. */
  def read(spark: SparkSession): DataFrame =
    storedSchema(spark).fold(spark.read)(spark.read.schema).parquet(root)

  /** The `_schema.ddl` sidecar's schema, if the store has one. */
  private def storedSchema(spark: SparkSession): Option[StructType] = {
    val fs = fileSystem(spark)
    if (!fs.exists(schemaPath)) None
    else {
      val in = fs.open(schemaPath)
      try Some(StructType.fromDDL(new String(in.readAllBytes(), "UTF-8")))
      finally in.close()
    }
  }

  /** Compact one project's partition to `nFiles` files — the maintenance
    * op that keeps long-lived stores healthy (every re-import/append
    * cycle leaves task-count-many files; small files dominate scan
    * overhead at scale). A [[put]] of just this partition: the rewrite
    * reads the live files and writes a staged copy that replaces them.
    *
    * `clusterBy` additionally sorts rows within the rewritten files: a
    * sorted file gives every parquet row group (and page) a NARROW,
    * mutually disjoint min/max range on the cluster key, so a selective
    * filter skips whole row groups at the footer — the data-skipping
    * lever that turns a partition scan into a few-row-group read at
    * 100 TB. StoreSpec proves the disjoint-ranges property from the
    * actual parquet footers. */
  def compactProject(spark: SparkSession, projectId: String,
                     nFiles: Int = 1, clusterBy: Seq[String] = Nil,
                     writerOptions: Map[String, String] = Map.empty): Unit = {
    val part = readProject(spark, projectId)
    val clustered =
      if (clusterBy.isEmpty) part.coalesce(nFiles)
      // range-partition on the cluster key FIRST so multiple output files
      // get disjoint key ranges (coalesce would merge arbitrary inputs
      // and every file would span the full range, defeating skipping);
      // then partition cols lead the per-file sort: the partitioned-file
      // writer demands rows ordered by partition columns and would
      // inject its own (non-stable) sort otherwise, destroying the
      // cluster order
      else part
        .repartitionByRange(nFiles, clusterBy.map(col): _*)
        .sortWithinPartitions((partitionCols ++ clusterBy).map(col): _*)
    put(clustered, writerOptions)
  }

  /** Z-order variant of [[compactProject]]: cluster one project's
    * partition on the Morton interleave of TWO dimensions
    * ([[graft.functions.expressions.InterleaveBits]]), so row-group
    * min/max pruning works for range predicates on either dimension — a
    * linear cluster key only ever serves its leading column (a filter on
    * the second column skips nothing). Same write path as linear
    * clustering: range-partition on the z key for disjoint ranges across
    * files, partition cols lead the per-file sort so the writer doesn't
    * inject its own. ZOrderSpec quantifies the pruning from the actual
    * parquet footers. */
  def compactProjectZOrder(spark: SparkSession, projectId: String,
                           nFiles: Int, zCols: (String, String),
                           writerOptions: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.functions.{floor, least, lit, max, min}
    val part = readProject(spark, projectId)
    // normalize each dimension onto the full signed-int range via its
    // [min, max] (one tiny agg job — this is a maintenance op, already
    // eager). A raw cast-to-int would abort on BIGINT epochs under ANSI
    // or silently wrap without it, destroying the layout; the affine map
    // preserves per-dimension order for any numeric range and spreads
    // bit entropy even when the two dimensions' scales differ wildly.
    val stats = part.agg(
      min(col(zCols._1)).cast("double"), max(col(zCols._1)).cast("double"),
      min(col(zCols._2)).cast("double"), max(col(zCols._2)).cast("double"))
      .collect()(0)
    def norm(c: String, loIdx: Int): org.apache.spark.sql.Column =
      if (stats.isNullAt(loIdx) || stats.isNullAt(loIdx + 1) ||
          stats.getDouble(loIdx + 1) <= stats.getDouble(loIdx)) lit(0)
      else {
        val (lo, hi) = (stats.getDouble(loIdx), stats.getDouble(loIdx + 1))
        // [lo,hi] → [-(2³¹-1), 2³¹-1]; least() guards the v=hi edge
        (least(floor((col(c).cast("double") - lit(lo)) / lit(hi - lo)
            * lit(4294967294.0)), lit(4294967294.0)) - lit(2147483647L))
          .cast("int")
      }
    val z = Bridge.column(graft.functions.expressions.InterleaveBits(
      Bridge.expression(norm(zCols._1, 0)),
      Bridge.expression(norm(zCols._2, 2))))
    val clustered = part
      .withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions((partitionCols.map(col) :+ col("__z")): _*)
      .drop("__z")
    put(clustered, writerOptions)
  }

  /** Keyed upsert into one project's partition — the MERGE INTO shape on
    * plain parquet: rows of `updates` replace existing rows with the same
    * `key`; unmatched updates insert. Implemented as a partition rewrite:
    * anti-join the old partition against the (broadcastable) update keys,
    * union, and [[put]] — the merged plan reads the very files the put
    * replaces, which is safe because the put stages before it swaps. At
    * scale the cost is one partition's rewrite, never a table scan, and
    * nothing is ever collected to the driver. */
  def upsertProject(spark: SparkSession, projectId: String,
                    updates: DataFrame, key: String): Unit = {
    val pcol = partitionCols.head
    // confine updates to the target partition BEFORE touching anything: a
    // stray row with another (or null) partition value would delete its
    // key here and then land in (or replace) another project
    val stray = updates
      .filter(col(pcol).isNull || col(pcol) =!= projectId).limit(1).count()
    require(stray == 0,
      s"upsertProject($projectId): every update row must carry $pcol = $projectId")
    put(readProject(spark, projectId)
      .join(broadcast(updates.select(col(key))), Seq(key), "left_anti")
      .unionByName(updates))
  }

  private def path = new Path(root)
  private def fileSystem(spark: SparkSession): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def schemaPath = new Path(root, "_schema.ddl")

  /** One project's partition directory, escaped as Spark names it
    * (`aced-brca:v2` → `project_id=aced-brca%3Av2`): an outside project id
    * stays one path component, never a relative path out of the store. */
  private def partitionDir(projectId: String): String =
    ExternalCatalogUtils.getPartitionPathString(partitionCols.head, projectId)

  /** Whether this store has ever been written — reading a never-written
    * root throws (no files, no schema sidecar), so existence-sensitive
    * callers (e.g. the delete verb's discovery guard) check first. A
    * failed first [[put]] leaves the store uninitialized. */
  def isInitialized(spark: SparkSession): Boolean =
    fileSystem(spark).exists(path)

  /** Read one project's partition (get verb): the scan lists only the
    * project's own directory (`basePath` keeps the partition columns), not
    * every project's files; its partition filter is then a no-op prune.
    * A project with no directory (deleted, or never written) reads through
    * the whole-table scan, which the filter leaves empty. */
  def readProject(spark: SparkSession, projectId: String): DataFrame = {
    val dir = new Path(path, partitionDir(projectId))
    val own = storedSchema(spark) match {
      case Some(schema) if fileSystem(spark).exists(dir) =>
        spark.read.option("basePath", root).schema(schema).parquet(dir.toString)
      case _ => read(spark)
    }
    own.filter(col(partitionCols.head) === projectId)
  }

  /** Delete one project (delete verb): drop its partition directory —
    * the parquet-table equivalent of the reference's per-project ES
    * delete-by-query (fhir_import_export.py:375-376). */
  def deleteProject(spark: SparkSession, projectId: String): Unit =
    fileSystem(spark).delete(new Path(path, partitionDir(projectId)), true)
}

object Store {

  /** Write several stores as one unit: each frame is written with a plain
    * overwrite to a unique staging root next to its store, and the
    * projects are swapped in only after every write has committed, so a
    * failed write leaves every store as it was. `projectIds` are replaced
    * in every store, also where a frame has no rows for them.
    *
    * The writes are independent jobs and run concurrently, each on its own
    * thread of a pool that lives for this call (one thread per write, at
    * most [[MaxWriters]]): under FIFO scheduling they share the cluster's
    * slots, and a later write's tasks fill the slots an earlier write's
    * last stage leaves idle. Every write is joined before the outcome is
    * acted on. The first failure cancels the other writes; the staging
    * roots are deleted only once every tagged task has ended (a killed
    * task that opens its output file late recreates its root), and the
    * first failure is thrown with the others suppressed. */
  private[graft] def putAll(writes: Seq[(Store, DataFrame)],
                            projectIds: Seq[String],
                            options: Map[String, String] = Map.empty): Unit = {
    val staged = writes.map { case (store, df) =>
      (store, df, new Path(s"${store.root}_staging_${java.util.UUID.randomUUID()}"))
    }
    val watch = new JobWatch(writes.head._2.sparkSession.sparkContext)
    val pool = Executors.newFixedThreadPool(math.min(staged.size, MaxWriters),
      { (r: Runnable) =>
        val t = new Thread(r, "graft-putAll"); t.setDaemon(true); t })
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      staged.foreach { case (store, df, dir) =>
        done.submit(new Callable[Unit] {
          def call(): Unit = watch.run {
            df.write.mode(SaveMode.Overwrite).options(options)
              .partitionBy(store.partitionCols: _*).parquet(dir.toString)
          }
        })
      }
      val failures = staged.flatMap { _ =>
        try { done.take().get(); None }
        catch { case e: ExecutionException => watch.cancel(); Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        try watch.awaitIdle() catch { case NonFatal(x) => first.addSuppressed(x) }
        throw first
      }
      staged.foreach { case (store, df, dir) => store.swapIn(df, dir, projectIds) }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      watch.close()
      staged.foreach { case (store, df, dir) =>
        store.fileSystem(df.sparkSession).delete(dir, true) }
    }
  }

  /** Most concurrent writes of one [[putAll]]: the seven stores of an
    * import. */
  private val MaxWriters = 7
}
