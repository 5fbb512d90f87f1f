package graft

import graft.pipeline.Store
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class StoreSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def sampleDf = {
    import spark.implicits._
    Seq(
      ("aced-a", "Patient", "p1"),
      ("aced-a", "Patient", "p2"),
      ("aced-b", "Patient", "p3")
    ).toDF("project_id", "resource_type", "id")
  }

  test("put/readProject round-trips one project's partition") {
    val root = Files.createTempDirectory("store").toString
    val store = new Store(root)
    store.put(sampleDf)
    val a = store.readProject(spark, "aced-a")
    assert(a.count() === 2)
    assert(a.select("project_id").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("aced-a"))
  }

  test("readProject lists only the project's own directory") {
    val spark2 = spark
    import spark2.implicits._
    val store = new Store(Files.createTempDirectory("store-own").toString)
    // Spark writes this id as project_id=aced-brca%3Av2
    store.put(Seq(("aced-a", "p1"), ("aced-brca:v2", "p2"), ("aced-brca:v2", "p3"))
      .toDF("project_id", "id"))
    val escaped = store.readProject(spark, "aced-brca:v2")
    val roots = escaped.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName)
    }
    assert(roots === Seq(Seq("project_id=aced-brca%3Av2")))
    assert(escaped.collect().map(r => (r.getAs[String]("project_id"), r.getAs[String]("id")))
      .sorted.toSeq === Seq(("aced-brca:v2", "p2"), ("aced-brca:v2", "p3")))
    store.deleteProject(spark, "aced-brca:v2")
    val gone = store.readProject(spark, "aced-brca:v2")
    assert(gone.count() === 0)
    assert(gone.schema === store.read(spark).schema)
    assert(store.readProject(spark, "aced-a").count() === 1)
  }

  test("schema evolution: new column readable everywhere, old rows null") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-evolve").toString
    val store = new Store(root)
    store.put(sampleDf) // v1 schema: (project_id, resource_type, id)
    // a later import ships an extra column; the put only replaces its own
    // project, and the schema sidecar advances to v2
    // (newest-schema-wins), so v1 partitions read as NULL for the new
    // column instead of failing or being invisible
    val v2 = Seq(("aced-c", "Patient", "p9", "high"))
      .toDF("project_id", "resource_type", "id", "priority")
    store.put(v2)
    val all = store.read(spark)
    assert(all.columns.contains("priority"))
    assert(all.count() === 4)
    val old = all.filter(col("project_id") === "aced-a")
    assert(old.count() === 2)
    assert(old.filter(col("priority").isNull).count() === 2,
      "pre-evolution rows must surface the new column as NULL")
    val neu = all.filter(col("project_id") === "aced-c").collect()
    assert(neu.length === 1 && neu(0).getAs[String]("priority") === "high")
  }

  test("put is idempotent per partition (reference reload semantics)") {
    val root = Files.createTempDirectory("store-idem").toString
    val store = new Store(root)
    store.put(sampleDf)
    store.put(sampleDf) // reload same commit — must not duplicate
    assert(store.read(spark).count() === 3)
  }

  test("put replaces only the projects it writes, each one whole") {
    val root = Files.createTempDirectory("store-dyn").toString
    val store = new Store(root, Seq("project_id", "resource_type"))
    import spark.implicits._
    store.put(sampleDf.unionByName(Seq(("aced-a", "Observation", "o1"))
      .toDF("project_id", "resource_type", "id")))
    // new commit for project a only, with different rows and no
    // Observation: the old Observation sub-partition must go too
    store.put(Seq(("aced-a", "Patient", "p9")).toDF(
      "project_id", "resource_type", "id"))
    val all = store.read(spark)
    assert(all.filter(col("project_id") === "aced-a")
      .select("id").collect().map(_.getString(0)).toSeq === Seq("p9"))
    assert(all.filter(col("project_id") === "aced-b").count() === 1)
  }

  test("compactProject rewrites one partition to fewer files, same rows") {
    val root = Files.createTempDirectory("store-compact").toString
    val store = new Store(root)
    // many-file partition: repartition before put
    import spark.implicits._
    store.put((1 to 100).map(i => ("aced-a", "Patient", s"p$i"))
      .toDF("project_id", "resource_type", "id").repartition(8))
    def files(p: String) = new java.io.File(s"$root/project_id=$p")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("aced-a") > 1)
    store.compactProject(spark, "aced-a")
    assert(files("aced-a") === 1)
    assert(store.readProject(spark, "aced-a").count() === 100)
  }

  test("clustered compaction: row-group min/max ranges become disjoint") {
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("store-cluster").toString
    val store = new Store(root)
    // shuffled value column: every row group of the raw write overlaps
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((1 to 60000).toList)
      .map(v => ("aced-a", v.toLong, "x" * 40))
    store.put(rows.toDF("project_id", "v", "pad"),
      Map("parquet.block.size" -> "262144")) // small groups for the test

    def rowGroupRanges(): Seq[(Long, Long)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new java.io.File(s"$root/project_id=aced-a")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .sortBy(_.getName).flatMap { f =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try rdr.getFooter.getBlocks.asScala.toSeq.map { g =>
            val c = g.getColumns.asScala
              .find(_.getPath.toDotString == "v").get.getStatistics
            (c.genericGetMin.asInstanceOf[java.lang.Long].longValue,
             c.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          } finally rdr.close()
        }
    }
    def overlapping(rs: Seq[(Long, Long)]): Boolean = {
      val sorted = rs.sortBy(_._1)
      sorted.zip(sorted.tail).exists { case ((_, hi), (lo2, _)) => lo2 <= hi }
    }
    val raw = rowGroupRanges()
    assert(raw.length > 2, s"need several row groups, got ${raw.length}")
    assert(overlapping(raw), "shuffled write should have overlapping ranges")

    // clustered rewrite: same rows, but every row group's [min,max] is
    // narrow and disjoint — a range filter can skip all but one group
    store.compactProject(spark, "aced-a", nFiles = 1, clusterBy = Seq("v"),
      writerOptions = Map("parquet.block.size" -> "262144"))
    val clustered = rowGroupRanges()
    assert(clustered.length > 2)
    assert(!overlapping(clustered),
      s"clustered row groups must be disjoint: $clustered")
    assert(store.readProject(spark, "aced-a").count() === 60000)

    // multi-file clustering: range partitioning keeps ranges disjoint
    // ACROSS files too (a coalesce would give every file the full range)
    store.compactProject(spark, "aced-a", nFiles = 3, clusterBy = Seq("v"),
      writerOptions = Map("parquet.block.size" -> "262144"))
    val multi = rowGroupRanges()
    assert(new java.io.File(s"$root/project_id=aced-a")
      .listFiles().count(_.getName.endsWith(".parquet")) === 3)
    assert(!overlapping(multi),
      s"multi-file clustered row groups must be disjoint: $multi")
    assert(store.readProject(spark, "aced-a").count() === 60000)
  }

  test("upsertProject replaces matched keys, inserts new, leaves others alone") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("store-upsert").toString
    val store = new Store(root)
    // every write stages next to the root and swaps in: nothing may stay
    def residue(): Seq[String] = {
      val rootFile = new java.io.File(root)
      rootFile.getParentFile.list().toSeq
        .filter(_.startsWith(rootFile.getName + "_"))
    }
    store.put(Seq(
      ("aced-a", "k1", 1L), ("aced-a", "k2", 2L), ("aced-a", "k3", 3L),
      ("aced-b", "k1", 99L)).toDF("project_id", "id", "v"))
    assert(residue().isEmpty)
    store.compactProject(spark, "aced-a")
    assert(residue().isEmpty)
    // k2 updated, k4 inserted; k1/k3 untouched; project b untouched
    store.upsertProject(spark, "aced-a",
      Seq(("aced-a", "k2", 20L), ("aced-a", "k4", 4L))
        .toDF("project_id", "id", "v"), key = "id")
    val a = store.readProject(spark, "aced-a")
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
    assert(a === Map("k1" -> 1L, "k2" -> 20L, "k3" -> 3L, "k4" -> 4L))
    assert(store.readProject(spark, "aced-b").count() === 1)
    assert(residue().isEmpty)
    // idempotent re-apply
    store.upsertProject(spark, "aced-a",
      Seq(("aced-a", "k2", 20L)).toDF("project_id", "id", "v"), key = "id")
    assert(store.readProject(spark, "aced-a").count() === 4)

    // stray partition values in the updates are rejected BEFORE any write
    // (a mis-partitioned row would otherwise delete its key and vanish)
    intercept[IllegalArgumentException] {
      store.upsertProject(spark, "aced-a",
        Seq(("aced-b", "k1", 0L)).toDF("project_id", "id", "v"), key = "id")
    }
    assert(store.readProject(spark, "aced-a").count() === 4)
    assert(store.readProject(spark, "aced-b").count() === 1)
  }

  test("a write that fails part-way leaves the store as it was and no staging root") {
    val root = Files.createTempDirectory("store-fail")
    val store = new Store(root.resolve("s").toString)
    store.put(sampleDf)
    def rows(): Seq[String] = store.read(spark).toJSON.collect().sorted.toSeq
    val before = rows()
    // one task fails at once while the others are still on their first
    // row; a busy loop, unlike a sleep, outlives the kill, so those tasks
    // open their output files after the failure has reached the driver
    val late = udf { (i: Long) =>
      if (i == 0) throw new IllegalStateException("bad row")
      val end = System.nanoTime() + 300000000L
      while (System.nanoTime() < end) {}
      s"p$i"
    }
    val n = math.max(2, spark.sparkContext.defaultParallelism)
    val failing = spark.range(0, n, 1, n).select(lit("aced-a").as("project_id"),
      lit("Patient").as("resource_type"), late(col("id")).as("id"))
    for (_ <- 1 to 3) {
      intercept[Exception](store.put(failing))
      assert(rows() === before)
      assert(root.toFile.list().toSeq === Seq("s"))
    }
  }

  test("a failed write among concurrent ones keeps every store and throws its own error") {
    val root = Files.createTempDirectory("store-fail-two")
    val (slow, failing) =
      (new Store(root.resolve("slow").toString), new Store(root.resolve("failing").toString))
    slow.put(sampleDf)
    failing.put(sampleDf)
    def rows(): Seq[Seq[String]] =
      Seq(slow, failing).map(_.read(spark).toJSON.collect().sorted.toSeq)
    val before = rows()
    // the failing write throws on its only row; the slow write's tasks
    // busy-wait past the cancel and then open their output files
    val bad = udf { (i: Long) =>
      if (i >= 0) throw new IllegalStateException("bad row")
      s"p$i"
    }
    val late = udf { (i: Long) =>
      val end = System.nanoTime() + 300000000L
      while (System.nanoTime() < end) {}
      s"p$i"
    }
    def frame(n: Int, id: org.apache.spark.sql.Column) =
      spark.range(0, n, 1, n).select(lit("aced-a").as("project_id"),
        lit("Patient").as("resource_type"), id.as("id"))
    val n = math.max(2, spark.sparkContext.defaultParallelism)
    for (_ <- 1 to 3) {
      val e = intercept[Exception](Store.putAll(Seq(
        failing -> frame(1, bad(col("id"))), slow -> frame(n, late(col("id")))),
        Seq("aced-a")))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("bad row")), e)
      assert(rows() === before)
      assert(root.toFile.list().toSet === Set("slow", "failing"))
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-putAll"))
    }
  }

  test("deleteProject drops exactly one project (empty_project semantics)") {
    val root = Files.createTempDirectory("store-del").toString
    val store = new Store(root)
    store.put(sampleDf)
    store.deleteProject(spark, "aced-a")
    val rest = store.read(spark)
    assert(rest.count() === 1)
    assert(rest.select("project_id").collect()(0).getString(0) === "aced-b")
    // delete twice — idempotent
    store.deleteProject(spark, "aced-a")
    assert(store.read(spark).count() === 1)
  }
}
