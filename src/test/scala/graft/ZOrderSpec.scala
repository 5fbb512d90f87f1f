package graft

import graft.functions.expressions.ZOrderUtil
import graft.pipeline.Store
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  test("interleave_bits is the Morton code, order-preserving per dimension") {
    // bit-exact against a naive per-bit reference
    def naive(a: Int, b: Int): Long = {
      val (ua, ub) = (a ^ Int.MinValue, b ^ Int.MinValue)
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((ua >>> i) & 1L) << (2 * i + 1)
        z |= ((ub >>> i) & 1L) << (2 * i)
      }
      z
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val (a, b) = (rnd.nextInt(), rnd.nextInt())
      assert(ZOrderUtil.interleave(a, b) === naive(a, b))
    }
    // monotone in each dimension when the other is fixed (unsigned
    // compare — the code space; the sign flip maps signed order onto it)
    def ucmp(x: Long, y: Long) = java.lang.Long.compareUnsigned(x, y) < 0
    assert(ucmp(ZOrderUtil.interleave(-5, 3), ZOrderUtil.interleave(4, 3)))
    assert(ucmp(ZOrderUtil.interleave(4, -3), ZOrderUtil.interleave(4, 9)))

    // SQL surface
    val viaSql = spark.sql("SELECT interleave_bits(3, 5) AS z").collect()(0).getLong(0)
    assert(viaSql === ZOrderUtil.interleave(3, 5))
  }

  test("z-order compaction prunes row groups on BOTH dimensions") {
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("store-zorder").toString
    val store = new Store(root)
    val rnd = new scala.util.Random(13)
    val rows = (1 to 60000).map(_ =>
      ("aced-a", rnd.nextInt(1000), rnd.nextInt(1000), "x" * 40))
    store.put(rows.toDF("project_id", "x", "y", "pad"),
      Map("parquet.block.size" -> "65536"))

    // per-row-group [min,max] of a column from the parquet footers
    def ranges(column: String): Seq[(Int, Int)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new java.io.File(s"$root/project_id=aced-a")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .sortBy(_.getName).flatMap { f =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try rdr.getFooter.getBlocks.asScala.toSeq.map { g =>
            val c = g.getColumns.asScala
              .find(_.getPath.toDotString == column).get.getStatistics
            (c.genericGetMin.asInstanceOf[java.lang.Integer].intValue,
             c.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
          } finally rdr.close()
        }
    }
    // row groups a reader must touch for y BETWEEN 100 AND 150
    def touchedOnY(): (Int, Int) = {
      val rs = ranges("y")
      (rs.count { case (lo, hi) => lo <= 150 && hi >= 100 }, rs.length)
    }

    // linear clustering on x: a filter on y skips (almost) nothing —
    // every row group spans y's full range
    store.compactProject(spark, "aced-a", nFiles = 1, clusterBy = Seq("x"),
      writerOptions = Map("parquet.block.size" -> "65536"))
    val (linTouched, linTotal) = touchedOnY()
    assert(linTotal > 10, s"need many row groups, got $linTotal")
    assert(linTouched >= (0.9 * linTotal).toInt,
      s"linear-by-x should not prune on y: $linTouched of $linTotal")

    // z-order on (x, y): the same y filter prunes most row groups, and
    // x keeps pruning too (the layout serves both dimensions)
    store.compactProjectZOrder(spark, "aced-a", nFiles = 1, zCols = ("x", "y"),
      writerOptions = Map("parquet.block.size" -> "65536"))
    val (zTouched, zTotal) = touchedOnY()
    assert(zTotal > 10)
    assert(zTouched <= (0.6 * zTotal).toInt,
      s"z-order should prune most row groups on y: $zTouched of $zTotal")
    val xs = ranges("x")
    val xTouched = xs.count { case (lo, hi) => lo <= 150 && hi >= 100 }
    assert(xTouched <= (0.6 * xs.length).toInt,
      s"z-order should still prune on x: $xTouched of ${xs.length}")
    // rows survive both rewrites
    assert(store.readProject(spark, "aced-a").count() === 60000)
  }

  test("z-order handles BIGINT dimensions beyond int range (normalized)") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("store-zorder-big").toString
    val store = new Store(root)
    val rnd = new scala.util.Random(17)
    // epoch-millis-scale second dimension: a raw int cast would abort
    // (ANSI) or wrap (non-ANSI); normalization must keep the layout
    val rows = (1 to 30000).map(_ => ("aced-a", rnd.nextInt(1000),
      1700000000000L + rnd.nextInt(1000) * 1000000L, "x" * 40))
    store.put(rows.toDF("project_id", "x", "t", "pad"),
      Map("parquet.block.size" -> "65536"))
    store.compactProjectZOrder(spark, "aced-a", nFiles = 1, zCols = ("x", "t"),
      writerOptions = Map("parquet.block.size" -> "65536"))
    assert(store.readProject(spark, "aced-a").count() === 30000)
    // pruning on the BIGINT dimension works through the normalization
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new java.io.File(s"$root/project_id=aced-a")
    import scala.jdk.CollectionConverters._
    val ranges = dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try rdr.getFooter.getBlocks.asScala.toSeq.map { g =>
          val c = g.getColumns.asScala
            .find(_.getPath.toDotString == "t").get.getStatistics
          (c.genericGetMin.asInstanceOf[java.lang.Long].longValue,
           c.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        } finally rdr.close()
      }
    assert(ranges.length > 5, s"need several row groups, got ${ranges.length}")
    val (qLo, qHi) = (1700100000000L, 1700150000000L) // k in [100, 150]
    val touched = ranges.count { case (lo, hi) => lo <= qHi && hi >= qLo }
    assert(touched <= (0.6 * ranges.length).toInt,
      s"z-order should prune on the bigint dim: $touched of ${ranges.length}")
  }
}
