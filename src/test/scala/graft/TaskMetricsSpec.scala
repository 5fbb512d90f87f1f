package graft

import graft.pipeline.JobWatch
import org.apache.spark.sql.functions._

class TaskMetricsSpec extends SparkSpec {

  private def measure[A](body: => A) = JobWatch.measure(spark.sparkContext)(body)

  private def runNoop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a groupBy measurably shuffles; a narrow projection does not") {
    val (_, agg) = measure {
      runNoop(Tables.lineitem(spark, sf0001)
        .groupBy("l_suppkey").agg(sum("l_quantity")))
    }
    assert(agg.shuffleWriteBytes > 0, s"groupBy should shuffle: $agg")
    val (_, proj) = measure {
      runNoop(Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey"), col("l_quantity") * 2))
    }
    assert(proj.shuffleWriteBytes === 0, s"projection must not shuffle: $proj")
    assert(proj.inputRecords > 0)
  }

  test("kNN fused window-dedup shuffles less than dropDuplicates + window") {
    // the knn_join_lsh design claim, measured: deduping candidate pairs
    // INSIDE the ranking window (lag probe) skips the separate
    // (vec_id, nn_id)-keyed dedup exchange the naive formulation pays
    import graft.functions.VectorOps._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val bands = graft.operators.Dedup.cosLshBands(e)
    // naive side uses the SAME r12 bucketed candidate generation as the
    // real query (collect_list + OrderedPairs), so the comparison
    // isolates exactly the design claim: fused window-dedup vs a
    // separate (vec_id, nn_id)-keyed dedup exchange before the window.
    def cand = {
      val buckets = bands
        .groupBy("tbl", "sig")
        .agg(array_sort(collect_list(
          struct(col("vec_id"), col("v"), col("nrm")))).as("docs"))
        .filter(size(col("docs")) >= 2)
      val pairGen = {
        import org.apache.spark.sql.graft.Bridge
        Bridge.column(graft.functions.expressions.OrderedPairs(
          Bridge.expression(col("docs"))))
      }
      buckets
        .select(pairGen.as(Seq("va", "v_a", "na", "vb", "v_b", "nb")))
        .select(col("va"), col("vb"),
                (dotNative(col("v_a"), col("v_b")) /
                  (col("na") * col("nb"))).as("c"))
        .select(explode(array(
          struct(col("va").as("vec_id"), col("vb").as("nn_id"),
                 col("c").as("cosine")),
          struct(col("vb").as("vec_id"), col("va").as("nn_id"),
                 col("c").as("cosine")))).as("p"))
        .select(col("p.vec_id").as("vec_id"), col("p.nn_id").as("nn_id"),
                col("p.cosine").as("cosine"))
    }
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("nn_id"))
    val (_, fused) = measure {
      runNoop(graft.operators.Vectors.knnJoinLsh.fn(spark, sf0001))
    }
    val (_, naive) = measure {
      runNoop(cand.dropDuplicates("vec_id", "nn_id")
        .withColumn("nn_rank", row_number().over(w))
        .filter(col("nn_rank") <= 3)
        .orderBy("vec_id", "nn_rank"))
    }
    assert(fused.shuffleWriteBytes < naive.shuffleWriteBytes,
      s"fused=$fused naive=$naive")
  }

  test("aggregate-then-join shuffles less than join-then-aggregate") {
    // the denormalize_patient design claim, measured: pre-aggregating
    // orders to one row per customer before the join moves less data
    // than joining raw orders and aggregating after
    val c = Tables.customer(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (_, good) = measure {
        val stats = o.groupBy(col("o_custkey").as("c_custkey"))
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
        runNoop(c.join(stats, Seq("c_custkey"), "left"))
      }
      val (_, naive) = measure {
        runNoop(c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n"), sum("o_totalprice").as("s")))
      }
      assert(good.shuffleWriteBytes < naive.shuffleWriteBytes,
        s"pre-agg should move less: $good vs $naive")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("co-bucketed join reads zero shuffle bytes (quantitative proof)") {
    Tables.orders(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_m")
    Tables.customer(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_m")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (_, m) = measure {
        runNoop(spark.table("orders_m").join(spark.table("customer_m"),
          col("o_custkey") === col("c_custkey")))
      }
      assert(m.shuffleWriteBytes === 0 && m.shuffleReadBytes === 0,
        s"bucketed join shuffled: $m")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("an inner watch's jobs count for the outer one, its barrier does not") {
    val ((_, inner), outer) = measure {
      measure(runNoop(Tables.lineitem(spark, sf0001).groupBy("l_suppkey").count()))
    }
    assert(inner.jobs > 0 && inner.shuffleWriteBytes > 0, s"$inner")
    assert(outer === inner)
  }
}
