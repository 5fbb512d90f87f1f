package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** Native CosineSimilarity expression: correctness vs the HOF
  * formulation (bit-identical), SQL registration, and metric properties.
  */
class VectorExprSpec extends SparkSpec {

  test("native cosine == HOF cosine bit-for-bit on real embeddings") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .limit(50)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    val both = pairs.select(
      VectorOps.cosine(col("a.v"), col("b.v")).as("native"),
      VectorOps.cosineHof(col("a.v"), col("b.v")).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine metric properties: self=1, orthogonal=0, opposite=-1") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 5.0), 0.0),
      (Seq(2.0, -1.0), Seq(-2.0, 1.0), -1.0)
    ).toDF("a", "b", "expected")
    df.select(VectorOps.cosine(col("a"), col("b")).as("c"), col("expected"))
      .collect().foreach(r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-15))
  }

  test("cosine edge cases: null inputs -> null, zero vector -> null, " +
       "dimension mismatch -> error") {
    val rows = spark.sql(
      """SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_left,
        |       cosine_sim(array(1.0d), CAST(NULL AS ARRAY<DOUBLE>)) AS null_right,
        |       cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zero_vec
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0) && rows.isNullAt(1))
    // a zero-norm vector has no direction: null, not NaN/Inf
    assert(rows.isNullAt(2))
    // silently truncating mismatched dims would fabricate a similarity
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0d), array(1.0d, 2.0d))").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
           causes(e).exists(c => Option(c.getMessage)
             .exists(_.contains("dimensions differ"))))
  }

  test("cosine_sim is callable from SQL after extension registration") {
    val one = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(one - 1.0) < 1e-15)
    // float arrays implicitly cast to double arrays
    val cast = spark.sql(
      "SELECT cosine_sim(array(float(1.0), float(0.0)), array(0.5d, 0.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(cast - 1.0) < 1e-15)
  }

  test("native l2_sq == HOF formulation bit-for-bit; dimension mismatch errors") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .limit(40)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    // HOF mirror: same left-to-right accumulation order
    val hof = aggregate(
      zip_with(col("a.v"), col("b.v"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val both = pairs.select(
      VectorOps.l2Sq(col("a.v"), col("b.v")).as("native"), hof.as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val err = intercept[Exception] {
      val spark2 = spark
      import spark2.implicits._
      Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
        .select(VectorOps.l2Sq(col("a"), col("b"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => Option(c.getMessage)
      .exists(_.contains("dimensions differ"))))
  }

  test("bloom_might_contain: no false negatives, bounded false positives, " +
       "null key -> null") {
    import graft.functions.expressions.BloomMightContain
    import org.apache.spark.sql.graft.Bridge
    val spark2 = spark
    import spark2.implicits._
    val members = (0L until 1000L).map(_ * 7L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    members.foreach(bloom.putLong)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    def probe(c: org.apache.spark.sql.Column) =
      Bridge.column(BloomMightContain(Bridge.expression(c), bloomBc))
    // members: never a false negative (the property the semi join's
    // correctness rests on) — checked through a real executor pass
    val hits = members.toDF("k").select(probe(col("k")).as("m"))
      .collect().map(_.getBoolean(0))
    assert(hits.forall(identity), "bloom false negative")
    // non-members: fp rate well under 10x the configured 1%
    val nonMembers = (0L until 10000L).map(_ * 7L + 3L)
    val fps = nonMembers.toDF("k").select(probe(col("k")).as("m"))
      .collect().count(_.getBoolean(0))
    assert(fps < 1000, s"fp rate ${fps / 10000.0} far above configured 0.01")
    // null key stays null (not false) — three-valued logic preserved
    val n = Seq[Option[Long]](None).toDF("k")
      .select(probe(col("k")).as("m")).collect()(0)
    assert(n.isNullAt(0))
  }
}
