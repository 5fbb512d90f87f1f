package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Relational, Streaming, Vectors, Windows}
import graft.plans.GraftExtensions

/** The SQL API surface beyond `sql_vector_topk`: for each family whose
  * DataFrame plan leans on a native expression, the SAME query authored
  * entirely in `spark.sql` text through the GraftExtensions function
  * registry must return bit-identical rows. This is the proof that a
  * SQL-first user of the engine can run the dedup/bloom/PQ serving plans
  * — including the ones whose index geometry (codebooks, LUTs, a
  * serialized bloom filter) crosses the SQL boundary as literals.
  */
class SqlSurfaceSpec extends SparkSpec {

  // sorted canonically: the engine dropped presentation sorts (the
  // driver compare is row-order-insensitive), so plan-equality specs
  // must compare row SETS, not arrival order
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d) // bit equality
      case x => x
    }).sortBy(_.mkString("\u0001"))

  private def init(): Unit = {
    Tables.documents(spark, sf0001).createOrReplaceTempView("graft_docs")
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("graft_emb")
    Tables.orders(spark, sf0001).createOrReplaceTempView("graft_orders")
    Tables.customer(spark, sf0001).createOrReplaceTempView("graft_cust")
    Tables.events(spark, sf0001).createOrReplaceTempView("graft_events")
  }

  test("dedup_simhash authored in SQL equals the DataFrame plan") {
    init()
    val sql = spark.sql(
      """WITH sig AS (SELECT doc_id, simhash64(text, true) AS simhash
        |             FROM graft_docs),
        |b AS (SELECT doc_id, simhash, band,
        |        shiftright(simhash, band * 15) & 32767 AS chunk
        |      FROM sig LATERAL VIEW explode(array(0, 1, 2, 3)) t AS band)
        |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |  bit_count(a.simhash ^ b2.simhash) AS hamming
        |FROM b a JOIN b b2
        |  ON a.band = b2.band AND a.chunk = b2.chunk
        | AND a.doc_id < b2.doc_id
        |WHERE bit_count(a.simhash ^ b2.simhash) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)
    val df = Dedup.dedupSimhash.fn(spark, sf0001)
    assert(rows(sql) === rows(df))
  }

  test("dedup_minhash authored in SQL equals the DataFrame plan") {
    init()
    val bandExprs = (0 until Dedup.Bands).map { k =>
      val slots = (0 until 4).map(r => s"sig[${k * 4 + r}]").mkString(", ")
      s"named_struct('band', $k, 'bhash', CAST(conv(substring(" +
        s"md5(CAST(concat_ws(',', $slots) AS BINARY)), 1, 15), 16, 10) AS BIGINT))"
    }.mkString(",\n        ")
    val sql = spark.sql(
      s"""WITH sh AS (SELECT doc_id, collect_set(sgl) AS shingles
         |            FROM (SELECT doc_id, sgl FROM graft_docs
         |                  LATERAL VIEW shingle_hashes(text, 3, true) t
         |                    AS sgl, n_sgl)
         |            GROUP BY doc_id),
         |sig AS (SELECT doc_id, minhash_sig(text, 3) AS sig
         |        FROM graft_docs WHERE size(split(text, ' ')) >= 3),
         |b AS (SELECT doc_id, bk.band AS band, bk.bhash AS bhash
         |      FROM sig LATERAL VIEW explode(array(
         |        $bandExprs)) t AS bk),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |         FROM b a JOIN b b2
         |           ON a.band = b2.band AND a.bhash = b2.bhash
         |          AND a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(size(array_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |    / size(array_union(sa.shingles, sb.shingles)) AS jaccard
         |FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |          JOIN sh sb ON doc_b = sb.doc_id
         |WHERE CAST(size(array_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |    / size(array_union(sa.shingles, sb.shingles)) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)
    val df = Dedup.dedupMinhash.fn(spark, sf0001)
    assert(rows(df).nonEmpty, "fixture must contain near-dups")
    assert(rows(sql) === rows(df))
  }

  test("join_bloom authored in SQL equals the DataFrame plan") {
    init()
    // the dim-side bloom filter crosses the SQL boundary as a hex binary
    // literal (BloomFilter.writeTo bytes) — built exactly as the
    // DataFrame query builds it, deserialized once at plan build
    val dim = Tables.customer(spark, sf0001)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloom = dim.stat.bloomFilter(
      "c_custkey", math.max(dim.count(), 64L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val hex = bos.toByteArray.map(b => f"$b%02X").mkString
    val sql = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS revenue
         |FROM graft_orders
         |WHERE bloom_might_contain(o_custkey, X'$hex')
         |  AND o_custkey IN (SELECT c_custkey FROM graft_cust
         |                    WHERE c_mktsegment = 'BUILDING')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    val df = Relational.joinBloom.fn(spark, sf0001)
    assert(rows(sql) === rows(df))
    // LEAK REGRESSION (ADVICE r6): builders run per analysis, so each
    // spark.sql used to broadcast a fresh copy of the filter — repeated
    // parses of the same literal must now hit the digest-keyed memo and
    // leave the live-broadcast count flat
    val before = GraftExtensions.bloomBroadcastCount
    (1 to 3).foreach { _ =>
      spark.sql(s"SELECT count(*) FROM graft_orders " +
        s"WHERE bloom_might_contain(o_custkey, X'$hex')").collect()
    }
    assert(GraftExtensions.bloomBroadcastCount === before,
      "re-analysis of the same bloom literal must not broadcast again")
  }

  test("vector_pq serving authored in SQL equals the DataFrame plan") {
    init()
    // trained index geometry as SQL literals: doubles through the
    // CAST('toString' AS DOUBLE) route (exact round-trip), LUT as exact
    // BIGINT literals — the same artifacts the DataFrame plan inlines
    val (cbs, qv, lut) = Vectors.pqArtifacts(spark, sf0001)
    def dbl(x: Double) = s"CAST('$x' AS DOUBLE)"
    val cbsSql = cbs.map(m => "array(" + m.map(c =>
      "array(" + c.map(dbl).mkString(", ") + ")").mkString(", ") + ")")
      .mkString("array(", ", ", ")")
    val lutSql = lut.map(m => "array(" + m.map(v => s"${v}L").mkString(", ")
      + ")").mkString("array(", ", ", ")")
    val qvSql = "array(" + qv.map(dbl).mkString(", ") + ")"
    val sql = spark.sql(
      s"""WITH c AS (SELECT vec_id, label,
         |             CAST(embedding AS array<double>) AS v
         |           FROM graft_emb WHERE vec_id <> 0),
         |s AS (SELECT vec_id, label, v,
         |        pq_adc(v, $cbsSql, $lutSql) AS adc_micro
         |      FROM c ORDER BY adc_micro, vec_id LIMIT ${Vectors.PqCand})
         |SELECT vec_id, label, adc_micro, l2_sq(v, $qvSql) AS l2_sq
         |FROM s ORDER BY l2_sq, vec_id LIMIT ${Vectors.PqTopK}""".stripMargin)
    val df = Vectors.vectorPq.fn(spark, sf0001)
    assert(rows(sql) === rows(df))
  }

  test("window_range_frame authored in SQL equals the DataFrame plan") {
    init()
    // the SQL surface spans VALUE-based window frames: the trailing-30-day
    // RANGE frame over an integer day key, authored as text, must produce
    // the bit-identical exact-decimal sums the DataFrame plan produces
    val sql = spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  datediff(o_orderdate, DATE '1970-01-01') AS day_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff(o_orderdate, DATE '1970-01-01')
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_30d
        |FROM graft_orders
        |ORDER BY o_custkey, day_n, o_orderkey""".stripMargin)
    val df = Windows.windowRangeFrame.fn(spark, sf0001)
    assert(rows(sql) === rows(df))
  }

  test("stream_session (session windows) authored in SQL equals the " +
       "DataFrame plan") {
    init()
    // the SQL surface spans SESSION windows: the same 5-minute-gap
    // session aggregate the batch/stream twin runs (Streams.session),
    // authored via the session_window SQL function
    val sql = spark.sql(
      """SELECT session_window.start AS session_start,
        |  session_window.end AS session_end,
        |  user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM graft_events
        |GROUP BY session_window(ts, '5 minutes'), user_id
        |ORDER BY user_id, session_start""".stripMargin)
    val df = Streaming.streamSession.fn(spark, sf0001)
    assert(rows(sql).nonEmpty)
    assert(rows(sql) === rows(df))
  }

  test("nearest_centroid and dot_product are SQL-reachable and consistent") {
    init()
    // kernel-level round-trip for the remaining registered functions:
    // nearest_centroid against a literal centroid pair, dot_product vs
    // the arithmetic identity with cosine_sim
    val r = spark.sql(
      """SELECT nearest_centroid(CAST(array(1.0, 0.0) AS array<double>),
        |         array(array(0.9d, 0.1d), array(-1.0d, 0.0d))) AS cell,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  l2_sq(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS l2
        |""".stripMargin).head()
    assert(r.getInt(0) === 0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getDouble(2) === 8.0)
  }
}
