package graft

import graft.operators.{Dedup, Vectors}

/** Self-verifying checks for the approximate dedup/ANN operators that have
  * no ANSI-SQL oracle (SURVEY.md §7.4): MinHash-LSH is validated against
  * the exact n-gram Jaccard pairs, SimHash against basic metric
  * properties, ANN against brute-force recall.
  */
class DedupSpec extends SparkSpec {

  private def pairs(q: Q): Set[(Long, Long)] =
    q.fn(spark, sf0001).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cosine-LSH dedup: precision 1.0 vs exact pairs, recall >= 0.5") {
    val exact = Dedup.dedupCosine.fn(spark, sf0001)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupCosineLsh.fn(spark, sf0001)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain cosine near-dups")
    // precision 1.0 by construction: every emitted pair passed the exact
    // cosine>=tau verify, so LSH can only be a subset of the exact pairs
    assert(lsh.subsetOf(exact), s"non-dup pairs emitted: ${lsh.diff(exact)}")
    // the testdata's planted pairs are all BORDERLINE (cosine 0.45-0.52,
    // barely past tau=0.45), the worst case for sign-bit LSH; recall on
    // them is the floor of the operator's profile, not its typical value
    assert(lsh.size >= 0.5 * exact.size,
      s"cosine-LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("semantic dedup: drops only exact-graph dups, min id survives, recall >= 0.4") {
    import org.apache.spark.sql.functions._
    // exact all-pairs tau-graph (vec_id<>0 corpus side, matching the query)
    val exactPairs = Dedup.dedupCosine.fn(spark, sf0001)
      .filter(col("vec_a") =!= 0)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "testdata should contain cosine near-dups")
    val sem = Dedup.dedupSemantic.fn(spark, sf0001)
      .select("vec_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dropped = sem.collect { case (id, false) => id }.toSet
    // precision: a dropped vector MUST have a lower-id tau-near twin in
    // the exact graph (within-cell pairs are a subset of all pairs)
    val higherIds = exactPairs.map(_._2)
    assert(dropped.subsetOf(higherIds),
      s"dropped non-dups: ${dropped.diff(higherIds)}")
    // one-survivor rule: the lower-id side of every exact pair whose
    // members share a cell must be kept — and at least: no pair has BOTH
    // sides dropped unless each names a still-lower twin (min id of any
    // connected set always survives)
    val allIds = sem.keySet
    val minId = allIds.min
    assert(sem(minId), "the global minimum vec_id can never be a dup")
    // recall floor: the planted pairs are all BORDERLINE (cosine
    // 0.45-0.52 — barely past tau, i.e. ~63 degrees apart, nothing like
    // real semantic twins), the worst case for single-cell assignment
    // because a 63-degree pair often straddles a cell boundary; the
    // deterministic value here is 3/7. Production SemDeDup runs at
    // tau~0.95 where both members land in one cell.
    assert(dropped.size >= 0.4 * higherIds.size,
      s"semantic dedup recall too low: ${dropped.size}/${higherIds.size}")
  }

  test("minhash-LSH candidates are a subset of exact J>=0.8 pairs, recall >= 0.8") {
    val exact = Dedup.dedupNgram.fn(spark, sf0001)
      .filter("jaccard >= 0.8").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(Dedup.dedupMinhash)
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-duplicate pairs: ${lsh.diff(exact)}")
    assert(lsh.size >= 0.8 * exact.size,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("all-pairs guard refuses dedup_cosine above the configured row cap") {
    // tiny cap: the sf0.001 embeddings table exceeds it → refuse
    spark.conf.set(Dedup.AllPairsCapKey, "10")
    try {
      // the guard is LAZY: building the plan must not run a job or throw
      val plan = Dedup.dedupCosine.fn(spark, sf0001)
      val e = intercept[Exception] { plan.collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m => m.contains("all-pairs") &&
             m.contains(Dedup.AllPairsCapKey)), s"got: ${messages(e)}")
      // -1 disables the guard explicitly — the documented escape hatch
      spark.conf.set(Dedup.AllPairsCapKey, "-1")
      assert(Dedup.dedupCosine.fn(spark, sf0001).limit(1).count() >= 0)
    } finally spark.conf.unset(Dedup.AllPairsCapKey)
  }

  test("shingle_hashes generator: distinct per doc, carries count, SQL-usable") {
    import org.apache.spark.sql.functions._
    val sh = Dedup.shingleHashesWithCount(spark, sf0001)
    // per-doc distinctness and a consistent count on every row
    val bad = sh.groupBy("doc_id")
      .agg(count(lit(1)).as("rows"), countDistinct(col("sgl")).as("uniq"),
           countDistinct(col("n_sgl")).as("ncounts"), first("n_sgl").as("n"))
      .filter(col("rows") =!= col("uniq") || col("ncounts") =!= 1 ||
              col("rows") =!= col("n"))
    assert(bad.count() === 0)
    // the plan is NARROW up to the first aggregation: no window exchange
    val plan = sh.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"shingling must not need a window:\n${plan.take(600)}")
    assert(plan.contains("Generate"), "expected the generator in the plan")
    // SQL surface via LATERAL VIEW
    Tables.documents(spark, sf0001).limit(5).createOrReplaceTempView("sgl_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, sgl, n_sgl FROM sgl_docs
        |LATERAL VIEW shingle_hashes(text, 3) AS sgl, n_sgl""".stripMargin)
    assert(viaSql.count() > 0)
    // n < 1 is an analysis error, not an executor crash; long literals ok
    intercept[Exception] {
      spark.sql("SELECT shingle_hashes(text, 0) FROM sgl_docs").collect()
    }
    assert(spark.sql(
      """SELECT sgl FROM sgl_docs
        |LATERAL VIEW shingle_hashes(text, CAST(2 AS BIGINT)) AS sgl, n_sgl"""
        .stripMargin).count() > 0)
  }

  test("ordered_pairs: streams i<j pairs, skips null elements, SQL-usable") {
    // null elements in the array must be skipped, not NPE (the expression
    // is generic over array<struct> with containsNull=true)
    val rows = spark.sql(
      """SELECT id_a, n_a, id_b, n_b FROM (SELECT array(
        |  named_struct('id', 1L, 'n', 10L), CAST(NULL AS STRUCT<id: BIGINT, n: BIGINT>),
        |  named_struct('id', 2L, 'n', 20L), named_struct('id', 3L, 'n', 30L)) AS xs)
        |LATERAL VIEW ordered_pairs(xs) AS id_a, n_a, id_b, n_b""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq((1L, 10L, 2L, 20L), (1L, 10L, 3L, 30L),
                              (2L, 20L, 3L, 30L)))
    // all-null / single-element arrays yield no pairs
    assert(spark.sql(
      """SELECT id_a FROM (SELECT array(CAST(NULL AS STRUCT<id: BIGINT>),
        |  named_struct('id', 1L)) AS xs)
        |LATERAL VIEW ordered_pairs(xs) AS id_a, id_b""".stripMargin)
      .count() === 0)
  }

  test("simhash64: narrow no-shuffle plan, deterministic, SQL-usable") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    val sig = Tables.documents(spark, sf0001).select(col("doc_id"),
      Bridge.column(graft.functions.expressions.SimHash64(
        Bridge.expression(col("text")))).as("simhash"))
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"signature step must be a pure projection:\n${plan.take(600)}")
    // deterministic across evaluations
    assert(sig.collect().toSeq === sig.collect().toSeq)
    // duplicate texts get identical signatures
    val spark2 = spark
    import spark2.implicits._
    val two = Seq(("a b c d", 1), ("a b c d", 2)).toDF("text", "i")
    two.createOrReplaceTempView("sim_docs")
    val sigs = spark.sql("SELECT simhash64(text) AS s FROM sim_docs")
      .collect().map(_.getLong(0))
    assert(sigs(0) === sigs(1))
  }

  test("simhash pairs include the planted exact-Jaccard near-dups' shape") {
    val sim = pairs(Dedup.dedupSimhash)
    val exact = Dedup.dedupNgram.fn(spark, sf0001)
      .filter("jaccard >= 0.8").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash at hamming<=3 should recover most planted near-dup pairs
    val recalled = exact.intersect(sim)
    assert(recalled.size >= 0.7 * exact.size,
      s"simhash recall ${recalled.size}/${exact.size}")
  }

  test("ann-ivf probes nearest cells and returns true cosines") {
    val ivf = Vectors.vectorAnnIvf.fn(spark, sf0001)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val brute = Vectors.vectorTopk.fn(spark, sf0001)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.nonEmpty)
    ivf.keySet.intersect(brute.keySet).foreach { id =>
      assert(math.abs(ivf(id) - brute(id)) < 1e-12)
    }
    assert(ivf.keySet.intersect(brute.keySet).nonEmpty,
      "IVF should recover part of the true top-20")
  }

  test("minhash_sig is SQL-registered and matches the DataFrame path") {
    import org.apache.spark.sql.functions._
    Tables.documents(spark, sf0001).createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
        "SELECT doc_id, minhash_sig(text, 3) AS sig FROM mh_docs")
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaDf = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Dedup.minhashSigCol.as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaDf)
  }

  test("native minhash_sig expression equals the aggregate signature path") {
    import org.apache.spark.sql.functions._
    val viaExpr = Dedup.minhashSignaturesExpr(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaAgg = Dedup.minhashSignatures(
        Dedup.shingleHashesPortable(spark, sf0001).select("doc_id", "sgl"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaExpr.keySet === viaAgg.keySet)
    viaExpr.foreach { case (id, sig) =>
      assert(sig === viaAgg(id), s"signature mismatch for doc $id")
    }
  }

  test("incremental dedup via a persisted minhash index matches from-scratch") {
    import org.apache.spark.sql.functions._
    val idxDir = java.nio.file.Files.createTempDirectory("mhidx").toString
    // standing corpus = everything outside the batch; persist its index
    // (band rows partitioned by band, plus the shingle sets the verify
    // step needs) — at 100 TB this is built once and appended to, never
    // recomputed per batch
    val shp = Dedup.shingleHashesPortable(spark, sf0001).select("doc_id", "sgl")
    val corpusSh = shp.filter(col("doc_id") % 10 =!= 7)
    Dedup.minhashBands(Dedup.minhashSignatures(corpusSh))
      .write.mode("overwrite").partitionBy("band").parquet(s"$idxDir/bands")
    corpusSh.groupBy("doc_id").agg(collect_set(col("sgl")).as("shingles"))
      .write.mode("overwrite").parquet(s"$idxDir/shingles")
    // the incremental pass shingles/signs ONLY the batch...
    val batchSh = shp.filter(col("doc_id") % 10 === 7)
    val batchBands = Dedup.minhashBands(Dedup.minhashSignatures(batchSh))
    val batchShingles = batchSh.groupBy("doc_id")
      .agg(collect_set(col("sgl")).as("shingles"))
    // ...and joins it against the persisted index + itself
    val allBands = spark.read.parquet(s"$idxDir/bands")
      .select("doc_id", "band", "bhash").unionByName(batchBands)
    val allShingles = spark.read.parquet(s"$idxDir/shingles")
      .unionByName(batchShingles)
    val cand = batchBands.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val viaIndex = Dedup.jaccardVerify(cand, allShingles)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromScratch = Dedup.dedupIncremental.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex === fromScratch,
      s"persisted-index result diverged: ${viaIndex.diff(fromScratch)} / ${fromScratch.diff(viaIndex)}")
    // incremental output must be exactly the batch-involving subset of
    // the full dedup
    val full = pairs(Dedup.dedupMinhash)
    val expected = full.filter { case (a, b) => a % 10 == 7 || b % 10 == 7 }
    assert(fromScratch === expected)
  }

  test("persisted LSH index: bucket probe is a partition prune") {
    import org.apache.spark.sql.functions._
    val idxDir = java.nio.file.Files.createTempDirectory("lshidx").toString
    // build + persist the index partitioned by bucket (the 100 TB layout)
    Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("bucket", graft.operators.Vectors.bucketOf(col("v")))
      .write.mode("overwrite").partitionBy("bucket").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val someBucket = idx.select("bucket").limit(1).collect()(0).getInt(0)
    val probe = idx.filter(col("bucket") === someBucket)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
           plan.contains(s"(bucket"),
      s"bucket probe should prune partitions:\n${plan.take(600)}")
    assert(probe.count() > 0)
  }

  test("ivf k-means: clustered corpus -> high recall + persisted-index prune") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // deterministic clustered fixture: 8 well-separated centers in R^16,
    // 50 points each with small noise
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 10))
    val rows = for {
      c <- centers.indices
      i <- 0 until 50
    } yield {
      val v = centers(c).map(_ + rnd.nextGaussian() * 0.1)
      ((c * 50 + i).toLong, s"cluster$c", v.toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "v")

    // train: every centroid should capture ~one true cluster
    val centroids = Vectors.ivfCentroids(emb, k = 8)
    assert(centroids.count() === 8)
    val cells = Vectors.assignCells(emb, centroids).cache()
    // a data-adaptive index puts each true cluster in ONE cell
    val spread = cells.withColumn("truth", split(col("label"), "cluster")(1))
      .groupBy("truth").agg(countDistinct("cell").as("n_cells"))
      .agg(max("n_cells")).collect()(0).getLong(0)
    assert(spread === 1L,
      s"k-means cells should align with true clusters, got spread=$spread")

    // recall: probe 1 cell for a query from cluster 3; all true top-10
    // neighbors live in that cluster, so recall must be 1.0
    val q = emb.filter(col("vec_id") === 160L).select(col("v").as("qv"))
    val probed = cells.join(
        broadcast(Vectors.probeCells(q, centroids, nProbe = 1)), Seq("cell"))
      .filter(col("vec_id") =!= 160L)
      .select(col("vec_id"),
        graft.functions.VectorOps.cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val brute = emb.filter(col("vec_id") =!= 160L).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorOps.cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(probed === brute,
      s"1-probe IVF recall should be total on a clustered corpus: " +
      s"missing ${brute.diff(probed)}")

    // persisted index partitioned by cell: a probe is a partition prune
    val idxDir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    cells.write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val probe = idx.filter(col("cell") === 3)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("(cell"),
      s"cell probe should prune partitions:\n${plan.take(600)}")
    cells.unpersist()
  }

  test("vector_pq: recall@10 vs exact L2 top-10 >= 0.7 on real embeddings") {
    import org.apache.spark.sql.functions._
    val pq = Vectors.vectorPq.fn(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorOps.l2Sq(col("v"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recalled = exact.intersect(pq).size
    assert(recalled >= 7,
      s"PQ recall@10 too low: $recalled/10 (measured 10/10 at this SF " +
        "with M=16, K=32, pool=100 — a drop means the codebooks or the " +
        "ADC path regressed)")
  }

  test("vector_mips_ann: augmented norms equal M and recall@20 floor holds") {
    import org.apache.spark.sql.functions._
    // the reduction's core invariant: after appending sqrt(M^2 - |x|^2),
    // EVERY augmented corpus vector has squared norm M^2 (so cosine order
    // against a 0-augmented query equals inner-product order) — checked
    // to float tolerance ((sqrt x)^2 re-rounds once)
    val emb = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") >= 5)
      .select(graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
      .select(graft.functions.VectorOps.dotNative(col("v"), col("v")).as("ns"))
    val m2 = emb.agg(max(col("ns"))).collect().head.getDouble(0)
    val worst = emb
      .select(abs((col("ns") +
        pow(sqrt(lit(m2) - col("ns")), 2)) / lit(m2) - 1).as("drift"))
      .agg(max(col("drift"))).collect().head.getDouble(0)
    assert(worst < 1e-12, s"augmented-norm drift $worst")
    // honest floor on the near-isotropic fixture: the multiprobe index
    // recovers a minority of the true MIPS top-20 (measured 18/100 at
    // sf0.001, 37/100 at sf0.01 — same regime as vector_recall_eval's
    // cosine readings); the floor guards the plumbing (bucketing the
    // AUGMENTED vectors, ranking candidates by true dot), not the
    // geometry, which the scaladoc reports truthfully
    val rows = Vectors.vectorMipsAnn.fn(spark, sf0001).collect()
    assert(rows.length == 5)
    val hits = rows.map(_.getLong(2)).sum
    val total = rows.map(_.getLong(1)).sum
    assert(total == 100L)
    assert(hits >= 10, s"MIPS-ANN recall collapsed: $hits/$total")
  }

  test("vector_ivf_pq: recall@10 vs exact L2 >= 0.6 despite the cell prune") {
    import org.apache.spark.sql.functions._
    val ivfpq = Vectors.vectorIvfPq.fn(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorOps.l2Sq(col("v"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recalled = exact.intersect(ivfpq).size
    // two approximation layers stack here (probe misses + residual
    // quantization), so the floor sits below flat PQ's; misses must come
    // only from true neighbors whose cell wasn't probed
    assert(recalled >= 6,
      s"IVFADC recall@10 too low: $recalled/10 (probe=5/16 cells, " +
        "residual M=16 K=32 — a drop means the coarse assignment, " +
        "residual training, or the ADC path regressed)")
  }

  test("dedup_cluster: paired docs share a cluster, survivor is the min id") {
    val labels = Dedup.dedupCluster.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairList = Dedup.dedupNgram.fn(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairList.nonEmpty)
    // every near-dup pair landed in one component
    pairList.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    // the representative is a member of its own component and is minimal
    labels.foreach { case (doc, cl) =>
      assert(cl <= doc && labels(cl) === cl,
        s"cluster id $cl of $doc is not a minimal self-representative")
    }
    // docs in no pair are singletons
    val paired = pairList.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot(kv => paired(kv._1)).foreach { case (doc, cl) =>
      assert(cl === doc, s"unpaired doc $doc should be its own cluster")
    }
  }

  test("ann-lsh results are true vectors with correct cosines (precision)") {
    val ann = Vectors.vectorAnnLsh.fn(spark, sf0001)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val brute = Vectors.vectorTopk.fn(spark, sf0001)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ann.nonEmpty)
    // every ANN hit that is also a brute-force top-20 must agree on cosine
    ann.keySet.intersect(brute.keySet).foreach { id =>
      assert(math.abs(ann(id) - brute(id)) < 1e-12)
    }
    // recall@20 of a 37/256-bucket probe is approximate by design; just
    // require non-trivial overlap with the true top-20
    assert(ann.keySet.intersect(brute.keySet).nonEmpty)
  }

  test("hash-to-min components: 200-deep chain converges in O(log d) rounds") {
    import spark.implicits._
    val n = 200
    // a single path 0-1-2-...-200: diameter 200, so min-label propagation
    // would need ~200 rounds; hash-to-min doubles reach per round
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    val nodes = (0L to n).toDF("doc_id")
    val (labels, rounds) = Dedup.componentsHashToMin(pairs, nodes)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n + 1 && got.values.forall(_ == 0L),
      "every node of the chain must label to the component min 0")
    // logarithmic reach-doubling plus the capped-interval probe
    // schedule's bounded detection overshoot (≤ 4 rounds past the
    // fixpoint before the sparse probe pair certifies it)
    assert(rounds <= 18, s"expected logarithmic convergence, took $rounds")
    // the probe schedule is the point: sum probes are their own jobs,
    // and on a deep convergence they must be sparser than the rounds
    val probes = Dedup.lastHashToMinProbes.get()
    assert(probes < rounds,
      s"probe schedule must thin out on deep runs: $probes probes in $rounds rounds")
    assert(probes <= rounds / 2 + 4,
      s"capped doubling should give ~rounds/4 probes, got $probes/$rounds")
  }

  test("dedup_cluster_star (hash-to-min) equals dedup_cluster " +
       "(large-star/small-star) on the corpus") {
    // two independent sub-linear-round CC algorithms over the same
    // near-dup edges must produce identical min-labelings
    val viaStar = Dedup.dedupClusterStar.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLabel = Dedup.dedupCluster.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStar === viaLabel)
  }

  test("large-star/small-star: 200-deep chain converges in O(log d) " +
       "rounds with linear-size intermediates") {
    import spark.implicits._
    val n = 200
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    val nodes = (0L to n).toDF("doc_id")
    val (labels, rounds) = Dedup.componentsStar(pairs, nodes)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n + 1 && got.values.forall(_ == 0L),
      "every node of the chain must label to the component min 0")
    assert(rounds <= 12, s"expected logarithmic convergence, took $rounds")
    assert(Dedup.lastStarRounds.get() == rounds)
    // isolated docs (never in the edge set) must self-label
    val iso = Dedup.componentsStar(
      Seq((1L, 2L)).toDF("doc_a", "doc_b").localCheckpoint(),
      Seq(1L, 2L, 99L).toDF("doc_id"))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso === Map(1L -> 1L, 2L -> 1L, 99L -> 99L))
    // a CLEAN corpus (zero near-dup pairs) must short-circuit: the
    // attachment-sum plateau sums an empty frame to NULL every round,
    // so without the guard the loop burned all rounds and threw
    // (ADVICE r10). Every node self-labels; zero contraction rounds.
    val (clean, cleanRounds) = Dedup.componentsStar(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b").localCheckpoint(),
      Seq(5L, 7L, 11L).toDF("doc_id"))
    assert(clean.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(5L -> 5L, 7L -> 7L, 11L -> 11L))
    assert(cleanRounds == 0 && Dedup.lastStarRounds.get() == 0)
    // self-loop-only pairs reduce to the same empty edge set
    val selfOnly = Dedup.componentsStar(
      Seq((3L, 3L)).toDF("doc_a", "doc_b").localCheckpoint(),
      Seq(3L, 4L).toDF("doc_id"))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfOnly === Map(3L -> 3L, 4L -> 4L))
  }

  test("knn_join_lsh: exact cosines, ranked per vector, useful recall@1") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps._
    val knn = Vectors.knnJoinLsh.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(knn.nonEmpty)
    // per-vector ranks are 1..k, cosines non-increasing along the rank
    knn.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      })
    }
    // recall@1 vs brute force, on the vectors where the true nearest
    // neighbor is MEANINGFUL (cosine >= 0.4 — the planted pairs). For the
    // random-noise remainder the "nearest" is an arbitrary cosine≈0
    // vector and no sub-quadratic method (nor a user) cares which one
    // comes back; including them would test noise, not the operator.
    val e = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val exact1 = e.as("a").join(e.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
              cosine(col("a.v"), col("b.v")).as("cosine"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(desc("cosine"), asc("nn_id"))))
      .filter(col("rk") === 1 && col("cosine") >= 0.4)
      .select("vec_id", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact1.nonEmpty, "testdata should contain strong NN pairs")
    val got1 = knn.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val hits = exact1.count { case (v, nn) => got1.get(v).contains(nn) }
    // the planted pairs sit at cosine 0.45-0.52 — sign-LSH's worst case
    // — and recall@1 is strictly harder than the dedup test's pair
    // recall (the true NN must both collide and win the ranking); the
    // deterministic measure on this fixture is 54/112 ≈ 0.48
    assert(hits >= 0.45 * exact1.size,
      s"recall@1 on strong pairs too low: $hits/${exact1.size}")
  }

  test("graft.lsh.planesPerTable scales the band space without breaking exactness") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps._
    val e = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // auto default: conf absent → max(6, ceil(log2(n/32))); the fixture
    // corpus (n=500) sits below the floor, so the driver oracles keep
    // the seeded 6-bit plane pool
    assert(Dedup.cosLshPpt(spark, sf0001) == 6)
    // more bits → geometrically larger signature space (the linearity
    // knob: bucket occupancy ≈ n/2^bits — docs/SCALE.md measured
    // knn_join_lsh at exponent 1.28 with 6 bits at sf1, ~linear at 10)
    val sig10 = Dedup.cosLshBands(e, ppt = 10)
    val mx = sig10.agg(max("sig"), countDistinct("tbl")).head()
    assert(mx.getLong(0) < (1L << 10) && mx.getLong(0) >= (1L << 6),
      s"10-bit signatures should use the widened space: max=${mx.getLong(0)}")
    assert(mx.getLong(1) == 8, "table count is the recall knob, unchanged")
    try {
      spark.conf.set("graft.lsh.planesPerTable", "4")
      assert(Dedup.cosLshPpt(spark, sf0001) == 4)
      // the conf reaches the declared query, and every emitted neighbor
      // still carries its EXACT cosine (precision is bit-independent of
      // the banding config — only recall moves)
      val knn4 = Vectors.knnJoinLsh.fn(spark, sf0001)
        .select("vec_id", "nn_id", "cosine").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      assert(knn4.nonEmpty)
      val ids = knn4.map(_._1).toSet
      val truth = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id").as("nn_id"),
                (dotNative(col("a.v"), col("b.v")) /
                  (norm(col("a.v")) * norm(col("b.v")))).as("c"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .filter(t => ids.contains(t._1)).toMap
      knn4.foreach { case (k, c) =>
        assert(truth(k) == c, s"inexact cosine for $k under ppt=4")
      }
    } finally spark.conf.unset("graft.lsh.planesPerTable")
  }

  test("LSH band width auto-sizes from the corpus footer count above the floor") {
    // a corpus big enough that the measured rule max(6, ceil(log2(n/16)))
    // exceeds the fixture floor: n=5000 -> ceil(log2(312.5)) = 9. The
    // width is derived from parquet FOOTERS (no Spark job) and the
    // post-run oracle renderer unrolls the same width, so the engine no
    // longer needs an operator to remember a session conf to stay
    // sub-quadratic at scale (the round-5 scale-killer).
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_autoppt").toString
    spark.range(5000)
      .select(col("id").as("vec_id"),
        array(lit(0.1f), lit(0.2f)).as("embedding"))
      .coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
    assert(Dedup.cosLshPpt(spark, tmp) == 9,
      "n=5000 must auto-size to 9 bits per table")
    // and the recorded width drives the generated oracle SQL
    assert(Dedup.lastCosLshPpt.get().contains(9))
    assert(Dedup.dedupCosineLsh.oracleNow.exists(_.contains("j // 9")),
      "post-run oracle must unroll the width actually used")
    // restore: driver fixtures re-record the floor width
    assert(Dedup.cosLshPpt(spark, sf0001) == 6)
  }

  test("dedup_source_sim: estimate tracks exact source Jaccard, all pairs present") {
    val rows = Dedup.dedupSourceSim.fn(spark, sf0001).collect()
    val nSources = Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(rows.length === (nSources * (nSources - 1) / 2).toInt,
      "every unordered source pair must emit exactly one row")
    rows.foreach { r =>
      val (exact, est) =
        (r.getAs[Double]("jaccard"), r.getAs[Double]("est_jaccard"))
      assert(est >= 0.0 && est <= 1.0)
      // K=32 signature ⇒ se ≈ sqrt(J(1−J)/32) ≤ 0.09; 0.35 is a ~4σ
      // deterministic ceiling on this fixture
      assert(math.abs(est - exact) <= 0.35,
        s"${r.getString(0)}↔${r.getString(1)}: est=$est exact=$exact")
      val (na, nb, ni) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
                          r.getAs[Long]("n_common"))
      assert(ni <= math.min(na, nb), "intersection exceeds a side")
    }
  }

  test("incremental cluster seeding: labels equal full recompute, star " +
       "seeds converge at least as fast") {
    import org.apache.spark.sql.functions._
    val d = sf0001
    val docs = graft.Tables.documents(spark, d).select("doc_id")
    val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val baseIds = graft.Tables.documents(spark, d)
      .select(col("doc_id")).filter(h < "cc")
    val p = Dedup.dedupNgram.fn(spark, d).select("doc_a", "doc_b")
      .localCheckpoint()
    val basePairs = p
      .join(baseIds.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_semi")
      .join(baseIds.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_semi")
    val (baseLabels, _) = Dedup.componentsHashToMin(basePairs, baseIds)
    val newPairs = p.join(basePairs, Seq("doc_a", "doc_b"), "left_anti")
    val stars = baseLabels
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val (incr, roundsIncr) =
      Dedup.componentsHashToMin(newPairs.unionByName(stars), docs)
    val (full, roundsFull) = Dedup.componentsHashToMin(p, docs)
    // identical labeling — the incremental path IS the full answer
    val diff = incr.join(full.withColumnRenamed("cluster_id", "c2"),
                         Seq("doc_id"))
      .filter(col("cluster_id") =!= col("c2")).count()
    assert(diff === 0L, "incremental labels diverged from full recompute")
    // the operational claim: star-collapsed seeds never need MORE rounds
    // than the raw pair graph (diameter-2 components + only new edges)
    assert(roundsIncr <= roundsFull,
      s"incremental took $roundsIncr rounds vs full $roundsFull")
  }

  test("sorted-neighborhood window: precision 1.0 (subset of exact pairs), recall >= 0.8") {
    // the SNM emits only candidates that passed the exact-Jaccard verify,
    // so every pair must belong to dedup_ngram's complete tau=0.5 set;
    // recall is the sort-key quality claim — the prefix key co-locates
    // near-dups on this corpus (perturbations rarely hit tokens 1-4)
    val exact = pairs(Dedup.dedupNgram)
    val snm = pairs(Dedup.dedupSortedWindow)
    assert(exact.nonEmpty, "testdata should contain ngram near-dups")
    assert(snm.subsetOf(exact), s"false positives: ${snm.diff(exact)}")
    assert(snm.size >= 0.8 * exact.size,
      s"SNM recall too low: ${snm.size}/${exact.size}")
  }

  test("vector_nsw_search: beam contract and recall floors hold") {
    val rows = Vectors.vectorNswSearch.fn(spark, sf0001).collect()
    assert(rows.length == 17, s"17 queries expected, got ${rows.length}")
    // every landed node must really be a base (came through the graph),
    // and the landed cosine can never exceed the exact best — the beam
    // only ever sees base vectors
    rows.foreach { r =>
      assert(r.getLong(1) % 31 != 0, s"beam landed on a query: $r")
      assert(r.getDouble(2) <= 1.0 + 1e-12, s"cosine out of range: $r")
    }
    // honest floors on the near-isotropic 64-dim fixture (measured
    // recall@1 ~0.35, recall@10 ~0.95 at ef=8, hops=8; single-greedy
    // ef=1 measured recall@1 = 0 — the documented local-optimum mode):
    // the floor guards the routing plumbing, not the geometry
    val top10 = rows.count(_.getBoolean(5))
    assert(top10 >= 12, s"NSW recall@10 collapsed: $top10/17")
    val overlap = rows.map(_.getLong(6)).sum
    assert(overlap >= 17, s"beam top-10 overlap collapsed: $overlap")
    assert(rows.forall(_.getLong(6) <= 10), "overlap exceeds top-10")
  }
}
