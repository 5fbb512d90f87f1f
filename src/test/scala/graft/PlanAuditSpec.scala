package graft

import graft.operators.{Dedup, Pipeline, PlanDump, Relational, Vectors}
import graft.operators.PlanDump.Shape

/** Physical-plan audits: these lock in the scale-critical plan shapes so
  * a refactor that silently loses pushdown / broadcast / top-k / partial
  * aggregation fails CI, not the 100 TB run.
  *
  * Operator counts come from the plan-shape record (`plans/shape.json`,
  * which `PlanShapeSpec` keeps equal to the live plans): the bounds at the
  * end of this suite stop a regenerated record from crossing what a query
  * was built for. The plan-string audits check what the record does not
  * carry — pushed predicates, pruned columns, expression names, partition
  * keys, window frames and operator placement.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(q: Q): String = {
    // the Q.eager contract, enforced where plans are built for
    // inspection: eager queries run Spark jobs at plan-build time and
    // must not be audited through this plan-only helper
    assert(!q.eager, s"${q.name} is eager — audit it with an explicit run")
    // plan locks must not depend on suite ORDER: a cache() left behind
    // by another suite in the shared test JVM substitutes an
    // InMemoryRelation into the audited plan and shifts its exchange
    // counts (seen: StreamingSpec before this suite grew ab_sequential
    // 3 → 4 exchanges). Audit the uncached plan.
    spark.catalog.clearCache()
    q.fn(spark, sf0001).queryExecution.executedPlan.toString
  }

  test("the eager set is exactly the declared convergence/training queries") {
    assert(SparkEntry.catalog.filter(_.eager).map(_.name).toSet ===
      Set("dedup_cluster", "dedup_cluster_sizes", "dedup_cluster_star",
          "vector_ann_ivf",
          "vector_index_stats", "bpe_train", "bpe_encode",
          "graph_triangles", "join_bloom", "vector_pq", "dedup_semantic",
          "vector_ivf_pq", "vector_index_delta", "text_countmin",
          "dedup_cluster_rep", "store_pruning_stats", "graph_kcore",
          "graph_shortest_path", "graph_clustering_coeff", "dedup_cluster_incr",
          "vector_ivf_probe_sweep", "multimodal_dhash_dedup",
          "vector_mmr_rerank",
          "graph_assortativity", "dedup_threshold_sweep", "markov_stationary", "graph_hits",
          "graph_pagerank", "graph_label_prop", "graph_modularity",
          "graph_scc", "graph_betweenness", "graph_diameter",
          "graph_closeness", "vector_pca_power",
          "vector_nsw_search", "vector_ef_sweep", "vector_residual_energy",
          "vector_kmeans_converged", "vector_ood_census",
          "corpus_tokenizer_compression",
          // adaptive-cell consumers: the derivation collect (1 row)
          // fixes the cell/ring literals at plan-build time
          "geo_radius_join", "geo_knn", "geo_dbscan_core",
          "geo_radius_spread", "geo_knn_spread", "geo_dbscan_spread"),
      "new Q entries that run jobs at plan-build time must set eager=true")
  }

  test("filter_pred pushes predicates into the parquet scan") {
    val p = plan(Relational.filterPred)
    assert(p.contains("PushedFilters:"), p.take(400))
    assert(p.contains("GreaterThanOrEqual(l_quantity") ||
           p.contains("LessThan(l_discount"),
      "expected lineitem predicates in PushedFilters")
  }

  test("vector_topk is a TakeOrderedAndProject over the cosine projection") {
    val p = plan(Vectors.vectorTopk)
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("cosine_sim"), "native expression should be in the plan")
  }

  test("simplify_flatten prunes unread columns at the scan") {
    val p = plan(Pipeline.simplifyFlatten)
    assert(!p.contains("c_nationkey"),
      "flatten projection must not read unused columns")
  }

  test("dedup_cosine evaluates the native cosine, threshold pushed into join") {
    val p = plan(Dedup.dedupCosine)
    assert(p.contains("cosine_sim"))
    // Catalyst pushes `cosine >= τ` into the nested-loop join condition,
    // so pairs below threshold never materialize a row
    assert(p.contains("BroadcastNestedLoopJoin") &&
           p.contains("cosine_sim(v"))
  }

  test("text_tokens explode feeds a partial+final aggregate") {
    val p = plan(graft.operators.TextAnalysis.textTokens)
    assert(p.contains("Generate explode"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("ml_naive_bayes scores through one explode + partial+final aggregates") {
    val p = plan(graft.operators.MlEval.mlNaiveBayes)
    assert(p.contains("Generate explode"), "tokenization must be an explode")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "model counts and scoring must both aggregate partial+final")
    assert(!p.contains("CartesianProduct"),
      "class fan-out must ride broadcasts, never a cartesian")
  }

  test("geo family stays cell-keyed equi-joins (never a product)") {
    // eager queries (the adaptive-cell derivation collect runs at
    // plan-build) — audited with an explicit build, not plan()
    for (q <- Seq(graft.operators.Geo.geoRadiusJoin,
                  graft.operators.Geo.geoKnn,
                  graft.operators.Geo.geoDbscanCore,
                  graft.operators.Geo.geoRadiusSpread,
                  graft.operators.Geo.geoKnnSpread,
                  graft.operators.Geo.geoDbscanSpread)) {
      val p = q.fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: grid join regressed to a product:\n${p.take(600)}")
      // the dbscan census ends in broadcast cross-combines of 1-row
      // scalar aggregates (fine); the pair frame itself must never
      // ride a nested loop — count the BNLJs and bound them
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnl <= 2, s"${q.name}: $bnl nested-loop joins:\n${p.take(600)}")
      assert(p.contains("Generate explode"),
        s"${q.name}: the ring neighborhood probe must be a generator")
    }
  }

  test("ngram_freq is explode -> partial+final agg -> TakeOrderedAndProject") {
    val p = plan(graft.operators.TextAnalysis.ngramFreq)
    assert(p.contains("Generate ngram_tokens"),
      "expected the native n-gram generator")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("corpus_pack: every corpus-proportional window is partitioned") {
    // audit the LOGICAL plan's Window nodes directly: any window whose
    // input is proportional to corpus size must carry a partitionBy; the
    // one permitted unpartitioned window is the superbucket rollup, whose
    // input is n/W² rows (constant at any plausible scale) — identified
    // by sitting above BOTH aggregation levels.
    val df = graft.operators.Corpus.corpusPack.fn(spark, sf0001)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.size >= 3, s"expected the 3-level prefix sum, got $wins")
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.size <= 1,
      s"at most the superbucket window may be unpartitioned:\n$wins")
    unpartitioned.foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggsBelow.size >= 2,
        "the unpartitioned window must sit above both aggregation " +
          s"levels (n/W² input), found ${aggsBelow.size} below:\n$w")
    }
    // doc-level and bucket-level prefix sums carry their partition keys
    val specs = wins.map(_.partitionSpec.map(_.sql).mkString(","))
    assert(specs.exists(s => s.contains("bkt") && !s.contains("sbkt")) &&
           specs.exists(_.contains("sbkt")),
      s"expected bkt- and sbkt-partitioned windows, got: $specs")
  }

  test("corpus_entropy: the corpus is scanned once; cross-source stats ride windows") {
    val p = plan(graft.operators.Corpus.corpusEntropy)
    // the self-join formulation re-derives the (source, token) aggregate
    // per reference — 4 corpus tokenizations; the window formulation
    // scans the documents parquet exactly once
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corpus must be scanned exactly once:\n${p.take(1000)}")
    // global token counts = vocab-keyed window; corpus total =
    // unpartitioned window over the |sources|-row aggregate
    assert("Window".r.findAllIn(p).size >= 2, p.take(600))
    val df = graft.operators.Corpus.corpusEntropy.fn(spark, sf0001)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // any unpartitioned window must sit above the per-source aggregate
    // (bounded input), never over the corpus-proportional token frame
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggsBelow.size >= 2,
        s"unpartitioned window over an unbounded input:\n$w")
    }
  }

  test("text_heavy_hitters: exact recount sits behind a broadcast semi join") {
    val p = plan(graft.operators.TextAnalysis.textHeavyHitters)
    assert(p.contains("LeftSemi"),
      "the full-vocabulary aggregate must be pre-filtered to MG candidates")
    assert(p.contains("MapPartitions"), "the MG sketch stage is missing")
  }

  test("minhash signature step is map-only (no exchange before the bands)") {
    val p = Dedup.minhashSignaturesExpr(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"signature step must not shuffle:\n${p.take(600)}")
    assert(p.contains("minhash_sig"), "native expression should be in the plan")
  }

  test("dedup_cosine_lsh is equi-join banding, never a cartesian product") {
    val p = plan(Dedup.dedupCosineLsh)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"LSH dedup must not degrade to all-pairs:\n${p.take(600)}")
    assert(p.contains("dot_product"),
      "native dot kernel should band and verify candidates (cosine from " +
        "precomputed norms; banding needs only the dot's sign)")
  }

  test("unpivot_stack melts via a generator, no post-agg shuffle") {
    val p = plan(Relational.unpivotStack)
    assert(p.contains("Generate stack"),
      s"expected the stack generator:\n${p.take(600)}")
    // one exchange for the groupBy, one for the output sort — the melt
    // itself must not add a third
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"melt should be shuffle-free beyond agg+sort:\n${p.take(800)}")
  }

  test("join_salted joins on the composite (key, salt) so one hot key spreads") {
    val p = plan(Relational.joinSalted)
    // the invariant is the composite equi-join key — the physical join
    // (broadcast at tiny SF, shuffle at scale) is AQE/size's choice
    assert(p.contains("_salt"),
      s"salt must be part of the join key:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"))
  }

  test("window_range_frame is a single keyed window, RANGE frame in the spec") {
    val p = plan(graft.operators.Windows.windowRangeFrame)
    assert(p.contains("RangeFrame, -30"),
      s"expected the value-based frame:\n${p.take(800)}")
    assert("Window".r.findAllIn(p).size >= 1)
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // THE 100 TB fact-fact join mechanism: when one shuffle-join side has
    // a selective filter, Catalyst injects a bloom filter built from it
    // into the other side's scan stage, so most of the big side drops
    // BEFORE the shuffle. Local thresholds are sized for clusters, so
    // lower them to demonstrate the rewrite on test data; on defaults the
    // same plan appears once the creation side exceeds ~10 MB.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "500MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions._
      val li = graft.Tables.lineitem(spark, sf0001)
      val ord = graft.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the lineitem side:\n${p.take(1200)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("join_interval_bin: the keyless time join is a bucket equi join") {
    val p = plan(Relational.joinIntervalBin)
    // the whole point: the range predicate must NOT plan as a nested
    // loop / cartesian — the bucket column carries it as an equi key
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"keyless interval join must ride the bucket key:\n${p.take(800)}")
    assert(p.contains("bkt"), s"expected the bucket join key:\n${p.take(600)}")
  }

  test("dedup_semantic: cell assignment is a narrow kernel, pair join is equi") {
    // eager query (centroid training) — explicit build. The point of the
    // native nearest_centroid kernel: assignment adds NO exchange and no
    // n x k explode; the only corpus-sized shuffles are the cell-keyed
    // self-join's own exchanges.
    val p = graft.operators.Dedup.dedupSemantic.fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid"),
      s"expected the native assignment kernel:\n${p.take(800)}")
    assert(!p.toLowerCase.contains("cartesian"),
      s"pair generation must be the cell equi join:\n${p.take(800)}")
    // no vec_id-keyed aggregate before the join (the assignCells shape
    // this kernel replaces would hash-aggregate n x k rows by vec_id)
    assert(!p.contains("max_by"),
      s"assignment must not run the n x k max_by aggregate:\n${p.take(800)}")
  }

  test("vector_ivf_pq: prune + encode + score is one narrow pass, no exchange") {
    // eager (index training) — explicit build. The IVFADC serving shape:
    // assignment, probe filter, and residual ADC are all narrow kernels
    // in one whole-stage-codegen pass over a single corpus scan, feeding
    // the candidate-cut/rerank TakeOrdered pair — no shuffle, no join.
    val p = graft.operators.Vectors.vectorIvfPq.fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid") && p.contains("pq_residual_adc"),
      s"expected both native kernels:\n${p.take(800)}")
    assert(!p.contains("Exchange"), s"IVFADC scan must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), s"IVFADC scan must not join:\n${p.take(600)}")
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2,
      s"expected candidate-cut + rerank TakeOrdered pair:\n${p.take(600)}")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corpus must be scanned once:\n${p.take(600)}")
  }

  test("join_bloom probes the bitmap below the join, in the fact scan stage") {
    // eager query (bitmap build runs jobs) — audited with an explicit
    // build, not the plan-only helper
    val p = graft.operators.Relational.joinBloom.fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"),
      s"expected the native bloom probe:\n${p.take(800)}")
    // the probe must sit BELOW the semi join: everything before the first
    // join operator in the plan string is the post-join pipeline, so the
    // probe's filter has to appear AFTER the join node (plan trees print
    // top-down)
    val joinAt = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findFirstMatchIn(p).map(_.start).getOrElse(fail("no join in plan"))
    val probeAt = p.indexOf("bloom_might_contain")
    assert(probeAt > joinAt,
      s"bloom probe must prune below the join, not above it:\n${p.take(800)}")
  }

  test("knn_join_lsh joins bands on (tbl, sig), never a cartesian product") {
    val p = plan(Vectors.knnJoinLsh)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"kNN candidates must come from the band equi-join:\n${p.take(800)}")
    assert(p.contains("Window"), "per-vector rank window expected")
    assert(p.contains("dot_product"),
      "native dot kernel expected in the plan (banding + norm-scored pairs)")
  }

  test("ts_ewma/ts_holt: one user-keyed exchange feeds the sequential pass") {
    Seq(graft.operators.TimeSeries.tsEwma,
        graft.operators.TimeSeries.tsHolt).foreach { q =>
      val p = plan(q)
      assert(p.contains("MapPartitions"),
        s"${q.name}: the recurrence pass is missing")
      // one hash exchange (repartition by user) + one range exchange (the
      // presentation sort) — a window/join formulation would add more
      assert("Exchange".r.findAllIn(p).size <= 2, s"${q.name}: ${p.take(800)}")
    }
  }

  test("ts_changepoint windows run over the reduced series frame") {
    val df = graft.operators.TimeSeries.tsChangepoint.fn(spark, sf0001)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty)
    // every window sits above the (type, day) aggregate, never raw events
    wins.foreach { w =>
      assert(w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"window over raw events:\n$w")
      assert(w.partitionSpec.nonEmpty, "unpartitioned window in changepoint")
    }
  }

  test("dq_referential joins key-count frames, not raw child rows") {
    val p = plan(Pipeline.dqReferential)
    // r11 melt: ONE (edge, fk) key-count aggregate for all 7 edges and
    // ONE (edge, pk) distinct for all 7 parents feed the join — child
    // keys still aggregate (partial+final) BEFORE the parent join, and
    // the exchange count is edge-count-independent
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    assert("Exchange hashpartitioning\\(edge".r.findAllIn(p).size <= 2,
      s"the melted child side must ride one (edge, fk) exchange:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_jaccard reuses the posting-list pair generator") {
    val p = plan(Pipeline.graphJaccard)
    assert(p.contains("ordered_pairs") || p.contains("OrderedPairs") ||
      "Generate".r.findAllIn(p).size >= 1,
      "pairs must stream from posting lists, not a self-join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 must not be a global sort")
  }

  test("text_bm25: the term filter sits below the aggregate; dims broadcast") {
    val p = plan(graft.operators.TextAnalysis.textBm25)
    // hits-only shuffles: the IN filter must appear under the partial agg
    assert(p.contains("IN (spark,merge,window)"),
      s"query-term filter missing from the plan:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "df and dl attachments must broadcast, never shuffle the hits")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("text_inverted_index: posting heads are capped map-side (WindowGroupLimit)") {
    val p = plan(graft.operators.TextAnalysis.textInvertedIndex)
    // the rank<=8 filter must compile to a partial WindowGroupLimit so at
    // most 8 rows per token leave each mapper — collect_list never sees a
    // full posting list (the stopword-at-100TB guard)
    assert(p.contains("WindowGroupLimit"),
      s"rank cap must push to the map side:\n${p.take(800)}")
    assert(p.contains("partial_collect_list"),
      "posting heads must combine partially before the final aggregate")
    assert(p.contains("TakeOrderedAndProject"), "top-30 must not global-sort")
  }

  test("text_boilerplate: segment df joins back without reshuffling segments") {
    val p = plan(graft.operators.TextAnalysis.textBoilerplate)
    assert("Generate posexplode".r.findAllIn(p).size >= 1,
      s"segmentation must be a generator, not a join:\n${p.take(600)}")
    // the stitch is a partial+final ObjectHashAggregate whose lists are
    // bounded by segments-per-document
    assert(p.contains("partial_collect_list"),
      "per-doc stitch lists must combine partially")
    assert(!p.contains("CartesianProduct"))
  }

  test("attribution_linear: no purchase x click pairs — three windows, one sort") {
    val p = plan(graft.operators.Streaming.attributionLinear)
    assert("Join".r.findAllIn(p).isEmpty,
      s"credits must ride the suffix-sum window, never a pair join:\n${p.take(800)}")
    // user-keyed exchange + campaign agg exchange + presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"the three window functions must share one user sort:\n${p.take(800)}")
    assert(p.contains("In(event_type"),
      "the click/purchase filter must push into the parquet scan")
  }

  test("resample_interp: the lead window runs over the series, gaps are generated") {
    val p = plan(graft.operators.Streaming.resampleInterp)
    // ONE series-sized window; grid rows are born in the explode ABOVE it
    // (the grid-windowed formulation measured 40s vs 2s at sf0.1)
    assert("Window".r.findAllIn(p).size == 1,
      s"exactly one lead window over observed buckets expected:\n${p.take(800)}")
    assert(p.contains("Generate explode"),
      "gap points must be generated per segment, not joined from a grid")
    assert("Join".r.findAllIn(p).isEmpty,
      s"no grid left-join — segments carry v0/v1 with them:\n${p.take(800)}")
  }

  test("event_paths: rank window and path collect share ONE user exchange") {
    val p = plan(graft.operators.Streaming.eventPaths)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"window and per-user aggregate must reuse one user shuffle:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 path cut must be TakeOrderedAndProject, not a global sort")
  }

  test("dq_uniqueness: each table scan reads only its key columns") {
    val p = plan(graft.operators.Pipeline.dqUniqueness)
    // column pruning must reach every scan: non-key payload columns
    // (fact comments, prices, document text) stay out of ReadSchema
    // schema-token forms: bare "embedding"/"text" would false-match the
    // fixture paths (embeddings.parquet) in FileScan locations
    for (c <- Seq("l_comment", "l_extendedprice", "o_totalprice",
                  "text:string", "embedding:array"))
      assert(!p.contains(c), s"key census must not read payload column $c")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "key counts must be partial+final hash aggregation")
  }

  test("vector_filtered_topk: the label predicate reaches the parquet scan") {
    val p = plan(graft.operators.Vectors.vectorFilteredTopk)
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(label,3)"),
      s"metadata filter must push into the scan, not post-filter:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("agg_weighted_median: both windows ride one group-keyed exchange") {
    val p = plan(graft.operators.Relational.aggWeightedMedian)
    assert("hashpartitioning\\(flag".r.findAllIn(p).size == 1,
      s"cumulative and total windows must share one exchange:\n${p.take(800)}")
  }

  test("agg_moments: one partial+final aggregate over a 2-column scan") {
    val p = plan(Relational.aggMoments)
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"power sums must be one partial+final pair, not stacked aggs:\n" +
        p.take(800))
    assert(p.contains("l_returnflag") && p.contains("l_quantity") &&
      !p.contains("l_extendedprice"),
      "scan must prune to the two referenced lineitem columns")
  }

  test("ts_theil_sen: pair join and rank window are event_type-keyed") {
    val p = plan(graft.operators.TimeSeries.tsTheilSen)
    assert(!p.contains("CartesianProduct"))
    // every window sort is partitioned — the series self-join must not
    // plan an unpartitioned global sort anywhere
    assert(!p.linesIterator.exists(l =>
        l.contains("Window ") && !l.contains("event_type")),
      s"windows must partition by event_type:\n${p.take(800)}")
  }

  test("corpus_sample_balanced: minority size broadcasts, rank is lang-keyed") {
    val p = plan(graft.operators.Corpus.corpusSampleBalanced)
    assert(p.contains("BroadcastExchange") ||
           p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row minority size must broadcast, never shuffle:\n" +
        p.take(800))
    assert(p.contains("row_number"), "rank window present")
  }

  test("text_vocab_growth: corpus-sized work is aggregate-only (windows " +
       "ride the 10-row histogram)") {
    val p = plan(graft.operators.TextAnalysis.textVocabGrowth)
    assert(p.contains("BroadcastExchange"),
      "max(doc_id) scalar must broadcast into both decile maps")
    // the running-sum window must sit ABOVE the decile aggregates
    // (frame ≤ 10 rows), i.e. below it in the plan string there is no
    // explode — generator output never feeds a window sort
    val winIdx = p.indexOf("Window")
    val genIdx = p.indexOf("Generate")
    assert(winIdx >= 0 && genIdx > winIdx,
      s"window must consume the aggregated histogram, not token rows:\n" +
        p.take(1200))
  }
  test("session_concurrency: every sweep window is user- or day-keyed") {
    val p = plan(graft.operators.Streaming.sessionConcurrency)
    assert(!p.linesIterator.exists(l =>
        l.trim.startsWith("Window") && !l.contains("user_id") &&
          !l.contains("di")),
      s"no unpartitioned window may touch the event/delta timeline:\n${p.take(1000)}")
  }

  test("catalog-wide: every unpartitioned window rides a bounded frame") {
    // The "No Partition Defined for Window" class of scale bug: a window
    // with an empty partitionSpec serializes its whole input through ONE
    // task. That is fine over a frame whose size is bounded by something
    // other than the corpus — an aggregate keyed by a small domain
    // (sources, langs, deciles) or a top-k GlobalLimit cut — and fatal
    // over anything corpus-proportional. Lock the structural invariant
    // for the WHOLE catalog: an unpartitioned window must sit above an
    // Aggregate or a GlobalLimit. (Residual risk — an aggregate keyed by
    // doc_id is corpus-sized and would still pass; the per-query audits
    // above pin the grouping keys for the known heavy hitters.)
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, Window => LWindow}
    val offenders = SparkEntry.catalog.filterNot(_.eager).flatMap { q =>
      val bare = q.fn(spark, sf0001).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      bare.collect {
        case w if w.child.collectFirst {
              case _: Aggregate => (); case _: GlobalLimit => ()
            }.isEmpty =>
          s"${q.name}: unpartitioned window over an unbounded frame:\n$w"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }

  test("ab_sequential: nested-loop joins only over post-aggregate frames") {
    val p = plan(graft.operators.Streaming.abSequential)
    // the spine x census cumulative join is a broadcast nested loop by
    // design — over two <=|days|-bounded frames; the corpus may only be
    // touched by the CACHED user-keyed aggregate (one exchange, rendered
    // once per consumer — count DISTINCT plan ids) and the day spine
    assert(!p.contains("CartesianProduct"), p.take(600))
    val distinctHashExchanges =
      "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
        .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(distinctHashExchanges <= 3,
      s"ab_sequential shuffle count grew ($distinctHashExchanges):\n" +
      p.take(800))
    assert(p.contains("InMemoryRelation"),
      "the 3-consumer user aggregate must be cached")
  }

  test("retention_dau_mau: no count-distinct EXPAND; day dim broadcasts") {
    val p = plan(graft.operators.Streaming.retentionDauMau)
    // the recency rewrite exists to avoid Spark's multi-count-distinct
    // Expand (3× the frame before the distinct shuffle) — its return is
    // the regression this lock guards
    assert(!p.contains("Expand"),
      s"recency aggregate replaced by count-distinct Expand:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"observed-day dimension must broadcast:\n${p.take(800)}")
  }

  test("sample_bootstrap: the draw stays inside whole-stage codegen") {
    val p = plan(graft.operators.Relational.sampleBootstrap)
    // the splitmix+LCG rewrite exists to keep the per-(row×replicate)
    // draw in codegen integer arithmetic — an md5/conv reappearance in
    // the hot projection is the 15× regression the ladder measured
    assert(!p.contains("md5("), s"bootstrap draw re-grew a hash:\n${p.take(800)}")
  }

  // ---- operator bounds over the committed plan-shape record ----

  private lazy val recorded = PlanDump.recorded()

  /** A test whose bounds must hold on each named query's recorded shape. */
  private def bound(name: String)(checks: (String, Shape => Boolean)*): Unit =
    test(name) {
      for ((q, ok) <- checks)
        assert(ok(recorded(q)), s"bound broken: ${PlanDump.line(q, recorded(q))}")
    }
  /** Sum of a field family, e.g. every `exchange.` or `join.` count. */
  private def all(s: Shape, family: String): Int =
    s.collect { case (f, n) if f.startsWith(family) => n }.sum
  /** Hash and object-hash aggregates (both are `HashAggregate` plans). */
  private def hashAggs(s: Shape): Int = s("agg.hash") + s("agg.object_hash")
  private def windows(s: Shape): Int = s("window") + s("window_group_limit")
  private def noProductJoin(s: Shape): Boolean =
    s("join.cartesian") + s("join.broadcast_nested_loop") == 0

  test("no catalog query plans a CartesianProduct") {
    // broadcast nested loop joins over tiny sides are fine (dedup_cosine,
    // pair frames); a CartesianProductExec — both sides shuffled, all
    // pairs materialized — is never the plan we want at any scale
    assert(recorded.filter(_._2("join.cartesian") > 0).keys.isEmpty)
  }

  test("join_asof_tol adds no exchange over join_asof (projection only)") {
    assert(all(recorded("join_asof_tol"), "exchange.") ===
      all(recorded("join_asof"), "exchange."))
  }

  bound("join_inner broadcasts the nation dimension")(
    "join_inner" -> (_("join.broadcast_hash") >= 1))
  bound("join_multiway broadcasts filtered customer, shuffles the fact join")(
    "join_multiway" -> (_("join.broadcast_hash") >= 1))
  bound("topk compiles to TakeOrderedAndProject (no global sort)")(
    "topk" -> (_("take_ordered") >= 1))
  bound("agg_groupby runs partial+final hash aggregation")(
    "agg_groupby" -> (hashAggs(_) >= 2))
  bound("count_by_project aggregates with partial combine before shuffle")(
    "count_by_project" -> (hashAggs(_) >= 2))
  bound("join_asof is one keyed window, not an N x M join")(
    "join_asof" -> (s => windows(s) >= 1 && noProductJoin(s)))
  bound("sample_neyman_alloc reads lineitem exactly once")(
    "sample_neyman_alloc" -> (_("scan.file") == 1))
  bound("dedup_ngram has no cartesian/nested-loop join anywhere")(
    "dedup_ngram" -> noProductJoin)
  bound("doc_chunk shuffles only for the output sort")(
    "doc_chunk" -> (s => s("generate") >= 1 && all(s, "exchange.") <= 1))
  bound("text_repetition aggregates partial+final on both levels")(
    "text_repetition" -> (hashAggs(_) >= 4))
  bound("dedup_source_sim: no cartesian; bounded recomputation of the shingle frame")(
    "dedup_source_sim" -> (s => s("join.cartesian") == 0 &&
      hashAggs(s) >= 4 && s("generate") <= 4))
  bound("dedup_incremental joins batch bands against all bands, no cartesian")(
    "dedup_incremental" -> noProductJoin)
  bound("text_contamination broadcasts the benchmark shingle set")(
    "text_contamination" -> (_("join.broadcast_hash") >= 1))
  bound("subquery_correlated decorrelates to aggregate-join, no per-row eval")(
    "subquery_correlated" -> (s => s("join.cartesian") == 0 &&
      hashAggs(s) >= 2 && all(s, "join.") >= 1))
  bound("retention_cohort aggregates activity before the self-join")(
    "retention_cohort" -> (s => hashAggs(s) >= 4 && noProductJoin(s)))
  bound("event_transitions: events shuffle once (lead window), then reduce")(
    "event_transitions" -> (s => windows(s) >= 1 &&
      all(s, "exchange.") <= 3 && hashAggs(s) >= 2))
  bound("ohlc_bars is one partial+final aggregate (ordered picks fold map-side)")(
    "ohlc_bars" -> (s => all(s, "agg.") >= 2 && all(s, "exchange.") <= 2))
  bound("text_perplexity broadcasts the vocabulary-bounded LM table")(
    "text_perplexity" -> (s =>
      s("join.broadcast_hash") >= 1 && noProductJoin(s)))
  bound("vector_pq: the ADC scan is one narrow pass — no exchange, no join")(
    "vector_pq" -> (s => all(s, "exchange.") == 0 && all(s, "join.") == 0 &&
      s("take_ordered") == 2 && s("scan.file") == 1))
  bound("corpus_mix broadcasts the per-source rates onto the document stream")(
    "corpus_mix" -> (s =>
      s("join.broadcast_hash") >= 1 && s("join.cartesian") == 0))
  bound("sessionize_gaps: both windows and the aggregate ride one user shuffle")(
    "sessionize_gaps" -> (s => windows(s) >= 2 && all(s, "exchange.") <= 3))
  bound("span_dedup: global df via span-keyed window, no self-join")(
    "span_dedup" -> (s => windows(s) >= 1 && all(s, "join.") == 0))
  bound("outlier_mad / agg_histogram_eqd broadcast their tiny stats tables")(
    "outlier_mad" -> (_("join.broadcast_hash") >= 1),
    "agg_histogram_eqd" -> (s => s("join.cartesian") == 0 &&
      s("join.broadcast_nested_loop") + s("join.broadcast_hash") >= 1))
  bound("ts_autocorr: the three lags share one window; events scanned once")(
    "ts_autocorr" -> (s => s("scan.file") == 1 && windows(s) == 1))
  bound("scd2_history: change-capture and validity windows ride ONE user exchange")(
    "scd2_history" -> (s => windows(s) >= 2 && s("exchange.hash") == 1 &&
      s("scan.file") == 1))
  bound("ts_anomaly: both quantiles share one profile-cell window exchange")(
    "ts_anomaly" -> (s => s("scan.file") == 1 && windows(s) == 2 &&
      s("exchange.hash") <= 2))
  bound("text_collocations: exactly two corpus passes, one broadcast join")(
    "text_collocations" -> (s => s("scan.file") == 2 &&
      s("join.broadcast_hash") >= 1 && s("join.broadcast_nested_loop") == 0))
  bound("join_pit: the interval lookup is an equi join on user_id")(
    "join_pit" -> (s => s("join.sort_merge") + s("join.broadcast_hash") >= 1 &&
      s("join.broadcast_nested_loop") == 0))
  bound("vector_matryoshka_topk: both cuts are TakeOrderedAndProject")(
    "vector_matryoshka_topk" -> (_("take_ordered") >= 2))
  bound("vector_range_search: queries broadcast; corpus never shuffles " +
        "before the radius cut")(
    "vector_range_search" -> (s => s("exchange.hash") <= 1 &&
      s("exchange.broadcast") + s("join.broadcast_nested_loop") >= 1))
  bound("text_rake_keywords: explode -> partial+final agg -> top-k merge")(
    "text_rake_keywords" -> (s => s("generate") >= 1 && hashAggs(s) >= 2 &&
      s("take_ordered") >= 1))
  bound("corpus_mix_temperature: shares ride the |langs|-row aggregate")(
    "corpus_mix_temperature" -> (s => hashAggs(s) >= 2 && s("generate") == 0))
  bound("graph_modularity: labels decorate edges by equi joins; no window")(
    "graph_modularity" -> (s =>
      s("join.cartesian") == 0 && s("exchange.broadcast") >= 1))
  bound("corpus_prune_sweep: one corpus pass; grid points are predicates")(
    "corpus_prune_sweep" -> (_("scan.file") <= 2))
  bound("ab_srm: arm counts ride the distinct's exchange, one day agg")(
    "ab_srm" -> (_("exchange.hash") <= 2))
  bound("window_islands: rank window, island agg and rollup share the " +
        "user-hash exchange")(
    "window_islands" -> (_("exchange.hash") <= 3))
  bound("vector_norm_census: no generator — the HOF fold stays per-row")(
    "vector_norm_census" -> (s =>
      s("generate") == 0 && s("exchange.hash") <= 1))
  bound("graph_reciprocity: the pair fold adds no self-join")(
    "graph_reciprocity" -> (s =>
      s("join.sort_merge") == 0 && s("join.broadcast_hash") == 0))
  bound("dq_reconciliation: one lineitem aggregate + one order-key join")(
    "dq_reconciliation" -> (s => s("scan.file") == 2 && s("exchange.hash") <= 4))
  bound("vector_kmeans_step: assignment join broadcasts the seed frame")(
    "vector_kmeans_step" -> (s =>
      s("join.broadcast_hash") >= 1 && s("join.sort_merge") == 0))
  bound("event_burst: range window and census share one user exchange")(
    "event_burst" -> (_("exchange.hash") == 1))
}
