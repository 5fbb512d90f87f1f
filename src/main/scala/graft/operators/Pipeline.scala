package graft.operators

import graft.{ArtifactCaches, PlanUtil, Q, Tables}
import graft.PlanUtil.TimedCheckpoint
import graft.Tables.{asDouble, money, sumExactAsDouble, sumMoneyAsDouble}
import graft.plans.SchemaFlattener
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-shaped ETL pipeline operators (SURVEY.md §2.1–§2.3, §7.2 step
  * 3), re-expressed over the driver testdata so the DuckDB oracle applies.
  * The mapping (SURVEY §1.4): nation = "project", customer = "patient",
  * orders = related resources.
  *
  * Scale notes:
  *  - `simplify_flatten` is a pure projection (zero shuffles, stays in
  *    whole-stage codegen) — see [[graft.plans.SchemaFlattener]].
  *  - `denormalize_patient` pre-aggregates the fact side BEFORE the join
  *    (partial agg on orders, then join on the customer key), so the join
  *    input is one row per key instead of one per order — the shuffle moves
  *    the aggregate, not the raw facts.
  *  - `graph_edges` resolves edges against vertices with two equi-joins on
  *    the vertex id — the standard distributed property-graph traversal
  *    (shuffle on vid; no driver-side adjacency).
  */
object Pipeline {

  /** Recursive flatten of nested documents — the engine's
    * `simplify_directory` (fhir_import_export.py:218-222). Builds a nested
    * struct in-plan, then [[SchemaFlattener.flatten]] turns it back into
    * dotted flat columns; the oracle is the equivalent direct projection,
    * proving flatten(nest(x)) == x on real data. */
  val simplifyFlatten: Q = Q(
    "simplify_flatten",
    """SELECT c_custkey,
      |  c_name AS object_meta_name,
      |  c_mktsegment AS object_meta_segment,
      |  c_acctbal AS object_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val nested = Tables.customer(s, d).select(
      col("c_custkey"),
      struct(
        struct(col("c_name").as("name"),
               col("c_mktsegment").as("segment")).as("meta"),
        col("c_acctbal").as("acctbal")).as("object"))
    SchemaFlattener.flatten(nested)
  }

  /** Denormalization join — `denormalize_patient`
    * (fhir_import_export.py:228-233): embed related-resource aggregates so
    * the flat row is self-contained. Aggregate-then-join keeps the shuffle
    * small; empty groups surface as 0 / empty array, not null (the
    * reference's "/dev/null" empty-load semantics). */
  val denormalizePatient: Q = Q(
    "denormalize_patient",
    """SELECT c.c_custkey, c.c_name,
      |  COALESCE(s.n_orders, 0) AS n_orders,
      |  COALESCE(s.sum_spend, 0.0) AS sum_spend,
      |  s.last_order,
      |  COALESCE(array_to_string(s.priorities, '|'), '') AS priorities
      |FROM customer c LEFT JOIN (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_spend,
      |    max(o_orderdate) AS last_order,
      |    list_sort(list(DISTINCT o_orderpriority)) AS priorities
      |  FROM orders GROUP BY o_custkey) s ON c.c_custkey = s.o_custkey
      |ORDER BY c.c_custkey""".stripMargin
  ) { (s, d) =>
    val stats = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sumMoneyAsDouble(col("o_totalprice")).as("sum_spend"),
        max(col("o_orderdate")).as("last_order"),
        array_sort(collect_set(col("o_orderpriority"))).as("priorities"))
    Tables.customer(s, d)
      .join(stats, Seq("c_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_spend"), lit(0.0)).as("sum_spend"),
        col("last_order"),
        // stringified (agg_stringagg pattern): array-typed output columns
        // crash the driver's pandas sort in the oracle compare
        array_join(coalesce(col("priorities"), typedLit(Seq.empty[String])), "|")
          .as("priorities"))
  }

  /** Graph edge resolution — `meta_upload`'s node/edge load
    * (fhir_import_export.py:224-226; `relations` field :282). Vertices =
    * customer ∪ nation nodes; edges = customer→nation `member_of`; resolve
    * both endpoints by joining edges to the vertex table twice, then count
    * edges per destination node. */
  val graphEdges: Q = Q(
    "graph_edges",
    """WITH v AS (
      |  SELECT 'c:' || c_custkey AS vid, 'customer' AS vlabel, c_name AS vname FROM customer
      |  UNION ALL
      |  SELECT 'n:' || n_nationkey AS vid, 'nation' AS vlabel, n_name AS vname FROM nation),
      |e AS (
      |  SELECT 'c:' || c_custkey AS src, 'n:' || c_nationkey AS dst FROM customer)
      |SELECT dv.vname AS dst_name, dv.vlabel AS dst_label, count(*) AS n_edges
      |FROM e JOIN v sv ON e.src = sv.vid JOIN v dv ON e.dst = dv.vid
      |GROUP BY dv.vname, dv.vlabel ORDER BY dst_name""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val v = c.select(concat(lit("c:"), col("c_custkey")).as("vid"),
                     lit("customer").as("vlabel"), col("c_name").as("vname"))
      .unionByName(
        n.select(concat(lit("n:"), col("n_nationkey")).as("vid"),
                 lit("nation").as("vlabel"), col("n_name").as("vname")))
    val e = c.select(concat(lit("c:"), col("c_custkey")).as("src"),
                     concat(lit("n:"), col("c_nationkey")).as("dst"))
    e.join(v.as("sv"), col("src") === col("sv.vid"))
      .join(v.as("dv"), col("dst") === col("dv.vid"))
      .groupBy(col("dv.vname").as("dst_name"), col("dv.vlabel").as("dst_label"))
      .agg(count(lit(1)).as("n_edges"))
  }

  /** Two-hop graph traversal: customer —member_of→ nation —in_region→
    * region, resolved purely by joins (the distributed property-graph
    * pattern — each hop is one equi-join on the vertex key; no adjacency
    * structure on the driver). Dimension hops broadcast. */
  val graphTwohop: Q = Q(
    "graph_twohop",
    """SELECT r_name AS region_name, count(*) AS n_customers,
      |  count(DISTINCT n_name) AS n_nations
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY region_name""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(count(lit(1)).as("n_customers"),
           countDistinct(col("n_name")).as("n_nations"))
  }

  /** Discovery summary — the per-project materialized view
    * (fhir_import_export.py:263-289: project_id, patient count,
    * description, identifier codings). nation = project; broadcast the
    * dimension so the fact side never shuffles for the join. */
  val discoverySummary: Q = Q(
    "discovery_summary",
    """SELECT n_name AS project_id, count(*) AS patient_count,
      |  min(c_name) AS description,
      |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS identifier_coding
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY project_id""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("project_id"))
      .agg(count(lit(1)).as("patient_count"),
           min(col("c_name")).as("description"),
           array_join(array_sort(collect_set(col("c_mktsegment"))), "|")
             .as("identifier_coding"))
  }

  /** NDJSON ingest path in-plan — serialize each row to a JSON line, parse
    * it back through an external schema, flatten (the reference's
    * download→parse→simplify chain, fhir_import_export.py:210-222, minus
    * the filesystem). The oracle is the identity projection: a lossless
    * round-trip. File-based NDJSON reads (incl. the missing-file "/dev/null"
    * fallback, :234-258) are covered by [[graft.sources.Ndjson]] unit tests. */
  val ingestNdjson: Q = Q(
    "ingest_ndjson",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val lines = c.select(to_json(struct(col("*"))).as("line"))
    lines
      .select(from_json(col("line"), c.schema).as("object"))
      .select(col("object.*"))
  }

  /** Snapshot export — `fhir_get` + zip (fhir_import_export.py:317-357):
    * one project's partition serialized to full-fidelity JSON documents.
    * Partition filter prunes at the scan; JSON rendering is a projection. */
  val snapshotExport: Q = Q(
    "snapshot_export",
    """SELECT c_custkey AS id,
      |  to_json(struct_pack(c_custkey := c_custkey, c_name := c_name,
      |                      c_mktsegment := c_mktsegment))::VARCHAR AS resource_json
      |FROM customer WHERE c_nationkey = 1 ORDER BY id""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_nationkey") === 1)
      .select(
        col("c_custkey").as("id"),
        to_json(struct(col("c_custkey"), col("c_name"), col("c_mktsegment")))
          .as("resource_json"))
  }

  /** Data-quality validation (the Deequ/dbt-tests operator family): a
    * rule set evaluated as per-rule violation counts — range, ordering,
    * positivity, null, and referential-integrity checks over the fact
    * table. The import gate a production ETL runs before committing a
    * load (the reference trusts its upstream dictionary validation;
    * engine-side DQ is the scale-era replacement). Plan: all row-local
    * rules fold into ONE conditional aggregate over a single scan; the
    * referential check is a broadcast-able anti-join count; the rule
    * rows union tiny single-row aggregates — the fact table is read
    * once per rule CLASS, never per rule. */
  val dqChecks: Q = Q(
    "dq_checks",
    """WITH li AS (SELECT
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_range,
      |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_pos,
      |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS flag_null
      |  FROM lineitem),
      |orph AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem l
      |         WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                           WHERE o.o_orderkey = l.l_orderkey))
      |SELECT 'l_extendedprice_positive' AS rule, price_pos AS n_violations FROM li
      |UNION ALL SELECT 'l_orderkey_resolves', n FROM orph
      |UNION ALL SELECT 'l_quantity_in_range', qty_range FROM li
      |UNION ALL SELECT 'l_returnflag_not_null', flag_null FROM li
      |UNION ALL SELECT 'l_discount_in_range', disc_range FROM li
      |ORDER BY rule""".stripMargin
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    def viol(c: org.apache.spark.sql.Column) =
      sum(when(c, 1).otherwise(0))
    val rowRules = li.agg(
      viol(col("l_quantity") < 1 || col("l_quantity") > 50).as("qty_range"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1)
        .as("disc_range"),
      viol(col("l_extendedprice") <= 0).as("price_pos"),
      viol(col("l_returnflag").isNull).as("flag_null"))
    val orphans = li.join(Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
    def rule(name: String, c: String) =
      rowRules.select(lit(name).as("rule"), col(c).as("n_violations"))
    rule("l_extendedprice_positive", "price_pos")
      .unionByName(orphans.select(lit("l_orderkey_resolves").as("rule"),
                                  col("n").as("n_violations")))
      .unionByName(rule("l_quantity_in_range", "qty_range"))
      .unionByName(rule("l_returnflag_not_null", "flag_null"))
      .unionByName(rule("l_discount_in_range", "disc_range"))
      .orderBy("rule")
  }

  /** Join-key SKEW census — the diagnostic a pipeline runs BEFORE
    * choosing between a plain and a salted join/aggregate
    * (`join_salted`/`agg_salted`): per candidate key column, the distinct
    * count, the hottest key's row count, its share of the table, and the
    * hot-key-to-mean ratio (the number that says how many salt buckets
    * the hot key needs). ONE scan: both columns melt into (key_col,
    * key_val) rows via a map explode, then two partial+final aggregates —
    * per (col, val) counts, then per col — so adding a candidate column
    * costs no extra pass. All ratios derive from exact BIGINT counts via
    * one double division each (deterministic in both engines). */
  val dqSkew: Q = Q(
    "dq_skew",
    """WITH kv AS (
      |  SELECT 'event_type' AS key_col, event_type AS key_val FROM events
      |  UNION ALL
      |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events),
      |c AS (SELECT key_col, key_val, count(*) AS c FROM kv GROUP BY 1, 2)
      |SELECT key_col, CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(max(c) AS BIGINT) AS top_count,
      |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_share,
      |  CAST(max(c) * count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS skew_ratio
      |FROM c GROUP BY 1 ORDER BY key_col""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(explode(map(
        lit("event_type"), col("event_type"),
        lit("user_id"), col("user_id").cast("string")))
        .as(Seq("key_col", "key_val")))
      .groupBy("key_col", "key_val").agg(count(lit(1)).as("c"))
      .groupBy("key_col")
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_distinct"),
           max(col("c")).as("top_count"))
      .select(col("key_col"), col("n_rows"), col("n_distinct"),
        col("top_count"),
        (col("top_count").cast("double") / col("n_rows")).as("top_share"),
        ((col("top_count") * col("n_distinct")).cast("double") /
          col("n_rows")).as("skew_ratio"))
  }

  /** DISTRIBUTION-DRIFT census (two-sample Kolmogorov–Smirnov over binned
    * ECDFs) — the monitor a pipeline runs between ingest batches: per
    * event_type, how far has the `value` distribution moved between the
    * reference window (first half of January) and the current one? KS is
    * the max vertical gap between the two empirical CDFs; values bin to
    * integer buckets FIRST (production drift monitors compare binned
    * histograms, not raw points), which is also what bounds the plan:
    * the cumulative window runs over ≤ [[DriftBins]] bin rows per
    * event_type — a frame bounded by CONSTRUCTION, not by corpus size,
    * so the per-type window never becomes a funnel at 100 TB (the
    * corpus-proportional work is all in the partial+final bin counting).
    *
    * Determinism discipline: bins and counts are exact BIGINTs; each ECDF
    * value is ONE correctly-rounded division, the gap is one subtraction
    * — no accumulated float sums anywhere, so Spark and DuckDB agree
    * bit-for-bit. The drift flag uses the large-sample critical value
    * D > c(α)·√((n_a+n_b)/(n_a·n_b)) at α=0.05 (c=1.358). */
  private[graft] val DriftBins = 500

  /** Binned two-sample counts per (event_type, bin): `ca` = rows before
    * `split`, `cb` = rows from `split` on. The shared first stage of the
    * drift census — the batch query builds both sides in one pass; the
    * streaming twin ([[graft.streaming.Streams.driftBinCounts]]) maintains
    * the `cb` side incrementally and joins the precomputed reference. */
  private[graft] def driftCounts(events: DataFrame, split: String): DataFrame = {
    val e = events.select(col("event_type"),
      least(floor(col("value")).cast("long"),
            lit((DriftBins - 1).toLong)).as("bin"),
      when(col("ts") < lit(split).cast("timestamp"), 1)
        .otherwise(0).as("a"))
    e.groupBy("event_type", "bin")
      .agg(sum(col("a")).as("ca"),
           (count(lit(1)) - sum(col("a"))).as("cb"))
  }

  /** The KS composition over a (event_type, bin, ca, cb) frame — bounded
    * window frames (≤ [[DriftBins]] rows per type), exact-integer
    * cumulative counts, one division per ECDF value. Shared verbatim by
    * the batch query and the streaming parity path, so the two cannot
    * drift. */
  private[graft] def ksCompose(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("event_type")
    c.select(col("event_type"),
        sum(col("ca")).over(wCum).as("cuma"),
        sum(col("cb")).over(wCum).as("cumb"),
        sum(col("ca")).over(wTot).as("na"),
        sum(col("cb")).over(wTot).as("nb"))
      .groupBy("event_type")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(abs(col("cuma").cast("double") / col("na") -
                col("cumb").cast("double") / col("nb"))).as("ks_stat"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("ks_stat"),
        (col("ks_stat") > lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
               (col("n_a").cast("double") * col("n_b")))).as("drift"))
  }

  val dqDriftKs: Q = Q(
    "dq_drift_ks",
    s"""WITH e AS (SELECT event_type,
      |    LEAST(CAST(floor(value) AS BIGINT), ${DriftBins - 1}) AS bin,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a
      |  FROM events),
      |c AS (SELECT event_type, bin, CAST(sum(a) AS BIGINT) AS ca,
      |        CAST(count(*) - sum(a) AS BIGINT) AS cb
      |      FROM e GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin,
      |    sum(ca) OVER (PARTITION BY event_type ORDER BY bin
      |                  ROWS UNBOUNDED PRECEDING) AS cuma,
      |    sum(cb) OVER (PARTITION BY event_type ORDER BY bin
      |                  ROWS UNBOUNDED PRECEDING) AS cumb,
      |    sum(ca) OVER (PARTITION BY event_type) AS na,
      |    sum(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM c)
      |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
      |  CAST(max(nb) AS BIGINT) AS n_b,
      |  max(abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb))
      |    AS ks_stat,
      |  max(abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb))
      |    > 1.358 * sqrt(CAST(max(na) + max(nb) AS DOUBLE)
      |                   / (CAST(max(na) AS DOUBLE) * max(nb))) AS drift
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    ksCompose(driftCounts(Tables.events(s, d), "2024-01-16"))
  }

  private val PrIters = 10
  private val PrBase = 150000L   // (1-d) in micro-units, d = 0.85
  private val PrDamp = 850000L

  /** PAGERANK over the customer↔supplier endorsement graph — the
    * whole-graph importance measure that complements the local graph
    * queries ([[graphEdges]] resolution, [[graphTwohop]] traversal,
    * `graph_triangles` census): each distinct (customer, supplier)
    * purchase relationship in the Q1-1995 order window becomes a
    * directed edge in BOTH directions, and [[PrIters]] damped
    * power-iteration rounds redistribute rank mass across them.
    *
    * Determinism discipline (what makes an ITERATIVE float algorithm
    * oracle-able): ranks live in exact integer micro-units; each round
    * is contrib = rank DIV outdeg, then 150000 + (850000·Σcontrib) DIV
    * 10⁶ — integer division floors identically in both engines and the
    * Σ is an exact BIGINT, so ten rounds stay bit-equal regardless of
    * partitioning. The iteration count is FIXED, so the whole
    * computation is ONE declarative plan (10 unrolled join+aggregate
    * rounds — no driver loop, no collect, not eager) and the oracle is
    * the same ten steps unrolled as chained CTEs by the same loop.
    *
    * Scale posture: each round is an edge⋈rank equi join keyed by src
    * plus a dst-keyed partial+final aggregate — the textbook distributed
    * PageRank round. At 100 TB you'd persist the edge list partitioned
    * by src once and localCheckpoint ranks every few rounds (the
    * dedup_cluster discipline) instead of unrolling. The CONVERGED rank
    * table is memoized per (session, corpus) through [[memoConverged]]
    * — link-analysis scores are a standing artifact a serving tier
    * keeps, exactly like dedup's cluster labels: training shows in the
    * bench cold column, serving in warm. */
  /** Converged-artifact memo for the iterative graph family — the
    * dedup-labels discipline applied to link analysis: a fixed-round
    * converged frame is a pure function of the corpus, so it trains
    * once per (session, corpus) and SERVES from a checkpoint-backed
    * frame afterwards. The bench records training in queries_cold and
    * serving in the warm column — the same cold/warm honesty as
    * dedup_cluster / IVF / BPE. Keyed by applicationId because
    * checkpoint blocks die with the context; registered and bounded by
    * [[graft.ArtifactCaches]]. */
  private val graphArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def memoConverged(name: String, s: SparkSession, d: String)(
      build: => DataFrame): DataFrame =
    ArtifactCaches.memo("graph.converged", graphArtifacts)(
      s"$name#${s.sparkContext.applicationId}#" +
      s"${Tables.fingerprint(s, d, "orders")}#" +
      s"${Tables.fingerprint(s, d, "lineitem")}")(_ => build)

  val graphPagerank: Q = {
    def stepSql(prev: String, cur: String): String =
      s"""$cur AS (SELECT e.dst AS vid,
         |    CAST($PrBase + ($PrDamp * sum($prev.rank // deg.outdeg)) // 1000000
         |         AS BIGINT) AS rank
         |  FROM $prev JOIN e ON $prev.vid = e.src
         |  JOIN deg ON $prev.vid = deg.src
         |  GROUP BY e.dst)""".stripMargin
    val steps = (1 to PrIters)
      .map(i => stepSql(s"p${i - 1}", s"p$i")).mkString(",\n")
    Q(
      "graph_pagerank",
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderdate >= DATE '1995-01-01'
         |    AND o_orderdate < DATE '1995-04-01'),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s, c FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |p0 AS (SELECT DISTINCT src AS vid, CAST(1000000 AS BIGINT) AS rank
         |       FROM e),
         |$steps
         |SELECT vid, rank FROM p$PrIters ORDER BY vid""".stripMargin
    ) { (s, d) =>
      memoConverged("pagerank", s, d) {
        val pairs = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
                  col("o_orderdate") < lit("1995-04-01"))
          .join(Tables.lineitem(s, d),
                col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c:"), col("o_custkey")).as("c"),
                  concat(lit("s:"), col("l_suppkey")).as("s"))
          .distinct()
        val e = pairs.select(col("c").as("src"), col("s").as("dst"))
          .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
        val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
        // cache: all ten rounds reference this one frame, and without
        // the cache each round re-derives the join+distinct edge list
        // from the base tables (measured 4.4s→1.3s at sf0.1); dropped
        // once the converged artifact is checkpointed. At 100 TB this
        // is the persisted src-partitioned edge list.
        val ewd = e.join(deg, Seq("src")).cache()
        var pr = ewd.select(col("src").as("vid")).distinct()
          .withColumn("rank", lit(1000000L))
        for (_ <- 1 to PrIters) {
          pr = ewd.join(pr, col("src") === col("vid"))
            .select(col("dst"), expr("rank DIV outdeg").as("contrib"))
            .groupBy("dst")
            .agg((lit(PrBase) +
              expr(s"($PrDamp * sum(contrib)) DIV 1000000")).as("rank"))
            .withColumnRenamed("dst", "vid")
        }
        val out = pr.timedLocalCheckpoint()
        ewd.unpersist(blocking = false)
        out
      }
    }.copy(eager = true) // converged-artifact training runs at build
  }

  private val HitsIters = 4

  /** HITS HUBS & AUTHORITIES over the directed customer→supplier
    * purchase graph — the second classic link-analysis measure next to
    * [[graphPagerank]], and the one that exercises a discipline PageRank
    * never needs: per-round NORMALIZATION inside the plan. Customers
    * are pure hubs (they only point), suppliers pure authorities (they
    * are only pointed at); [[HitsIters]] mutual-reinforcement rounds
    * alternate h = Σ a(dst) and a = Σ h(src), each rescaled so the top
    * node sits at exactly 1,000,000.
    *
    * Determinism discipline: scores are exact BIGINTs; each round's
    * rescale is `(raw · 10⁶) DIV max(raw)` with the product widened to
    * DECIMAL(38,0)/HUGEINT so it cannot overflow at any corpus size, and
    * integral division on nonnegative operands floors identically on
    * both engines. The per-round max is a 1-row aggregate attached by
    * broadcast (scalar subquery in the oracle) — the [[dqDriftTtest]]
    * midpoint-attach shape, never a wide shuffle. Iteration count is
    * FIXED, so the whole computation is ONE declarative plan (the
    * unrolled-CTE oracle is generated by the same loop), and the final
    * top-20 per side is an (score DESC, vid) deterministic cut.
    *
    * Scale posture: each half-round is an edge⋈score equi join plus a
    * node-keyed partial+final aggregate — the PageRank round shape —
    * plus an O(1) scalar attach. Unlike PageRank, the rescale references
    * each round's frame TWICE (the max and the divide); an unrolled pure
    * plan therefore de-shares exponentially in the optimizer (2⁸ copies
    * of the edge subtree — measured: OOMs the driver at ANY data size),
    * so each half-round is cut with [[graft.PlanUtil.checkpointTruncated]]
    * — the k-core/hash-to-min iteration discipline — making the query
    * eager. Top-20 cuts are TakeOrderedAndProject merges, never global
    * sorts. */
  val graphHits: Q = {
    // the rescale max rides a window (`max(raw) OVER ()`), NOT a scalar
    // subquery: a subquery would reference each hr/ar CTE twice and
    // DuckDB inlines CTEs, so the oracle would de-share into 2^rounds
    // copies of the edge pipeline — the same blowup the Spark side cuts
    // with checkpointTruncated. Single-reference CTEs stay linear.
    def roundSql(i: Int): String =
      s"""hr$i AS (SELECT e.src AS vid, CAST(sum(a${i - 1}.score) AS BIGINT)
         |    AS raw FROM e JOIN a${i - 1} ON e.dst = a${i - 1}.vid GROUP BY 1),
         |h$i AS (SELECT vid, CAST(CAST(raw AS HUGEINT) * 1000000
         |    // max(raw) OVER () AS BIGINT) AS score FROM hr$i),
         |ar$i AS (SELECT e.dst AS vid, CAST(sum(h$i.score) AS BIGINT)
         |    AS raw FROM e JOIN h$i ON e.src = h$i.vid GROUP BY 1),
         |a$i AS (SELECT vid, CAST(CAST(raw AS HUGEINT) * 1000000
         |    // max(raw) OVER () AS BIGINT) AS score FROM ar$i)"""
        .stripMargin
    val steps = (1 to HitsIters).map(roundSql).mkString(",\n")
    Q(
      "graph_hits",
      s"""WITH e AS (
         |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderdate >= DATE '1995-01-01'
         |    AND o_orderdate < DATE '1995-04-01'),
         |a0 AS (SELECT DISTINCT dst AS vid, CAST(1000000 AS BIGINT) AS score
         |       FROM e),
         |$steps
         |SELECT * FROM (
         |  SELECT 'hub' AS side, vid, score FROM
         |    (SELECT vid, score FROM h$HitsIters
         |     ORDER BY score DESC, vid LIMIT 20)
         |  UNION ALL
         |  SELECT 'authority' AS side, vid, score FROM
         |    (SELECT vid, score FROM a$HitsIters
         |     ORDER BY score DESC, vid LIMIT 20))
         |ORDER BY side, score DESC, vid""".stripMargin
    ) { (s, d) =>
      memoConverged("hits", s, d) {
        val e = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
                  col("o_orderdate") < lit("1995-04-01"))
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c:"), col("o_custkey")).as("src"),
                  concat(lit("s:"), col("l_suppkey")).as("dst"))
          .distinct()
          .cache() // every half-round joins this frame; dropped below
        // each raw frame is referenced TWICE (its own max + the rescale):
        // truncate the lineage per half-round or the optimizer de-shares
        // the references into 2^rounds copies of the edge subtree
        def rescale(rawDf: DataFrame): DataFrame = {
          val raw = graft.PlanUtil.checkpointTruncated(rawDf)
          raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
            .select(col("vid"),
              expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000 DIV mx" +
                " AS BIGINT)").as("score"))
        }
        var a = e.select(col("dst").as("vid")).distinct()
          .withColumn("score", lit(1000000L))
        var h: DataFrame = null
        for (_ <- 1 to HitsIters) {
          h = rescale(e.join(a, col("dst") === col("vid"))
            .groupBy(col("src")).agg(sum(col("score")).as("raw"))
            .withColumnRenamed("src", "vid"))
          a = rescale(e.join(h, col("src") === col("vid"))
            .groupBy(col("dst")).agg(sum(col("score")).as("raw"))
            .withColumnRenamed("dst", "vid"))
        }
        def side(df: DataFrame, tag: String): DataFrame =
          df.orderBy(desc("score"), col("vid")).limit(20)
            .select(lit(tag).as("side"), col("vid"), col("score"))
        val out = side(h, "hub").unionByName(side(a, "authority"))
          .timedLocalCheckpoint()
        e.unpersist(blocking = false)
        out
      }
    }.copy(eager = true) // per-half-round localCheckpoint runs at build
  }

  private val LpIters = 4

  /** LABEL-PROPAGATION COMMUNITY DETECTION over the customer↔supplier
    * graph — the clustering complement to [[graphPagerank]]'s importance
    * ranking and `dedup_cluster`'s connectivity: [[LpIters]] synchronous
    * rounds where every vertex adopts the MODE of its neighbors' labels
    * (ties break to the smallest label), then communities report their
    * sizes. Mode-propagation finds dense groups, not mere reachability —
    * on a bipartite purchase graph these are customer/supplier market
    * segments.
    *
    * Determinism discipline for an iterative vote: vertex ids are exact
    * BIGINTs (customers = 2k, suppliers = 2k+1 — disjoint without string
    * concat), votes are exact counts, and the argmax is total-ordered by
    * (count DESC, label ASC), so a fixed round count is bit-deterministic
    * under any partitioning. Like pagerank, the fixed iteration count
    * makes the whole computation ONE declarative plan.
    *
    * Plan: per round, ONE edge⋈label equi join keyed by src, a
    * (dst, lbl) partial+final vote count, then the argmax as a second
    * partial+final aggregate — max(struct(count, -lbl)) carries the tie
    * rule inside the aggregation, so no per-round window sort exists and
    * every stage map-side combines. The oracle expresses the same argmax
    * as a row_number window (different algorithm, same total order). At
    * 100 TB: persist the src-partitioned edge list once (here: cached),
    * checkpoint labels every few rounds — the pagerank posture. */
  /** Shared label-propagation SQL prologue — the co-purchase edge CTEs
    * plus the [[LpIters]] unrolled vote rounds, ending at `l$LpIters`.
    * ONE renderer for [[graphLabelProp]] and [[graphModularity]] so the
    * two oracles cannot drift. */
  private def lpCteSql: String = {
    def stepSql(prev: String, cur: String): String =
      s"""$cur AS (SELECT vid, lbl FROM (
         |    SELECT vid, lbl,
         |      row_number() OVER (PARTITION BY vid ORDER BY c DESC, lbl) AS rn
         |    FROM (SELECT e.dst AS vid, p.lbl, count(*) AS c
         |          FROM $prev p JOIN e ON p.vid = e.src GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    val steps = (1 to LpIters)
      .map(i => stepSql(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_orderdate >= DATE '1995-01-01'
       |    AND o_orderdate < DATE '1995-04-01'),
       |e AS (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |l0 AS (SELECT DISTINCT src AS vid, src AS lbl FROM e),
       |$steps""".stripMargin
  }

  /** Spark side of the shared prologue: the cached directed edge list
    * and the [[LpIters]]-round vote loop (one declarative plan). */
  private def lpEdgesLabels(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val pairs = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
              col("o_orderdate") < lit("1995-04-01"))
      .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
              (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      .cache() // all rounds reference this one frame (pagerank posture)
    // the converged community labels are a standing artifact (the
    // memoConverged discipline) — label_prop AND modularity share one
    // training run per (session, corpus)
    val lbl = memoConverged("labelprop", s, d) {
      var cur = e.select(col("src").as("vid")).distinct()
        .withColumn("lbl", col("vid"))
      for (_ <- 1 to LpIters) {
        cur = e.join(cur, col("src") === col("vid"))
          .groupBy(col("dst"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy("dst")
          // struct max = (most votes, then smallest label): the tie rule
          // rides INSIDE a partial+final aggregate — no per-round window
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("dst").as("vid"), (-col("m.nl")).as("lbl"))
      }
      cur.timedLocalCheckpoint()
    }
    (e, lbl)
  }

  val graphLabelProp: Q =
    Q(
      "graph_label_prop",
      s"""WITH $lpCteSql
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l$LpIters GROUP BY 1 ORDER BY community""".stripMargin
    ) { (s, d) =>
      val (_, lbl) = lpEdgesLabels(s, d)
      lbl.groupBy("lbl").agg(count(lit(1)).as("n_members"))
        .select(col("lbl").as("community"), col("n_members"))
        .orderBy("community")
    }.copy(eager = true) // shared labelprop artifact trains at build

  /** MODULARITY of the [[graphLabelProp]] communities — the one-number
    * answer to "did label propagation find real structure?": Newman's
    * Q = Σ_c [e_c/2m − (deg_c/2m)²] over the SAME edge list and the SAME
    * four vote rounds (shared [[lpCteSql]]/[[lpEdgesLabels]] prologue, so
    * the partition being scored is definitionally the one the community
    * query reports). Q ≈ 0 means the partition is no better than random
    * wiring; the companion to [[graphLabelProp]] exactly as
    * [[graft.operators.Dedup.dedupRecallEval]] is to the banding dedup.
    *
    * Determinism for a float functional over an integer partition: each
    * community's contribution is computed by ONE shared double sequence
    * from exact BIGINTs (within-edges, degree mass, 2m), quantized to
    * integer nano-units (floor ×10⁹) BEFORE the cross-community sum — so
    * the only order-sensitive accumulation is an exact BIGINT sum (the
    * [[graft.operators.Corpus.corpusMixTemperature]] discipline).
    *
    * Plan: labels decorate the edge list through two vid-keyed equi
    * joins (within-community count) and one vid-keyed join (degree
    * mass); everything downstream is |communities| rows. The 2m scalar
    * rides a broadcast, not a window over corpus-sized frames. */
  val graphModularity: Q = Q(
    "graph_modularity",
    s"""WITH $lpCteSql,
       |lab AS (SELECT vid, lbl FROM l$LpIters),
       |m2 AS (SELECT count(*) AS m FROM e),
       |deg AS (SELECT src AS vid, count(*) AS dg FROM e GROUP BY 1),
       |ec AS (SELECT la.lbl, count(*) AS ec
       |       FROM e JOIN lab la ON e.src = la.vid
       |              JOIN lab lb ON e.dst = lb.vid
       |       WHERE la.lbl = lb.lbl GROUP BY 1),
       |dc AS (SELECT lab.lbl, CAST(sum(deg.dg) AS BIGINT) AS dc
       |       FROM lab JOIN deg ON lab.vid = deg.vid GROUP BY 1),
       |c AS (SELECT dc.lbl, COALESCE(ec.ec, 0) AS ec, dc.dc
       |      FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl),
       |q AS (SELECT lbl,
       |    CAST(floor(1000000000 * (
       |      CAST(ec AS DOUBLE) / (SELECT m FROM m2)
       |      - (CAST(dc AS DOUBLE) / (SELECT m FROM m2))
       |        * (CAST(dc AS DOUBLE) / (SELECT m FROM m2)))) AS BIGINT)
       |      AS ppb
       |  FROM c)
       |SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_communities,
       |  CAST((SELECT m FROM m2) AS BIGINT) AS n_dir_edges,
       |  CAST(sum(ppb) AS BIGINT) AS modularity_ppb
       |FROM q""".stripMargin
  ) { (s, d) =>
    // lbl is the memoized checkpoint-backed labelprop artifact: its
    // three consumers here (both edge-decoration sides + degree mass)
    // read materialized blocks, so the old per-query cache() (and its
    // session-lifetime leak) is gone
    val (e, lbl) = lpEdgesLabels(s, d)
    val m2 = e.agg(count(lit(1)).as("m"))
    val deg = e.groupBy(col("src").as("dvid")).agg(count(lit(1)).as("dg"))
    val ec = e
      .join(lbl.select(col("vid"), col("lbl").as("la")),
            col("src") === col("vid"))
      .drop("vid")
      .join(lbl.select(col("vid"), col("lbl").as("lb")),
            col("dst") === col("vid"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("ec"))
    val dc = lbl.join(deg, col("vid") === col("dvid"))
      .groupBy("lbl").agg(sum(col("dg")).as("dc"))
    val contrib = dc.join(ec, Seq("lbl"), "left")
      .select(col("lbl"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
      .crossJoin(broadcast(m2))
      .select(floor(lit(1000000000L) * (
          col("ec").cast("double") / col("m")
            - (col("dc").cast("double") / col("m"))
              * (col("dc").cast("double") / col("m"))))
        .cast("long").as("ppb"))
    contrib.agg(count(lit(1)).as("n_communities"), sum(col("ppb")).as("p"))
      .crossJoin(broadcast(m2))
      .select(col("n_communities"), col("m").as("n_dir_edges"),
              col("p").as("modularity_ppb"))
  }.copy(eager = true) // shared labelprop artifact trains at build

  private val KcoreK = 3
  private val KcoreMaxRounds = 64

  /** Measured peel-round count of the last [[graphKcore]] run in this
    * JVM — the artifact [[kcoreOracleSql]] unrolls (the vector_ann_ivf
    * oracleGen discipline applied to an iteration count). */
  private val kcoreMeasuredRounds =
    new java.util.concurrent.atomic.AtomicReference[Option[Int]](None)

  /** CONVERGENCE-GUARDED k-core peel: each round restricts edges to
    * currently-alive endpoints, recomputes exact integer degrees, and
    * peels vertices below k — iterating TO THE FIXPOINT, not to a
    * fixture-calibrated constant. The alive set shrinks monotonically
    * (each round's degree domain is the previous alive set), so an
    * unchanged alive COUNT is an exact fixpoint certificate: same
    * cardinality ⟹ same set ⟹ next round's degrees are identical.
    * `require`s convergence within `maxRounds` — a graph whose peel
    * depth exceeds the cap fails loudly instead of silently returning an
    * unconverged core (the [[graft.operators.Dedup]] hash-to-min
    * discipline). Returns (fixpoint degree table, rounds executed).
    *
    * Plan per round: TWO vid-keyed semi-restrictions of the edge list +
    * one partial+final degree aggregate; the degree table is
    * localCheckpointed (the next round references it via `alive` on both
    * edge endpoints — without truncation the logical plan doubles per
    * round) and the count probe reads only the checkpointed blocks. */
  private[graft] def kcorePeel(e: DataFrame, k: Int,
                               maxRounds: Int): (DataFrame, Int) = {
    var alive = PlanUtil.checkpointTruncated(
      e.select(col("src").as("vid")).distinct())
    var aliveCount = alive.count()
    var deg: DataFrame = alive.withColumn("d", lit(0L)) // overwritten rnd 1
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      deg = e
        .join(alive.select(col("vid").as("src")), Seq("src"))
        .join(alive.select(col("vid").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("d"))
        .withColumnRenamed("src", "vid")
        // checkpoint WITH stats truncation: the next round references
        // this frame via `alive` on both edge endpoints, so preserved
        // stats would double their bit-length per round (PlanUtil)
        .transform(PlanUtil.checkpointTruncated)
      alive = deg.filter(col("d") >= k).select("vid")
      val n = alive.count()
      rounds += 1
      done = n == aliveCount // monotone shrink: equal count ⟹ fixpoint
      aliveCount = n
    }
    require(done,
      s"k-core peel did not converge in $maxRounds rounds — peel depth " +
      "exceeds the cap; raise maxRounds")
    (deg, rounds)
  }

  /** DuckDB mirror of the converged peel, unrolled to the MEASURED round
    * count: the engine iterates to the fixpoint and the oracle replays
    * exactly those rounds, so the hash match certifies the true k-core
    * (extra unrolled rounds past the fixpoint would be identity anyway —
    * the peel is monotone — but the measured count keeps the oracle
    * minimal and the claim honest). */
  private def kcoreOracleSql(r: Int): String = {
    def stepSql(prev: String, i: Int): String =
      s"""d$i AS (SELECT e.src AS vid, count(*) AS d
         |  FROM e JOIN $prev x ON e.src = x.vid
         |         JOIN $prev y ON e.dst = y.vid
         |  GROUP BY 1),
         |a$i AS (SELECT vid FROM d$i WHERE d >= $KcoreK)""".stripMargin
    val steps = (1 to r)
      .map(i => stepSql(if (i == 1) "a0" else s"a${i - 1}", i))
      .mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_orderdate >= DATE '1995-01-01'
       |    AND o_orderdate < DATE '1995-04-01'),
       |e AS (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |a0 AS (SELECT DISTINCT src AS vid FROM e),
       |$steps
       |SELECT CASE WHEN vid % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS side,
       |  CAST(count(*) AS BIGINT) AS n_core,
       |  CAST(sum(d) AS BIGINT) AS core_degree_sum,
       |  CAST(min(d) AS BIGINT) AS min_degree
       |FROM d$r WHERE d >= $KcoreK
       |GROUP BY 1 ORDER BY side""".stripMargin
  }

  /** K-CORE DECOMPOSITION ([[KcoreK]]-core) over the customer↔supplier
    * graph — the robustness census that separates a graph's load-bearing
    * core from its periphery (degree alone overcounts: a degree-10
    * vertex whose neighbors are all leaves dies in round 2). The peel
    * runs [[kcorePeel]]'s convergence-guarded loop: it iterates until a
    * round peels nothing (the exact fixpoint certificate), `require`s
    * convergence within [[KcoreMaxRounds]], and records the measured
    * round count, which [[kcoreOracleSql]] unrolls post-run — so the
    * DuckDB hash match certifies the TRUE 3-core at every scale, not an
    * 8-round approximation that happens to coincide on the fixture
    * (GraphConvergenceSpec proves the old fixed constant under-converges
    * on a deep-peel chain). Round count is O(peel depth), NOT O(V) —
    * whole layers peel per round. The edge list is cached once; the
    * per-round localCheckpoint makes the query `eager`. */
  val graphKcore: Q = Q.noOracle("graph_kcore") { (s, d) =>
    val pairs = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
              col("o_orderdate") < lit("1995-04-01"))
      .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
              (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      .cache()
    val (deg, rounds) = kcorePeel(e, KcoreK, KcoreMaxRounds)
    kcoreMeasuredRounds.set(Some(rounds))
    deg.filter(col("d") >= KcoreK)
      .groupBy(when(col("vid") % 2 === 0, "customer").otherwise("supplier")
        .as("side"))
      .agg(count(lit(1)).as("n_core"),
           sum(col("d")).as("core_degree_sum"),
           min(col("d")).as("min_degree"))
  }.copy(
    eager = true, // per-round localCheckpoint + count probes run at build
    oracleGen = Some(() => kcoreMeasuredRounds.get().map(kcoreOracleSql)))

  private val BfsMaxRounds = 64

  /** Measured relaxation-round count of the last [[graphShortestPath]]
    * run in this JVM, unrolled by [[bfsOracleSql]] post-run. */
  private val bfsMeasuredRounds =
    new java.util.concurrent.atomic.AtomicReference[Option[Int]](None)

  /** CONVERGENCE-GUARDED BFS min-relaxation: per round, ONE src-keyed
    * join (edges × current distances) and ONE vid-keyed min aggregate,
    * iterating until the distance table is a fixpoint. The plateau probe
    * is the exact pair (row count, Σdist): the reached set only grows
    * (count strictly increases on new reaches) and, count being equal,
    * any distance improvement strictly decreases the sum — so an
    * unchanged pair is an exact fixpoint certificate, not a heuristic.
    * `require`s convergence within `maxRounds`: a graph whose diameter
    * exceeds the cap fails loudly instead of silently reporting a
    * truncated reachability census. Returns (distance table, rounds).
    *
    * The distance set is localCheckpointed per round (lineage otherwise
    * doubles — the [[kcorePeel]] discipline); the probe aggregates only
    * the checkpointed blocks. This is the re-relax-everything form: at
    * 100 TB the production variant joins only the newly settled frontier
    * (delta BFS — same answers, |frontier| not |reached| join input per
    * round) and checkpoints to storage every few rounds. */
  private[graft] def bfsDistances(e: DataFrame, source: DataFrame,
                                  maxRounds: Int): (DataFrame, Int) = {
    var dist = PlanUtil.checkpointTruncated(source)
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("dist"))).first()
      (r.getLong(0), r.getLong(1))
    }
    var prev = sig(dist)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      dist = dist
        .unionByName(
          e.join(dist.withColumnRenamed("vid", "src"), Seq("src"))
            .select(col("dst").as("vid"), (col("dist") + 1).as("dist")))
        .groupBy("vid").agg(min(col("dist")).as("dist"))
        .transform(PlanUtil.checkpointTruncated)
      val cur = sig(dist)
      rounds += 1
      done = cur == prev // exact: count grows on reach, sum drops on improve
      prev = cur
    }
    require(done,
      s"BFS did not converge in $maxRounds rounds — graph diameter " +
      "exceeds the cap; raise maxRounds")
    (dist, rounds)
  }

  /** DuckDB mirror of the converged BFS, unrolled to the MEASURED round
    * count (min-relaxation is idempotent past the fixpoint, so the
    * measured unroll is exactly the fixpoint the engine certified). */
  private def bfsOracleSql(r: Int): String = {
    def stepSql(i: Int): String =
      s"""d$i AS (SELECT vid, min(dist) AS dist FROM (
         |  SELECT vid, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS vid, x.dist + 1 AS dist
         |  FROM e JOIN d${i - 1} x ON e.src = x.vid) u GROUP BY vid)""".stripMargin
    val steps = (1 to r).map(stepSql).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_orderdate >= DATE '1995-01-01'
       |    AND o_orderdate < DATE '1995-04-01'),
       |e AS (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |d0 AS (SELECT min(src) AS vid, CAST(0 AS BIGINT) AS dist
       |       FROM e WHERE src % 2 = 1),
       |$steps
       |SELECT CASE WHEN vid % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS side,
       |  CAST(dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n
       |FROM d$r GROUP BY 1, 2 ORDER BY side, dist""".stripMargin
  }

  /** SINGLE-SOURCE SHORTEST PATHS (BFS hop distance) over the same
    * customer↔supplier graph as [[graphKcore]]: the source is the
    * lowest-id supplier vertex present in the graph (deterministic and
    * non-empty at every scale, unlike an attribute-picked seed set —
    * nation-0 suppliers vanish from the sf0.001 quarter entirely); the
    * reached set reports a (side, dist) histogram — the reachability
    * census behind "how far is every account from a flagged vertex"
    * investigations (fraud rings, recall blast radius). Relaxation runs
    * [[bfsDistances]]'s convergence-guarded loop to the exact fixpoint
    * (`require`d within [[BfsMaxRounds]]); the measured round count is
    * recorded and [[bfsOracleSql]] unrolls exactly those rounds
    * post-run, so the hash match certifies full-diameter reachability at
    * every scale — not a 6-round horizon that happens to cover the
    * fixture (GraphConvergenceSpec proves the old fixed constant
    * under-converges on a long-diameter chain). Eager: per-round
    * localCheckpoint + probes run jobs at plan-build. */
  val graphShortestPath: Q = Q.noOracle("graph_shortest_path") { (s, d) =>
    val pairs = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
              col("o_orderdate") < lit("1995-04-01"))
      .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
              (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      .cache()
    val src = e.filter(col("src") % 2 === 1)
      .agg(min(col("src")).as("vid"))
      .withColumn("dist", lit(0L))
    val (dist, rounds) = bfsDistances(e, src, BfsMaxRounds)
    bfsMeasuredRounds.set(Some(rounds))
    dist
      .groupBy(when(col("vid") % 2 === 0, "customer").otherwise("supplier")
                 .as("side"),
               col("dist"))
      .agg(count(lit(1)).as("n"))
  }.copy(
    eager = true, // per-round localCheckpoint + sig probes run at build
    oracleGen = Some(() => bfsMeasuredRounds.get().map(bfsOracleSql)))

  /** The star schema's FK edges: (edge label, child table, FK column,
    * parent table, PK column). One spec row drives BOTH the Spark plan
    * and the oracle SQL, so the two inventories cannot drift. */
  private val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("customer->nation",   "customer", "c_nationkey", "nation",   "n_nationkey"),
    ("lineitem->orders",   "lineitem", "l_orderkey",  "orders",   "o_orderkey"),
    ("lineitem->part",     "lineitem", "l_partkey",   "part",     "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey",   "supplier", "s_suppkey"),
    ("nation->region",     "nation",   "n_regionkey", "region",   "r_regionkey"),
    ("orders->customer",   "orders",   "o_custkey",   "customer", "c_custkey"),
    ("supplier->nation",   "supplier", "s_nationkey", "nation",   "n_nationkey")
  )

  /** REFERENTIAL-INTEGRITY census over every FK edge of the star schema —
    * the data-quality check a warehouse runs after each load (the
    * row-level sibling of `dq_checks`' column rules): per edge, total
    * child rows, null-FK rows, orphaned rows, and distinct orphaned keys.
    *
    * Plan shape: each child TABLE is scanned once with its FK columns
    * melted to (edge, fk) rows — lineitem's three edges share one scan —
    * then ONE (edge, fk)-keyed partial+final count (the child's raw rows
    * shuffle once, as key counts; same exchange volume as per-edge
    * aggregation, a third of the fact-table I/O), the parents reduce to
    * edge-labelled distinct PKs, and the left join runs at KEY
    * cardinality, never row cardinality; AQE broadcasts whichever side
    * is small. The per-edge census is then one 7-row aggregate — adding
    * an edge to [[FkEdges]] extends query and oracle together. All
    * outputs are exact BIGINT counts. */
  val dqReferential: Q = Q(
    "dq_referential",
    FkEdges.map { case (label, child, fk, parent, pk) =>
      s"""SELECT '$label' AS edge,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(sum(c) FILTER (WHERE fk IS NULL), 0) AS BIGINT) AS n_null_rows,
         |  CAST(COALESCE(sum(c) FILTER (WHERE fk IS NOT NULL AND pk IS NULL), 0) AS BIGINT) AS n_orphan_rows,
         |  CAST(count(*) FILTER (WHERE fk IS NOT NULL AND pk IS NULL) AS BIGINT) AS n_orphan_keys
         |FROM (SELECT $fk AS fk, count(*) AS c FROM $child GROUP BY 1) ck
         |LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $parent) p ON ck.fk = p.pk""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  ) { (s, d) =>
    // ONE scan per child TABLE, not per edge: a child's FK columns melt
    // into (edge, fk) rows in the same pass (lineitem carries three
    // edges — scanning it three times is 3× the I/O for no information),
    // then ONE (edge, fk)-keyed partial+final count covers every edge.
    // The exchange volume is unchanged (same per-edge key counts, now
    // under one shuffle), and the parent side is the per-edge distinct
    // PKs unioned with their edge label — the join runs once at key
    // cardinality for all seven edges together.
    // r11 opt (guide §2.3/§2.4): edge IDs (4-byte int) ride the two big
    // exchanges instead of label strings, and the parent side melts to
    // ONE (eid, pk) distinct instead of seven per-parent distinct chains
    // (same key volume, one exchange + one AQE barrier instead of
    // seven); labels attach on the 7-row tail.
    val eid = FkEdges.map(_._1).zipWithIndex.toMap
    val ck = FkEdges.groupBy(_._2).toSeq.map { case (child, edges) =>
      Tables.table(s, d, child).select(
        explode(array(edges.map { case (label, _, fk, _, _) =>
          struct(lit(eid(label)).as("edge"), col(fk).cast("long").as("fk"))
        }: _*)).as("e"))
        .select(col("e.edge").as("edge"), col("e.fk").as("fk"))
    }.reduce(_.unionAll(_))
      .groupBy("edge", "fk").agg(count(lit(1)).as("c"))
    val pks = FkEdges.map { case (label, _, _, parent, pk) =>
      Tables.table(s, d, parent)
        .select(lit(eid(label)).as("pedge"), col(pk).cast("long").as("pk"))
    }.reduce(_.unionAll(_)).distinct()
    val label = FkEdges.map(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, l) =>
        when(col("edge") === eid(l), lit(l)).otherwise(acc)
      }
    ck.join(pks, col("edge") === col("pedge") && col("fk") === col("pk"),
            "left")
      .groupBy("edge")
      .agg(sum(col("c")).as("n_rows"),
        coalesce(sum(when(col("fk").isNull, col("c"))), lit(0L))
          .as("n_null_rows"),
        coalesce(sum(when(col("fk").isNotNull && col("pk").isNull,
          col("c"))), lit(0L)).as("n_orphan_rows"),
        count(when(col("fk").isNotNull && col("pk").isNull, lit(1)))
          .as("n_orphan_keys"))
      .select(label.as("edge"), col("n_rows"), col("n_null_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** Candidate keys under audit: (label, table, key columns). One spec
    * row drives BOTH the Spark plan and the oracle SQL — the inventories
    * cannot drift (the [[FkEdges]] discipline). */
  private val UniqKeys: Seq[(String, String, Seq[String])] = Seq(
    ("customer(c_custkey)",  "customer",  Seq("c_custkey")),
    ("documents(doc_id)",    "documents", Seq("doc_id")),
    ("embeddings(vec_id)",   "embeddings", Seq("vec_id")),
    ("events(event_id)",     "events",    Seq("event_id")),
    ("lineitem(l_orderkey,l_linenumber)", "lineitem",
      Seq("l_orderkey", "l_linenumber")),
    ("nation(n_nationkey)",  "nation",    Seq("n_nationkey")),
    ("orders(o_orderkey)",   "orders",    Seq("o_orderkey")),
    ("part(p_partkey)",      "part",      Seq("p_partkey")),
    ("region(r_regionkey)",  "region",    Seq("r_regionkey")),
    ("supplier(s_suppkey)",  "supplier",  Seq("s_suppkey"))
  )

  /** KEY-UNIQUENESS census over every declared candidate key — the fifth
    * DQ pillar next to rules ([[dqChecks]]), distribution ([[dqSkew]],
    * [[dqDriftKs]]), integrity ([[dqReferential]]) and freshness
    * ([[dqFreshness]]): per key, total rows, distinct key tuples, rows
    * participating in a duplicate key, and the worst multiplicity — the
    * numbers that decide whether a MERGE can key on the column and
    * whether a dimension is safe to broadcast-join without fan-out.
    *
    * Plan shape: per table ONE scan reading ONLY the key columns (column
    * pruning reaches the parquet footer), one key-keyed partial+final
    * count, then a single-row global fold per key; the census unions at
    * key-label cardinality. Composite keys group on the tuple — no
    * concatenation tricks, so the same plan holds for any arity. NULL
    * key values group as a value in both engines (GROUP BY semantics),
    * so nullable keys are audited, not skipped. All outputs exact
    * BIGINTs. */
  val dqUniqueness: Q = Q(
    "dq_uniqueness",
    UniqKeys.map { case (label, table, cols) =>
      s"""SELECT '$label' AS key_name,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT)
         |    AS n_dup_rows,
         |  CAST(max(c) AS BIGINT) AS max_multiplicity
         |FROM (SELECT count(*) AS c FROM $table
         |      GROUP BY ${cols.mkString(", ")}) g""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY key_name")
  ) { (s, d) =>
    // r11 opt (guide §2.4): one melted key-count exchange for all ten
    // tables instead of ten per-table aggregate chains (each chain was
    // its own exchange + single-row fold + AQE materialization barrier;
    // the union'd melt carries the same key-count volume through ONE
    // partial+final aggregate). Keys are all integral in this schema —
    // cast to LONG is injective, so (kid, k1, k2) grouping is exactly
    // the per-table key grouping; the 4-byte kid replaces the label
    // string in the exchange, labels attach on the 10-row tail.
    val melted = UniqKeys.zipWithIndex.map {
      case ((_, table, cols), kid) =>
        val t = if (table == "events") Tables.events(s, d)
                else Tables.table(s, d, table)
        val k2 = if (cols.size > 1) col(cols(1)).cast("long")
                 else lit(null).cast("long")
        t.select(lit(kid).as("kid"), col(cols.head).cast("long").as("k1"),
                 k2.as("k2"))
    }.reduce(_.unionAll(_))
    val label = UniqKeys.map(_._1).zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (l, kid)) =>
        when(col("kid") === kid, lit(l)).otherwise(acc)
      }
    melted.groupBy("kid", "k1", "k2").agg(count(lit(1)).as("c"))
      .groupBy("kid")
      .agg(sum(col("c")).as("n_rows"),
           count(lit(1)).as("n_keys"),
           coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
             .as("n_dup_rows"),
           max(col("c")).as("max_multiplicity"))
      .select(label.as("key_name"), col("n_rows"), col("n_keys"),
              col("n_dup_rows"), col("max_multiplicity"))
  }

  /** NODE SIMILARITY via neighbor-set Jaccard (the link-prediction /
    * entity-resolution primitive): suppliers scored by how much their
    * part catalogs overlap, J = |A∩B| / |A∪B| over the distinct
    * supplier→part adjacency. The plan is the `dedup_ngram` posting-list
    * skeleton pointed at graph adjacency instead of shingles — the two
    * problems are the same problem: per part, the (supplier, degree)
    * posting list emits its ordered pairs through the native
    * [[graft.functions.expressions.OrderedPairs]] generator, shared-part
    * counts aggregate per pair, and J needs no post-joins because
    * degrees ride inside the lists. Pair fan-out per part is bounded by
    * the same stop-cap discipline (a part supplied by thousands of
    * suppliers is a commodity hub, not a similarity signal); the [2,
    * 1024] posting width is MIRRORED in the oracle's pair-generation CTE
    * (degrees stay full-adjacency) — the [[graphJaccardHot]] discipline
    * — so the certified semantics stay identical above fixture density
    * instead of silently diverging when a part crosses 1024 suppliers.
    * Adjacency, dedup, and degrees all come from ONE supplier-keyed
    * `collect_set` aggregate (the set IS the distinct, its size IS the
    * degree — map-side partial sets also shrink the exchange), re-melted
    * with a narrow explode: one exchange fewer and no window sort than
    * the distinct + degree-window formulation it replaced (measured
    * 4.07 → 3.9s at sf0.1 — the dominant cost is inherent: 8.7M
    * generated pairs aggregating into the complete 499,500-pair
    * supplier graph at this density). */
  /** The shared posting-list Jaccard plan: per-supplier part sets (ONE
    * supplier-keyed `collect_set` — the set is the distinct, its size
    * the degree), re-melted, per-part posting lists capped at `cap`,
    * pairs streamed by the native OrderedPairs generator, one pair
    * aggregate. `pExpr` maps the raw part key (identity for
    * [[graphJaccard]], hub-collapsing for [[graphJaccardHot]]).
    *
    * Degrees are joined AFTER the pair aggregate (r11 optimization —
    * the oracle's own shape): the round-10 plan carried (dg_a, dg_b)
    * through the posting lists and the pair stream "to avoid
    * post-joins", but the degree is a function of the supplier id, so
    * riding it through the two heaviest exchanges (the posting lists
    * and the ~9M-row generated pair stream, guide §2.3 "project before
    * the exchange") paid 2 extra longs per row on every shuffled byte
    * to save two broadcast joins of a |suppliers|-row frame at the very
    * end. The degree frame reuses the supplier-keyed aggregate's
    * exchange (same subtree → ReusedExchange, and the post-aggregation
    * count is exchange-free because the child is already partitioned by
    * s), so the lineitem scan still happens once. */
  private[graft] def jaccardTop30(s: SparkSession, d: String,
                                  pExpr: org.apache.spark.sql.Column,
                                  cap: Int): DataFrame = {
    // the pair key packed below is injective only for 0 <= s < 2^31:
    // checked lazily, once per supplier, inside the `parts` value every
    // consumer reads, so column pruning cannot drop it. As a filter on `s`
    // the optimizer would push it below the aggregate and infer it again
    // on the pair stream through the degree joins. A null key groups as
    // -1, outside the domain, so it fails the same check, and `s` is
    // non-nullable: the degree joins infer no not-null check on the pair
    // stream or the lineitem scans.
    val sets = Tables.lineitem(s, d)
      .groupBy(coalesce(col("l_suppkey"), lit(-1L)).as("s"))
      .agg(collect_set(pExpr).as("parts"))
      .withColumn("parts", when(col("s").between(0, Int.MaxValue), col("parts"))
        .otherwise(raise_error(lit(SupplierKeyDomain))))
    val adj = sets.select(col("s"), explode(col("parts")).as("p"))
    val deg = sets.select(col("s"), size(col("parts")).as("dg"))
    val posting = adj
      .groupBy("p")
      .agg(array_sort(collect_list(struct(col("s")))).as("sups"))
      .filter(size(col("sups")).between(2, cap))
    val pairGen = {
      import org.apache.spark.sql.graft.Bridge
      Bridge.column(graft.functions.expressions.OrderedPairs(
        Bridge.expression(col("sups"))))
    }
    // r12 (guide §2.3 "narrower types"): the ~9M-row pair stream packs
    // (s_a, s_b) into ONE long key (supplier keys are asserted above to
    // be non-negative ints, so s_a·2^32 + s_b is injective) — the
    // aggregate hashes/compares one 8-byte key instead of two and the
    // exchange drops 8 bytes/row;
    // probed 2.7 → 2.4 s on the pair aggregate alone. Unpacked right
    // after the aggregate with a shift and a mask, which cannot fail.
    posting.select(pairGen.as(Seq("s_a", "s_b")))
      .select((col("s_a") * 4294967296L + col("s_b")).as("sk"))
      .groupBy("sk")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= 2)
      .select(shiftright(col("sk"), 32).as("s_a"),
              col("sk").bitwiseAND(lit(0xFFFFFFFFL)).as("s_b"), col("inter"))
      .join(broadcast(deg.select(col("s").as("s_a"), col("dg").as("da"))),
        Seq("s_a"))
      .join(broadcast(deg.select(col("s").as("s_b"), col("dg").as("db"))),
        Seq("s_b"))
      .select(col("s_a"), col("s_b"), col("inter"),
        (col("inter").cast("double") /
          (col("da") + col("db") - col("inter"))).as("jaccard"))
      .orderBy(desc("jaccard"), asc("s_a"), asc("s_b")).limit(30)
  }

  private[graft] val SupplierKeyDomain =
    "graph_jaccard packs two supplier keys into one long: each must lie in [0, 2^31)"

  val graphJaccard: Q = Q(
    "graph_jaccard",
    """WITH adj AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
      |deg AS (SELECT s, count(*) AS dg FROM adj GROUP BY 1),
      |psz AS (SELECT p, count(*) AS np FROM adj GROUP BY 1),
      |cp AS (SELECT adj.s, adj.p FROM adj JOIN psz USING (p)
      |       WHERE np BETWEEN 2 AND 1024),
      |ex AS (SELECT a.s AS s_a, b.s AS s_b, count(*) AS inter
      |       FROM cp a JOIN cp b ON a.p = b.p AND a.s < b.s
      |       GROUP BY 1, 2)
      |SELECT s_a, s_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(inter AS DOUBLE) / (da.dg + db.dg - inter) AS jaccard
      |FROM ex JOIN deg da ON s_a = da.s JOIN deg db ON s_b = db.s
      |WHERE inter >= 2
      |ORDER BY jaccard DESC, s_a, s_b LIMIT 30""".stripMargin
  ) { (s, d) => jaccardTop30(s, d, col("l_partkey"), 1024) }

  /** The posting cap on trial: [[graphJaccard]] on an ADVERSARIAL
    * hot-hub adjacency — every 5th part key collapses to one mega-part
    * (the join_salted_hot fixture discipline applied to the posting-list
    * family), whose supplier list (100 at sf0.01, 1000 at sf0.1) blows
    * past the capped width of 64, so the cap BINDS instead of sitting
    * untested below fixture density. Cap semantics are MIRRORED in the
    * oracle (parts outside [2, 64] distinct suppliers are excluded from
    * pair generation; degrees stay full-adjacency), so the green hash
    * certifies the capped answer both engines define — a commodity hub
    * shared by everyone carries no similarity signal, and dropping it is
    * what keeps Σ|posting|² sub-quadratic when a 100× corpus makes hubs
    * the norm. PostingCapSpec asserts the bound quantitatively: with the
    * cap the candidate pair volume is a small fraction of the uncapped
    * hub-quadratic volume. */
  val graphJaccardHot: Q = Q(
    "graph_jaccard_hot",
    """WITH adj AS (SELECT DISTINCT l_suppkey AS s,
      |    CASE WHEN l_partkey % 5 = 0 THEN 0 ELSE l_partkey END AS p
      |  FROM lineitem),
      |deg AS (SELECT s, count(*) AS dg FROM adj GROUP BY 1),
      |psz AS (SELECT p, count(*) AS np FROM adj GROUP BY 1),
      |cp AS (SELECT adj.s, adj.p FROM adj JOIN psz USING (p)
      |       WHERE np BETWEEN 2 AND 64),
      |ex AS (SELECT a.s AS s_a, b.s AS s_b, count(*) AS inter
      |       FROM cp a JOIN cp b ON a.p = b.p AND a.s < b.s
      |       GROUP BY 1, 2)
      |SELECT s_a, s_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(inter AS DOUBLE) / (da.dg + db.dg - inter) AS jaccard
      |FROM ex JOIN deg da ON s_a = da.s JOIN deg db ON s_b = db.s
      |WHERE inter >= 2
      |ORDER BY jaccard DESC, s_a, s_b LIMIT 30""".stripMargin
  ) { (s, d) =>
    jaccardTop30(s, d,
      when(col("l_partkey") % 5 === 0, 0L).otherwise(col("l_partkey")),
      cap = 64)
  }

  /** DEGREE DISTRIBUTION of the supplier↔part bipartite graph — the
    * power-law/hub census that decides whether [[graphJaccard]]'s
    * posting cap or [[graft.operators.Relational]]'s salting is needed
    * on a given corpus: for each side, how many nodes have each
    * degree. One distinct-edge aggregate feeds a per-node degree count
    * and a (side, degree) histogram — partial+final all the way, no
    * windows, no joins; the two sides recompute the edge distinct
    * (broadcast-sized dimension table here; at 100 TB the edge frame
    * would be a shared staging table, the [[textIndexDelta]]
    * standing-artifact argument). */
  val graphDegreeDist: Q = Q(
    "graph_degree_dist",
    """WITH adj AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
      |             FROM lineitem),
      |ds AS (SELECT 'supplier' AS side, s AS node, count(*) AS degree
      |       FROM adj GROUP BY 2),
      |dp AS (SELECT 'part' AS side, p AS node, count(*) AS degree
      |       FROM adj GROUP BY 2),
      |u AS (SELECT side, degree FROM ds
      |      UNION ALL SELECT side, degree FROM dp)
      |SELECT side, CAST(degree AS BIGINT) AS degree,
      |  CAST(count(*) AS BIGINT) AS n_nodes
      |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    val adj = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()
    val degS = adj.groupBy("s").agg(count(lit(1)).as("degree"))
      .select(lit("supplier").as("side"), col("degree"))
    val degP = adj.groupBy("p").agg(count(lit(1)).as("degree"))
      .select(lit("part").as("side"), col("degree"))
    degS.unionAll(degP)
      .groupBy("side", "degree")
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** STORE-MAINTENANCE WIN as driver-visible evidence — the
    * [[graft.pipeline.Store]] compaction/clustering path (spec-proven in
    * StoreSpec/ZOrderSpec) surfaced as a value-checked query: build a
    * project-partitioned store from one orders "project", write it in
    * arrival order (row groups span the key range), then
    * `compactProject(clusterBy = price_cents)` and read the ACTUAL
    * parquet footers both times. For three fixed price probes the query
    * emits the exact row counts (value-checked against DuckDB on the
    * same orders table) and four booleans computed from the real footer
    * min/max/row-count statistics — the same contract-oracle pattern as
    * the sketch queries ([[graft.operators.Relational]] HLL/theta):
    * the oracle pins the numbers DuckDB can recompute and the claims
    * the maintenance op must make true on any corpus:
    *  - footer_rows_match: Σ row-group rows = table rows, both layouts;
    *  - clustered_sorted: after clustering, row-group [min,max] ranges
    *    are non-overlapping in key order (across files too — range
    *    partitioning, StoreSpec's disjointness, here re-proven per run);
    *  - pruning_sound: groups overlapping the probe hold ≥ all matching
    *    rows (skipping never drops a row);
    *  - pruning_effective / beats_scattered: the pruned scan reads less
    *    than the full partition, and no more than the scattered layout.
    * Row groups are forced small (2 KiB blocks) so even the sf0.001
    * project (~270 rows) splits into several groups. Footer reading is
    * driver-side here (one local project dir); at 100 TB the identical
    * loop runs as a mapPartitions over the file listing — the stats are
    * per-file-independent, embarrassingly parallel. */
  val storePruningStats: Q = Q(
    "store_pruning_stats",
    """WITH o AS (SELECT
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |p AS (SELECT * FROM (VALUES (1, 1000000, 2000000),
      |    (2, 24000000, 25000000), (3, 45000000, 47000000))
      |  AS t(probe_id, lo, hi)),
      |t AS (SELECT count(*) AS total_rows FROM o),
      |m AS (SELECT probe_id, count(o.pc) AS n FROM p
      |  LEFT JOIN o ON o.pc BETWEEN p.lo AND p.hi GROUP BY 1)
      |SELECT CAST(p.probe_id AS INT) AS probe_id,
      |  CAST(p.lo AS BIGINT) AS lo_cents, CAST(p.hi AS BIGINT) AS hi_cents,
      |  CAST(t.total_rows AS BIGINT) AS total_rows,
      |  CAST(m.n AS BIGINT) AS exact_rows,
      |  TRUE AS footer_rows_match, TRUE AS clustered_sorted,
      |  TRUE AS pruning_sound, TRUE AS pruning_effective,
      |  TRUE AS beats_scattered
      |FROM p JOIN m USING (probe_id) CROSS JOIN t
      |ORDER BY probe_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val probes = Seq((1, 1000000L, 2000000L), (2, 24000000L, 25000000L),
                     (3, 45000000L, 47000000L))
    val pid = "aced-urgent"
    val src = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(lit(pid).as("project_id"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    // exact per-probe selectivity in ONE aggregate over the source table
    val aggCols = count(lit(1)).as("total") +: probes.map { case (id, lo, hi) =>
      sum(when(col("price_cents").between(lo, hi), 1L).otherwise(0L))
        .as(s"n$id")
    }
    val exact = src.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val total = exact.getLong(0)
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val store = new graft.pipeline.Store(root)
    // tiny blocks force several row groups at every scale factor
    val wopts = Map("parquet.block.size" -> "2048",
                    "parquet.page.size" -> "1024")
    def footers(): Seq[(Long, Long, Long)] = {
      val conf = s.sparkContext.hadoopConfiguration
      new java.io.File(s"$root/project_id=$pid")
        .listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .sortBy(_.getName).flatMap { f =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try rdr.getFooter.getBlocks.asScala.toSeq.map { g =>
            val c = g.getColumns.asScala
              .find(_.getPath.toDotString == "price_cents").get.getStatistics
            (c.genericGetMin.asInstanceOf[java.lang.Long].longValue,
             c.genericGetMax.asInstanceOf[java.lang.Long].longValue,
             g.getRowCount)
          } finally rdr.close()
        }
    }
    try {
      store.put(src, wopts) // arrival order: groups span the key range
      val scattered = footers()
      store.compactProject(s, pid, nFiles = 2,
        clusterBy = Seq("price_cents"), writerOptions = wopts)
      val clustered = footers()
      val rowsMatch = scattered.map(_._3).sum == total &&
        clustered.map(_._3).sum == total
      val sortedGroups = clustered.sortBy(_._1)
      val sorted = sortedGroups.zip(sortedGroups.drop(1))
        .forall { case ((_, hi, _), (lo2, _, _)) => lo2 >= hi }
      def scanRows(gs: Seq[(Long, Long, Long)], lo: Long, hi: Long): Long =
        gs.filter { case (mn, mx, _) => mx >= lo && mn <= hi }.map(_._3).sum
      probes.zipWithIndex.map { case ((id, lo, hi), i) =>
        val ex = exact.getLong(i + 1)
        val cl = scanRows(clustered, lo, hi)
        val sc = scanRows(scattered, lo, hi)
        (id, lo, hi, total, ex, rowsMatch, sorted,
         cl >= ex, cl < total, cl <= sc)
      }.toDF("probe_id", "lo_cents", "hi_cents", "total_rows", "exact_rows",
             "footer_rows_match", "clustered_sorted", "pruning_sound",
             "pruning_effective", "beats_scattered")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true); ()
    }
  }.copy(eager = true)

  private val footerTables: Seq[(String, String)] = Seq(
    "customer" -> "c_custkey", "documents" -> "doc_id",
    "lineitem" -> "l_orderkey", "nation" -> "n_nationkey",
    "orders" -> "o_orderkey", "part" -> "p_partkey",
    "region" -> "r_regionkey", "supplier" -> "s_suppkey")

  /** PARQUET FOOTER CENSUS via the HAND-WRITTEN Thrift compact-protocol
    * parser ([[graft.sources.ParquetFooter]]) — the metadata-only half
    * of scan planning, cross-checked against the data it summarizes:
    * for each fixture table the executors read ONLY the footer bytes
    * (O(footer), never a data page), hand-parse FileMetaData (schema
    * width from the root's num_children, per-row-group rows, the key
    * column's chunk statistics: null_count + min/max), and merge across
    * files/row groups. The DuckDB oracle recomputes every census column
    * from the DATA — count(*), DESCRIBE width, min/max/null-count of
    * the key — so a pass proves the hand-parsed statistics agree with
    * the ground truth a pruning planner implicitly trusts. A per-file
    * `require` additionally pins FileMetaData.num_rows ≡ Σ row-group
    * rows (the footer_rows_match claim of [[storePruningStats]], here
    * re-proven by an independent parser; parquet-mr and DuckDB's scan
    * are the cross-implementations).
    *
    * Plan: the file listing parallelizes over executors; per file the
    * work is two seeks + a few-KB parse, so the query costs O(files),
    * not O(bytes) — exactly the planner's scaling at 100 TB. */
  val storeFooterCensus: Q = Q(
    "store_footer_census",
    footerTables.map { case (t, k) =>
      s"""SELECT '$t' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM $t))
         |       AS INT) AS n_cols,
         |  CAST(min($k) AS BIGINT) AS key_min,
         |  CAST(max($k) AS BIGINT) AS key_max,
         |  CAST(count(*) - count($k) AS BIGINT) AS key_nulls
         |FROM $t""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  ) { (s, d) =>
    import s.implicits._
    import graft.sources.ParquetFooter
    val files: Seq[(String, String, String)] = footerTables.flatMap {
      case (t, k) =>
        val f = new java.io.File(d, s"$t.parquet")
        val parts =
          if (f.isDirectory)
            f.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(_.getAbsolutePath).sorted.toSeq
          else Seq(f.getAbsolutePath)
        parts.map(p => (t, k, p))
    }
    s.createDataset(files)
      .repartition(math.min(files.size, 32))
      .mapPartitions { it =>
        it.map { case (t, k, p) =>
          val fm = ParquetFooter.parseFile(p).getOrElse(
            sys.error(s"unparseable parquet footer: $p"))
          var rows = 0L; var nulls = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          fm.rowGroups.foreach { rg =>
            rows += rg.numRows
            val c = rg.columns.find(_.pathInSchema == k).getOrElse(
              sys.error(s"no column chunk for $k in $p"))
            val nc = c.nullCount.getOrElse(
              sys.error(s"writer omitted null_count for $k in $p"))
            nulls += nc
            if (rg.numRows > nc) { // all-null groups carry no min/max
              val lo = c.minValue
                .flatMap(b => ParquetFooter.statLong(b, c.physicalType))
                .getOrElse(sys.error(s"no decodable min for $k in $p"))
              val hi = c.maxValue
                .flatMap(b => ParquetFooter.statLong(b, c.physicalType))
                .getOrElse(sys.error(s"no decodable max for $k in $p"))
              if (lo < mn) mn = lo
              if (hi > mx) mx = hi
            }
          }
          require(rows == fm.numRows,
            s"footer num_rows=${fm.numRows} != sum of row groups $rows in $p")
          (t, rows, fm.rootFieldCount, mn, mx, nulls)
        }
      }
      .toDF("tbl", "rows", "cols", "mn", "mx", "nulls")
      .groupBy("tbl")
      .agg(sum("rows").as("n_rows"), max("cols").as("n_cols"),
        min("mn").as("key_min"), max("mx").as("key_max"),
        sum("nulls").as("key_nulls"))
  }

  /** FRESHNESS / SLA-LAG census per event stream — the fourth data-quality
    * pillar next to rules ([[dqChecks]]), distribution ([[dqSkew]],
    * [[dqDriftKs]]) and row-level integrity ([[dqReferential]]): per
    * event_type, the last-seen timestamp, its lag behind the newest event
    * anywhere in the table, and a staleness flag at the 24h SLA — the
    * "did a producer stop publishing?" check every ingestion pipeline
    * monitors. The corpus-wide reference point is the table's own max
    * (not wall clock) so the query is deterministic and replayable.
    *
    * Determinism: lag math is exact integer epoch-millis floor-divided to
    * hours; the flag is a comparison on that BIGINT.
    *
    * Plan: ONE partial+final aggregate reduces events to a row per type;
    * the global max folds over that tiny frame and broadcasts back via a
    * single-row cross join. Nothing after the first aggregate scales with
    * event count. */
  val dqFreshness: Q = Q(
    "dq_freshness",
    """WITH t AS (SELECT event_type, max(ts) AS last_ts,
      |             count(*) AS n FROM events GROUP BY 1),
      |g AS (SELECT max(last_ts) AS now_ts FROM t)
      |SELECT event_type, CAST(n AS BIGINT) AS n_events, last_ts,
      |  CAST((epoch_ms(now_ts) - epoch_ms(last_ts)) // 3600000 AS BIGINT)
      |    AS lag_hours,
      |  (epoch_ms(now_ts) - epoch_ms(last_ts)) // 3600000 >= 24 AS stale
      |FROM t, g ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val t = Tables.events(s, d)
      .groupBy("event_type")
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
    val g = t.agg(max(col("last_ts")).as("now_ts"))
    t.crossJoin(broadcast(g))
      .withColumn("lag_hours",
        expr("(unix_millis(now_ts) - unix_millis(last_ts)) DIV 3600000"))
      .select(col("event_type"), col("n_events"), col("last_ts"),
              col("lag_hours"), (col("lag_hours") >= 24).as("stale"))
  }

  /** PSI DRIFT between the first and second half of the stream — the
    * Population Stability Index companion to [[dqDriftKs]]: KS answers
    * "did the distribution move?" with a sup-norm on the CDF; PSI is the
    * per-bin attribution credit-risk teams act on (which bins moved, how
    * much), Σ (p−q)·ln(p/q) over a dense 10-bin value grid with add-one
    * smoothing (empty bins still contribute — a bin that APPEARED is
    * drift, not noise). Split point = the data's own midpoint epoch-day
    * (broadcast scalar), so the query is fixture- and scale-agnostic.
    *
    * Determinism: p and q are exact rationals of BIGINT counts; each
    * bin's contribution is ONE shared double sequence quantized to
    * integer nano-units BEFORE the cross-bin sum (the
    * [[graphModularity]] discipline). The `ln` is correctly rounded in
    * both engines; a last-ulp divergence would have to land within 1e-9
    * of a floor boundary to matter (the text_perplexity argument).
    *
    * Plan: one partial+final (type, half, bin) count over a narrow
    * 3-column scan; everything downstream is |types|×10 rows. */
  val dqDriftPsi: Q = Q(
    "dq_drift_psi",
    """WITH b AS (SELECT event_type,
      |    epoch_ms(ts) // 86400000 AS di,
      |    least(9, CAST(floor(value / 50) AS INT)) AS bin
      |  FROM events),
      |mid AS (SELECT (min(di) + max(di)) // 2 AS m FROM b),
      |c AS (SELECT event_type, bin,
      |    count(*) FILTER (WHERE di <= (SELECT m FROM mid)) AS ca,
      |    count(*) FILTER (WHERE di > (SELECT m FROM mid)) AS cb
      |  FROM b GROUP BY 1, 2),
      |n AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
      |        CAST(sum(cb) AS BIGINT) AS nb FROM c GROUP BY 1),
      |g AS (SELECT event_type, na, nb,
      |        unnest(generate_series(0, 9)) AS bin FROM n),
      |j AS (SELECT g.event_type, g.na, g.nb, g.bin,
      |        COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
      |      FROM g LEFT JOIN c ON g.event_type = c.event_type
      |                         AND g.bin = c.bin),
      |p AS (SELECT event_type, na, nb,
      |    CAST(floor(1000000000 * (
      |      (CAST(ca + 1 AS DOUBLE) / (na + 10)
      |       - CAST(cb + 1 AS DOUBLE) / (nb + 10))
      |      * ln((CAST(ca + 1 AS DOUBLE) / (na + 10))
      |           / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))))
      |      AS BIGINT) AS nano
      |  FROM j)
      |SELECT event_type, na AS n_first, nb AS n_second,
      |  CAST(sum(nano) AS BIGINT) AS psi_nano,
      |  CAST(sum(nano) AS BIGINT) > 100000000 AS drifted
      |FROM p GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val b = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(ts) DIV 86400000").as("di"),
        least(lit(9), floor(col("value") / lit(50)).cast("int")).as("bin"))
    val mid = b.agg(expr("(min(di) + max(di)) DIV 2").as("m"))
    val c = b.crossJoin(broadcast(mid))
      .groupBy("event_type", "bin")
      .agg(count(when(col("di") <= col("m"), 1)).as("ca"),
           count(when(col("di") > col("m"), 1)).as("cb"))
    val n = c.groupBy("event_type")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val g = n.withColumn("bin", explode(sequence(lit(0), lit(9))))
    val j = g.join(c, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("na"), col("nb"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 10)
    val pb = (col("cb") + 1).cast("double") / (col("nb") + 10)
    j.select(col("event_type"), col("na"), col("nb"),
        floor(lit(1000000000L) * ((pa - pb) * log(pa / pb)))
          .cast("long").as("nano"))
      .groupBy("event_type", "na", "nb")
      .agg(sum(col("nano")).as("psi_nano"))
      .select(col("event_type"), col("na").as("n_first"),
        col("nb").as("n_second"), col("psi_nano"),
        (col("psi_nano") > 100000000L).as("drifted"))
  }

  /** The profiled columns: one spec row drives BOTH the Spark melt and
    * the oracle SQL (the [[FkEdges]]/[[UniqKeys]] discipline). Every
    * column profiles through an injective string cast, so null and
    * distinct counts are representation-independent across engines. */
  private val ProfileCols: Seq[String] =
    Seq("event_type", "props", "user_id", "value")

  /** PER-COLUMN PROFILE DRIFT between the stream's two halves — the
    * structural companion to [[dqDriftKs]]/[[dqDriftPsi]] (those test
    * the VALUE distribution of one numeric column; this audits every
    * declared column's shape: volume, null rate, distinct cardinality),
    * the census a data-contract monitor runs per ingest window to catch
    * a feed that started sending nulls, an enum that grew a value, an id
    * column whose cardinality collapsed. Exact integers throughout:
    * counts are BIGINTs, null rates exact floor-DIV ppm, and the
    * half-split is the same integer day midpoint as the drift pair.
    *
    * Plan: ONE melted scan (each row explodes to |cols| (column, value)
    * entries) into one column-keyed aggregate — conditional counts fold
    * map-side, the exact distinct-per-half pair rides the same exchange
    * via Expand; output is |cols| rows. At 100 TB the melt is the
    * honest cost (|cols|× the scan rows, all narrow); a per-column
    * loop of separate scans would read the table |cols| times
    * instead. */
  val dqProfileDrift: Q = Q(
    "dq_profile_drift",
    {
      val melt = ProfileCols.map { c =>
        s"SELECT '$c' AS colname, CAST($c AS VARCHAR) AS sval, di FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT epoch_ms(ts) // 86400000 AS di, user_id,
         |    event_type, value, props FROM events),
         |mid AS (SELECT (min(di) + max(di)) // 2 AS m FROM e),
         |mlt AS (
         |  $melt),
         |a AS (SELECT colname,
         |    count(*) FILTER (WHERE di <= (SELECT m FROM mid)) AS nr,
         |    count(*) FILTER (WHERE di > (SELECT m FROM mid)) AS nc,
         |    count(sval) FILTER (WHERE di <= (SELECT m FROM mid)) AS vr,
         |    count(sval) FILTER (WHERE di > (SELECT m FROM mid)) AS vc,
         |    count(DISTINCT sval)
         |      FILTER (WHERE di <= (SELECT m FROM mid)) AS dr,
         |    count(DISTINCT sval)
         |      FILTER (WHERE di > (SELECT m FROM mid)) AS dc
         |  FROM mlt GROUP BY 1)
         |SELECT colname AS column_name,
         |  CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
         |  CAST((1000000 * (nr - vr)) // nullif(nr, 0) AS BIGINT)
         |    AS null_ppm_ref,
         |  CAST((1000000 * (nc - vc)) // nullif(nc, 0) AS BIGINT)
         |    AS null_ppm_cur,
         |  CAST(dr AS BIGINT) AS distinct_ref,
         |  CAST(dc AS BIGINT) AS distinct_cur,
         |  CAST(dc - dr AS BIGINT) AS distinct_delta
         |FROM a ORDER BY column_name""".stripMargin
    }
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .select(expr("unix_millis(ts) DIV 86400000").as("di"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val mid = e.agg(expr("(min(di) + max(di)) DIV 2").as("m"))
    val mlt = e.crossJoin(broadcast(mid))
      .select(col("di"), col("m"),
        explode(array(ProfileCols.map(c =>
          struct(lit(c).as("colname"),
                 col(c).cast("string").as("sval"))): _*)).as("kv"))
      .select(col("di"), col("m"),
        col("kv.colname").as("colname"), col("kv.sval").as("sval"))
    val ref = col("di") <= col("m")
    mlt.groupBy("colname")
      .agg(count(when(ref, 1)).as("nr"),
           count(when(!ref, 1)).as("nc"),
           count(when(ref, col("sval"))).as("vr"),
           count(when(!ref, col("sval"))).as("vc"),
           countDistinct(when(ref, col("sval"))).as("dr"),
           countDistinct(when(!ref, col("sval"))).as("dc"))
      .select(col("colname").as("column_name"),
        col("nr").as("n_ref"), col("nc").as("n_cur"),
        // nullif guard: a stream whose events all land in ONE half makes
        // the other half's count 0 — Spark DIV yields NULL but DuckDB //
        // raises, so the guard (mirrored in the oracle) makes degenerate
        // data produce identical NULL rows on both engines
        expr("(1000000 * (nr - vr)) DIV nullif(nr, 0)").as("null_ppm_ref"),
        expr("(1000000 * (nc - vc)) DIV nullif(nc, 0)").as("null_ppm_cur"),
        col("dr").as("distinct_ref"), col("dc").as("distinct_cur"),
        (col("dc") - col("dr")).as("distinct_delta"))
  }

  /** WELCH T-TEST mean-shift drift per event type between the stream's
    * halves — the third member of the drift triad: [[dqDriftKs]] tests
    * the whole DISTRIBUTION, [[dqDriftPsi]] attributes drift to BINS,
    * this one answers the first question an on-call asks — "did the
    * MEAN move, and is the move larger than the noise?" — with the
    * classical unequal-variance t statistic.
    *
    * Determinism: the sufficient statistics are exact — counts BIGINT,
    * Σvalue and Σvalue² in integer cents accumulated in DECIMAL(38,0)
    * (cent-squared sums clear int64 around 10¹¹ rows — the [[Relational
    * .aggGini]] wide-sum discipline, applied before it bites rather than
    * after); every double then derives from ONE shared fully-
    * parenthesized expression over exact-integer casts, so both engines
    * round identically (the [[graft.operators.TimeSeries]] rule). The
    * half split is the same integer day midpoint as the other two drift
    * queries, so the triad audits the same two windows.
    *
    * Plan: one partial+final aggregate over a 3-column scan; output is
    * |types| rows. t is reported in micro-units (floor-quantized from
    * the one shared double) alongside the raw double means, and the
    * |t| > 3 flag is computed on the exact micro value so the boolean
    * cannot straddle an engine rounding difference. */
  val dqDriftTtest: Q = Q(
    "dq_drift_ttest",
    """WITH e AS (SELECT event_type,
      |    epoch_ms(ts) // 86400000 AS di,
      |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |mid AS (SELECT (min(di) + max(di)) // 2 AS m FROM e),
      |s AS (SELECT event_type,
      |    count(*) FILTER (WHERE di <= (SELECT m FROM mid)) AS n1,
      |    count(*) FILTER (WHERE di > (SELECT m FROM mid)) AS n2,
      |    CAST(sum(c) FILTER (WHERE di <= (SELECT m FROM mid))
      |      AS DECIMAL(38,0)) AS s1,
      |    CAST(sum(c) FILTER (WHERE di > (SELECT m FROM mid))
      |      AS DECIMAL(38,0)) AS s2,
      |    sum(CAST(c AS HUGEINT) * c)
      |      FILTER (WHERE di <= (SELECT m FROM mid)) AS q1,
      |    sum(CAST(c AS HUGEINT) * c)
      |      FILTER (WHERE di > (SELECT m FROM mid)) AS q2
      |  FROM e GROUP BY 1),
      |d AS (SELECT event_type, n1, n2,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |    (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
      |      * (CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE)) AS v1,
      |    (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE)
      |      - (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |        * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
      |      * (CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE)) AS v2
      |  FROM s WHERE n1 > 1 AND n2 > 1)
      |SELECT event_type,
      |  CAST(n1 AS BIGINT) AS n_first, CAST(n2 AS BIGINT) AS n_second,
      |  m1 AS mean_first_cents, m2 AS mean_second_cents,
      |  CAST(floor(1000000 * ((m1 - m2)
      |    / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))))
      |    AS BIGINT) AS t_micro,
      |  abs(CAST(floor(1000000 * ((m1 - m2)
      |    / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))))
      |    AS BIGINT)) > 3000000 AS mean_shifted
      |FROM d
      |WHERE v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) > 0
      |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val dec38 = DecimalType(38, 0)
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("unix_millis(ts) DIV 86400000").as("di"),
        round(col("value").cast(DecimalType(18, 2)) * 100, 0)
          .cast("long").as("c"))
    val mid = e.agg(expr("(min(di) + max(di)) DIV 2").as("m"))
    val ref = col("di") <= col("m")
    val st = e.crossJoin(broadcast(mid))
      .groupBy("event_type")
      .agg(count(when(ref, 1)).as("n1"), count(when(!ref, 1)).as("n2"),
           sum(when(ref, col("c")).cast(dec38)).as("s1"),
           sum(when(!ref, col("c")).cast(dec38)).as("s2"),
           sum(when(ref, col("c").cast(dec38) * col("c"))).as("q1"),
           sum(when(!ref, col("c").cast(dec38) * col("c"))).as("q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
    val m1 = col("s1").cast("double") / col("n1").cast("double")
    val m2 = col("s2").cast("double") / col("n2").cast("double")
    def variance(q: Column, sm: Column, n: Column): Column =
      (q.cast("double") / n.cast("double")
        - (sm.cast("double") / n.cast("double"))
          * (sm.cast("double") / n.cast("double"))) *
        (n.cast("double") / (n - 1).cast("double"))
    val v1 = variance(col("q1"), col("s1"), col("n1"))
    val v2 = variance(col("q2"), col("s2"), col("n2"))
    val tMicro = floor(lit(1000000) * ((m1 - m2) /
      sqrt(v1 / col("n1").cast("double") + v2 / col("n2").cast("double"))))
      .cast("long")
    // degenerate-data guard (mirrored in the oracle's WHERE): a
    // zero-variance event type makes t = ±∞ or 0/0 = NaN, and the
    // engines disagree on casting those to BIGINT (Spark saturates/zeros,
    // DuckDB raises) — excluding the undefined-t rows keeps the two
    // engines identical on ANY data, not just the fixture
    st.filter(v1 / col("n1").cast("double")
        + v2 / col("n2").cast("double") > 0)
      .select(col("event_type"),
        col("n1").as("n_first"), col("n2").as("n_second"),
        m1.as("mean_first_cents"), m2.as("mean_second_cents"),
        tMicro.as("t_micro"),
        (abs(tMicro) > 3000000L).as("mean_shifted"))
  }

  /** The nine Benford first-digit probabilities in exact ppm — they sum
    * to exactly 1,000,000 so expected counts are a partition of n. The
    * CONSTANTS are the spec (rounded log10(1+1/d)); both engines consume
    * the same integer literals. */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** BENFORD FIRST-DIGIT AUDIT over order totals — the classic
    * fabricated-data / broken-feed detector: organically-grown amounts
    * follow log10(1+1/d) first-digit frequencies, and a synthetic or
    * truncated feed shows up as a chi-square blowout. Per digit: the
    * observed count, the expected count in exact micro-units (n·ppm —
    * BIGINT, no float), the digit's chi-square term quantized to nano
    * units, plus the catalog-total chi² and a df=8 α=0.01 flag
    * (critical value 20.09).
    *
    * Parity discipline: first digit comes from `floor(price)` cast to
    * BIGINT then string — floor-then-cast is exact on both engines
    * (DuckDB's direct double→BIGINT cast ROUNDS; Spark's truncates — the
    * floor removes the divergence). Each chi-square term is a scalar
    * IEEE expression over exact integers quantized once to nano units
    * ([[dqDriftPsi]]'s discipline), so the cross-digit total is an exact
    * BIGINT sum, not an order-dependent float reduction. The digit
    * spine is generated 1..9 so absent digits still contribute their
    * expected-count term.
    *
    * Plan: one scan → 9-group partial+final aggregate; everything after
    * operates on ≤ 9 rows (the totals window is the one unpartitioned
    * window, sitting above the aggregate per the catalog-wide lock). At
    * 100 TB this is a single map-combine pass. */
  val dqBenford: Q = Q(
    "dq_benford",
    s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, count(*) AS obs FROM d GROUP BY 1),
      |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c),
      |spine AS (SELECT * FROM (VALUES
      |    ${BenfordPpm.map { case (d, p) => s"($d, $p)" }.mkString(", ")})
      |    t(digit, ppm)),
      |t AS (SELECT s.digit, COALESCE(c.obs, 0) AS obs,
      |    n.n * s.ppm AS exp_micro,
      |    CAST(floor(1000000000 * (
      |      (COALESCE(c.obs, 0) - CAST(n.n * s.ppm AS DOUBLE) / 1000000)
      |      * (COALESCE(c.obs, 0) - CAST(n.n * s.ppm AS DOUBLE) / 1000000)
      |      / (CAST(n.n * s.ppm AS DOUBLE) / 1000000))) AS BIGINT)
      |      AS term_nano
      |  FROM spine s CROSS JOIN n LEFT JOIN c ON s.digit = c.digit
      |  WHERE n.n > 0)
      |SELECT digit, CAST(obs AS BIGINT) AS obs,
      |  CAST(exp_micro AS BIGINT) AS exp_micro, term_nano,
      |  CAST(sum(term_nano) OVER () AS BIGINT) AS chi2_nano,
      |  sum(term_nano) OVER () > 20090000000 AS benford_violated
      |FROM t ORDER BY digit""".stripMargin
  ) { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val n = c.agg(sum(col("obs")).cast("long").as("n"))
      .filter(col("n") > 0)
    import s.implicits._
    val spine = BenfordPpm.toDF("digit", "ppm")
    val expD = (col("n") * col("ppm")).cast("double") / 1000000
    val obs0 = coalesce(col("obs"), lit(0L))
    val t = spine.crossJoin(broadcast(n))
      .join(c, Seq("digit"), "left")
      .select(col("digit"), obs0.as("obs"),
        (col("n") * col("ppm")).as("exp_micro"),
        floor(lit(1000000000L) *
          ((obs0 - expD) * (obs0 - expD) / expD)).cast("long")
          .as("term_nano"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    t.select(col("digit"), col("obs").cast("long").as("obs"),
        col("exp_micro").cast("long").as("exp_micro"), col("term_nano"),
        sum(col("term_nano")).over(w).cast("long").as("chi2_nano"),
        (sum(col("term_nano")).over(w) > 20090000000L)
          .as("benford_violated"))
      .orderBy("digit")
  }

  /** CROSS-TABLE RECONCILIATION census — the warehouse closing-the-books
    * check [[dqReferential]]'s key-existence audit doesn't cover: does
    * the MONEY add up? Per order, the line-level charge
    * Σ extendedprice·(1−discount)·(1+tax) is compared against the
    * header's o_totalprice (the TPC-H consistency invariant), and the
    * per-order discrepancies roll up into a magnitude histogram — one
    * row per discrepancy DECADE (bucket −1 = exact to the pico-cent,
    * 0 = sub-cent, k = k-digit whole-cent gap) with the count and the
    * worst gap. On a feed whose header totals are computed upstream,
    * any non-exact bucket is a billing-pipeline bug; on THIS fixture
    * the generator draws totals independently of lines, and the census
    * says so (the dq_benford/text_zipf discipline: the detector
    * detecting the generator).
    *
    * Parity discipline: money enters through DECIMAL(18,2) cents (the
    * [[graft.Tables.money]] rule) and the rates quantize ONCE to ppm
    * via floor(x·10⁶ + ½) — after that every charge is an exact
    * cents·ppm·ppm integer (DECIMAL(38,0)/HUGEINT, ~21 digits max), the
    * diff an exact subtraction, and the bucket a digit count of a
    * nonnegative floor DIV. No float survives past the first
    * projection.
    *
    * Plan: one lineitem-keyed partial+final aggregate to per-order
    * charges, one key join against the orders header (both sides
    * order-key partitioned — the shuffle is the reconciliation's
    * inherent cost), then a ≤14-bucket aggregate. */
  val dqReconciliation: Q = Q(
    "dq_reconciliation",
    """WITH li AS (SELECT l_orderkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(floor(1000000 * l_discount + 0.5) AS BIGINT) AS d_ppm,
      |    CAST(floor(1000000 * l_tax + 0.5) AS BIGINT) AS t_ppm
      |  FROM lineitem),
      |c AS (SELECT l_orderkey,
      |    sum(CAST(cents AS HUGEINT) * (1000000 - d_ppm)
      |        * (1000000 + t_ppm)) AS line_pico
      |  FROM li GROUP BY 1),
      |o AS (SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS o_cents
      |  FROM orders),
      |j AS (SELECT o.o_orderkey,
      |    coalesce(c.line_pico, 0)
      |      - CAST(o_cents AS HUGEINT) * 1000000 * 1000000 AS diff
      |  FROM o LEFT JOIN c ON c.l_orderkey = o.o_orderkey),
      |b AS (SELECT o_orderkey, diff,
      |    CAST(abs(diff) // 1000000000000 AS BIGINT) AS cd
      |  FROM j)
      |SELECT CASE WHEN diff = 0 THEN -1 WHEN cd = 0 THEN 0
      |       ELSE length(CAST(cd AS VARCHAR)) END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  max(cd) AS max_diff_cents
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val dec38 = DecimalType(38, 0)
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      (Tables.money(col("l_extendedprice")) * 100).cast("long").as("cents"),
      floor(lit(1000000) * col("l_discount") + lit(0.5))
        .cast("long").as("d_ppm"),
      floor(lit(1000000) * col("l_tax") + lit(0.5))
        .cast("long").as("t_ppm"))
    // r12 (the money-sum long-cents discipline): the per-line pico charge
    // cents·(1e6−d)·(1e6+t) needs >64 bits only as a WHOLE — the rate
    // product m = (1e6−d)(1e6+t) ≤ 1.1e12 fits a long, and cents·m split
    // at 2^20 gives two long terms ≤ ~1.1e13 each whose per-order sums
    // (≤7 lines/order) stay far under 2^63. The decimal multiply then
    // runs once per ORDER (150k) instead of twice per LINE (600k):
    // probed 0.88 → 0.63 s on the aggregate, bit-identical sums (exact
    // integer arithmetic both ways; probe join found 0 mismatches).
    val m = (lit(1000000L) - col("d_ppm")) * (lit(1000000L) + col("t_ppm"))
    val c = li.select(col("l_orderkey"),
        (col("cents") * (m % 1048576L)).as("lo"),
        (col("cents") * expr("""((1000000 - d_ppm) * (1000000 + t_ppm))
          div 1048576""")).as("hi"))
      .groupBy("l_orderkey")
      .agg(sum(col("lo")).as("slo"), sum(col("hi")).as("shi"))
      .select(col("l_orderkey"),
        (col("shi").cast(dec38) * lit(1048576L) + col("slo").cast(dec38))
          .as("line_pico"))
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      (Tables.money(col("o_totalprice")) * 100).cast("long").as("o_cents"))
    val j = o.join(c, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        (coalesce(col("line_pico"), lit(0).cast(dec38))
          - col("o_cents").cast(dec38) * lit(1000000L) * lit(1000000L))
          .as("diff"))
    val b = j.select(col("diff"),
      expr("CAST(abs(diff) DIV 1000000000000 AS BIGINT)").as("cd"))
    b.groupBy(
        when(col("diff") === 0, -1)
          .when(col("cd") === 0, 0)
          .otherwise(length(col("cd").cast("string"))).cast("int")
          .as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        max(col("cd")).as("max_diff_cents"))
  }

  /** DOUBLE-CHARGE audit — the duplicate-payment detector every billing
    * pipeline runs ([[dqUniqueness]] checks KEYS; this checks the
    * business duplicate a unique key hides): orders by the same
    * customer for the EXACT same amount, rolled up as a repeat-count
    * CENSUS — per repeat level, how many (customer, amount) groups sit
    * there, how many of the multi-order groups cluster within a 7-day
    * span (the retry/double-submit signature — the same amounts spread
    * over years are ordinary repeat business), and the tightest span
    * observed. The census form keeps the query's level-1 row ALWAYS
    * populated, so a feed with zero duplicates (this fixture: the
    * generator draws continuous prices that never collide — the
    * detector correctly reporting a clean feed) still exercises the
    * whole pipeline, and the first real duplicate shows up as a new
    * level-2 row, not as silence.
    *
    * Parity discipline: pure integer — DECIMAL(18,2) cents, day
    * numbers from an epoch anchor, exact counts and spans. The plan
    * avoids the naive self-join entirely: grouping by (customer,
    * cents) IS the candidate generation (one partial+final aggregate),
    * span is min/max inside the group — no pair fan-out, no skew cap —
    * and the census is a second, repeat-level-bounded aggregate. */
  val dqDoubleCharge: Q = Q(
    "dq_double_charge",
    """WITH o AS (SELECT o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    date_diff('day', DATE '1992-01-01', o_orderdate) AS dn
      |  FROM orders),
      |g AS (SELECT o_custkey, cents, CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(max(dn) - min(dn) AS BIGINT) AS span_days
      |  FROM o GROUP BY 1, 2)
      |SELECT n_orders AS repeat_level,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(CASE WHEN n_orders >= 2 AND span_days <= 7
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_suspicious,
      |  CAST(min(CASE WHEN n_orders >= 2 THEN span_days END) AS BIGINT)
      |    AS min_span_days
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (Tables.money(col("o_totalprice")) * 100).cast("long").as("cents"),
      datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).as("dn"))
    o.groupBy("o_custkey", "cents")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        (max(col("dn")) - min(col("dn"))).cast("long").as("span_days"))
      .groupBy(col("n_orders").as("repeat_level"))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        sum(when(col("n_orders") >= 2 && col("span_days") <= 7, 1)
          .otherwise(0)).cast("long").as("n_suspicious"),
        min(when(col("n_orders") >= 2, col("span_days")))
          .cast("long").as("min_span_days"))
  }

  /** K-ANONYMITY CENSUS — the re-identification risk readout a dataset
    * release (or a training-corpus privacy review) runs over its
    * quasi-identifiers: group the data by the QI tuple
    * (event_type, prop-bucket, day), measure each equivalence class's
    * DISTINCT-USER size, and report the class-size histogram with the
    * share of users sitting in classes below the k=5 anonymity floor —
    * the population an attacker joining on those attributes could
    * single out. The privacy sibling of [[dqUniqueness]] (which audits
    * KEY uniqueness; here uniqueness is the hazard, not the contract).
    *
    * Exactness: class sizes are exact distinct counts, buckets are
    * integer CASE cuts, the at-risk share is floor-DIV ppm on
    * nonnegative integers. Plan: one distinct over (QI, user) — the
    * only corpus-sized exchange, map-side combining — then a QI-keyed
    * count and a ≤4-row histogram; the global denominator rides a
    * 1-row broadcast cross (the [[abSequential]] `tot` shape). */
  val dqKAnonymity: Q = Q(
    "dq_k_anonymity",
    """WITH q AS (SELECT DISTINCT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS kb,
      |    CAST(ts AS DATE) AS day, user_id
      |  FROM events),
      |c AS (SELECT event_type, kb, day,
      |        CAST(count(*) AS BIGINT) AS class_size
      |      FROM q GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(class_size) AS BIGINT) AS n_total FROM c),
      |b AS (SELECT CASE WHEN class_size = 1 THEN '1'
      |                  WHEN class_size < 5 THEN '2-4'
      |                  WHEN class_size < 10 THEN '5-9'
      |                  ELSE '10+' END AS bucket,
      |             class_size FROM c)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(class_size) AS BIGINT) AS n_memberships,
      |  CAST((1000000 * sum(class_size)) // n_total AS BIGINT)
      |    AS membership_ppm,
      |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
      |       AS BIGINT) AS n_below_k
      |FROM b CROSS JOIN tot
      |GROUP BY bucket, n_total ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val q = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(get_json_object(props, '$.k') as bigint) div 10")
          .as("kb"),
        to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val c = q.groupBy("event_type", "kb", "day")
      .agg(count(lit(1)).as("class_size"))
    val tot = c.agg(sum(col("class_size")).cast("long").as("n_total"))
    c.select(
        when(col("class_size") === 1, "1")
          .when(col("class_size") < 5, "2-4")
          .when(col("class_size") < 10, "5-9")
          .otherwise("10+").as("bucket"),
        col("class_size"))
      .crossJoin(broadcast(tot))
      .groupBy("bucket", "n_total")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).cast("long").as("n_memberships"),
        sum(when(col("class_size") < 5, col("class_size")).otherwise(0L))
          .cast("long").as("n_below_k"))
      .select(col("bucket"), col("n_classes"), col("n_memberships"),
        expr("(1000000 * n_memberships) div n_total").cast("long")
          .as("membership_ppm"),
        col("n_below_k"))
  }

  /** Hash-collision audit for content-derived ids — the check a corpus
    * that KEYS ON text hashes (dedup digests, URL ids, cache keys) must
    * run before trusting joins on them: how many DISTINCT texts share a
    * 60-bit [[graft.functions.expressions.PortableHash]] value, against
    * the birthday-bound expectation n(n−1)/2⁶¹ the id scheme was sized
    * by. Exact-duplicate texts are excluded FIRST (they legitimately
    * share a hash — counting them as collisions is the classic false
    * alarm); what remains is true silent-aliasing risk: two different
    * documents that would MERGE under any hash-keyed dedup or join.
    *
    * Parity: the hash is the portable MD5-prefix idiom (identical by
    * construction); counts are exact; the expectation is micro-quantized
    * from exact integers through one shared double expression
    * (n·(n−1) exceeds int64 at ~3e9 docs, so the product widens and
    * enters the double domain via the VARCHAR route — the DECIMAL→DOUBLE
    * ulp trap).
    *
    * Plan: one distinct on (hash, text-digest) — text itself never
    * shuffles, only its md5 — then a hash-keyed count; both ride the
    * same exchange domain and the output is one row. */
  val dqHashCollision: Q = Q(
    "dq_hash_collision",
    s"""WITH t AS (SELECT DISTINCT
       |    ${graft.functions.expressions.PortableHash.duckdbSql("text")}
       |      AS hv, md5(text) AS dg
       |  FROM documents),
       |c AS (SELECT hv, count(*) AS k FROM t GROUP BY 1),
       |s AS (SELECT CAST(sum(k) AS BIGINT) AS n_texts,
       |    CAST(count(*) AS BIGINT) AS n_hashes,
       |    CAST(sum((k * (k - 1)) // 2) AS BIGINT) AS n_collisions
       |  FROM c)
       |SELECT n_texts, n_hashes, n_collisions,
       |  CAST(floor(1000000 * CAST(CAST(CAST(n_texts AS HUGEINT)
       |        * (n_texts - 1) AS VARCHAR) AS DOUBLE)
       |    / 2305843009213693952 / 2) AS BIGINT) AS expected_micro
       |FROM s""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(graft.functions.TextFns.saltedHash(col("text"), "", 15)
        .as("hv"), md5(col("text")).as("dg"))
      .distinct()
    t.groupBy("hv").agg(count(lit(1)).as("k"))
      .agg(sum(col("k")).cast("long").as("n_texts"),
           count(lit(1)).as("n_hashes"),
           sum(expr("(k * (k - 1)) div 2")).cast("long")
             .as("n_collisions"))
      .select(col("n_texts"), col("n_hashes"), col("n_collisions"),
        floor(lit(1000000) *
          expr("cast(n_texts as decimal(38,0)) * (n_texts - 1)")
            .cast("string").cast("double")
          / 2305843009213693952.0 / 2).cast("long").as("expected_micro"))
  }

  /** Deterministic neighbor sampling (the GraphSAGE/GNN minibatch
    * primitive): for each customer node of the Q1-1995 customer–supplier
    * bipartite graph (the [[graphPagerank]] edge set), keep at most K=4
    * neighbors chosen by SALTED-HASH rank — a fixed pseudo-random
    * permutation of each adjacency list, so the sample is reproducible
    * across runs/engines (training-data generation must be replayable),
    * unbiased by storage order, and consistent under graph growth (a
    * new edge displaces at most one sampled slot). Output is the
    * sampled edge list with slot ranks — exactly what a GNN feature
    * pipeline joins features onto.
    *
    * Plan: one distinct on the (customer, supplier) pair, then the rank
    * window rides a customer-keyed exchange; the filter keeps ≤K rows
    * per node, so downstream stages see O(K·|nodes|), not O(|edges|) —
    * the entire point of sampling at 100 TB. Hash ties are impossible
    * (the hash key is the unique pair), and the window order appends
    * the supplier key anyway (total order — the round-1 lesson). */
  val graphSampleNeighbors: Q = Q(
    "graph_sample_neighbors",
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_orderdate >= DATE '1995-01-01'
       |    AND o_orderdate < DATE '1995-04-01'),
       |h AS (SELECT c, s,
       |    ${graft.functions.expressions.PortableHash
              .duckdbSaltedSql("c * 1000000000 + s", ":nbr", 15)} AS hv
       |  FROM pairs),
       |r AS (SELECT c, s,
       |        row_number() OVER (PARTITION BY c ORDER BY hv, s) AS rnk
       |      FROM h)
       |SELECT CAST(c AS BIGINT) AS src, CAST(s AS BIGINT) AS dst,
       |  CAST(rnk AS INT) AS slot
       |FROM r WHERE rnk <= 4 ORDER BY src, slot""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
              col("o_orderdate") < lit("1995-04-01"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val hv = graft.functions.TextFns.saltedHash(
      col("c") * 1000000000L + col("s"), ":nbr", 15)
    pairs.select(col("c"), col("s"), hv.as("hv"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("c").orderBy(asc("hv"), asc("s"))))
      .filter(col("rnk") <= 4)
      .select(col("c").cast("long").as("src"),
        col("s").cast("long").as("dst"),
        col("rnk").cast("int").as("slot"))
  }

  /** Sequence-gap completeness audit — the "did the ingest lose
    * anything" check every pipeline with a DENSE upstream id space runs
    * (Kafka offsets, DB autoincrement keys, log line numbers): per day,
    * the observed row count against the day's id span, the count of
    * missing ids, and how many contiguous GAP RUNS they form (one lost
    * batch shows as one long run; scattered single-row losses show as
    * many runs — different failure modes, same missing count). The
    * fixture's event_id is dense and time-ordered, so loss is SIMULATED
    * by a deterministic 2% salted-hash drop — the audit must report
    * exactly the injected holes, which makes the oracle a true
    * end-to-end check of the gap arithmetic. Ids lost at day boundaries
    * sit outside every day's span and are invisible to a per-day span
    * audit by construction (documented limit of the method, not a bug).
    *
    * Plan: ONE day-keyed exchange shared by the in-day lag window and
    * the day aggregate (the sessionize_gaps sharing); all arithmetic is
    * exact nonnegative integers. */
  val dqSequenceGaps: Q = Q(
    "dq_sequence_gaps",
    s"""WITH e AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events
       |  WHERE ${graft.functions.expressions.PortableHash
                .duckdbSaltedSql("event_id", ":loss", 15)} % 100 >= 2),
       |g AS (SELECT day, event_id,
       |        lag(event_id) OVER (PARTITION BY day ORDER BY event_id)
       |          AS prev
       |      FROM e)
       |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(max(event_id) - min(event_id) + 1 AS BIGINT) AS id_span,
       |  CAST(max(event_id) - min(event_id) + 1 - count(*) AS BIGINT)
       |    AS n_missing,
       |  CAST((1000000 * (max(event_id) - min(event_id) + 1 - count(*)))
       |       // (max(event_id) - min(event_id) + 1) AS BIGINT)
       |    AS missing_ppm,
       |  CAST(count(*) FILTER (WHERE prev IS NOT NULL
       |                        AND event_id - prev > 1) AS BIGINT)
       |    AS n_gap_runs
       |FROM g GROUP BY 1 ORDER BY day""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("day").orderBy("event_id")
    Tables.events(s, d)
      .select(col("event_id"), to_date(col("ts")).as("day"))
      .filter(graft.functions.TextFns
        .saltedHash(col("event_id"), ":loss", 15) % 100 >= 2)
      .withColumn("prev", lag(col("event_id"), 1).over(w))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
           (max(col("event_id")) - min(col("event_id")) + 1).as("id_span"),
           count(when(col("prev").isNotNull &&
             col("event_id") - col("prev") > 1, 1)).as("n_gap_runs"))
      .select(col("day"), col("n_rows"), col("id_span"),
        (col("id_span") - col("n_rows")).as("n_missing"),
        expr("(1000000 * (id_span - n_rows)) div id_span")
          .as("missing_ppm"),
        col("n_gap_runs"))
  }

  /** DAILY-VOLUME ANOMALY control chart per event stream — the ops-grade
    * "did ingest double or halve overnight?" monitor next to
    * [[dqFreshness]]'s lag SLA and [[dqSequenceGaps]]'s id-space audit:
    * each (event_type, day) row-count compares against its TRAILING
    * ≤7-observed-day window under the Poisson 3σ rule — anomaly iff
    * (n − mean)² > 9·mean, evaluated in the cleared-denominator integer
    * form (n·k − Σ)² > 9·k·Σ so no rational mean is ever materialized.
    * dev_ppm is the signed relative deviation for dashboards; days with
    * under 4 trailing observations never flag (cold-start discipline).
    *
    * Parity: counts are exact BIGINTs; the squared term widens
    * (HUGEINT / decimal(38,0)) before multiplication so petabyte-scale
    * daily volumes can't wrap; the flag is a pure integer comparison.
    *
    * Plan: one partial+final (type, day) count over a 2-column scan;
    * the trailing window rides the |types|×days frame, never raw
    * events. */
  val dqVolumeAnomaly: Q = Q(
    "dq_volume_anomaly",
    """WITH dcount AS (SELECT event_type,
      |    epoch_ms(ts) // 86400000 AS di,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, di, n,
      |    CAST(count(*) OVER tw AS BIGINT) AS k,
      |    CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS s
      |  FROM dcount WINDOW tw AS (PARTITION BY event_type ORDER BY di
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(di AS BIGINT) AS day_index, n, k, s,
      |  CAST(CASE WHEN s > 0 THEN
      |    (CASE WHEN n * k >= s THEN 1 ELSE -1 END) *
      |    ((1000000 * CAST(abs(n * k - s) AS HUGEINT)) // s)
      |  END AS BIGINT) AS dev_ppm,
      |  CASE WHEN k >= 4 AND s > 0 THEN
      |    CAST(n * k - s AS HUGEINT) * (n * k - s)
      |      > 9 * CAST(k AS HUGEINT) * s
      |  ELSE false END AS anomaly
      |FROM w ORDER BY event_type, day_index""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dcount = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("di"))
      .agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy("event_type").orderBy("di")
      .rowsBetween(-7, -1)
    dcount
      .withColumn("k", count(lit(1)).over(tw))
      .withColumn("s", coalesce(sum(col("n")).over(tw), lit(0L)))
      .select(col("event_type"), col("di").as("day_index"), col("n"),
        col("k"), col("s"),
        // sign-split so the floor-vs-truncate divergence class for
        // negative integer quotients (docs/ORACLE_PARITY.md,
        // vector_pca_power) can never arise in any DuckDB build
        expr("""CASE WHEN s > 0 THEN
                (CASE WHEN n * k >= s THEN 1 ELSE -1 END) *
                ((1000000 * CAST(abs(n * k - s) AS DECIMAL(38,0))) div s)
                END""").cast("long").as("dev_ppm"),
        expr("""CASE WHEN k >= 4 AND s > 0 THEN
                CAST(n * k - s AS DECIMAL(38,0)) * (n * k - s)
                  > 9 * CAST(k AS DECIMAL(38,0)) * s
                ELSE false END""").as("anomaly"))
  }

  /** TABLE CONTENT CHECKSUM per source partition — the replication-diff
    * primitive every cross-region copy, backfill, and engine migration
    * is audited with: an ORDER-INDEPENDENT content digest (sum of a
    * 60-bit md5 prefix over every row's full column tuple) plus the row
    * count, per source. Two replicas disagree iff some row's CONTENT
    * differs — the count catches drops, the sum catches silent
    * mutations, and order-independence means the check never needs a
    * global sort on either side. This is also the cheap first gate
    * before [[dqReconciliation]]'s column-level diff.
    *
    * Parity: the row key is an explicit chr(1)-joined column tuple (no
    * engine-specific struct serialization), the 15-hex-digit prefix is
    * a nonnegative 60-bit BIGINT, and the sum accumulates in
    * DECIMAL(38,0)/HUGEINT (a 60-bit term over a 10¹²-row source clears
    * int64); the digest SHIPS as the decimal-digit VARCHAR (the
    * corpus_resume_skip round-7 lesson — wide-integer output columns
    * hash differently across DuckDB builds).
    *
    * Plan: one narrow scan into a partial+final aggregate on the tiny
    * source key; map-side combine does almost all the summing. */
  val dqTableChecksum: Q = Q(
    "dq_table_checksum",
    """WITH h AS (SELECT source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(1) ||
      |        text || chr(1) || lang || chr(1) || source || chr(1) ||
      |        CAST(n_chars AS VARCHAR)), 1, 15) AS BIGINT) AS hv
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(CAST(sum(hv) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
      |FROM h GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val tuple = concat_ws("\u0001",
      col("doc_id").cast("string"), col("text"), col("lang"),
      col("source"), col("n_chars").cast("string"))
    Tables.documents(s, d)
      .select(col("source"),
        conv(substring(md5(tuple.cast("binary")), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("hv").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").as("checksum"))
  }

  /** FUNCTIONAL-DEPENDENCY VIOLATION census — the profiling gate that
    * turns assumed invariants ("an order has one customer", "a part has
    * one supplier") into MEASURED ones before a pipeline bakes them into
    * join cardinality or dedup keys: for each declared candidate FD
    * lhs → rhs, the number of lhs groups, how many carry >1 distinct
    * rhs (violations), the violation rate (ppm), and the worst group's
    * distinct-rhs count. The catalog declares four FDs spanning the
    * truth spectrum — a key-backed FD that must read 0 (the control
    * row), and three plausible-but-false ones whose violation counts
    * are the actual deliverable (Metanome-style FD checking, reduced to
    * the verification half a production profiler runs on declared
    * candidates).
    *
    * Parity: all statistics are exact BIGINT counts; the rate is nonneg
    * floor-DIV ppm, nullif-guarded; DuckDB's HUGEINT sum widening is
    * cast back at the final SELECT (the round-8 wide-output rule).
    *
    * Plan: per FD one pruned two-column scan into a partial+final
    * count-distinct aggregate on the lhs key, then a 1-row summary —
    * four independent exchanges UNIONed, no joins, no row explosion.
    * At 100 TB each FD costs one shuffle of (lhs, rhs) pairs; declared
    * FDs are checked in one pass each, not discovered by the
    * exponential lattice search. */
  val dqFdViolations: Q = Q(
    "dq_fd_violations", {
      def f(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd_name,
           |  CAST(count(*) AS BIGINT) AS lhs_groups,
           |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS violating_groups,
           |  CAST((1000000 * sum(CASE WHEN k > 1 THEN 1 ELSE 0 END))
           |    // nullif(count(*), 0) AS BIGINT) AS violation_ppm,
           |  CAST(max(k) AS BIGINT) AS max_rhs_variants
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS k
           |      FROM $table GROUP BY 1)""".stripMargin
      Seq(
        f("customer_nation_to_segment", "customer",
          "c_nationkey", "c_mktsegment"),
        f("lineitem_order_to_returnflag", "lineitem",
          "l_orderkey", "l_returnflag"),
        f("lineitem_part_to_supp", "lineitem", "l_partkey", "l_suppkey"),
        f("orders_key_to_custkey", "orders", "o_orderkey", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd_name")
    }
  ) { (s, d) =>
    def f(name: String, df: DataFrame, lhs: String, rhs: String) =
      df.select(col(lhs), col(rhs))
        .groupBy(col(lhs))
        .agg(count_distinct(col(rhs)).as("k"))
        .agg(count(lit(1)).as("lhs_groups"),
          sum(when(col("k") > 1, 1L).otherwise(0L))
            .as("violating_groups"),
          max(col("k")).as("max_rhs_variants"))
        .select(lit(name).as("fd_name"), col("lhs_groups"),
          col("violating_groups"),
          expr("(1000000 * violating_groups) div nullif(lhs_groups, 0)")
            .cast("long").as("violation_ppm"),
          col("max_rhs_variants"))
    f("customer_nation_to_segment", Tables.customer(s, d),
        "c_nationkey", "c_mktsegment")
      .unionAll(f("lineitem_order_to_returnflag", Tables.lineitem(s, d),
        "l_orderkey", "l_returnflag"))
      .unionAll(f("lineitem_part_to_supp", Tables.lineitem(s, d),
        "l_partkey", "l_suppkey"))
      .unionAll(f("orders_key_to_custkey", Tables.orders(s, d),
        "o_orderkey", "o_custkey"))
      .orderBy("fd_name")
  }

  /** 1-D WASSERSTEIN (earth-mover) DRIFT over the shared [[driftCounts]]
    * bin frame — the metric that completes the drift triad: KS reads the
    * worst single ECDF gap, PSI reads reweighted log-ratios, EMD reads
    * the AREA between the ECDFs (how far mass must move, in bin units)
    * — the one that scales with the severity of a shift, not just its
    * existence. Exact end to end: per bin, |cumA·nB − cumB·nA| weighted
    * by the gap to the next populated bin (lead(bin) − bin — the ECDF
    * is constant across empty bins, so the gap weight makes the sum the
    * EXACT integral, not a populated-bin approximation), summed in the
    * wide-integer domain (the sample_neyman_alloc lesson: the summand is
    * a product of products, ppm headroom does not apply), then one
    * floor-DIV by nA·nB.
    *
    * Plan: same one-scan partial+final as the siblings; the cumulative
    * and lead windows ride ≤ [[DriftBins]] rows per type. */
  val dqDriftEmd: Q = Q(
    "dq_drift_emd",
    s"""WITH e AS (SELECT event_type,
      |    LEAST(CAST(floor(value) AS BIGINT), ${DriftBins - 1}) AS bin,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a
      |  FROM events),
      |c AS (SELECT event_type, bin, CAST(sum(a) AS BIGINT) AS ca,
      |        CAST(count(*) - sum(a) AS BIGINT) AS cb
      |      FROM e GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin,
      |    lead(bin, 1, bin) OVER (PARTITION BY event_type ORDER BY bin)
      |      - bin AS gap,
      |    sum(ca) OVER (PARTITION BY event_type ORDER BY bin
      |                  ROWS UNBOUNDED PRECEDING) AS cuma,
      |    sum(cb) OVER (PARTITION BY event_type ORDER BY bin
      |                  ROWS UNBOUNDED PRECEDING) AS cumb,
      |    sum(ca) OVER (PARTITION BY event_type) AS na,
      |    sum(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM c)
      |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
      |  CAST(max(nb) AS BIGINT) AS n_b,
      |  CAST((1000 * sum(CAST(gap AS HUGEINT)
      |      * abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)))
      |    // (CAST(max(na) AS HUGEINT) * max(nb)) AS BIGINT)
      |    AS emd_milli
      |FROM cum WHERE na > 0 AND nb > 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("event_type")
    val wLead = Window.partitionBy("event_type").orderBy("bin")
    val cum = driftCounts(Tables.events(s, d), "2024-01-16")
      .select(col("event_type"),
        (lead(col("bin"), 1, null).over(wLead)).as("nxt"), col("bin"),
        sum(col("ca")).over(wCum).as("cuma"),
        sum(col("cb")).over(wCum).as("cumb"),
        sum(col("ca")).over(wTot).as("na"),
        sum(col("cb")).over(wTot).as("nb"))
      .select(col("event_type"),
        (coalesce(col("nxt"), col("bin")) - col("bin")).as("gap"),
        col("cuma"), col("cumb"), col("na"), col("nb"))
    cum.filter(col("na") > 0 && col("nb") > 0)
      .groupBy("event_type")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(dec38(col("gap")) *
          abs(dec38(col("cuma")) * dec38(col("nb"))
            - dec38(col("cumb")) * dec38(col("na"))))
          .as("w1"))
      .select(col("event_type"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        expr("""(CAST(1000 AS DECIMAL(38,0)) * w1)
               div (CAST(n_a AS DECIMAL(38,0)) * n_b)""")
          .cast("long").as("emd_milli"))
  }

  val all: Seq[Q] = Seq(simplifyFlatten, denormalizePatient, graphEdges,
    graphTwohop, discoverySummary, ingestNdjson, snapshotExport, dqChecks,
    dqSkew, dqDriftKs, dqFreshness, graphPagerank, graphHits, graphLabelProp,
    graphKcore, graphShortestPath, dqReferential, dqUniqueness,
    graphJaccard, graphJaccardHot, graphDegreeDist, storePruningStats,
    storeFooterCensus,
    graphModularity,
    dqDriftPsi, dqProfileDrift, dqDriftTtest, dqBenford, dqReconciliation,
    dqDoubleCharge, dqKAnonymity, dqSequenceGaps, graphSampleNeighbors,
    dqHashCollision, dqVolumeAnomaly, dqTableChecksum, dqFdViolations,
    dqDriftEmd)
}
