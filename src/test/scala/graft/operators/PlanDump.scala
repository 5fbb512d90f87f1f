package graft.operators

import graft.{Q, SparkEntry, SparkSpec}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
  GlobalLimitExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import scala.jdk.CollectionConverters._

/** The plan-shape record, `plans/shape.json`: one line per catalog query
  * (sorted by name) with the counts of the operators that decide cost at
  * scale in its pre-execution physical plan — exchanges by partitioning,
  * joins by strategy, file scans (and those with pushed filters), sorts,
  * windows (and those with no partition key), top-k, generators and
  * aggregates by kind. Partition counts stay out, so the record does not
  * depend on the core count.
  *
  * `sbt "Test/runMain graft.operators.PlanDump"` rewrites the file;
  * `PlanShapeSpec` rebuilds every plan through the same [[shape]] and fails
  * on any field that differs, so a plan change shows up in review as a
  * change to this file. Eager queries are recorded too: building them runs
  * their training jobs.
  */
object PlanDump {
  type Shape = Map[String, Int]

  val File: Path = Paths.get("plans", "shape.json")
  val Regenerate = "sbt \"Test/runMain graft.operators.PlanDump\""

  /** Record fields in line order; a zero count is left out of the line. */
  val Fields: Seq[String] = Seq(
    "exchange.hash", "exchange.range", "exchange.single",
    "exchange.round_robin", "exchange.broadcast",
    "join.broadcast_hash", "join.sort_merge", "join.shuffled_hash",
    "join.broadcast_nested_loop", "join.cartesian",
    "scan.file", "scan.pushed_filters",
    "sort", "window", "window.unpartitioned", "window_group_limit",
    "take_ordered", "generate",
    "agg.hash", "agg.object_hash", "agg.sort")

  /** The pre-execution physical plan of `q` built on a clean cache: a
    * `cache()` another query left behind would otherwise substitute an
    * InMemoryRelation into it. */
  def plan(spark: SparkSession, sfDir: String)(q: Q): SparkPlan = {
    spark.catalog.clearCache()
    q.fn(spark, sfDir).queryExecution.executedPlan
  }

  /** The shape of a plan; absent fields read 0. */
  def shape(plan: SparkPlan): Shape =
    operators(plan).flatMap(fields).groupMapReduce(identity)(_ => 1)(_ + _)
      .withDefaultValue(0)

  /** The unpartitioned windows of a plan with neither an aggregate nor a
    * limit beneath them. Such a window sorts its whole input in one task,
    * so that input must be bounded by something other than the data. */
  def unboundedWindows(plan: SparkPlan): Seq[WindowExec] =
    operators(plan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.children.flatMap(operators(_)).exists(bounds) => w
    }

  private def bounds(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec | _: GlobalLimitExec |
         _: TakeOrderedAndProjectExec => true
    case _ => false
  }

  /** Every operator of the plan before it runs or, with `executed`, as it
    * ran. AQE nodes are leaves to `collect`, so they are entered through
    * their initial plan, or their final plan and its query stages; subquery
    * plans are walked, and a cached relation's plan counts once. */
  def operators(root: SparkPlan, executed: Boolean = false): Seq[SparkPlan] = {
    val cached = new java.util.IdentityHashMap[AnyRef, Unit]()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec =>
        walk(if (executed) a.executedPlan else a.initialPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        val builder = m.relation.cacheBuilder
        if (cached.containsKey(builder)) Nil
        else { cached.put(builder, ()); walk(builder.cachedPlan) }
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(root)
  }

  private def fields(p: SparkPlan): Seq[String] = p match {
    case e: ShuffleExchangeExec => Seq(e.outputPartitioning match {
      case _: HashPartitioning => "exchange.hash"
      case _: RangePartitioning => "exchange.range"
      case SinglePartition => "exchange.single"
      case _: RoundRobinPartitioning => "exchange.round_robin"
      case other => sys.error(s"no shape field for partitioning $other")
    })
    case _: BroadcastExchangeExec => Seq("exchange.broadcast")
    case _: BroadcastHashJoinExec => Seq("join.broadcast_hash")
    case _: SortMergeJoinExec => Seq("join.sort_merge")
    case _: ShuffledHashJoinExec => Seq("join.shuffled_hash")
    case _: BroadcastNestedLoopJoinExec => Seq("join.broadcast_nested_loop")
    case _: CartesianProductExec => Seq("join.cartesian")
    case s: FileSourceScanExec =>
      if (s.metadata.get("PushedFilters").exists(_ != "[]"))
        Seq("scan.file", "scan.pushed_filters")
      else Seq("scan.file")
    case _: SortExec => Seq("sort")
    case w: WindowExec =>
      if (w.partitionSpec.isEmpty) Seq("window", "window.unpartitioned")
      else Seq("window")
    case _: WindowGroupLimitExec => Seq("window_group_limit")
    case _: TakeOrderedAndProjectExec => Seq("take_ordered")
    case _: GenerateExec => Seq("generate")
    case _: HashAggregateExec => Seq("agg.hash")
    case _: ObjectHashAggregateExec => Seq("agg.object_hash")
    case _: SortAggregateExec => Seq("agg.sort")
    case _ => Nil
  }

  def line(query: String, s: Shape): String =
    (s"""{"query":"$query"""" +: Fields.filter(s.contains)
      .map(f => s""""$f":${s(f)}""")).mkString("", ",", "}")

  private val Field = "\"([a-z_.]+)\":(\\d+)".r
  private val Query = "\\{\"query\":\"([a-z0-9_]+)\"".r.unanchored

  /** Query name → recorded shape; absent fields read 0. */
  def recorded(): Map[String, Shape] =
    Files.readAllLines(File, UTF_8).asScala.map { l =>
      val Query(name) = l: @unchecked
      name -> Field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toInt)
        .toMap.withDefaultValue(0)
    }.toMap

  def main(args: Array[String]): Unit = {
    // the test suite's session and fixture, so the file holds exactly what
    // PlanShapeSpec rebuilds
    val fixture = new SparkSpec {}
    val lines = SparkEntry.catalog.sortBy(_.name).map { q =>
      line(q.name, shape(plan(fixture.spark, fixture.sf0001)(q)))
    }
    Files.writeString(File, lines.mkString("", "\n", "\n"), UTF_8)
    println(s"[plandump] $File: ${lines.size} queries")
    fixture.spark.stop()
  }
}
