package graft

import graft.operators.PlanDump

/** Plan-regression gate over the whole catalog: every query's live plan
  * shape (built by the same [[PlanDump.shape]] that writes the file) must
  * equal its line in `plans/shape.json`. An intended plan change
  * regenerates the file in the same change, so it shows in review. The
  * same pass checks that no unpartitioned window sorts unbounded input.
  */
class PlanShapeSpec extends SparkSpec {

  /** Query name → its live shape and its unbounded unpartitioned windows. */
  private lazy val live = SparkEntry.catalog.map { q =>
    val plan = PlanDump.plan(spark, sf0001)(q)
    q.name -> (PlanDump.shape(plan), PlanDump.unboundedWindows(plan).size)
  }.toMap

  test("every catalog query's plan shape matches plans/shape.json") {
    val recorded = PlanDump.recorded()
    val diffs = (recorded.keySet ++ live.keySet).toSeq.sorted.flatMap { n =>
      (recorded.get(n), live.get(n).map(_._1)) match {
        case (None, _) => Seq(s"$n: not recorded")
        case (_, None) => Seq(s"$n: recorded but not in the catalog")
        case (Some(r), Some(l)) =>
          PlanDump.Fields.filter(f => r(f) != l(f))
            .map(f => s"$n: $f recorded ${r(f)}, planned ${l(f)}")
      }
    }
    if (diffs.nonEmpty)
      fail(s"plan shapes differ from ${PlanDump.File}:\n${diffs.mkString("\n")}\n" +
        s"if intended, regenerate with `${PlanDump.Regenerate}`")
  }

  /** Unpartitioned windows bounded by what the plan does not show:
    * `vector_ivf_probe_sweep` ranks the trained index's 16 centroids (a
    * driver-side local relation) against its one query vector. */
  private val boundedOutsidePlan = Map("vector_ivf_probe_sweep" -> 1)

  test("every unpartitioned window has an aggregate or a limit beneath it") {
    // one task sorts all of such a window's input: it must be a per-group
    // aggregate's output or a top-k, never raw rows
    assert(live.values.exists(_._1("window.unpartitioned") > 0))
    val unbounded = live.collect { case (n, (_, k)) if k > 0 => n -> k }
    assert(unbounded === boundedOutsidePlan)
  }
}
