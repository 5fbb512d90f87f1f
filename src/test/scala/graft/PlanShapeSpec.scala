package graft

import graft.operators.PlanDump

/** Plan-regression gate over the whole catalog: every query's live plan
  * shape (built by the same [[PlanDump.shape]] that writes the file) must
  * equal its line in `plans/shape.json`. An intended plan change
  * regenerates the file in the same change, so it shows in review.
  */
class PlanShapeSpec extends SparkSpec {

  test("every catalog query's plan shape matches plans/shape.json") {
    val recorded = PlanDump.recorded()
    val live = SparkEntry.catalog
      .map(q => q.name -> PlanDump.shape(spark, sf0001)(q)).toMap
    val diffs = (recorded.keySet ++ live.keySet).toSeq.sorted.flatMap { n =>
      (recorded.get(n), live.get(n)) match {
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
}
