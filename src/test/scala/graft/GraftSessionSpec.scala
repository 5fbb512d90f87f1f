package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The front-door contract: a [[GraftSession]] session runs the engine's
  * SQL functions and queries without further setup — including when a
  * session already exists in the JVM (the post-hoc registration path).
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.local: native SQL functions resolve, queries run") {
    // The shared session carries the extension from its build; dropping
    // a function leaves an existing session without it, which is what
    // adoption must repair by registering post-hoc.
    val cosine = FunctionIdentifier("cosine_sim")
    assert(spark.sessionState.functionRegistry.dropFunction(cosine))
    assert(!spark.sessionState.functionRegistry.functionExists(cosine))
    val s = GraftSession.local(2)
    assert(s eq spark, "an existing session is adopted, not replaced")
    val one = s.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .first().getDouble(0)
    assert(one === 1.0)
    // a catalog query runs end-to-end on the session
    assert(SparkEntry.queries("count_by_project")(s, sf0001).count() > 0)
  }

  test("utcParityHolds tracks the adopted session's timezone") {
    val s = GraftSession.local(2)
    val orig = s.conf.get("spark.sql.session.timeZone", "")
    assert(orig === "UTC", "test session is configured UTC")
    assert(GraftSession.utcParityHolds(s))
    try {
      s.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(!GraftSession.utcParityHolds(s),
        "non-UTC adopted session must be detectable")
    } finally s.conf.set("spark.sql.session.timeZone", orig)
  }
}
