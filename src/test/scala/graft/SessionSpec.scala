package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** graft.Session's fail-fast check: a session that resolves every graft
  * function passes; one missing a single function is refused by name.
  */
class SessionSpec extends SparkTestBase {

  test("the shared session resolves every graft function") {
    assert(Session.requireExtensions(spark) eq spark)
    Session.graftFunctions.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("a session missing one graft function fails fast, naming it") {
    val other = spark.newSession()
    other.sessionState.functionRegistry.dropFunction(FunctionIdentifier("gram_matrix"))
    val e = intercept[IllegalStateException](Session.requireExtensions(other))
    assert(e.getMessage.contains("gram_matrix"), e.getMessage)
    assert(!e.getMessage.contains("cosine_sim"), e.getMessage)
    assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"))
    // the registry drop is local to the new session
    assert(Session.requireExtensions(spark) eq spark)
    assert(spark.catalog.functionExists("gram_matrix"))
  }
}
