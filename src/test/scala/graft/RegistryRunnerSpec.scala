package graft

/** The registry runner: failures are collected, not swallowed, and every
  * query's persisted data is freed whether it finished or threw. */
class RegistryRunnerSpec extends SparkSpec {

  test("a throwing query is listed as failed, the next still runs, the cache ends empty") {
    val bad = QueryDef("q_bad", (s, _) => {
      s.range(3).persist().count()
      throw new IllegalStateException("boom")
    }, None)
    val good = QueryDef("q_good", (s, _) => {
      val df = s.range(5).toDF().persist()
      df.count()
      df
    }, None)
    val out = RegistryRunner.run(spark, Seq(bad, good), "spec")(_.build(spark, "").count())
    assert(out.failed == Seq("q_bad"))
    assert(out.results == Seq("q_good" -> 5L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("selection is by registered name, and an unknown name is rejected") {
    assert(RegistryRunner.select(Some(" q_agg_pricing ,")).map(_.name) == Seq("q_agg_pricing"))
    assert(RegistryRunner.select(None).length == SparkEntry.registry.length)
    val e = intercept[IllegalArgumentException](
      RegistryRunner.select(Some("q_agg_pricing,q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }
}
