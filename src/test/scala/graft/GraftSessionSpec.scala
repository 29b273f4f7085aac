package graft

import graft.plans.{BboxPrefilterRule, ParamLiteralColumnarRule}

/** GraftSession is the one source of session config: the spec session is
  * built from it, and `attach` can be applied to a live session safely. */
class GraftSessionSpec extends SparkSpec {

  test("the spec session carries every conf of the engine block") {
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k on the spec session")
    }
  }

  test("a session built from the conf carries the literal-parameter rule") {
    val rules = spark.sessionState.columnarRules
    assert(rules.count(_ == ParamLiteralColumnarRule) == 1, rules)
  }

  test("attach is idempotent") {
    val s = GraftSession.attach(GraftSession.attach(spark.newSession()))
    assert(s.experimental.extraOptimizations.count(_ == BboxPrefilterRule) == 1)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
