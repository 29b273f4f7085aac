package graft

import java.lang.ref.WeakReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** [[QueryScope]] owns what a query materializes: a scope frees exactly
  * what was persisted or checkpointed inside it, on the shared session,
  * and leaves everything else (a caller's caches, an outer scope's, what
  * was materialized outside any scope) where it was. */
class QueryScopeSpec extends SparkSpec {

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cachedEntries: Int = org.apache.spark.sql.CachedEntries(spark)
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE
  private def checkpointRdd(df: DataFrame): RDD[_] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  test("a registry run frees what its queries materialized and keeps the caller's cache") {
    val caller = spark.range(0, 1000, 1, 2).selectExpr("id * 3 AS caller_v").persist()
    caller.count()
    val (rdds, entries) = (persistentRdds, cachedEntries)
    // single-shot checkpoint, checkpoint rounds, persists plus a
    // checkpointed loop, and lazy persists (Graphs.keyed)
    val queries = RegistryRunner.select(Some("q_bh_fdr,q_kcore,q_dedup_clusters,q_pagerank"))
    val out = RegistryRunner.run(spark, queries, "spec")(
      _.build(spark, sf()).write.format("noop").mode("overwrite").save())
    try {
      assert(out.failed.isEmpty)
      assert(cached(caller))
      assert(cachedEntries == entries)
      // the ContextCleaner may drop an earlier suite's leftovers meanwhile,
      // so the run may end with fewer persistent RDDs, never with more
      assert(persistentRdds.subsetOf(rdds), s"left behind: ${persistentRdds -- rdds}")
    } finally caller.unpersist(blocking = true)
  }

  test("a nested scope frees only its own, and a plan cached outside it is not its own") {
    val (outer, inner, shared) = QueryScope {
      val outer = QueryScope.persisted(spark.range(7).toDF("outer_v"))
      val (inner, shared) = QueryScope {
        val inner = QueryScope.persisted(spark.range(8).toDF("inner_v"))
        inner.count()
        (inner, QueryScope.persisted(spark.range(7).toDF("outer_v")))
      }
      assert(!cached(inner))
      assert(cached(outer) && cached(shared))
      (outer, inner, shared)
    }
    assert(!cached(outer) && !cached(inner) && !cached(shared))
  }

  test("a thread started inside a scope registers into it") {
    val before = persistentRdds
    var persisted: DataFrame = null
    var checkpoint: Int = -1
    QueryScope {
      val t = new Thread(() => {
        persisted = QueryScope.persisted(spark.range(9).toDF("thread_v"))
        checkpoint = checkpointRdd(QueryScope.checkpointed(spark.range(10).toDF("thread_c"))).id
      })
      t.start()
      t.join()
      assert(cached(persisted) && persistentRdds.contains(checkpoint))
    }
    assert(!cached(persisted))
    assert(!persistentRdds.contains(checkpoint))
    assert(persistentRdds.subsetOf(before))
  }

  test("outside a scope nothing is recorded, so no scope frees it") {
    val df = QueryScope.persisted(spark.range(11).toDF("outside_v"))
    val cp = QueryScope.checkpointed(spark.range(12).toDF("outside_c"))
    val rdd = checkpointRdd(cp)
    try {
      QueryScope(spark.range(3).count())
      assert(cached(df))
      assert(persistentRdds.contains(rdd.id))
      assert(cp.count() == 12)
    } finally {
      df.unpersist(blocking = true)
      rdd.unpersist(blocking = true)
    }
  }

  test("a scope frees its checkpoints and holds superseded rounds weakly") {
    val (first, last) = QueryScope {
      var state = QueryScope.checkpointed(spark.range(5).toDF("v"))
      val first = new WeakReference[RDD[_]](checkpointRdd(state))
      (1 to 3).foreach(_ => state = QueryScope.checkpointed(state.selectExpr("v + 1 AS v")))
      // with every reference to round 0 gone, only a weak one is left
      var tries = 0
      while (first.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
      assert(first.get == null, "the scope pins a superseded checkpoint")
      assert(state.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 25L)
      (first, checkpointRdd(state).id)
    }
    assert(first.get == null)
    assert(!persistentRdds.contains(last))
  }
}
