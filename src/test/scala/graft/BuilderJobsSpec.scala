package graft

/** Building a registered query plans it and launches no Spark job: the
  * work runs when the caller executes the plan. Every parquet read takes
  * its schema from one footer on the driver ([[Tables.read]]), so a plain
  * builder launches nothing. The builders in [[eager]] still run work
  * while building, each named with the eager call that launches its
  * first job; they are not built here (together about 130 s at sf0.001).
  */
class BuilderJobsSpec extends SparkSpec {

  private val eager: Map[String, String] = Map(
    "q_anf" -> "localCheckpoint per round at GraphMining.scala:331",
    "q_ann_recall_at_k" -> "localCheckpoint at EmbeddingsEval.scala:404",
    "q_bh_fdr" -> "localCheckpoint at Resampling.scala:241",
    "q_bloom_semi_join" -> "head of the Bloom sketch at BloomJoin.scala:35",
    "q_bootstrap_ci" -> "localCheckpoint at Resampling.scala:326",
    "q_bradley_terry" -> "localCheckpoint per round at GraphStructure.scala:395",
    "q_cohens_kappa" -> "localCheckpoint at Eval.scala:226",
    "q_connected_components" -> "localCheckpoint at GraphMining.scala:219, label propagation's count at TextPipeline.scala:285",
    "q_dbscan_cells" -> "label propagation: count at TextPipeline.scala:285, isEmpty at :358",
    "q_decontaminate" -> "head of the eval grams' Bloom sketch at BloomJoin.scala:35",
    "q_dedup_clusters" -> "label propagation: count at TextPipeline.scala:285, isEmpty at :358",
    "q_dedup_incremental" -> "the streaming runs' start at TextPipeline.scala:537",
    "q_jdbc_roundtrip" -> "the jdbc write at EmbeddedDb.scala:52",
    "q_kcore" -> "localCheckpoint per peel round at Graphs.scala:452",
    "q_kcore_skew" -> "localCheckpoint per peel round at Graphs.scala:452",
    "q_kmeans" -> "localCheckpoint per Lloyd round at Clustering.scala:75",
    "q_ks_test" -> "localCheckpoint at StatsInference.scala:505",
    "q_langid_confusion" -> "localCheckpoint at Eval.scala:160",
    "q_lift_gain" -> "localCheckpoint at Eval.scala:333",
    "q_local_clustering" -> "localCheckpoint at GraphMining.scala:145 (five in all)",
    "q_markov_attribution" -> "localCheckpoint at EventJourneys.scala:693",
    "q_markov_conversion" -> "localCheckpoint per step at EventJourneys.scala:581",
    "q_pr_auc" -> "localCheckpoint at Eval.scala:441",
    "q_tukey_hsd" -> "localCheckpoint at StatsInference.scala:382",
    "q_wordpiece_apply" -> "merge rounds: localCheckpoint at CorpusTokenizers.scala:147, isEmpty at :151",
    "q_wordpiece_fertility" -> "merge rounds: localCheckpoint at CorpusTokenizers.scala:147, isEmpty at :151",
    "q_youden_threshold" -> "localCheckpoint at Eval.scala:391")

  test("every builder exempted as eager is registered") {
    val unknown = eager.keySet -- SparkEntry.registry.map(_.name)
    assert(unknown.isEmpty, s"unregistered: ${unknown.toSeq.sorted.mkString(",")}")
  }

  test("every other registered builder launches no job") {
    val d = sf()
    // the run-scoped shared shingle tables are written once per session,
    // outside any query, as Bench's warm-up does
    pipeline.TextPipeline.minhashSignatures(spark, d)
    val launched = SparkEntry.registry.filterNot(q => eager.contains(q.name)).sortBy(_.name)
      .map(q => q.name -> RegistryRunner.isolated(spark)(jobsOf(q.build(spark, d))))
      .filter(_._2 > 0)
    assert(launched.isEmpty, launched.map { case (q, n) => s"$q: $n jobs" }.mkString(", "))
  }
}
