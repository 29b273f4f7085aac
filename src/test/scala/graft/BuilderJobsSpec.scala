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
    "q_anf" -> "QueryScope.checkpointed per round in GraphMining's q_anf builder",
    "q_ann_recall_at_k" -> "QueryScope.checkpointed (three) in EmbeddingsEval's q_ann_recall_at_k builder",
    "q_bh_fdr" -> "QueryScope.checkpointed in Resampling's q_bh_fdr builder",
    "q_bloom_semi_join" -> "head of the Bloom sketch in BloomJoin.bloomOf",
    "q_bootstrap_ci" -> "QueryScope.checkpointed in Resampling's q_bootstrap_ci builder",
    "q_bradley_terry" -> "QueryScope.checkpointed per round in GraphStructure's q_bradley_terry builder",
    "q_cohens_kappa" -> "QueryScope.checkpointed in Eval's q_cohens_kappa builder",
    "q_connected_components" -> ("QueryScope.checkpointed in GraphMining's q_connected_components " +
      "builder, then TextPipeline.dedupClusters' count"),
    "q_dbscan_cells" -> "TextPipeline.dedupClusters: its count, and isEmpty per round",
    "q_decontaminate" -> "head of the eval grams' Bloom sketch in BloomJoin.bloomOf",
    "q_dedup_clusters" -> "TextPipeline.dedupClusters: its count, and isEmpty per round",
    "q_dedup_incremental" -> "the streaming runs' start in TextPipeline.incrementalDedupEdges",
    "q_jdbc_roundtrip" -> "the jdbc write in EmbeddedDb.writeTable",
    "q_kcore" -> "QueryScope.checkpointed per peel round in Graphs.kCoreCensusOn",
    "q_kcore_skew" -> "QueryScope.checkpointed per peel round in Graphs.kCoreCensusOn",
    "q_kmeans" -> "QueryScope.checkpointed per Lloyd round in Clustering.kmeans",
    "q_ks_test" -> "QueryScope.checkpointed in StatsInference's q_ks_test builder",
    "q_langid_confusion" -> "QueryScope.checkpointed in Eval's q_langid_confusion builder",
    "q_lift_gain" -> "QueryScope.checkpointed in Eval.scoreHistogram",
    "q_local_clustering" -> "QueryScope.checkpointed (five) in GraphMining's q_local_clustering builder",
    "q_markov_attribution" -> "QueryScope.checkpointed in EventJourneys.transitionMatrix and pow8",
    "q_markov_conversion" -> "QueryScope.checkpointed in EventJourneys.transitionMatrix and pow8",
    "q_pr_auc" -> "QueryScope.checkpointed in Eval.scoreHistogram",
    "q_tukey_hsd" -> "QueryScope.checkpointed in StatsInference's q_tukey_hsd builder",
    "q_wordpiece_apply" -> ("merge rounds in CorpusTokenizers.wordPieceTables: " +
      "QueryScope.checkpointed, then isEmpty"),
    "q_wordpiece_fertility" -> ("merge rounds in CorpusTokenizers.wordPieceTables: " +
      "QueryScope.checkpointed, then isEmpty"),
    "q_youden_threshold" -> "QueryScope.checkpointed in Eval.scoreHistogram")

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
      .map(q => q.name -> QueryScope(jobsOf(q.build(spark, d))))
      .filter(_._2 > 0)
    assert(launched.isEmpty, launched.map { case (q, n) => s"$q: $n jobs" }.mkString(", "))
  }
}
