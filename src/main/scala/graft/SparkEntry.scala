package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's query surface (SURVEY.md §7): `registry` concatenates
  * the `queries` of 38 modules, each entry a [[QueryDef]] carrying its
  * Spark builder and, when the semantics are SQL-expressible, its DuckDB
  * oracle SQL. The modules live in four packages:
  *   - `operators` — relational, window, as-of/range/Bloom join, layout,
  *     ingest, analytics, commerce, geo, event, quality, CDC and
  *     statistics operators;
  *   - `domain` — the burst_db pipeline: catalog, burst ingest, consistent
  *     bursts and blackout windows;
  *   - `pipeline` — text, embedding, packing, corpus, tokenizer, lexical,
  *     clustering, multimodal, sketch, graph and evaluation operators;
  *   - `sources` — the embedded-database source.
  * `queries` and `oracleSql` are the name-keyed views that Verify, Bench
  * and PlanDump read; `entry` is the flagship smoke query.
  */
object SparkEntry {

  def registry: Seq[QueryDef] =
    operators.Relational.queries ++
      operators.Windows.queries ++
      operators.AsOfJoin.queries ++
      operators.RangeJoin.queries ++
      operators.Layout.queries ++
      operators.Ingest.queries ++
      operators.Analytics.queries ++
      operators.Commerce.queries ++
      operators.Geo.queries ++
      operators.BloomJoin.queries ++
      operators.EventAnalytics.queries ++
      operators.EventJourneys.queries ++
      operators.Quality.queries ++
      operators.Cdc.queries ++
      operators.Stats.queries ++
      operators.StatsInference.queries ++
      operators.Resampling.queries ++
      operators.StatsTimeSeries.queries ++
      domain.Catalog.queries ++
      domain.BurstIngest.queries ++
      domain.ConsistentBursts.queries ++
      domain.Blackout.queries ++
      pipeline.TextPipeline.queries ++
      pipeline.TextAnalysis.queries ++
      pipeline.Embeddings.queries ++
      pipeline.EmbeddingsEval.queries ++
      pipeline.Packing.queries ++
      pipeline.Corpus.queries ++
      pipeline.CorpusTokenizers.queries ++
      pipeline.Lexical.queries ++
      pipeline.Clustering.queries ++
      pipeline.Multimodal.queries ++
      pipeline.Sketches.queries ++
      pipeline.Graphs.queries ++
      pipeline.GraphStructure.queries ++
      pipeline.GraphMining.queries ++
      pipeline.Eval.queries ++
      sources.EmbeddedDb.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The canonical 3-way dim join + aggregation (README.md:146-151 shape). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.region(spark, d)
      .join(broadcast(Tables.nation(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(spark, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case QueryDef(n, _, Some(o)) => n -> o }.toMap
}
