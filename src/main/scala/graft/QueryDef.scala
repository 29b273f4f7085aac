package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine capability: a Spark query builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (both sides must follow it so the driver's
  * column-sorted value hash matches):
  *   - every query ends in a total ORDER BY (ties broken by a key column);
  *   - no raw double aggregation: doubles are floor-quantized to bigints
  *     (`floor(x * 10^k)`) before SUM so accumulation order cannot matter;
  *   - integer-valued derived columns are cast to BIGINT on both sides;
  *   - no non-deterministic FIRST/collect order — window row_number with a
  *     full tie-break instead (SURVEY.md §7.5 risk 5).
  *
  * Runner contract: a built plan may `persist()` intermediates that feed
  * several downstream branches (e.g. q_dedup_embedding's equality-class
  * reps). The plan is lazy, so the query function cannot unpersist them
  * itself. [[RegistryRunner]] is the one place that runs registry queries
  * and the one place that calls `spark.catalog.clearCache()` after each.
  * That frees what a query `persist()`ed, but not a `localCheckpoint`:
  * a checkpointed RDD is not in the CacheManager and keeps its blocks
  * until a GC lets the ContextCleaner drop it. A spark-shell probe
  * (local[4], sf0.01) still saw 2–9 checkpointed RDDs registered after
  * `clearCache()` while the 10 single-shot eager builders ran. Freeing
  * them needs a per-query scope (ROADMAP items 3 and 7).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))
}
