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
  * Runner contract: a builder persists and checkpoints only through
  * [[QueryScope]], and never frees what it materialized: the plan is lazy.
  * The runner's scope around the query frees exactly that when it ends.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))
}
