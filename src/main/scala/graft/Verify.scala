package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare. Exits 1, after writing
  * everything else, when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_VERIFY_ONLY=q_a,q_b → dump just those queries (dev loop;
    // the driver never sets it, so the contract is unchanged)
    val queries = RegistryRunner.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    // Verify-specific note — keep the default INT96 timestamp output:
    // DuckDB reads INT96 as a NAIVE timestamp (matching oracle literals),
    // whereas INT64 micros carry isAdjustedToUTC=true and come back as
    // timestamptz (+00:00) — which would break every timestamp compare.
    // The one INT96 trap (pyarrow converts to ns, wrapping far-future
    // values) is handled by keeping all emitted timestamps inside the ns
    // range.
    val spark = RegistryRunner.session()
    new java.io.File(outDir).mkdirs()
    val failed = RegistryRunner.run(spark, queries, "verify") { q =>
      q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }.failed
    // a JSON encoder escapes ALL control chars: a tab or CR in builder-authored
    // SQL would otherwise break json.load of this file and zero correctness.
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
