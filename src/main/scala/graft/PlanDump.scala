package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool (optimization rounds): dump `.explain("formatted")` for
  * registered queries to `<outDir>/<name>.txt` without executing them.
  * Args: <outDir> [q_a,q_b,...] — no list means every registered query.
  * The session is the registry runner's, so the dumped plans are the
  * benched plans. Exits 1, after dumping the rest, when any plan failed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val queries = RegistryRunner.select(args.lift(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = RegistryRunner.session()
    Files.createDirectories(Paths.get(outDir))
    val failed = RegistryRunner.run(spark, queries, "plandump") { q =>
      Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), q.build(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
    }.failed
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
