package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one harness behind the registry mains (Bench, Verify, PlanDump):
  * the engine session, query selection by name, and per-query cache
  * isolation with failures collected instead of swallowed.
  */
object RegistryRunner {

  /** Each finished query's result, in order, and the names that threw. */
  final case class Outcome[A](results: Seq[(String, A)], failed: Seq[String])

  /** Cores for the local session: SPARK_GRAFT_CPUS, else all of them. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)

  def session(): SparkSession = {
    val spark = GraftSession.localBuilder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The six global windows in source are all over provably tiny
    // post-aggregation frames (gated by PlanAuditSpec); WindowExec's
    // "No Partition Defined" warning would flood the log hundreds of
    // times and bury real warnings.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** Registered queries sorted by name, restricted to the comma list
    * `only` when given. A name that is not registered is an error: a typo
    * would otherwise run nothing and report an empty, clean sweep. */
  def select(only: Option[String]): Seq[QueryDef] = {
    val all = SparkEntry.registry.sortBy(_.name)
    only.fold(all) { list =>
      val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- all.map(_.name)
      require(unknown.isEmpty, s"unregistered queries: ${unknown.toSeq.sorted.mkString(",")}")
      all.filter(q => names(q.name))
    }
  }

  /** Run `f`, then drop the session's cached blocks whether or not it
    * threw (see QueryDef's runner contract). */
  def isolated[A](spark: SparkSession)(f: => A): A =
    try f finally spark.catalog.clearCache()

  /** `body` on each query in turn, isolated. A query that throws is logged
    * under `tag` and listed in `failed`; the sweep goes on. */
  def run[A](spark: SparkSession, queries: Seq[QueryDef], tag: String)(body: QueryDef => A): Outcome[A] = {
    val (ok, failed) = queries.partitionMap { q =>
      try Left(q.name -> isolated(spark)(body(q)))
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${q.name} failed: ${e.getMessage}")
        Right(q.name)
      }
    }
    Outcome(ok, failed)
  }
}
