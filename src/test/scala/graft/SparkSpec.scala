package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs that `body` launches: a listener counts the job starts tagged
    * with a job group set around the call (broadcast jobs inherit it), and
    * the listener bus is drained before the count is read. */
  def jobsOf(body: => Unit): Int = jobExecutions(body).size

  /** The root SQL execution id of each job that `body` launches (the jobs
    * [[jobsOf]] counts), in job-id order. */
  def jobExecutions(body: => Unit): Seq[Option[Long]] = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentHashMap[Int, Option[Long]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.put(e.jobId, Option(e.properties.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(e.properties.getProperty("spark.sql.execution.id"))).map(_.toLong))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.sortBy(_._1).map(_._2)
  }
}

object SparkSpec {
  /** The engine's own session on four cores: specs test what ships. */
  lazy val session: SparkSession = {
    val s = GraftSession.localBuilder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
