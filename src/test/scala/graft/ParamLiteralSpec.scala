package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import graft.plans.{ParamLiteral, ParamLiteralRule}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** ParamLiteralRule: filter literals of every primitive type leave the
  * generated code, the scan keeps its own, and results do not change. */
class ParamLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
  private val day0 = 19700

  /** Rows 0..39 with one column of each parameterizable type. */
  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-params").toString + "/t"
    spark.range(0, 40).select($"id",
        $"id".cast("int").as("i"), ($"id" * 3).as("l"), ($"id" / 4).cast("float").as("f"),
        ($"id" * 0.5).as("d"), date_from_unix_date($"id".cast("int") + day0).as("dt"),
        timestamp_seconds($"id" * 3600 + t0).as("ts"),
        timestamp_seconds($"id" * 3600 + t0).cast("timestamp_ntz").as("ntz"))
      .write.parquet(dir)
    dir
  }

  private case class Params(i: Int, l: Long, f: Float, d: Double, dt: Int, tsH: Long, ntzH: Long)

  private def query(p: Params): DataFrame = spark.read.parquet(table)
    .filter($"i" >= p.i && $"l" < p.l && $"f" > lit(p.f) && $"d" <= p.d &&
      $"dt" >= lit(LocalDate.ofEpochDay(day0 + p.dt)) &&
      $"ts" < lit(Instant.ofEpochSecond(t0 + p.tsH * 3600)) &&
      $"ntz" > lit(LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(p.ntzH)))
    .select($"id")

  private def bruteForce(p: Params): Seq[Long] = (0L until 40L).filter { id =>
    id >= p.i && 3 * id < p.l && id / 4.0f > p.f && id * 0.5 <= p.d && id >= p.dt &&
      id < p.tsH && id > p.ntzH
  }

  private val first = Params(3, 100L, 1.5f, 17.5, 5, 30L, 2L)
  private val second = Params(4, 90L, 2.0f, 12.0, 6, 28L, 3L)

  test("filter literals of every primitive type become parameters; the scan keeps its own") {
    val df = query(first)
    assert(df.as[Long].collect().sorted.toSeq == bruteForce(first))
    val plan = df.queryExecution.executedPlan
    val conditions = collect(plan) { case f: FilterExec => f.condition }
    val params = conditions.flatMap(_.collect { case p: ParamLiteral => p.dataType })
    assert(params.map(_.typeName).toSet ==
      Set("integer", "long", "float", "double", "date", "timestamp", "timestamp_ntz"), plan)
    assert(!conditions.exists(_.exists {
      case Literal(v, t) => v != null && ParamLiteral.parameterizable(t)
      case _ => false
    }), plan)
    val scanFilters = collect(plan) { case s: FileSourceScanExec => s.dataFilters }.flatten
    assert(scanFilters.exists(_.exists(_.isInstanceOf[Literal])), plan)
    assert(!scanFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])), plan)
  }

  test("a parameter prints and evaluates as its literal") {
    Seq(Literal(7), Literal(7L), Literal(1.5f), Literal(17.5), Literal(LocalDate.of(2024, 1, 6)),
        Literal(Instant.ofEpochSecond(t0)), Literal(LocalDateTime.of(2024, 1, 1, 2, 0)))
      .foreach { lit =>
        val p = ParamLiteral(lit.value, lit.dataType)
        assert(p.toString == lit.toString && p.sql == lit.sql && p.eval() == lit.eval(), lit)
      }
  }

  test("new filter values reuse the compiled classes") {
    assert(query(first).as[Long].collect().sorted.toSeq == bruteForce(first))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = query(second).as[Long].collect().sorted.toSeq
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(got == bruteForce(second) && got.nonEmpty)
    assert(compiled == 0, s"new filter values compiled $compiled classes")
  }

  test("the rule is idempotent") {
    val plan = query(first).queryExecution.sparkPlan
    val once = ParamLiteralRule(plan)
    assert(!(once fastEquals plan))
    assert(ParamLiteralRule(once) fastEquals once)
  }
}
