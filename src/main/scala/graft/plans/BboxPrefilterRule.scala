package graft.plans

import graft.functions.GeoFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule automating the reference's hand-written two-stage spatial
  * plan (query_frame_db.py:85-121: "R-tree probe CTE + exact refine",
  * SURVEY.md §4): a `Filter(st_intersects(geom, <literal wkt>))` over a
  * relation that carries the geometry's degree bbox columns
  * (`bb_xmin`,`bb_ymin`,`bb_xmax`,`bb_ymax`, as `Main create` writes them)
  * is rewritten to
  *
  *   Filter(bb_xmin <= q.xmax && bb_xmax >= q.xmin && bb_ymin <= q.ymax &&
  *          bb_ymax >= q.ymin && st_intersects(geom, wkt))
  *
  * The rule does not key on `xmin..ymax`: on the catalog's frames those are
  * the UTM-snapped bbox in metres, not the WKT's degrees.
  *
  * The added conjuncts are plain comparisons on top-level numeric columns,
  * which Catalyst then pushes into the parquet scan → row-group min/max
  * data skipping does the coarse stage for free; the expensive JTS
  * predicate only sees surviving rows.
  *
  * The rule matches only a Filter whose condition IS the bare
  * st_intersects (the rewritten condition is an And → fixpoint-safe).
  */
object BboxPrefilterRule extends Rule[LogicalPlan] {

  private val cols = Seq("bb_xmin", "bb_ymin", "bb_xmax", "bb_ymax")

  private def bboxAttrs(plan: LogicalPlan): Option[Map[String, Attribute]] = {
    val byName = plan.output.groupBy(_.name.toLowerCase)
    val found = cols.flatMap { c =>
      byName.getOrElse(c, Nil).find(a =>
        a.dataType == IntegerType || a.dataType == LongType || a.dataType == DoubleType)
        .map(c -> _)
    }.toMap
    if (found.size == 4) Some(found) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(si @ StIntersectsExpr(_, Literal(wkt: UTF8String, StringType)), child) =>
      bboxAttrs(child) match {
        case Some(a) =>
          val env = GeoFunctions.parseWkt(wkt.toString).getEnvelopeInternal
          // literals matching each attribute's type — an implicit-cast
          // comparison would leave the optimized plan unresolved, and a
          // cast on the attribute side would defeat parquet pushdown
          def litAs(v: Double, attr: Attribute): Expression = attr.dataType match {
            case LongType => Literal(v.toLong)
            case IntegerType => Literal(v.toInt)
            case _ => Literal(v)
          }
          def ceilAs(v: Double, attr: Attribute): Expression = attr.dataType match {
            case LongType => Literal(math.ceil(v).toLong)
            case IntegerType => Literal(math.ceil(v).toInt)
            case _ => Literal(v)
          }
          val pre = And(
            And(LessThanOrEqual(a("bb_xmin"), ceilAs(env.getMaxX, a("bb_xmin"))),
              GreaterThanOrEqual(a("bb_xmax"), litAs(math.floor(env.getMinX), a("bb_xmax")))),
            And(LessThanOrEqual(a("bb_ymin"), ceilAs(env.getMaxY, a("bb_ymin"))),
              GreaterThanOrEqual(a("bb_ymax"), litAs(math.floor(env.getMinY), a("bb_ymax")))))
          Filter(And(pre, si), child)
        case None => f
      }
  }
}

/** Session wiring. Two paths:
  *   - config: `spark.sql.extensions=graft.plans.GraftExtensions`, which
  *     GraftSession's conf block sets on every session it builds;
  *   - runtime: `GraftExtensions.register(spark)` on a live session, which
  *     cannot gain the columnar [[ParamLiteralRule]] (see
  *     `GraftSession.attach`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BboxPrefilterRule)
    e.injectFunction(GraftExtensions.stIntersectsDescriptor)
    e.injectColumnar(_ => ParamLiteralColumnarRule)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[plans] val stIntersectsDescriptor = (
    FunctionIdentifier("st_intersects"),
    new ExpressionInfo(classOf[StIntersectsExpr].getName, "st_intersects"),
    (exprs: Seq[Expression]) => StIntersectsExpr(exprs(0), exprs(1)))

  /** Register on an already-created session (function + optimizer rule). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_intersects", exprs => StIntersectsExpr(exprs(0), exprs(1)), "built-in")
    if (!spark.experimental.extraOptimizations.contains(BboxPrefilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BboxPrefilterRule
  }
}
