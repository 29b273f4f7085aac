package graft.plans

import graft.functions.GeoFunctions
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.GeometryCollection

/** Native Catalyst expression for the exact-refine spatial predicate
  * (SURVEY.md §4 "custom Catalyst work actually warranted").
  *
  * Beats the equivalent Scala UDF in two ways a UDF cannot:
  *   - a literal right side (the usual case: `ST_Intersects(geom,
  *     lit(queryWkt))`) is prepared and indexed once per JVM by
  *     [[PreparedShapes]]: envelope test first, cached edge index, ~10×
  *     faster repeated intersects. A `GEOMETRYCOLLECTION` literal is
  *     indexed member by member (JTS would prepare it without an index)
  *     and matches when any member intersects, as JTS reads a collection;
  *   - no ScalaUDF boxing/closure dispatch per row.
  *
  * Evaluation is CodegenFallback (topology can't be inlined into janino
  * anyway), so the filter or projection holding it runs outside
  * whole-stage codegen.
  */
case class StIntersectsExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_intersects"

  /** The literal's shape index, looked up once per deserialized copy. */
  @transient private lazy val rightIndex: Option[PreparedShapes.Index] = right match {
    case Literal(s: UTF8String, StringType) =>
      Some(PreparedShapes.index(PreparedShapes.currentApp, s, {
        val g = GeoFunctions.parseWkt(s.toString)
        val members =
          if (g.getClass == classOf[GeometryCollection]) (0 until g.getNumGeometries).map(g.getGeometryN)
          else Seq(g)
        members.map(0L -> _)
      }))
    case _ => None
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val g = GeoFunctions.parseWkt(l.toString)
    rightIndex match {
      case Some(index) => index.hits(g).hasNext
      case None => g.intersects(GeoFunctions.parseWkt(r.toString))
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object SpatialExpressions {
  import org.apache.spark.sql.{Column, GraftShim}
  import org.apache.spark.sql.functions.lit

  /** Column API for the native expression. */
  def stIntersectsNative(geom: Column, other: Column): Column =
    GraftShim.column(StIntersectsExpr(
      GraftShim.expression(geom), GraftShim.expression(other)))

  def stIntersectsNative(geom: Column, wkt: String): Column =
    stIntersectsNative(geom, lit(wkt))
}
