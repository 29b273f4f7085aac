package graft

import graft.functions.GeoFunctions
import graft.plans.PreparedShapes
import org.scalatest.funsuite.AnyFunSuite

/** The key policy of the per-JVM shape cache, driven directly: no session
  * is started or stopped. */
class PreparedShapesSpec extends AnyFunSuite {

  private def square(x: Int) = s"POLYGON (($x 0, ${x + 1} 0, ${x + 1} 1, $x 1, $x 0))"

  /** Index `wkt` under `app`; the number of builds it took (0 or 1). */
  private def builds(app: String, wkt: String): Long = {
    val before = PreparedShapes.buildCount
    PreparedShapes.index(app, wkt, Seq(0L -> GeoFunctions.parseWkt(wkt)))
    PreparedShapes.buildCount - before
  }

  test("a new application drops the other applications' entries") {
    val shape = square(1000)
    assert(builds("spec-app-a", shape) == 1)
    assert(builds("spec-app-a", shape) == 0)
    assert(builds("spec-app-b", shape) == 1)
    // app b's entry dropped app a's, so a's shape is built again
    assert(builds("spec-app-a", shape) == 1)
  }

  test("one shape past the bound evicts the least recently used entry") {
    val app = "spec-app-lru"
    val shapes = (0 to PreparedShapes.MaxShapes).map(square)
    shapes.init.foreach(s => assert(builds(app, s) == 1))
    assert(builds(app, shapes.head) == 0) // touch the oldest: now most recent
    assert(builds(app, shapes.last) == 1) // one past the bound: evicts shapes(1)
    assert(builds(app, shapes.head) == 0)
    assert(builds(app, shapes(2)) == 0)
    assert(builds(app, shapes(1)) == 1)
  }

  test("the probe returns the ids of the members a geometry intersects") {
    val members = Seq(1L -> square(0), 2L -> square(5), 3L -> "POLYGON EMPTY")
    val index = PreparedShapes.index("spec-app-probe", "members",
      members.map { case (id, wkt) => id -> GeoFunctions.parseWkt(wkt) })
    def hits(wkt: String) = index.hits(GeoFunctions.parseWkt(wkt)).toSet
    assert(hits("POINT (0.5 0.5)") == Set(1L))
    assert(hits("LINESTRING (0.5 0.5, 5.5 0.5)") == Set(1L, 2L))
    assert(hits("POINT (3 0.5)").isEmpty)
    assert(hits("POINT EMPTY").isEmpty)
  }
}
