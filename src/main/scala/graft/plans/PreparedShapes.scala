package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

/** The one home for prepared shapes (SURVEY.md §4, build_frame_db.py:92-99):
  * `StIntersectsExpr`'s literal and `SpatialJoin`'s broadcast side are
  * parsed, prepared and indexed here once per JVM, and probed one way.
  *
  * An entry's key is the application id plus a shape key: the WKT literal,
  * or the broadcast id (broadcast ids restart per SparkContext, so a bare
  * id could serve a previous context's shapes). An entry of a new
  * application drops the others', which can never be probed again; within
  * one, the [[MaxShapes]] most recently used stay, because a shared session
  * adds a shape per `intersect` request. Entries are built under the lock,
  * so one stage's tasks wait for the first build instead of repeating it;
  * JTS 1.20's prepared geometries build their lazy internals under a lock.
  */
private[graft] object PreparedShapes {

  /** Shapes kept per application: a catalog build's three plus a serving
    * session's recent query shapes. */
  val MaxShapes = 16

  /** An STRtree of prepared members, each under its id. */
  final class Index private[PreparedShapes] (tree: STRtree) {
    /** Ids of the members that intersect `g`: the tree rules out envelope
      * misses, the prepared geometry refines the rest. An empty member has
      * a null envelope, which the tree skips, and an empty `g` meets none. */
    def hits(g: Geometry): Iterator[Long] =
      tree.query(g.getEnvelopeInternal).asScala.iterator.collect {
        case (id: Long, p: PreparedGeometry) if p.intersects(g) => id
      }
  }

  private val cache = new java.util.LinkedHashMap[(String, Any), Index](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Any), Index]): Boolean =
      size() > MaxShapes
  }
  private val builds = new AtomicLong(0L)

  /** Indexes built in this JVM; specs pin one build per shape with it. */
  def buildCount: Long = builds.get()

  /** The application whose tasks run in this JVM. */
  def currentApp: String = Option(SparkEnv.get).fold("")(_.conf.get("spark.app.id", ""))

  /** The index of `shape` under `appId`, built from `members` on first use. */
  def index(appId: String, shape: Any, members: => Seq[(Long, Geometry)]): Index =
    cache.synchronized {
      Option(cache.get((appId, shape))).getOrElse {
        cache.keySet.removeIf(_._1 != appId)
        builds.incrementAndGet()
        val tree = new STRtree()
        members.foreach { case (id, g) =>
          tree.insert(g.getEnvelopeInternal, (id, PreparedGeometryFactory.prepare(g)))
        }
        tree.build()
        val built = new Index(tree)
        cache.put((appId, shape), built)
        built
      }
    }
}
