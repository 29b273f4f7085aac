package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

/** Broadcast STRtree spatial join (SURVEY.md J7/J10/J11: the reference's
  * in-memory STRtree joins — bursts×land, bursts×NA, points-in-polygons —
  * build_frame_db.py:92-99, snow-analysis/get_volcano_frames.py:29-33).
  *
  * The small polygon side (a few MB of WKB) is shipped as a broadcast and
  * indexed ONCE PER EXECUTOR (JVM-level cache keyed by broadcast id — JTS
  * trees don't serialize, and rebuilding per task would repeat the index
  * build 10⁵–10⁶ times at 100 TB task counts). The big side streams through
  * `mapPartitions`, probing the tree by envelope and refining with prepared
  * geometries. One pass, no shuffle of the big side — the J7 pattern that
  * scales to 100 TB because the only data movement is the broadcast.
  *
  * Thread safety: the tree is built and `build()`-finalized inside
  * `computeIfAbsent` (safe publication); JTS 1.20 `PreparedGeometry` lazy
  * internals are synchronized, so concurrent probe threads are safe.
  */
object SpatialJoin {

  /** Per-JVM index cache: one STRtree build per executor per broadcast.
    *
    * Keyed by (applicationId, broadcast id), NOT broadcast id alone:
    * broadcast ids restart at 0 per SparkContext, so after a stop/start in
    * the same JVM (tests, notebooks) a bare-id key could silently serve a
    * previous context's polygons. Inserting under a new application also
    * evicts every entry from other applications — they can never be probed
    * again, so a long-lived JVM doesn't accumulate dead trees. */
  private object TreeCache {
    private val cache = new ConcurrentHashMap[(String, Long), STRtree]()
    /** number of tree builds in this JVM (spec observability hook) */
    val builds = new AtomicLong(0L)
    def get(appId: String, bcId: Long, wkbs: Seq[(Long, Array[Byte])]): STRtree = {
      cache.keySet.forEach(k => if (k._1 != appId) cache.remove(k))
      cache.computeIfAbsent((appId, bcId), _ => {
        builds.incrementAndGet()
        val reader = new org.locationtech.jts.io.WKBReader()
        val tree = new STRtree()
        wkbs.foreach { case (id, wkb) =>
          val g = reader.read(wkb)
          tree.insert(g.getEnvelopeInternal, (id, PreparedGeometryFactory.prepare(g)))
        }
        tree.build()
        tree
      })
    }
  }

  /** How many STRtree builds this JVM has performed; SourcesSpec reads it
    * to pin one build per executor, however many tasks probe the index. */
  private[graft] def treeBuildCount: Long = TreeCache.builds.get()

  /** big(id: long, wkt: string) ⨝ small Seq[(polyId, wkt)] →
    * (id, poly_id) for every pair satisfying the predicate.
    * `predicate`: "intersects" | "contains" (small-side contains big-side). */
  def broadcastSpatialJoin(big: DataFrame, small: Seq[(Long, String)],
      predicate: String = "intersects"): DataFrame = {
    require(Seq("intersects", "contains").contains(predicate), predicate)
    val spark = big.sparkSession
    import spark.implicits._
    // ship WKB; the executor-side cache builds the tree lazily on first probe
    val wkbs = small.map { case (id, wkt) =>
      (id, new org.locationtech.jts.io.WKBWriter().write(GeoFunctions.parseWkt(wkt)))
    }
    val bc = spark.sparkContext.broadcast(wkbs)
    val appId = spark.sparkContext.applicationId // closed over → valid on executors

    big.select(col("id").cast("long"), col("wkt").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val tree = TreeCache.get(appId, bc.id, bc.value)
        it.flatMap { case (rowId, wkt) =>
          val g = GeoFunctions.parseWkt(wkt)
          import scala.jdk.CollectionConverters._
          tree.query(g.getEnvelopeInternal).asScala.flatMap { hit =>
            val (polyId, p) = hit.asInstanceOf[(Long, PreparedGeometry)]
            val ok = predicate match {
              case "intersects" => p.intersects(g)
              case "contains" => p.contains(g)
            }
            if (ok) Some((rowId, polyId)) else None
          }
        }
      }
      .toDF("id", "poly_id")
  }
}
