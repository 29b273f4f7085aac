package graft.operators

import graft.functions.GeoFunctions
import graft.plans.PreparedShapes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** Broadcast STRtree spatial join (SURVEY.md J7/J10/J11: the reference's
  * in-memory STRtree joins — bursts×land, bursts×NA, points-in-polygons —
  * build_frame_db.py:92-99, snow-analysis/get_volcano_frames.py:29-33).
  *
  * The small polygon side (a few MB of WKB) is shipped as a broadcast and
  * indexed ONCE PER EXECUTOR by [[PreparedShapes]], keyed by broadcast id:
  * JTS trees don't serialize, and rebuilding per task would repeat the
  * build 10⁵–10⁶ times at 100 TB task counts. The big side streams through
  * `mapPartitions`, probing the index: one pass, no shuffle of the big side.
  */
object SpatialJoin {

  /** big(id: long, wkt: string) ⨝ small Seq[(polyId, wkt)] →
    * (id, poly_id) for every pair that intersects. */
  def broadcastSpatialJoin(big: DataFrame, small: Seq[(Long, String)]): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    // ship WKB; the executor-side cache builds the tree lazily on first probe
    val bc = spark.sparkContext.broadcast(small.map { case (id, wkt) =>
      id -> new WKBWriter().write(GeoFunctions.parseWkt(wkt)) })

    big.select(col("id").cast("long"), col("wkt").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val index = PreparedShapes.index(PreparedShapes.currentApp, bc.id,
          bc.value.map { case (id, wkb) => id -> new WKBReader().read(wkb) })
        it.flatMap { case (rowId, wkt) =>
          index.hits(GeoFunctions.parseWkt(wkt)).map(polyId => (rowId, polyId))
        }
      }
      .toDF("id", "poly_id")
  }
}
