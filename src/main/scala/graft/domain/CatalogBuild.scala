package graft.domain

import graft.QueryScope
import graft.functions.GeoFunctions
import graft.plans.SpatialExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `opera-db create` pipeline (SURVEY.md §3.1, build_frame_db.py:576-754)
  * as one linear Dataset program — the reference's pandas↔SQLite↔subprocess
  * hops collapse into a single Spark plan.
  *
  * Stages: jpl-id derivation → triplet dissolve (geometry-union agg) → land
  * flag → per-track DP frame optimization (flatMapGroups) → frame assembly
  * (union + majority track + first orbit_pass) → EPSG assignment
  * (dateline-aware centroid) → polar-shape override → UTM bbox snap,
  * North-America flag, degree bbox. The three shape flags (land, North
  * America, polar override) are one predicate, [[intersectsShape]].
  *
  * Scale: everything keys on burst_id/track/frame — the only shuffles are
  * the dissolve groupBy, the per-track solve, and the frame groupBy; each
  * shape is a WKT literal in the plan; nothing collects to the driver.
  */
object CatalogBuild {

  /** UTM bbox margin and snap grid in metres (build_frame_db.py:409-451). */
  private val BboxMarginM = 5000.0
  private val BboxSnapM = 30.0

  /** burst_id_jpl = t{track:03d}_{esa_id:06d}_{iw} (build_frame_db.py:37-47,
    * D1 — built-in format_string, no UDF). */
  def withJplId(burstIdMap: DataFrame): DataFrame =
    burstIdMap.withColumn("burst_id_jpl",
      format_string("t%03d_%06d_%s", col("relative_orbit_number"),
        col("burst_id"), lower(col("subswath_name"))))

  /** Triplet dissolve (A2/A3, build_frame_db.py:63-89): one row per ESA
    * burst id — union of the 3 subswath geometries, id range, first-by-id
    * orbit attributes. */
  def dissolveTriplets(bursts: DataFrame): DataFrame =
    bursts
      .groupBy(col("burst_id"))
      .agg(
        GeoFunctions.stUnionAgg(col("geom")).as("geom"),
        min(col("OGC_FID")).as("min_ogc_fid"),
        max(col("OGC_FID")).as("max_ogc_fid"),
        min_by(col("relative_orbit_number"), col("OGC_FID")).as("relative_orbit_number"),
        min_by(col("orbit_pass"), col("OGC_FID")).as("orbit_pass"),
        // the reference's custom concat-of-set aggfunc (build_frame_db.py:63-89)
        array_join(array_sort(array_distinct(collect_list(col("burst_id_jpl")))), ",")
          .as("jpl_ids"))

  /** `geom` intersects `wkt` (one shape, or a `GEOMETRYCOLLECTION` of
    * several: any member); a null geometry is false. The shape is prepared
    * and indexed once per JVM (`plans.PreparedShapes`), and the index tests
    * envelopes first. */
  private def intersectsShape(geom: Column, wkt: String): Column =
    coalesce(SpatialExpressions.stIntersectsNative(geom, wkt), lit(false))

  /** Land flag (J7). The reference's land polygon is a few MB and spans
    * the globe: no envelope test rules a row out, the prepared index does. */
  def withLandFlag(triplets: DataFrame, landWkt: String): DataFrame =
    triplets.withColumn("is_land", intersectsShape(col("geom"), landWkt))

  /** Per-track DP frame optimization (D2) → (track, frame-in-track, burst
    * id span, is_land). Sequential per key → flatMapGroups. */
  def solveTrackFrames(triplets: DataFrame, target: Double = 9.0, minF: Int = 5,
      maxF: Int = 10): DataFrame = {
    val spark = triplets.sparkSession
    import spark.implicits._
    triplets
      .select(col("relative_orbit_number").cast("int"), col("burst_id").cast("long"),
        col("is_land").cast("boolean"))
      .as[(Int, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (track, rows) =>
        val sorted = rows.toSeq.sortBy(_._2)
        val ids = sorted.map(_._2).toArray
        val land = sorted.map(_._3).toArray
        FrameSolver.landOptimizedSlices(land, target, minF, maxF).zipWithIndex.flatMap {
          case (FrameSolver.FrameSlice(s, e, isLand), i) =>
            (s until e).map(j => (track, i + 1, ids(j), isLand))
        }.iterator
      }
      .toDF("track", "frame_in_track", "burst_id", "frame_is_land")
  }

  /** Global frame ids: dense 1-based over (track, frame_in_track). Frames
    * per track are ≤ ~30 → a window over the compact distinct set, not the
    * burst rows. */
  def withGlobalFrameIds(trackFrames: DataFrame): DataFrame = {
    val distinctFrames = trackFrames.select(col("track"), col("frame_in_track")).distinct()
    val w = Window.orderBy(col("track"), col("frame_in_track"))
    val ids = distinctFrames.withColumn("frame_fid", row_number().over(w))
    trackFrames.join(broadcast(ids), Seq("track", "frame_in_track"))
  }

  /** The built tables. */
  final case class BuildResult(frames: DataFrame, framesBursts: DataFrame,
      burstIdMap: DataFrame)

  /** Full build: burst_id_map (with geom WKT) + land WKT → frames +
    * frames_bursts + enriched burst map (§3.1 steps 2-7), as `create`
    * writes them; frames end with `is_north_america` and the degree bbox
    * `bb_*` that `Catalog.intersect`'s coarse stage (and parquet row-group
    * stats) filter on.
    *
    * `naWkts`: the North-America boundary, one WKT per shape
    * (build_frame_db.py:653-655); a frame is `is_north_america` when it
    * intersects any of them, and with none the flag is false.
    *
    * `polarOverrideWkt`: the reference forces every frame intersecting the
    * Greenland shape to EPSG:3413 regardless of its centroid latitude
    * (build_frame_db.py:251-257). The shape itself is a downloaded
    * artifact; pass it here when available.
    *
    * The triplets are persisted through [[QueryScope]]: the caller's scope
    * frees them once the tables are written.
    * The frame assignment (per-track DP plus the global-id window) feeds
    * both frames and frames_bursts and is computed once for each write;
    * `Main.create` runs the two writes at once, so the two computations
    * run side by side instead of one after the other. A persist of the
    * assignment saved 5 of a warm `create`'s 20 jobs, but alternating runs
    * showed no time gain, and the cached relation's size statistics plan
    * the frames_bursts join as a broadcast that writes one file per
    * burst-map split, which adds a job to every `lookup` of the catalog. */
  def build(burstIdMapRaw: DataFrame, landWkt: String, naWkts: Seq[String] = Nil,
      polarOverrideWkt: Option[String] = None): BuildResult = {
    val bursts = withJplId(burstIdMapRaw)
    // triplets feed the DP solver AND frame assembly — materialize once
    // (the dissolve runs the JTS union aggregator; recomputing it per
    // consumer doubles the most expensive stage)
    val triplets = QueryScope.persisted(withLandFlag(dissolveTriplets(bursts), landWkt))
    val frameBursts = withGlobalFrameIds(solveTrackFrames(triplets))

    // frames_bursts join table: expand triplets back to subswath rows
    val fb = frameBursts
      .join(bursts.select(col("burst_id").as("b_id"), col("OGC_FID")),
        col("burst_id") === col("b_id"))
      .select(col("frame_fid"), col("OGC_FID").as("burst_ogc_fid"))

    // frame assembly (build_frame_db.py:122-190): geometry union, majority
    // track (A4: round(avg)), deterministic first orbit_pass (W1 + §7.5
    // risk 5: min_by burst), any-land
    val frames0 = frameBursts
      .join(triplets.select(col("burst_id").as("t_id"), col("geom"),
          col("orbit_pass"), col("is_land")),
        col("burst_id") === col("t_id"))
      .groupBy(col("frame_fid"))
      .agg(
        GeoFunctions.stUnionAgg(col("geom")).as("geom"),
        floor(avg(col("track")) + 0.5).cast("int").as("relative_orbit_number"),
        min_by(col("orbit_pass"), col("burst_id")).as("orbit_pass"),
        max(col("frame_is_land")).as("is_land"),
        count(lit(1)).as("n_bursts"))

    // EPSG via dateline-aware centroid (D3, build_frame_db.py:193-307):
    // centroid computed in shifted space BEFORE the split — a centroid of
    // the split halves would average to ~0° longitude
    val withEpsg0 = frames0
      .withColumn("c", GeoFunctions.stCentroidDateline(col("geom")))
      .withColumn("geom", GeoFunctions.stDatelineSplit(col("geom")))
      .withColumn("epsg", GeoFunctions.utmEpsg(col("c._1"), col("c._2")))
    // polar-shape override (build_frame_db.py:251-257)
    val withEpsg = polarOverrideWkt.fold(withEpsg0)(wkt => withEpsg0.withColumn("epsg",
      when(intersectsShape(col("geom"), wkt), lit(3413)).otherwise(col("epsg"))))
    val isNorthAmerica = naWkts match {
      case Nil => lit(false)
      case shapes => intersectsShape(col("geom"), shapes.mkString("GEOMETRYCOLLECTION (", ", ", ")"))
    }

    // UTM bbox, snapped (build_frame_db.py:409-451): project → envelope →
    // pad margin → snap to grid, stored as int columns for data skipping
    val frames = withEpsg
      .withColumn("utm", GeoFunctions.stEnvelope(
        GeoFunctions.stProject(col("geom"), col("epsg"))))
      .withColumn("bb", GeoFunctions.stEnvelope(col("geom")))
      .select(
        col("frame_fid").as("fid"), col("epsg"), col("is_land"),
        col("relative_orbit_number"), col("orbit_pass"), col("n_bursts"),
        col("geom"),
        GeoFunctions.snapLo(col("utm._1"), BboxMarginM, BboxSnapM).as("xmin"),
        GeoFunctions.snapLo(col("utm._2"), BboxMarginM, BboxSnapM).as("ymin"),
        GeoFunctions.snapHi(col("utm._3"), BboxMarginM, BboxSnapM).as("xmax"),
        GeoFunctions.snapHi(col("utm._4"), BboxMarginM, BboxSnapM).as("ymax"),
        isNorthAmerica.as("is_north_america"),
        col("bb._1").as("bb_xmin"), col("bb._2").as("bb_ymin"),
        col("bb._3").as("bb_xmax"), col("bb._4").as("bb_ymax"))

    BuildResult(frames, fb, bursts)
  }
}
