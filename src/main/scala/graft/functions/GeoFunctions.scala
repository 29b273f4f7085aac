package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Geometry, GeometryFactory, Polygon, PrecisionModel}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.operation.union.CascadedPolygonUnion

import scala.jdk.CollectionConverters._

/** Geospatial function surface (SURVEY.md §2.8 geospatial set), built on JTS
  * 1.20 with hand-rolled projection math (no PROJ offline — §7.1).
  *
  * Design split:
  *   - pure-arithmetic pieces (UTM zone, EPSG pick, bbox snap) are Column
  *     expressions → codegen'd, usable in pushdown-friendly predicates;
  *   - topology pieces (intersects, union, dateline split) are JTS
  *     UDFs over WKT — used *after* a bbox prefilter so the expensive exact
  *     predicate only sees candidates (the two-stage plan the reference
  *     hand-writes at query_frame_db.py:85-121).
  *
  * Geometry travels as WKT strings between operators (SURVEY.md §1.1): a
  * schema-stable, parquet-friendly encoding; bbox lives in top-level int
  * columns so parquet row-group min/max statistics give free data skipping.
  */
object GeoFunctions {

  // --- WKT/WKB codecs (thread-confined readers; JTS readers aren't thread-safe)
  private val gf = new GeometryFactory(new PrecisionModel(), 4326)
  private val wktReader = new ThreadLocal[WKTReader] {
    override def initialValue(): WKTReader = new WKTReader(gf)
  }
  def parseWkt(s: String): Geometry = wktReader.get.read(s)
  def toWkt(g: Geometry): String = new WKTWriter().write(g)

  // ------------------------------------------------------------------
  // Pure Column arithmetic (codegen-friendly)

  /** UTM zone incl. Norway (32V) and Svalbard (31X/33X/35X/37X) exceptions
    * (reference uses the `utm` lib, build_frame_db.py:193-259; the exception
    * rules are the public UTM grid definition). */
  def utmZone(lon: Column, lat: Column): Column = {
    val base = (floor((lon + 180) / 6) + 1).cast("int")
    val norway = lat >= 56 && lat < 64 && lon >= 3 && lon < 12
    val svalbard = lat >= 72 && lat < 84
    when(norway, 32)
      .when(svalbard && lon >= 0 && lon < 9, 31)
      .when(svalbard && lon >= 9 && lon < 21, 33)
      .when(svalbard && lon >= 21 && lon < 33, 35)
      .when(svalbard && lon >= 33 && lon < 42, 37)
      .otherwise(when(base < 1, 1).when(base > 60, 60).otherwise(base))
  }

  /** EPSG pick: polar stereographic beyond the UTM band, else 326xx/327xx.
    * Thresholds follow build_frame_db.py:27-32 exactly: NORTH_THRESHOLD=75
    * (strict lat > 75 → EPSG:3413), SOUTH_THRESHOLD=-60 (strict lat < -60 →
    * EPSG:3031). The reference additionally forces every frame intersecting
    * the Greenland shape to 3413 (build_frame_db.py:251-257); that shape is
    * a downloaded artifact unavailable offline — documented gap in
    * COVERAGE.md (`CatalogBuild.build` applies the override when the shape
    * is passed as `polarOverrideWkt`).
    * The reference leaves lat == 75 / lat == -60 unassigned (epsg 0);
    * we make the function total by giving the exact boundary to UTM. */
  def utmEpsg(lon: Column, lat: Column): Column =
    when(lat > 75, 3413)
      .when(lat < -60, 3031)
      .when(lat >= 0, lit(32600) + utmZone(lon, lat))
      .otherwise(lit(32700) + utmZone(lon, lat))

  /** Snap bbox edges outward to a grid after padding by margin
    * (build_frame_db.py:409-451,586-619: margin 5 km, snap 30 m). */
  def snapLo(c: Column, margin: Double, snap: Double): Column =
    (floor((c - margin) / snap) * snap).cast("long")
  def snapHi(c: Column, margin: Double, snap: Double): Column =
    (ceil((c + margin) / snap) * snap).cast("long")

  // ------------------------------------------------------------------
  // Projection math (forward only — all the reference needs,
  // build_frame_db.py:424-430)

  private val A = 6378137.0 // WGS84
  private val F = 1.0 / 298.257223563
  private val E2 = F * (2 - F)
  private val EP2 = E2 / (1 - E2)
  private val E = math.sqrt(E2)
  private val K0 = 0.9996

  /** Transverse Mercator forward (Snyder 1987 §8, series form): (lon,lat)
    * degrees → (easting, northing) meters in the given UTM zone. */
  def tmForward(lonDeg: Double, latDeg: Double, zone: Int, south: Boolean): (Double, Double) = {
    val lat = math.toRadians(latDeg)
    val lon0 = math.toRadians(zone * 6.0 - 183.0)
    val lon = math.toRadians(lonDeg)
    val sinLat = math.sin(lat); val cosLat = math.cos(lat); val tanLat = math.tan(lat)
    val n = A / math.sqrt(1 - E2 * sinLat * sinLat)
    val t = tanLat * tanLat
    val c = EP2 * cosLat * cosLat
    // wrap Δλ to [-π, π]: a zone-60 frame's western half sits at lon ≈ -180
    var dLon = lon - lon0
    while (dLon > math.Pi) dLon -= 2 * math.Pi
    while (dLon < -math.Pi) dLon += 2 * math.Pi
    val a0 = dLon * cosLat
    val e4 = E2 * E2; val e6 = e4 * E2
    val m = A * ((1 - E2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * lat
      - (3 * E2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * lat)
      + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * lat)
      - (35 * e6 / 3072) * math.sin(6 * lat))
    val x = K0 * n * (a0 + (1 - t + c) * math.pow(a0, 3) / 6
      + (5 - 18 * t + t * t + 72 * c - 58 * EP2) * math.pow(a0, 5) / 120) + 500000.0
    val y0 = K0 * (m + n * tanLat * (a0 * a0 / 2
      + (5 - t + 9 * c + 4 * c * c) * math.pow(a0, 4) / 24
      + (61 - 58 * t + t * t + 600 * c - 330 * EP2) * math.pow(a0, 6) / 720))
    (x, if (south) y0 + 10000000.0 else y0)
  }

  /** Polar stereographic forward (Snyder §21): EPSG:3413 (north, lat_ts=70,
    * lon0=−45) and EPSG:3031 (south, lat_ts=−71, lon0=0). */
  def polarForward(lonDeg: Double, latDeg: Double, south: Boolean): (Double, Double) = {
    val (latTs, lon0) = if (south) (-71.0, 0.0) else (70.0, -45.0)
    // For the south case work in the mirrored (positive-lat) frame
    val sign = if (south) -1.0 else 1.0
    val lat = math.toRadians(latDeg * sign)
    val lon = math.toRadians(lonDeg * sign)
    val l0 = math.toRadians(lon0 * sign)
    val latC = math.toRadians(latTs * sign)
    def tOf(phi: Double): Double =
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - E * math.sin(phi)) / (1 + E * math.sin(phi)), E / 2)
    def mOf(phi: Double): Double =
      math.cos(phi) / math.sqrt(1 - E2 * math.sin(phi) * math.sin(phi))
    val rho = A * mOf(latC) * tOf(lat) / tOf(latC)
    val x = rho * math.sin(lon - l0)
    val y = -rho * math.cos(lon - l0)
    (x * sign, y * sign)
  }

  /** (lon, lat, epsg) → (x, y) using the matching projection. */
  def projectTo(lonDeg: Double, latDeg: Double, epsg: Int): (Double, Double) = epsg match {
    case 3413 => polarForward(lonDeg, latDeg, south = false)
    case 3031 => polarForward(lonDeg, latDeg, south = true)
    case z if z >= 32601 && z <= 32660 => tmForward(lonDeg, latDeg, z - 32600, south = false)
    case z if z >= 32701 && z <= 32760 => tmForward(lonDeg, latDeg, z - 32700, south = true)
    case other => throw new IllegalArgumentException(s"unsupported epsg $other")
  }

  // ------------------------------------------------------------------
  // JTS UDFs (the exact-refine stage; never the prefilter)

  /** Unprepared intersects: the reference that specs and perfbench compare
    * the engine's native `plans.StIntersectsExpr` against. */
  val stIntersects = udf((a: String, b: String) =>
    if (a == null || b == null) false else parseWkt(a).intersects(parseWkt(b)))

  val stArea = udf((a: String) => if (a == null) 0.0 else parseWkt(a).getArea)

  /** Part count (1 for simple geometries, N for MULTI*) — lets the
    * dateline-split gate count split parts exactly instead of inferring
    * them from the WKT prefix. */
  val stNumGeometries = udf((a: String) =>
    if (a == null) 0 else parseWkt(a).getNumGeometries)

  /** Boundary length (perimeter for polygons; interior rings included,
    * multi-part summed — JTS getLength semantics). On rectilinear
    * integer-lattice geometry every segment length is an integer, so the
    * double sum is exact — what lets q_geo_union_pipeline oracle it. */
  val stLength = udf((a: String) => if (a == null) 0.0 else parseWkt(a).getLength)

  /** A copy of `g` with its negative longitudes shifted by +360, made
    * valid by a zero buffer when the shift leaves it invalid. */
  private def shiftedEast(g: Geometry): Geometry = {
    val shifted = g.copy()
    shifted.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit =
        if (c.x < 0) c.x += 360
    })
    shifted.geometryChanged()
    if (shifted.isValid) shifted else shifted.buffer(0)
  }

  /** Dateline-aware centroid (build_frame_db.py:262-307 weighted-centroid
    * rule): for a wrap-encoded geometry, take the centroid in the +360
    * shifted frame and wrap the longitude back — a naive centroid of the
    * split halves averages to ~0°. */
  val stCentroidDateline = udf { (a: String) =>
    val g = parseWkt(a)
    if (g.getEnvelopeInternal.getWidth <= 180) {
      val c = g.getCentroid
      (c.getX, c.getY)
    } else {
      val c = shiftedEast(g).getCentroid
      val lon = if (c.getX >= 180) c.getX - 360 else c.getX
      (lon, c.getY)
    }
  }

  /** Envelope as (xmin, ymin, xmax, ymax). */
  val stEnvelope = udf { (a: String) =>
    val e = parseWkt(a).getEnvelopeInternal
    (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  /** Project a 4326 WKT to the given UTM/polar EPSG (vertex-wise). */
  val stProject = udf { (wkt: String, epsg: Int) =>
    val g = parseWkt(wkt)
    val out = g.copy()
    out.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val (x, y) = projectTo(c.x, c.y, epsg)
        c.x = x; c.y = y
      }
    })
    out.geometryChanged()
    toWkt(out)
  }

  /** Split an antimeridian-crossing polygon into parts within [-180, 180]
    * (parse_bursts.py:576-629 semantics: detect by envelope width > 180,
    * shift the negative-lon side by +360, clip at the 180 meridian). */
  def datelineSplit(g: Geometry): Geometry = {
    val env = g.getEnvelopeInternal
    if (env.getWidth <= 180) g
    else {
      val fixed = shiftedEast(g)
      val west = gf.toGeometry(new org.locationtech.jts.geom.Envelope(0, 180, -90, 90))
      val east = gf.toGeometry(new org.locationtech.jts.geom.Envelope(180, 360, -90, 90))
      import org.locationtech.jts.operation.overlayng.OverlayNGRobust
      import org.locationtech.jts.operation.overlay.OverlayOp
      def robustIntersection(a: Geometry, b: Geometry): Geometry =
        OverlayNGRobust.overlay(a, b, OverlayOp.INTERSECTION)
      // copy before mutating: intersection results may alias Coordinate
      // objects of the source geometry (and of each other)
      val partW = robustIntersection(fixed, west).copy()
      val partE = robustIntersection(fixed, east).copy()
      partE.apply(new org.locationtech.jts.geom.CoordinateFilter {
        // >= : the seam vertices at exactly 180 belong to the eastern part's
        // -180 edge, else the ring re-wraps the full globe
        override def filter(c: org.locationtech.jts.geom.Coordinate): Unit =
          if (c.x >= 180) c.x -= 360
      })
      partE.geometryChanged()
      val parts = Seq(partW, partE).filter(!_.isEmpty)
      org.locationtech.jts.operation.overlayng.OverlayNGRobust.union(parts.asJava)
    }
  }

  val stDatelineSplit = udf((a: String) => toWkt(datelineSplit(parseWkt(a))))

  // ------------------------------------------------------------------
  // Geometry-union Aggregator (A3: ST_UnaryUnion(ST_Collect(geom)) per frame,
  // build_frame_db.py:139-148) — the one genuinely custom aggregate.

  /** Buffer holds WKB blobs; finish runs CascadedPolygonUnion with a
    * buffer(0) validity guard (SURVEY.md §7.5 risk 2). */
  class GeomUnionAgg extends Aggregator[String, Seq[Array[Byte]], String] {
    override def zero: Seq[Array[Byte]] = Nil
    override def reduce(b: Seq[Array[Byte]], a: String): Seq[Array[Byte]] =
      if (a == null) b else b :+ new WKBWriter().write(parseWkt(a))
    override def merge(b1: Seq[Array[Byte]], b2: Seq[Array[Byte]]): Seq[Array[Byte]] = b1 ++ b2
    override def finish(r: Seq[Array[Byte]]): String = {
      if (r.isEmpty) return null
      val reader = new WKBReader(gf)
      val geoms = r.map { b =>
        val g = reader.read(b)
        if (g.isValid) g else g.buffer(0)
      }
      val polys = geoms.flatMap { g =>
        (0 until g.getNumGeometries).map(g.getGeometryN).collect { case p: Polygon => p }
      }
      val merged =
        if (polys.size == geoms.map(_.getNumGeometries).sum && polys.nonEmpty)
          CascadedPolygonUnion.union(polys.asJava)
        else geoms.reduce(_.union(_))
      toWkt(merged)
    }
    override def bufferEncoder: Encoder[Seq[Array[Byte]]] =
      Encoders.kryo[Seq[Array[Byte]]]
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Column form: `df.groupBy(k).agg(stUnionAgg(col("wkt")))`. */
  def stUnionAgg(c: Column): Column = udaf(new GeomUnionAgg()).apply(c)
}
