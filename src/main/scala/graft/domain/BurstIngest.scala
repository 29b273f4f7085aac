package graft.domain

import java.time.Instant

import graft.QueryDef
import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.xml.XML

/** D9 end-to-end burst ingest (parse_bursts.py:249-363 `_bursts_from_xml`,
  * :404-451 `_get_burst_bounds`, :576-629 `check_dateline`, :733-738
  * `_to_row`): one SAFE granule's annotation+manifest XML → one row per
  * burst with the JPL id (Eq. 9-89/9-91), sensing time, and the
  * dateline-split boundary polygon assembled from the geolocation grid.
  *
  * Spark shape: a `flatMap` over (file, annotationXml, manifestXml) rows —
  * each granule parses independently, so the natural unit of parallelism is
  * one document per task and the ingest scales linearly with executors
  * (the reference runs the same loop per SAFE file, parse_bursts.py:666-706).
  */
object BurstIngest {

  final case class IngestedBurst(granule: String, burst_id_jpl: String,
      sensing_time_us: Long, wkt: String)

  /** Annotation timestamp (`2020-01-01T00:00:00.123456`, no zone) as UTC
    * epoch microseconds; the sub-second digits are kept. */
  private[graft] def parseTimeUs(s: String): Long = {
    val inst = Instant.parse(if (s.endsWith("Z")) s else s + "Z")
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** (granuleFile, annotationXml, manifestXml) → one row per burst. */
  def ingest(files: Dataset[(String, String, String)]): Dataset[IngestedBurst] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.flatMap { case (file, annXml, manXml) =>
      val ann = XML.loadString(annXml)
      val man = XML.loadString(manXml)

      // swath + ANX from the annotation (parse_bursts.py:269-291)
      val swath = (ann \ "adsHeader" \ "swath").text.trim // e.g. IW1
      val anxUs = parseTimeUs(
        (ann \ "imageAnnotation" \ "imageInformation" \ "ascendingNodeTime").text.trim)

      // start/stop relative orbit from the manifest (get_start_end_track,
      // parse_bursts.py:240-247)
      val rel = man \\ "relativeOrbitNumber"
      def track(t: String): Option[Int] =
        rel.find(n => (n \ "@type").text == t).map(_.text.trim.toInt)
      val startTrack = track("start")
        .getOrElse(rel.headOption.map(_.text.trim.toInt)
          .getOrElse(throw new IllegalArgumentException(s"$file: no relativeOrbitNumber")))
      val endTrack = track("stop").getOrElse(startTrack)

      // geolocation grid → per-burst boundary rings (_get_burst_bounds):
      // consecutive unique line pairs; second line's points reversed so the
      // ring walks the boundary, not a diagonal
      val pts = (ann \ "geolocationGrid" \ "geolocationGridPointList" \
        "geolocationGridPoint").map { p =>
        ((p \ "line").text.trim.toInt,
          (p \ "latitude").text.trim.toDouble, (p \ "longitude").text.trim.toDouble)
      }
      val byLine = pts.groupBy(_._1) // groups keep document (pixel) order
      val lines = byLine.keys.toSeq.sorted
      val polys = lines.zip(lines.drop(1)).map { case (ln0, ln1) =>
        val ring = byLine(ln0) ++ byLine(ln1).reverse
        val closed = ring :+ ring.head
        val wkt = closed.map(p => s"${p._3} ${p._2}").mkString("POLYGON ((", ", ", "))")
        // check_dateline: split + wrap into [-180, 180] when the raw ring
        // spans more than 180° of longitude
        GeoFunctions.datelineSplit(GeoFunctions.parseWkt(wkt))
      }

      // one burst per <burst> element, paired with its boundary; the id is
      // the Eq. 9-89/9-91 physics incl. equator-crossing track adjustment
      val sensing = (ann \ "swathTiming" \ "burstList" \ "burst")
        .map(b => parseTimeUs((b \ "sensingTime").text.trim))
      val stem = file.split('/').last.stripSuffix(".SAFE")
      // zip would silently truncate on a malformed granule, dropping bursts
      require(sensing.length == polys.length,
        s"$file: ${sensing.length} bursts vs ${polys.length} grid polygons")
      sensing.zip(polys).map { case (tUs, poly) =>
        val id = BurstId.fromBurstParams(
          Instant.ofEpochSecond(tUs / 1000000L, (tUs % 1000000L) * 1000L),
          Instant.ofEpochSecond(anxUs / 1000000L, (anxUs % 1000000L) * 1000L),
          startTrack, endTrack, swath.toLowerCase)
        IngestedBurst(stem, id.jplId, tUs, GeoFunctions.toWkt(poly))
      }
    }
  }

  // ------------------------------------------------------------------
  // Deterministic synthetic granule fixtures (for the rows-only query and
  // specs): 25 granules, ~9 bursts each; granule 13 straddles the dateline.

  private def timeStr(us: Long): String = {
    val i = Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
    i.toString.stripSuffix("Z")
  }

  /** A synthetic annotation XML: 9 bursts of subswath `swath` sensed
    * from `sensing0` s after a 2020-01-01 ANX, and a geolocation grid of
    * 10 lines × 5 pixels at lat0 + line·0.17 + pixel·0.01, lon(pixel). */
  private def annotationXml(swath: String, sensing0: Double, lat0: Double,
      lon: Int => Double): String = {
    val anxUs = Instant.parse("2020-01-01T00:00:00Z").getEpochSecond * 1000000L
    val nBursts = 9
    val burstsXml = (0 until nBursts).map { i =>
      val sUs = anxUs + ((sensing0 + i * BurstId.TBeam) * 1e6).toLong
      s"<burst><azimuthTime>${timeStr(sUs)}</azimuthTime><sensingTime>${timeStr(sUs)}</sensingTime></burst>"
    }.mkString
    val gridXml = (0 until 10).flatMap { ln =>
      (0 until 5).map { px =>
        val lat = lat0 + ln * 0.17 + px * 0.01
        s"<geolocationGridPoint><line>${ln * 1500}</line><pixel>${px * 5000}</pixel>" +
          s"<latitude>$lat</latitude><longitude>${lon(px)}</longitude></geolocationGridPoint>"
      }
    }.mkString
    s"""<product>
       |<adsHeader><swath>$swath</swath><polarisation>VV</polarisation></adsHeader>
       |<imageAnnotation><imageInformation>
       |<ascendingNodeTime>${timeStr(anxUs)}</ascendingNodeTime>
       |<productFirstLineUtcTime>${timeStr(anxUs + 2500000L)}</productFirstLineUtcTime>
       |</imageInformation></imageAnnotation>
       |<swathTiming><burstList count="$nBursts">$burstsXml</burstList></swathTiming>
       |<geolocationGrid><geolocationGridPointList count="50">$gridXml</geolocationGridPointList></geolocationGrid>
       |</product>""".stripMargin
  }

  /** A synthetic manifest XML with relative orbits `start` and `stop`. */
  private def manifestXml(start: Int, stop: Int): String =
    s"""<manifest xmlns:safe="urn:ccsds:schema:xfdu:1">
       |<safe:orbitReference>
       |<safe:relativeOrbitNumber type="start">$start</safe:relativeOrbitNumber>
       |<safe:relativeOrbitNumber type="stop">$stop</safe:relativeOrbitNumber>
       |</safe:orbitReference>
       |</manifest>""".stripMargin

  /** Build one synthetic granule's (file, annotationXml, manifestXml). */
  def syntheticGranule(k: Int): (String, String, String) = {
    val track = k % 175 + 1
    // granule 13 sits on the antimeridian
    val lon0 = if (k == 13) 178.0 else -170.0 + k * 2.0
    def wrap(x: Double) = if (x > 180) x - 360 else x
    (f"S1A_IW_SLC__1SDV_G$k%03d.SAFE",
      annotationXml("IW1", 2.5, -40.0 + k * 3.0, px => wrap(lon0 + px * 0.9)),
      manifestXml(track, track))
  }

  /** Physics-coverage granule family for q_burst_physics: unlike
    * [[syntheticGranule]] (all IW1, no crossing, early sensing), this
    * fixture drives every branch of Eq. 9-89/9-91
    * (parse_bursts.py:110-160): subswath IW1/2/3 offsets (k mod 3),
    * equator-crossing track handoff (k mod 5 = 0), sensing more than one
    * orbit after the ANX (k mod 4 = 0 — the TOrb-subtraction branch),
    * and the 175 -> 1 track wrap in BOTH sensing regimes: k = 7 carries
    * (175, 1) within one orbit (wrap pair present but the start-track
    * branch decides), while k = 20 carries (175, 1) with k mod 4 = 0 —
    * past-one-orbit sensing where the wrap form of hasAnxCrossing alone
    * suppresses the TOrb subtraction, shifting the ESA id by
    * TOrb/TBeam (~2148) — so the wrap predicate DECIDES an output column
    * (the track is end = 1 in this regime either way). All parameters are
    * integer-derivable, so the DuckDB oracle replays the parsed values
    * analytically and the hash gates the XML parse AND the physics. */
  def syntheticGranulePhysics(k: Int): (String, String, String) = {
    val (startTrack, endTrack) =
      if (k == 7 || k == 20) (175, 1)
      else {
        val st = (k * 37) % 175 + 1
        if (k % 5 == 0) (st, st % 175 + 1) else (st, st)
      }
    val lon0 = -170.0 + k * 2.0
    (f"S1A_IW_SLC__1SDV_P$k%03d.SAFE",
      annotationXml(s"IW${k % 3 + 1}", if (k % 4 == 0) BurstId.TOrb + 2.5 else 2.5,
        -40.0 + k * 3.0, px => lon0 + px * 0.9),
      manifestXml(startTrack, endTrack))
  }

  val queries: Seq[QueryDef] = Seq(
    // D9 end-to-end: synthetic granules → full ingest (grid → polygons →
    // dateline split → Eq. 9-89/9-91 ids) → per-granule summary. The
    // engine runs the REAL parse (flatMap XML → rings → datelineSplit →
    // BurstId.fromBurstParams → WKT); the oracle re-derives the
    // deterministic fixture analytically (the q_burst_physics "split
    // oracle" pattern) and replays the GEOMETRY leg too: a shoelace area
    // over the same ring order, the >180°-span split predicate, and the
    // grid bbox. Every double is quantized with round-half-up
    // (floor(x·10^k + 0.5)) where the true value lands exactly on the
    // integer lattice (grid steps 0.9/0.17/0.01, strip area 0.612), so
    // a last-ulp disagreement between JTS and DuckDB cannot flip a bin —
    // a 0.5-wide margin on both sides. Quantization happens PER BURST
    // before the SUM/MIN/MAX so no raw-double aggregation order matters
    // (QueryDef determinism contract).
    QueryDef.sql(
      "q_burst_ingest",
      """WITH g AS (SELECT CAST(k AS BIGINT) AS k FROM UNNEST(RANGE(0, 25)) AS t(k)),
        |b AS (
        |  SELECT k, k % 175 + 1 AS trk,
        |    1577836800000000 + CAST(FLOOR((2.5 + CAST(i AS DOUBLE) * 2.758273)
        |      * 1000000.0) AS BIGINT) AS s_us
        |  FROM g CROSS JOIN UNNEST(RANGE(0, 9)) AS u(i)),
        |-- Eq. 9-89/9-91 for the all-IW1, no-crossing, first-orbit fixture:
        |-- identical IEEE expression tree to the q_burst_physics oracle
        |-- with sw = 1 (offset 0) and track = start_track
        |ids AS (
        |  SELECT k,
        |    't' || LPAD(CAST(trk AS VARCHAR), 3, '0') || '_'
        |      || LPAD(CAST(1 + CAST(FLOOR((
        |           ((CAST(s_us // 1000000 - 1577836800 AS DOUBLE)
        |             + CAST((s_us % 1000000) * 1000 AS DOUBLE) / 1000000000.0)
        |            + 0.832 + 1.078 / 2)
        |           + CAST(trk - 1 AS DOUBLE) * (12 * 86400.0 / 175.0)
        |           - 2.299849) / 2.758273) AS BIGINT) AS VARCHAR), 6, '0')
        |      || '_iw1' AS bid
        |  FROM b),
        |idagg AS (
        |  SELECT k, COUNT(*) AS n_bursts, MIN(bid) AS first_burst_id,
        |         MAX(bid) AS last_burst_id
        |  FROM ids GROUP BY k),
        |-- the geolocation grid, mirrored point-for-point (10 lines × 5 px)
        |pts AS (
        |  SELECT g.k, CAST(ln AS BIGINT) AS ln, CAST(px AS BIGINT) AS px,
        |    (CASE WHEN g.k = 13 THEN 178.0
        |          ELSE -170.0 + CAST(g.k AS DOUBLE) * 2.0 END)
        |      + CAST(px AS DOUBLE) * 0.9 AS lon_raw,
        |    -40.0 + CAST(g.k AS DOUBLE) * 3.0 + CAST(ln AS DOUBLE) * 0.17
        |      + CAST(px AS DOUBLE) * 0.01 AS lat
        |  FROM g CROSS JOIN UNNEST(RANGE(0, 10)) AS a(ln)
        |         CROSS JOIN UNNEST(RANGE(0, 5)) AS c(px)),
        |-- per-strip boundary ring in engine order: line ln forward,
        |-- line ln+1 reversed, closed with the first point. Shoelace on
        |-- UNWRAPPED lon (area is translation/cut invariant, so it equals
        |-- the engine's post-split part sum).
        |ring AS (
        |  SELECT k, ln AS strip, px AS ord, lon_raw AS x, lat AS y
        |    FROM pts WHERE ln < 9
        |  UNION ALL
        |  SELECT k, ln - 1 AS strip, 9 - px AS ord, lon_raw, lat
        |    FROM pts WHERE ln > 0
        |  UNION ALL
        |  SELECT k, ln AS strip, 10 AS ord, lon_raw, lat
        |    FROM pts WHERE ln < 9 AND px = 0),
        |sho AS (
        |  SELECT k, strip,
        |    CAST(FLOOR(ABS(SUM(x * y2 - x2 * y)) / 2 * 1000.0 + 0.5) AS BIGINT)
        |      AS area_q
        |  FROM (SELECT k, strip, x, y,
        |          LEAD(x) OVER (PARTITION BY k, strip ORDER BY ord) AS x2,
        |          LEAD(y) OVER (PARTITION BY k, strip ORDER BY ord) AS y2
        |        FROM ring) s
        |  WHERE x2 IS NOT NULL
        |  GROUP BY k, strip),
        |-- wrapped-lon extremes drive the split predicate (envelope width
        |-- > 180, datelineSplit) and the bbox; a split granule's parts
        |-- touch the seam, so its envelope is exactly [-180, 180]
        |wagg AS (
        |  SELECT k,
        |    MIN(CASE WHEN lon_raw > 180 THEN lon_raw - 360 ELSE lon_raw END) AS mn_w,
        |    MAX(CASE WHEN lon_raw > 180 THEN lon_raw - 360 ELSE lon_raw END) AS mx_w,
        |    MIN(CAST(FLOOR(lat * 100.0 + 0.5) AS BIGINT)) AS lat_min_q2,
        |    MAX(CAST(FLOOR(lat * 100.0 + 0.5) AS BIGINT)) AS lat_max_q2
        |  FROM pts GROUP BY k),
        |geo AS (
        |  SELECT w.k,
        |    CAST(CASE WHEN w.mx_w - w.mn_w > 180 THEN 9 ELSE 0 END AS BIGINT)
        |      AS n_dateline_split,
        |    CAST(CASE WHEN w.mx_w - w.mn_w > 180 THEN 18 ELSE 9 END AS BIGINT)
        |      AS n_polys,
        |    a.area_q3,
        |    CASE WHEN w.mx_w - w.mn_w > 180 THEN CAST(-1800 AS BIGINT)
        |         ELSE CAST(FLOOR(w.mn_w * 10.0 + 0.5) AS BIGINT) END AS lon_min_q1,
        |    CASE WHEN w.mx_w - w.mn_w > 180 THEN CAST(1800 AS BIGINT)
        |         ELSE CAST(FLOOR(w.mx_w * 10.0 + 0.5) AS BIGINT) END AS lon_max_q1,
        |    w.lat_min_q2, w.lat_max_q2
        |  FROM wagg w
        |  JOIN (SELECT k, CAST(SUM(area_q) AS BIGINT) AS area_q3
        |        FROM sho GROUP BY k) a
        |    USING (k))
        |SELECT 'S1A_IW_SLC__1SDV_G' || LPAD(CAST(i.k AS VARCHAR), 3, '0') AS granule,
        |  i.n_bursts, i.first_burst_id, i.last_burst_id,
        |  geo.n_dateline_split, geo.n_polys, geo.area_q3,
        |  geo.lon_min_q1, geo.lon_max_q1, geo.lat_min_q2, geo.lat_max_q2
        |FROM idagg i JOIN geo ON geo.k = i.k
        |ORDER BY granule""".stripMargin) { (s, d) =>
      import s.implicits._
      val files = s.range(0, 25).map(k => syntheticGranule(k.toInt))
        .toDF("_1", "_2", "_3").as[(String, String, String)]
      val env = GeoFunctions.stEnvelope(col("wkt"))
      ingest(files)
        .select(col("granule"), col("burst_id_jpl"),
          col("wkt").startsWith("MULTIPOLYGON").cast("long").as("is_split"),
          GeoFunctions.stNumGeometries(col("wkt")).cast("long").as("n_parts"),
          floor(GeoFunctions.stArea(col("wkt")) * 1000 + 0.5).cast("long")
            .as("area_q"),
          floor(env.getField("_1") * 10 + 0.5).cast("long").as("xmin_q"),
          floor(env.getField("_2") * 100 + 0.5).cast("long").as("ymin_q"),
          floor(env.getField("_3") * 10 + 0.5).cast("long").as("xmax_q"),
          floor(env.getField("_4") * 100 + 0.5).cast("long").as("ymax_q"))
        .groupBy(col("granule"))
        .agg(
          count(lit(1)).as("n_bursts"),
          min(col("burst_id_jpl")).as("first_burst_id"),
          max(col("burst_id_jpl")).as("last_burst_id"),
          sum(col("is_split")).as("n_dateline_split"),
          sum(col("n_parts")).as("n_polys"),
          sum(col("area_q")).as("area_q3"),
          min(col("xmin_q")).as("lon_min_q1"),
          max(col("xmax_q")).as("lon_max_q1"),
          min(col("ymin_q")).as("lat_min_q2"),
          max(col("ymax_q")).as("lat_max_q2"))
        .orderBy(col("granule"))
    },

    // D9 split oracle (the q_catalog_frames_meta pattern): the XML
    // *source* stays un-oracle-able, but everything downstream of the
    // parse — Eq. 9-89/9-91 burst-id arithmetic, subswath offset
    // assembly, equator-crossing track handoff, orbit-period wrap — is
    // pure arithmetic on parsed values. The engine runs the REAL parse
    // (flatMap XML -> BurstId.fromBurstParams); the oracle re-derives the
    // parsed inputs analytically from the deterministic fixture and
    // replays the physics with the identical IEEE expression tree (same
    // literals, same operation order, one floor), so a drift anywhere in
    // parse -> time roundtrip -> physics breaks the hash. Geometry-free.
    QueryDef.sql(
      "q_burst_physics",
      """WITH g AS (SELECT CAST(k AS BIGINT) AS k FROM UNNEST(RANGE(0, 25)) AS t(k)),
        |p AS (
        |  SELECT k,
        |    CASE WHEN k = 7 OR k = 20 THEN 175 ELSE (k * 37) % 175 + 1 END AS start_track,
        |    CASE WHEN k = 7 OR k = 20 THEN 1
        |         WHEN k % 5 = 0 THEN ((k * 37) % 175 + 1) % 175 + 1
        |         ELSE (k * 37) % 175 + 1 END AS end_track,
        |    k % 3 + 1 AS sw,
        |    CASE WHEN k % 4 = 0 THEN 12 * 86400.0 / 175.0 + 2.5 ELSE 2.5 END AS base
        |  FROM g),
        |r AS (
        |  SELECT p.*, CAST(i AS BIGINT) AS i,
        |    1577836800000000 + CAST(FLOOR((base + CAST(i AS DOUBLE) * 2.758273)
        |      * 1000000.0) AS BIGINT) AS s_us
        |  FROM p CROSS JOIN UNNEST(RANGE(0, 9)) AS u(i)),
        |phys AS (
        |  SELECT k, sw, start_track, end_track, s_us,
        |    (CAST(s_us // 1000000 - 1577836800 AS DOUBLE)
        |       + CAST((s_us % 1000000) * 1000 AS DOUBLE) / 1000000000.0)
        |      + (CASE sw WHEN 1 THEN 0.0 WHEN 2 THEN -0.832
        |              ELSE -0.832 - 1.078 END) AS start_iw1
        |  FROM r),
        |mid AS (
        |  SELECT k, sw, start_track, end_track, s_us, start_iw1,
        |    start_iw1 + 0.832 + 1.078 / 2 AS mid_iw2,
        |    (end_track = start_track + 1
        |      OR (end_track = 1 AND start_track = 175)) AS has_cross
        |  FROM phys),
        |ids AS (
        |  SELECT k, sw, s_us,
        |    CASE WHEN start_iw1 - (12 * 86400.0 / 175.0) < 0
        |         THEN start_track ELSE end_track END AS track,
        |    1 + CAST(FLOOR((
        |      (CASE WHEN start_iw1 - (12 * 86400.0 / 175.0) < 0 THEN mid_iw2
        |            WHEN has_cross THEN mid_iw2
        |            ELSE mid_iw2 - (12 * 86400.0 / 175.0) END)
        |      + CAST(start_track - 1 AS DOUBLE) * (12 * 86400.0 / 175.0)
        |      - 2.299849) / 2.758273) AS BIGINT) AS esa
        |  FROM mid)
        |SELECT 'S1A_IW_SLC__1SDV_P' || LPAD(CAST(k AS VARCHAR), 3, '0') AS granule,
        |  't' || LPAD(CAST(track AS VARCHAR), 3, '0') || '_'
        |    || LPAD(CAST(esa AS VARCHAR), 6, '0') || '_iw' || CAST(sw AS VARCHAR)
        |    AS burst_id_jpl,
        |  CAST(s_us AS BIGINT) AS sensing_time_us
        |FROM ids
        |ORDER BY granule, sensing_time_us""".stripMargin) { (s, d) =>
      import s.implicits._
      val files = s.range(0, 25).map(k => syntheticGranulePhysics(k.toInt))
        .toDF("_1", "_2", "_3").as[(String, String, String)]
      ingest(files)
        .select(col("granule"), col("burst_id_jpl"), col("sensing_time_us"))
        .orderBy(col("granule"), col("sensing_time_us"))
    }
  )
}
