package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded generators for the catalog pipeline's inputs, following
  * FIXTURES.md:
  *   - F1: an ESA-style burst grid (three subswath rows per burst), with
  *     an antimeridian-crossing track and one track beyond each polar
  *     threshold, so the dateline split and the 3413/3031 EPSG branches fire;
  *   - a land WKT: a concave polygon, so some triplets pass its bbox but
  *     fail the exact test;
  *   - F4: a CMR-survey CSV with duplicate revisions, non-VV rows and a few
  *     malformed granule ids;
  *   - F5: historical bursts (burst id, sensing time, geometry, granule) with
  *     one multi-year gap.
  * Everything is a pure function of the seed and the sizes. */
object CatalogGen {

  final case class Sizes(tracks: Int, burstsPerTrack: Int, surveyDates: Int, historyDates: Int)
  val Default: Sizes = Sizes(tracks = 6, burstsPerTrack = 30, surveyDates = 34, historyDates = 12)

  final case class Burst(ogcFid: Int, burstId: Long, track: Int, iw: Int, pass: String,
      wkt: String, lat: Double) {
    def jplId: String = f"t$track%03d_$burstId%06d_iw$iw%d"
  }

  final case class Track(number: Int, lon0: Double, lat0: Double, dLat: Double, pass: String)

  private def wrap(x: Double): Double = if (x > 180) x - 360 else x

  def tracks(seed: Long, s: Sizes): Seq[Track] = {
    val r = new java.util.Random(seed)
    // distinct relative orbit numbers in 1..175
    val numbers = r.ints(1, 176).distinct().limit(s.tracks.toLong).toArray.toSeq
    numbers.zipWithIndex.map { case (n, i) =>
      val j = r.nextDouble()
      i match {
        case 0 => Track(n, 178.8 + 0.3 * j, -4.0 + j, 0.18, "ASCENDING") // antimeridian
        case 1 => Track(n, 20.0 + 10 * j, 76.0 + j, 0.18, "ASCENDING") // north polar
        case 2 => Track(n, -70.0 + 10 * j, -61.0 - j, -0.18, "DESCENDING") // south polar
        case _ => Track(n, -150.0 + 30.0 * (i - 3) + 5 * j, -6.0 + 4 * j, 0.18,
          if (i % 2 == 0) "ASCENDING" else "DESCENDING")
      }
    }
  }

  /** F1 rows: OGC_FID, burst_id, relative_orbit_number, subswath_name,
    * orbit_pass, geom (WKT MultiPolygon, EPSG:4326). */
  def grid(seed: Long, s: Sizes = Default): Seq[Burst] = {
    val r = new java.util.Random(seed ^ 0x5eed)
    tracks(seed, s).zipWithIndex.flatMap { case (t, ti) =>
      (0 until s.burstsPerTrack).flatMap { b =>
        val burstId = t.number * 2000L + b + 1
        val lat = t.lat0 + b * t.dLat
        val drift = b * 0.02 + 0.004 * r.nextDouble()
        (1 to 3).map { iw =>
          val x0 = t.lon0 + drift + (iw - 1) * 0.75
          val x1 = x0 + 0.8
          val (y0, y1) = if (t.dLat > 0) (lat, lat + 0.2) else (lat - 0.2, lat)
          val ring = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
            .map { case (x, y) => f"${wrap(x)}%.5f $y%.5f" }.mkString(", ")
          val ogc = (ti * s.burstsPerTrack + b) * 3 + iw
          Burst(ogc, burstId, t.number, iw, t.pass, s"MULTIPOLYGON ((($ring)))", (y0 + y1) / 2)
        }
      }
    }
  }

  /** A concave star-shaped land polygon over the middle of the regular
    * tracks. */
  def landWkt(seed: Long): String = {
    val r = new java.util.Random(seed ^ 0x1a2d)
    val (cx, cy) = (-90.0 + 10 * r.nextDouble(), -2.0 + r.nextDouble())
    val n = 14
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      val rad = if (k % 2 == 0) 1.0 else 0.35 + 0.2 * r.nextDouble()
      (cx + 75 * rad * math.cos(a), cy + 6 * rad * math.sin(a))
    }
    (pts :+ pts.head).map { case (x, y) => f"$x%.4f $y%.4f" }
      .mkString("POLYGON ((", ", ", "))")
  }

  private val compact = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Acquisition times of a track: 12-day repeat from a track-specific
    * start, at a track-specific time of day. */
  def acquisitions(t: Track, start: LocalDateTime, n: Int, gapAfter: Int = -1,
      gapDays: Int = 0): Seq[LocalDateTime] = {
    val t0 = start.plusDays(t.number % 12).plusSeconds((t.number * 317L) % 86400)
    (0 until n).map(i => t0.plusDays(12L * i + (if (gapAfter >= 0 && i >= gapAfter) gapDays else 0)))
  }

  def granule(b: Burst, at: LocalDateTime, pol: String): String =
    f"OPERA_L2_CSLC-S1_T${b.track}%03d-${b.burstId}%06d-IW${b.iw}%d_${at.format(compact)}Z_20240101T000000Z_S1A_${pol}_v1.0"

  /** F4 survey CSV. About 4% of (burst, date) cells are missing, 5% are
    * delivered twice (the newer revision wins), 5% have a VH twin, and
    * three rows are malformed. */
  def surveyCsv(seed: Long, s: Sizes = Default): String = {
    val r = new java.util.Random(seed ^ 0xc5a)
    val g = grid(seed, s)
    val ts = tracks(seed, s).map(t => t.number -> t).toMap
    val sb = new StringBuilder(
      "Granule ID,Temporal Time,Revision Time,Revision-Temporal Delta Hours,revision-id\n")
    def row(gr: String, at: LocalDateTime, rev: LocalDateTime, id: Int): Unit = {
      val hours = java.time.Duration.between(at, rev).toMinutes / 60.0
      sb ++= s"$gr,${at.format(iso)},${rev.format(iso)},$hours,$id\n"
    }
    val start = LocalDateTime.of(2016, 7, 1, 0, 0)
    for (b <- g; at <- acquisitions(ts(b.track), start, s.surveyDates)) {
      if (r.nextInt(25) != 0) {
        val rev = at.plusHours(20 + r.nextInt(50))
        row(granule(b, at, "VV"), at, rev, 1)
        if (r.nextInt(20) == 0) row(granule(b, at, "VV"), at, rev.plusDays(30), 2)
        if (r.nextInt(20) == 0) row(granule(b, at, "VH"), at, rev, 1)
      }
    }
    (1 to 3).foreach(i => sb ++= s"BROKEN_GRANULE_$i,2017-01-01T00:00:00Z,2017-01-02T00:00:00Z,24.0,1\n")
    sb.toString
  }

  final case class Historical(burstIdJpl: String, sensingTime: LocalDateTime, geometry: String,
      granule: String) {
    def micros: Long = sensingTime.toEpochSecond(ZoneOffset.UTC) * 1000000L
  }

  /** F5 historical bursts: every burst on `historyDates` acquisitions of its
    * track with a 2.5-year gap halfway; one SAFE granule per (track, date),
    * named with or without the `.SAFE` suffix. */
  def historical(seed: Long, s: Sizes = Default): Seq[Historical] = {
    val ts = tracks(seed, s).map(t => t.number -> t).toMap
    val start = LocalDateTime.of(2017, 1, 1, 0, 0)
    grid(seed, s).flatMap { b =>
      acquisitions(ts(b.track), start, s.historyDates, s.historyDates / 2, 900).map { at =>
        val stem = f"S1A_IW_SLC__1SDV_${at.format(compact)}_${at.plusSeconds(27).format(compact)}_${b.track}%06d_${(seed & 0xffff).toInt}%04X"
        Historical(b.jplId, at, b.wkt, if (b.track % 2 == 0) stem + ".SAFE" else stem)
      }
    }
  }

  /** Event dates for the reference-date sweep (F10): frame 1 (the first
    * frame of the lowest-numbered track) gets an event on one of its
    * acquisition dates, mid-series. */
  def eventDates(seed: Long, s: Sizes = Default): Map[Long, Set[java.time.LocalDate]] = {
    val first = tracks(seed, s).minBy(_.number)
    val at = acquisitions(first, LocalDateTime.of(2016, 7, 1, 0, 0), s.surveyDates)(s.surveyDates / 2)
    Map(1L -> Set(at.toLocalDate))
  }
}
