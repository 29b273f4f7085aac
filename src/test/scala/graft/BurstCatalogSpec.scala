package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.domain.BurstCatalog
import org.apache.spark.sql.functions._

/** §3.2 end-to-end: an F4-style survey CSV (duplicate revisions, non-VV
  * rows) through parse → dedup → frame join → blackout exclusion →
  * consistent sets → F6-shaped JSON. */
class BurstCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def granule(track: Int, esa: Int, iw: Int, ts: String, pol: String) =
    f"OPERA_L2_CSLC-S1_T$track%03d-$esa%06d-IW$iw%d_${ts}Z_20240101T000000Z_S1A_${pol}_v1.0"

  private val dates = Seq("20240101T060000" -> "2024-01-01 06:00:00",
    "20240113T060000" -> "2024-01-13 06:00:00",
    "20240125T060000" -> "2024-01-25 06:00:00")

  test("make-burst-catalog end-to-end") {
    val tmp = Files.createTempDirectory("graft-cat").toString
    val csv = new StringBuilder("Granule ID,Temporal Time,Revision Time,revision-id\n")
    // frame 1 = bursts (1,2); acquisitions on 3 dates; burst 2 missing on
    // date 3 → consistent set {1,2} keeps dates 1,2
    // granule timestamps use the compact 15-char SAFE form (yyyyMMddTHHmmss)
    // so the fixed polarization slice at chars 72-73 lines up
    for (((gts, ts), di) <- dates.zipWithIndex; esa <- 1 to 2
         if !(esa == 2 && di == 2)) {
      csv ++= s"${granule(1, esa, 1, gts, "VV")},$ts,$ts,1\n"
      // duplicate delivery with a NEWER revision for burst 1 date 1
      if (esa == 1 && di == 0)
        csv ++= s"${granule(1, esa, 1, gts, "VV")},$ts,2024-02-01 00:00:00,2\n"
      // non-VV noise
      csv ++= s"${granule(1, esa, 1, gts, "VH")},$ts,$ts,1\n"
    }
    // malformed granule row: must be counted and excluded, not mis-sliced
    csv ++= "BROKEN_GRANULE_FORMAT,2024-01-01 06:00:00,2024-01-01 06:00:00,1\n"
    Files.writeString(Paths.get(s"$tmp/survey.csv"), csv.toString)

    val burstIdMap = Seq(
      (1, "t001_000001_iw1"), (2, "t001_000002_iw1"))
      .toDF("OGC_FID", "burst_id_jpl")
    val framesBursts = Seq((1L, 1), (1L, 2)).toDF("frame_fid", "burst_ogc_fid")

    val doc = BurstCatalog.makeBurstCatalog(spark, s"$tmp/survey.csv",
      burstIdMap, framesBursts, None, Map("version" -> "test"))
    val parsed = spark.read.json(Seq(doc).toDS())
    val bursts = parsed.select(expr("data.`1`.burst_id_list")).as[Seq[String]].head()
    val times = parsed.select(expr("data.`1`.sensing_time_list")).as[Seq[String]].head()
    assert(bursts == Seq("t001_000001_iw1", "t001_000002_iw1"))
    // option 0 = {b1,b2}×2 dates (4 cells) beats {b1}×3 (3 cells)
    assert(times == Seq("2024-01-01T06:00:00", "2024-01-13T06:00:00"))

    // blackout excluding date 2 → option 0 flips to {b1,b2}×1 vs {b1}×2 →
    // {b1} over dates 1 and 3
    val blackouts = Seq((1L, "2024-01-10 00:00:00", "2024-01-15 23:59:59"))
      .toDF("frame_id", "window_start", "window_end")
      .select($"frame_id", $"window_start".cast("timestamp"),
        $"window_end".cast("timestamp"))
    val doc2 = BurstCatalog.makeBurstCatalog(spark, s"$tmp/survey.csv",
      burstIdMap, framesBursts, Some(blackouts), Map("version" -> "test"))
    val parsed2 = spark.read.json(Seq(doc2).toDS())
    val bursts2 = parsed2.select(expr("data.`1`.burst_id_list")).as[Seq[String]].head()
    val times2 = parsed2.select(expr("data.`1`.sensing_time_list")).as[Seq[String]].head()
    assert(bursts2 == Seq("t001_000001_iw1"))
    assert(times2 == Seq("2024-01-01T06:00:00", "2024-01-25T06:00:00"))

    // quality report counts the malformed row and the VH noise
    val raw = spark.read.option("header", "true").csv(s"$tmp/survey.csv")
    val q = BurstCatalog.surveyQualityReport(raw)
      .as[(Long, Long, Long, Long)].head()
    // 5 (date,burst) combos × (VV+VH) + 1 duplicate VV + 1 broken = 12 rows
    assert(q == ((12L, 11L, 6L, 1L)))
  }

  test("a multi-frame document lists its frames in ascending frame id") {
    val tmp = Files.createTempDirectory("graft-cat-order").toString
    val csv = new StringBuilder("Granule ID,Temporal Time,Revision Time,revision-id\n")
    for (esa <- 1 to 12; (gts, ts) <- dates)
      csv ++= s"${granule(1, esa, 1, gts, "VV")},$ts,$ts,1\n"
    Files.writeString(Paths.get(s"$tmp/survey.csv"), csv.toString)
    val burstIdMap = (1 to 12).map(e => (e, f"t001_$e%06d_iw1")).toDF("OGC_FID", "burst_id_jpl")
    // two bursts per frame; as strings the ids would sort 1, 10, 100, 2, 20, 3
    val fids = Seq(100L, 3L, 20L, 1L, 10L, 2L)
    val framesBursts = fids.zipWithIndex
      .flatMap { case (f, i) => Seq((f, 2 * i + 1), (f, 2 * i + 2)) }
      .toDF("frame_fid", "burst_ogc_fid")
    def make() = BurstCatalog.makeBurstCatalog(spark, s"$tmp/survey.csv", burstIdMap,
      framesBursts, None, Map("version" -> "test"))
    var doc = ""
    val jobs = jobsOf { doc = make() }
    // 7 jobs; a distributed sort before the collect adds its sample job
    // and its shuffle (9)
    assert(jobs <= 7, s"make-burst-catalog launched $jobs jobs")
    // AQE coalesces this small input into one partition, which reaches the
    // collect already in key order; uncoalesced, the four shuffle
    // partitions arrive in hash order, and only the driver's sort orders them
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val spread = try make() finally spark.conf.unset(coalesce)
    assert(spread == doc)
    val data = new ObjectMapper().readTree(doc).get("data")
    assert(data.fieldNames().asScala.toSeq == fids.sorted.map(_.toString))
    assert(data.get("20").get("burst_id_list").elements().asScala.map(_.asText).toSeq ==
      Seq("t001_000005_iw1", "t001_000006_iw1"))
  }

  test("the document's metadata is escaped JSON") {
    val tmp = Files.createTempDirectory("graft-cat-meta").toString
    val csv = new StringBuilder("Granule ID,Temporal Time,Revision Time,revision-id\n")
    for (esa <- 1 to 2; (gts, ts) <- dates)
      csv ++= s"${granule(1, esa, 1, gts, "VV")},$ts,$ts,1\n"
    Files.writeString(Paths.get(s"$tmp/survey.csv"), csv.toString)
    val burstIdMap = Seq((1, "t001_000001_iw1"), (2, "t001_000002_iw1"))
      .toDF("OGC_FID", "burst_id_jpl")
    val framesBursts = Seq((1L, 1), (1L, 2)).toDF("frame_fid", "burst_ogc_fid")
    def make(meta: Map[String, String]) = BurstCatalog.makeBurstCatalog(spark,
      s"$tmp/survey.csv", burstIdMap, framesBursts, None, meta)
    // a quote and a backslash: written raw, either breaks the document
    val quoted = "a\"b\\c"
    val meta = new ObjectMapper().readTree(make(Map("version" -> quoted, "k\"" -> "v")))
      .get("metadata")
    assert(meta.get("version").asText == quoted && meta.get("k\"").asText == "v")
    // plain metadata keeps its bytes
    assert(make(Map("version" -> "perfbench"))
      .startsWith("""{"metadata": {"version": "perfbench"}, "data": {"1": """))
  }
}
