package graft

import java.nio.file.Files

import graft.domain.Catalog
import graft.sources.Io
import org.apache.spark.sql.functions._

class FetchBurstsSpec extends SparkSpec {
  import spark.implicits._

  test("historical fetch-bursts: zipped frame doc → semi-join + time range") {
    val tmp = Files.createTempDirectory("graft-fetch").toString
    val zip = s"$tmp/frame-to-burst.json.zip"
    Io.writeJsonZip(zip, "doc.json",
      """{"data": {
        |  "1": {"burst_ids": ["t001_000001_iw1", "t001_000002_iw1"]},
        |  "2": {"burst_ids": ["t001_000002_iw1", "t001_000003_iw1"]}
        |}, "metadata": {"version": "t"}}""".stripMargin)

    val bursts = Seq(
      ("t001_000001_iw1", "2020-01-05 00:00:00", "g1"),
      ("t001_000002_iw1", "2020-01-06 00:00:00", "g2"),
      ("t001_000003_iw1", "2020-01-07 00:00:00", "g3"),
      ("t001_000009_iw1", "2020-01-06 00:00:00", "g4"), // not in any frame
      ("t001_000001_iw1", "2021-06-01 00:00:00", "g5")) // outside range
      .toDF("burst_id_jpl", "sensing_time", "granule")
      .withColumn("sensing_time", $"sensing_time".cast("timestamp"))

    val got = Catalog.fetchBursts(spark, bursts, zip, Seq(1L),
        "2020-01-01 00:00:00", "2020-12-31 23:59:59")
      .select($"granule").as[String].collect().sorted.toSeq
    assert(got == Seq("g1", "g2"))

    // two frames: union-dedup of their burst lists
    val got2 = Catalog.fetchBursts(spark, bursts, zip, Seq(1L, 2L),
        "2020-01-01 00:00:00", "2020-12-31 23:59:59")
      .select($"granule").as[String].collect().sorted.toSeq
    assert(got2 == Seq("g1", "g2", "g3"))
  }

  test("historical fetch-granules: granule dedup + .SAFE strip") {
    val tmp = Files.createTempDirectory("graft-fetchg").toString
    val zip = s"$tmp/frame-to-burst.json.zip"
    Io.writeJsonZip(zip, "doc.json",
      """{"data": {
        |  "1": {"burst_ids": ["t001_000001_iw1", "t001_000002_iw1"]}
        |}, "metadata": {"version": "t"}}""".stripMargin)
    // two bursts of the same granule (the granule-dedup case), one .SAFE
    // suffix to strip, one burst outside the frame, one outside the range
    val bursts = Seq(
      ("t001_000001_iw1", "2020-01-05 00:00:00", "GRANULE_A.SAFE"),
      ("t001_000002_iw1", "2020-01-05 00:00:00", "GRANULE_A.SAFE"),
      ("t001_000002_iw1", "2020-01-06 00:00:00", "GRANULE_B"),
      ("t001_000009_iw1", "2020-01-06 00:00:00", "GRANULE_C.SAFE"),
      ("t001_000001_iw1", "2021-06-01 00:00:00", "GRANULE_D.SAFE"))
      .toDF("burst_id_jpl", "sensing_time", "granule")
      .withColumn("sensing_time", $"sensing_time".cast("timestamp"))
    val got = Catalog.fetchGranules(spark, bursts, zip, Seq(1L),
        "2020-01-01 00:00:00", "2020-12-31 23:59:59")
      .as[String].collect().toSeq
    assert(got == Seq("GRANULE_A", "GRANULE_B"))
  }

  test("absent frames are skipped; all absent fails the require") {
    val tmp = Files.createTempDirectory("graft-fetch-absent").toString
    val zip = s"$tmp/frame-to-burst.json.zip"
    Io.writeJsonZip(zip, "doc.json",
      """{"data": {
        |  "1": {"burst_ids": ["t001_000001_iw1", "t001_000002_iw1"]},
        |  "2": {"burst_ids": ["t001_000003_iw1"]}
        |}, "metadata": {"version": "t"}}""".stripMargin)
    val bursts = Seq(
      ("t001_000001_iw1", "2020-01-05 00:00:00", "G1.SAFE"),
      ("t001_000002_iw1", "2020-01-06 00:00:00", "G2.SAFE"),
      ("t001_000003_iw1", "2020-01-07 00:00:00", "G3.SAFE"))
      .toDF("burst_id_jpl", "sensing_time", "granule")
      .withColumn("sensing_time", $"sensing_time".cast("timestamp"))
    val (s, e) = ("2020-01-01 00:00:00", "2020-12-31 23:59:59")

    // frame 99 is not in the document: only frame 1's rows come back
    val rows = Catalog.fetchBursts(spark, bursts, zip, Seq(1L, 99L), s, e)
      .select($"burst_id_jpl").as[String].collect().sorted.toSeq
    assert(rows == Seq("t001_000001_iw1", "t001_000002_iw1"))
    val granules = Catalog.fetchGranules(spark, bursts, zip, Seq(99L, 1L), s, e)
      .as[String].collect().toSeq
    assert(granules == Seq("G1", "G2"))

    Seq[(Seq[Long]) => Unit](
      fids => Catalog.fetchBursts(spark, bursts, zip, fids, s, e),
      fids => Catalog.fetchGranules(spark, bursts, zip, fids, s, e)).foreach { call =>
      val err = intercept[IllegalArgumentException](call(Seq(98L, 99L)))
      assert(err.getMessage.contains("no requested frame present"))
    }
  }
}
