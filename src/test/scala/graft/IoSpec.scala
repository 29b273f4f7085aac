package graft

import java.nio.file.Files

import graft.sources.Io
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("zipped JSON round-trip") {
    val tmp = Files.createTempDirectory("graft-io").toString
    val path = s"$tmp/doc.json.zip"
    val json = """{"data": {"1": {"epsg": 32631}}, "metadata": {"version": "0.1"}}"""
    Io.writeJsonZip(path, "doc.json", json)
    assert(Io.readJsonZip(path) == json)
  }

  test("frame-to-burst JSON document (F11 shape)") {
    val frames = Seq(
      (1, 32631, false, false, 500160L, 78240L, 789960L, 322740L,
        Seq("t001_000001_iw1", "t001_000001_iw2")))
      .toDF("fid", "epsg", "is_land", "is_north_america",
        "xmin", "ymin", "xmax", "ymax", "burst_ids")
    val doc = Io.frameToBurstJson(frames, Map("version" -> "0.1.2"))
    assert(doc.contains(""""1": {"""))
    assert(doc.contains(""""burst_ids":["t001_000001_iw1","t001_000001_iw2"]"""))
    assert(doc.contains(""""metadata": {"version": "0.1.2"}"""))
    // parse back via Spark to prove it is valid JSON
    val parsed = spark.read.json(Seq(doc).toDS())
    assert(parsed.select("data.1.epsg").as[Long].head() == 32631L)
  }

  /** The frame-to-burst document as a distributed `orderBy(col("fid"))`
    * assembles it: the order the driver-side sort must reproduce. */
  private def sortedInSpark(frames: DataFrame, meta: Map[String, String]): String = {
    val data = frames.select(col("fid"), to_json(struct(col("epsg"), col("is_land"),
        col("is_north_america"), col("xmin"), col("ymin"), col("xmax"), col("ymax"),
        col("burst_ids"))).as("j"))
      .orderBy(col("fid")).collect()
      .map(r => s"${Io.jsonEscape(String.valueOf(r.get(0)))}: ${r.getString(1)}")
      .mkString("{", ", ", "}")
    val m = meta.toSeq.sorted.map { case (k, v) => s"${Io.jsonEscape(k)}: ${Io.jsonEscape(v)}" }
    s"""{"data": $data, "metadata": ${m.mkString("{", ", ", "}")}}"""
  }

  /** `fids` as frames spread over three parquet files, read back the way
    * the catalog tables are. */
  private def framesOf(fids: DataFrame): DataFrame = {
    val path = Files.createTempDirectory("graft-io-order").toString + "/frames"
    fids.select(col("fid"), (length(col("fid").cast("string")) + 32600).as("epsg"),
        lit(false).as("is_land"), lit(true).as("is_north_america"),
        lit(0L).as("xmin"), lit(0L).as("ymin"), lit(1L).as("xmax"), lit(1L).as("ymax"),
        array(concat(lit("t001_"), col("fid").cast("string"))).as("burst_ids"))
      .repartition(3).write.parquet(path)
    Tables.read(spark, path)
  }

  test("the document orders int and string fids as orderBy does, in one job") {
    val meta = Map("version" -> "0.1.2")
    val ints = framesOf(Seq(10, 2, 33, 1, 100, -5, 7, 21).toDF("fid"))
    // UTF-8 byte order puts U+FF21 before U+1F600; String.compareTo (UTF-16
    // code units) puts the surrogate pair first
    val strs = Seq("Ａ", "😀", "b", "B", "10", "9", "é", "a😀", "aＡ").toDF("fid")
    assert(strs.as[String].collect().sorted.toSeq !=
      strs.orderBy(col("fid")).as[String].collect().toSeq)
    val strings = framesOf(strs)
    Seq(ints, strings).foreach { frames =>
      var doc = ""
      val jobs = jobsOf { doc = Io.frameToBurstJson(frames, meta) }
      assert(doc == sortedInSpark(frames, meta))
      // the scan alone: a distributed sort adds its sample job and shuffle
      assert(jobs == 1, s"the document launched $jobs jobs")
    }
  }

  test("JSON documents escape quotes/backslashes/control chars in ids and metadata") {
    val frames = Seq(
      ("""id"with\quote""", 32631, false, false, 0L, 0L, 1L, 1L, Seq("b\"1")),
      ("tab\there", 32632, true, false, 0L, 0L, 1L, 1L, Seq.empty[String]))
      .toDF("fid", "epsg", "is_land", "is_north_america",
        "xmin", "ymin", "xmax", "ymax", "burst_ids")
    val doc = Io.frameToBurstJson(frames, Map("note" -> "line1\nline2 \"q\""))
    // must parse as valid JSON despite the hostile strings
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = om.readTree(doc)
    assert(tree.get("data").has("""id"with\quote"""))
    assert(tree.get("data").has("tab\there"))
    assert(tree.get("data").get("""id"with\quote""").get("burst_ids").get(0)
      .asText() == "b\"1")
    assert(tree.get("metadata").get("note").asText() == "line1\nline2 \"q\"")
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    // lakehouse reality: a producer adds a column mid-stream; readers of
    // the mixed directory must see the union schema with nulls backfilled
    val tmp = Files.createTempDirectory("graft-evolve").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v2 = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "extra")
    v1.write.parquet(s"$tmp/t")
    v2.write.mode("append").parquet(s"$tmp/t")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    assert(merged.columns.toSet == Set("id", "s", "extra"))
    val rows = merged.orderBy($"id")
      .select($"id", $"s", $"extra").as[(Long, String, Option[Long])].collect()
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L))))
  }
}
