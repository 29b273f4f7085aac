package graft

import graft.sources.EmbeddedDb
import org.apache.spark.sql.functions._

/** K3 embedded relational DB sink (reference: make_minimal_db's sqlite
  * artifact, build_frame_db.py:453-480) via Spark's JDBC writer on Derby. */
class EmbeddedDbSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDb(name: String): String =
    java.nio.file.Files.createTempDirectory("graft-k3-spec")
      .resolve(name).toString

  test("JDBC sink roundtrips values and schema exactly") {
    val db = tmpDb("db1")
    val df = Seq(
      (1L, "t001_000001_iw1", 32610L, -123L, 37L, -121L, 39L),
      (2L, "t001_000002_iw2", 32611L, -120L, 35L, -118L, 37L),
      (3L, "t087_000003_iw3", 3413L, -45L, 76L, -40L, 78L))
      .toDF("fid", "burst_id_jpl", "epsg", "xmin", "ymin", "xmax", "ymax")
    EmbeddedDb.writeTable(df, db, "burst_id_map")
    val back = EmbeddedDb.readTable(spark, db, "burst_id_map")
      .orderBy($"fid").as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(back.toSeq == Seq(
      (1L, "t001_000001_iw1", 32610L, -123L, 37L, -121L, 39L),
      (2L, "t001_000002_iw2", 32611L, -120L, 35L, -118L, 37L),
      (3L, "t087_000003_iw3", 3413L, -45L, 76L, -40L, 78L)))
  }

  test("overwrite mode replaces the table, like the reference's if_exists='replace'") {
    val db = tmpDb("db2")
    EmbeddedDb.writeTable(Seq((1L, "a")).toDF("fid", "v"), db, "t")
    EmbeddedDb.writeTable(Seq((2L, "b"), (3L, "c")).toDF("fid", "v"), db, "t")
    val back = EmbeddedDb.readTable(spark, db, "t")
      .orderBy($"fid").as[(Long, String)].collect().toSeq
    assert(back == Seq((2L, "b"), (3L, "c")))
  }

  test("multiple tables live in one artifact, like the reference's sqlite file") {
    val db = tmpDb("db3")
    EmbeddedDb.writeTable(Seq((1L, 10L)).toDF("fid", "frame"), db, "frames")
    EmbeddedDb.writeTable(Seq((1L, "x")).toDF("fid", "b"), db, "bursts")
    assert(EmbeddedDb.readTable(spark, db, "frames").count() == 1)
    assert(EmbeddedDb.readTable(spark, db, "bursts").count() == 1)
  }
}
