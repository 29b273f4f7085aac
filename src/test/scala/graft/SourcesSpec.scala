package graft

import java.nio.file.Files

import graft.domain.BurstId
import graft.operators.SpatialJoin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("CSV: inferred schema (S2), declared schema + ';' delimiter (S3), sink (K1)") {
    val tmp = Files.createTempDirectory("graft-csv").toString
    // K1: write events subset out as ;-delimited CSV (single file for parity)
    Tables.events(spark, sf()).filter($"user_id" < 5)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .coalesce(1).write.option("header", "true").option("delimiter", ";")
      .csv(s"$tmp/out")

    // S2: inferred-schema read
    val inferred = spark.read.option("header", "true").option("delimiter", ";")
      .option("inferSchema", "true").csv(s"$tmp/out")
    assert(inferred.schema("event_id").dataType == IntegerType ||
      inferred.schema("event_id").dataType == LongType)
    assert(inferred.schema("value").dataType == DoubleType)

    // S3: declared-schema read over a glob
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val declared = spark.read.schema(schema).option("header", "true")
      .option("delimiter", ";").csv(s"$tmp/out/*.csv")
    assert(declared.count() == inferred.count() && declared.count() > 0)
    assert(declared.schema("event_id").dataType == LongType)
  }

  test("broadcast STRtree spatial join: points in polygons (J7/J10)") {
    val points = (0 until 100).map { i =>
      (i.toLong, s"POINT (${i % 10} ${i / 10})")
    }.toDF("id", "wkt")
    val polys = Seq(
      (1L, "POLYGON ((0.5 0.5, 3.5 0.5, 3.5 3.5, 0.5 3.5, 0.5 0.5))"),
      (2L, "POLYGON ((6.5 6.5, 9.5 6.5, 9.5 9.5, 6.5 9.5, 6.5 6.5))"))
    val joined = SpatialJoin.broadcastSpatialJoin(points, polys, "contains")
      .as[(Long, Long)].collect().toSet
    // poly 1 contains x∈[1,3], y∈[1,3] → ids 11..13, 21..23, 31..33
    val want1 = (for { y <- 1 to 3; x <- 1 to 3 } yield (y * 10 + x).toLong -> 1L).toSet
    val want2 = (for { y <- 7 to 9; x <- 7 to 9 } yield (y * 10 + x).toLong -> 2L).toSet
    assert(joined == want1 ++ want2)
  }

  test("STRtree is built once per executor JVM, not once per task") {
    val polys = Seq((1L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"))
    val points = (0 until 1000).map(i => (i.toLong, s"POINT (${i % 40} ${i % 40})"))
      .toDF("id", "wkt")
      .repartition(16) // 16 tasks probing the same broadcast index
    val before = SpatialJoin.treeBuildCount
    val n = SpatialJoin.broadcastSpatialJoin(points, polys, "intersects").count()
    assert(n == 1000)
    // local[32] is a single JVM = a single "executor": exactly one build
    // regardless of task count (the per-JVM cache keyed by broadcast id)
    assert(SpatialJoin.treeBuildCount - before == 1,
      s"expected 1 tree build across 16 tasks, got ${SpatialJoin.treeBuildCount - before}")
  }

  test("burst-id physics: Eq. 9-89/9-91 (D9)") {
    val anx = java.time.Instant.parse("2020-01-01T00:00:00Z")
    // first burst: sensing right after preamble
    val t1 = anx.plusMillis(2500)
    val b1 = BurstId.fromBurstParams(t1, anx, 10, 10, "IW1")
    assert(b1.track == 10)
    // dt_b = 2.5 + mid-iw2 offset (1.371) + 9*T_orb; (dt - T_pre)/T_beam
    val dtB = 2.5 + 1.371 + 9 * BurstId.TOrb
    assert(b1.esaBurstId == 1L + math.floor((dtB - BurstId.TPre) / BurstId.TBeam).toLong)
    assert(b1.jplId.matches("t010_\\d{6}_iw1"))

    // one full burst later → id + 1
    val b2 = BurstId.fromBurstParams(t1.plusNanos((BurstId.TBeam * 1e9).toLong),
      anx, 10, 10, "IW1")
    assert(b2.esaBurstId == b1.esaBurstId + 1)

    // equator crossing: more than an orbit past ANX with track bump
    val t3 = anx.plusSeconds(BurstId.TOrb.toLong + 100)
    val b3 = BurstId.fromBurstParams(t3, anx, 10, 11, "IW1")
    assert(b3.track == 11)

    // column form matches the scalar form for the single-track case
    val sensingUs = t1.getEpochSecond * 1000000L + t1.getNano / 1000
    val anxUs = anx.getEpochSecond * 1000000L
    val gotCol = Seq((sensingUs, anxUs, 10)).toDF("s", "a", "tr")
      .select(BurstId.esaBurstIdCol($"s", $"a", $"tr")).as[Long].head()
    // column form uses the burst start (no mid-IW2 offset): allow ±1
    assert(math.abs(gotCol - b1.esaBurstId) <= 1)
  }

  test("D9 end-to-end ingest: grid → polygons → dateline split → JPL ids") {
    import graft.domain.{BurstId, BurstIngest}
    // hand-computed granule: k=2 → track 3, 9 bursts, lon0 = -166
    val (file, ann, man) = BurstIngest.syntheticGranule(2)
    val rows = BurstIngest.ingest(Seq((file, ann, man)).toDS())
      .collect().sortBy(_.sensing_time_us)
    assert(rows.length == 9)
    assert(rows.forall(_.granule == "S1A_IW_SLC__1SDV_G002"))

    // ids match the physics computed independently
    val anx = java.time.Instant.parse("2020-01-01T00:00:00Z")
    rows.zipWithIndex.foreach { case (r, i) =>
      val t = anx.plusNanos(((2.5 + i * BurstId.TBeam) * 1e9).toLong)
      val want = BurstId.fromBurstParams(t, anx, 3, 3, "iw1")
      assert(r.burst_id_jpl == want.jplId, s"burst $i")
    }
    // annotation timestamps keep their microseconds
    assert(BurstIngest.parseTimeUs("2020-01-01T00:00:04.258273") -
      BurstIngest.parseTimeUs("2020-01-01T00:00:01.500000") == 2758273L)

    // consecutive bursts get consecutive ESA ids
    val ids = rows.map(_.burst_id_jpl.split("_")(1).toLong)
    assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 })

    // boundary: first burst polygon spans grid lines 0 and 1500 —
    // 10 vertices (5 per line) + closure, lat within the two lines' range
    val g0 = graft.functions.GeoFunctions.parseWkt(rows.head.wkt)
    assert(g0.getGeometryType == "Polygon")
    assert(g0.getCoordinates.length == 11)
    val lats = g0.getCoordinates.map(_.y) // lat0 = -40 + k·3 = -34 for k=2
    assert(lats.min >= -34.0 - 1e-9 && lats.max <= -34.0 + 0.17 + 0.04 + 1e-9)

    // granule 13 straddles the antimeridian → every burst polygon splits
    // into a MultiPolygon whose parts stay within [-180, 180]
    val (f13, a13, m13) = BurstIngest.syntheticGranule(13)
    val dl = BurstIngest.ingest(Seq((f13, a13, m13)).toDS()).collect()
    assert(dl.length == 9)
    dl.foreach { r =>
      val g = graft.functions.GeoFunctions.parseWkt(r.wkt)
      assert(g.getNumGeometries == 2, r.wkt.take(60))
      assert(g.getCoordinates.forall(c => c.x >= -180 && c.x <= 180))
    }
  }
}
