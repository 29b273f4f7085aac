package graft

import graft.domain.{Catalog, CatalogBuild}
import graft.functions.GeoFunctions
import graft.sources.Io
import org.apache.spark.sql.functions._

/** Integration test of the §3.1 build pipeline on an F1-style synthetic
  * grid (FIXTURES.md): 2 tracks × 27 burst triplets along meridians, the
  * land mass covering the middle of track 1. */
class CatalogBuildSpec extends SparkSpec {
  import spark.implicits._

  private def grid() = {
    // track t: bursts stacked northward at lon = 10·t; 3 subswaths side by side
    val rows = for {
      track <- Seq(1, 2)
      burst <- 1 to 27
      iw <- 1 to 3
    } yield {
      val esaId = (track - 1) * 27 + burst
      val ogc = (esaId - 1) * 3 + iw
      val x0 = 10.0 * track + (iw - 1) * 1.0
      val y0 = burst * 0.8
      (ogc, esaId.toLong, track, s"IW$iw",
        if (track == 1) "ASCENDING" else "DESCENDING",
        s"POLYGON (($x0 $y0, ${x0 + 1} $y0, ${x0 + 1} ${y0 + 0.8}, $x0 ${y0 + 0.8}, $x0 $y0))")
    }
    rows.toDF("OGC_FID", "burst_id", "relative_orbit_number", "subswath_name",
      "orbit_pass", "geom")
  }

  // land: a box over track 1, bursts ~8..20
  private val landWkt = "POLYGON ((9 6.5, 14 6.5, 14 16.5, 9 16.5, 9 6.5))"

  test("full build: frames, join table, bbox, epsg, frame overlap") {
    val r = CatalogBuild.build(grid(), landWkt)
    val frames = r.frames.orderBy($"fid").collect()
    assert(frames.nonEmpty)

    // every frame has 5..10 triplets; join table covers all 81 triplet rows
    val nb = frames.map(f => f.getAs[Long]("n_bursts"))
    assert(nb.forall(n => n >= 5 && n <= 10))
    val fbCount = r.framesBursts.select($"burst_ogc_fid").distinct().count()
    assert(fbCount == 162) // 54 triplets × 3 subswaths

    // land flag: exactly the frames overlapping the land box on track 1
    val landFrames = frames.filter(_.getAs[Boolean]("is_land"))
    assert(landFrames.nonEmpty)
    assert(landFrames.forall(_.getAs[Int]("relative_orbit_number") == 1))

    // epsg: northern-hemisphere UTM for lon≈10-21 → zones 32..34
    frames.foreach { f =>
      val epsg = f.getAs[Int]("epsg")
      assert(epsg >= 32632 && epsg <= 32634, s"epsg $epsg")
    }

    // bbox: snapped to 30 m grid and covering a plausible UTM extent
    frames.foreach { f =>
      assert(f.getAs[Long]("xmin") % 30 == 0 && f.getAs[Long]("ymax") % 30 == 0)
      assert(f.getAs[Long]("xmax") > f.getAs[Long]("xmin"))
      assert(f.getAs[Long]("ymax") > f.getAs[Long]("ymin"))
    }

    // dissolve's concat-of-set column lists the three subswath jpl ids
    val trip = CatalogBuild.withLandFlag(
      CatalogBuild.dissolveTriplets(CatalogBuild.withJplId(grid())), landWkt)
      .select($"burst_id", $"jpl_ids").as[(Long, String)].collect().toMap
    assert(trip(1L) == "t001_000001_iw1,t001_000001_iw2,t001_000001_iw3")

    // orbit_pass propagated deterministically
    assert(frames.filter(_.getAs[Int]("relative_orbit_number") == 2)
      .forall(_.getAs[String]("orbit_pass") == "DESCENDING"))

    // overlap bursts belong to 2 frames, every other burst to 1
    val counts = r.framesBursts.groupBy($"burst_ogc_fid").count()
      .groupBy($"count").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet.subsetOf(Set(1L, 2L)))
    assert(counts.getOrElse(2L, 0L) > 0) // overlap bursts exist
  }

  test("polar-shape override forces intersecting frames to EPSG:3413") {
    // a "Greenland-style" shape over track 1's southern frames; everything
    // it touches must flip to 3413 regardless of centroid latitude
    val shape = "POLYGON ((9 0, 14 0, 14 5, 9 5, 9 0))"
    val base = CatalogBuild.build(grid(), landWkt).frames
      .select($"fid", $"epsg").as[(Int, Int)].collect().toMap
    val over = CatalogBuild.build(grid(), landWkt, polarOverrideWkt = Some(shape))
    val frames = over.frames.select($"fid", $"epsg", $"geom").collect()
    var flipped = 0
    frames.foreach { f =>
      val hits = GeoFunctions.parseWkt(f.getAs[String]("geom"))
        .intersects(GeoFunctions.parseWkt(shape))
      val epsg = f.getAs[Int]("epsg")
      if (hits) { assert(epsg == 3413); flipped += 1 }
      else assert(epsg == base(f.getAs[Int]("fid"))) // untouched frames keep their UTM pick
    }
    assert(flipped > 0 && flipped < frames.length)
  }

  test("lookup and JSON documents work off the built catalog") {
    val r = CatalogBuild.build(grid(), landWkt)
    val someFid = r.frames.select($"fid").orderBy($"fid").as[Int].head()
    val lk = Catalog.lookup(r.frames, r.framesBursts, r.burstIdMap, someFid)
    val row = lk.collect().head
    val burstIds = row.getSeq[String](row.fieldIndex("burst_ids"))
    assert(burstIds.nonEmpty && burstIds.forall(_.matches("t\\d{3}_\\d{6}_iw[123]")))

    // frame-to-burst JSON doc round-trips
    val summaries = Catalog.frameSummaries(r.frames, r.framesBursts, r.burstIdMap)
    val doc = Io.frameToBurstJson(summaries, Map("version" -> "test"))
    val parsed = spark.read.json(Seq(doc).toDS())
    assert(parsed.columns.contains("data"))
  }

  test("build returns the frames table that create writes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-build-cols").toString
    grid().write.parquet(s"$tmp/burst_map")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/land.wkt"), landWkt)
    Main.run(spark, List("create", s"$tmp/burst_map", s"$tmp/land.wkt", s"$tmp/catalog"))
    val written = spark.read.parquet(s"$tmp/catalog/frames").columns.toSeq
    assert(CatalogBuild.build(grid(), landWkt).frames.columns.toSeq == written)
    assert(written == Seq("fid", "epsg", "is_land", "relative_orbit_number", "orbit_pass",
      "n_bursts", "geom", "xmin", "ymin", "xmax", "ymax", "is_north_america",
      "bb_xmin", "bb_ymin", "bb_xmax", "bb_ymax"))
  }

  test("the land flag is false for a null geometry") {
    val trip = Seq((1L, Some("POLYGON ((10 8, 11 8, 11 9, 10 9, 10 8))")), (2L, None))
      .toDF("burst_id", "geom")
    val flagged = CatalogBuild.withLandFlag(trip, landWkt)
    assert(!flagged.schema("is_land").nullable)
    assert(flagged.orderBy($"burst_id").select($"is_land").as[Boolean].collect().toSeq ==
      Seq(true, false))
  }

  test("antimeridian frame gets split geometry and a sane epsg") {
    // one track straddling the dateline
    val rows = (1 to 9).flatMap { b =>
      (1 to 3).map { iw =>
        val esa = b; val ogc = (b - 1) * 3 + iw
        val x0 = 179.0 + (iw - 1) * 0.7
        val y0 = b * 0.8
        // lon wraps: shift > 180 into negative
        val x1 = x0 + 0.7
        def w(x: Double) = if (x > 180) x - 360 else x
        (ogc, esa.toLong, 3, s"IW$iw", "ASCENDING",
          s"POLYGON ((${w(x0)} $y0, ${w(x1)} $y0, ${w(x1)} ${y0 + 0.8}, ${w(x0)} ${y0 + 0.8}, ${w(x0)} $y0))")
      }
    }.toDF("OGC_FID", "burst_id", "relative_orbit_number", "subswath_name",
      "orbit_pass", "geom")
    val r = CatalogBuild.build(rows, landWkt)
    val f = r.frames.collect()
    assert(f.nonEmpty)
    f.foreach { row =>
      val epsg = row.getAs[Int]("epsg")
      // zone 60 (positive side) or zone 1 (negative side)
      assert(epsg == 32660 || epsg == 32601, s"epsg $epsg")
    }
  }
}
