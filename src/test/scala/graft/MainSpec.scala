package graft

import graft.domain.{BurstCatalog, Catalog}
import graft.functions.GeoFunctions
import graft.plans.SpatialExpressions
import graft.sources.Io
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

/** End-to-end CLI test (cli.py:28-44 surface): create a catalog from a
  * synthetic burst grid, then drive every serving subcommand against the
  * persisted artifacts exactly as a shell user would. */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def grid() = {
    val rows = for {
      track <- Seq(1, 2); burst <- 1 to 18; iw <- 1 to 3
    } yield {
      val esaId = (track - 1) * 18 + burst
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

  /** `create`'s inputs in a fresh temp dir: the grid and a land polygon
    * over part of track 1. Returns (dir, burst map path, land file path). */
  private def createInputs(prefix: String): (String, String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    grid().write.parquet(s"$tmp/burst_map")
    val landFile = java.nio.file.Paths.get(s"$tmp/land.wkt")
    java.nio.file.Files.writeString(landFile,
      "POLYGON ((9 3.5, 14 3.5, 14 11.5, 9 11.5, 9 3.5))")
    (tmp, s"$tmp/burst_map", landFile.toString)
  }

  private def capture(body: => Unit): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8").linesIterator.toSeq.filter(_.nonEmpty)
  }

  private case class Served(catDir: String, zip: String, bursts: String, fid: Long,
      burstIds: Seq[String])

  /** One `create`d catalog with its frame-to-burst document, and a
    * historical fact in which every burst of the first frame acquires on
    * two dates under two granules. */
  private lazy val served: Served = {
    val (tmp, burstMap, land) = createInputs("graft-cli-served")
    val catDir = s"$tmp/catalog"
    Main.run(spark, List("create", burstMap, land, catDir))
    val frames = spark.read.parquet(s"$catDir/frames")
    val fb = spark.read.parquet(s"$catDir/frames_bursts")
    val bim = spark.read.parquet(s"$catDir/burst_id_map")
    val zip = s"$tmp/f2b.json.zip"
    Io.writeJsonZip(zip, "f2b.json", Io.frameToBurstJson(
      Catalog.frameSummaries(frames, fb, bim), Map("version" -> "test")))
    val fid = frames.select($"fid".cast("long")).orderBy($"fid").as[Long].head()
    val burstIds = Catalog.lookup(frames, fb, bim, fid)
      .select(explode($"burst_ids")).as[String].collect().toSeq
    burstIds.flatMap(b => Seq(
        (b, "2023-01-05 00:00:00", "S1A_20230105.SAFE"),
        (b, "2024-06-01 00:00:00", "S1A_20240601.SAFE")))
      .toDF("burst_id_jpl", "st", "granule")
      .select($"burst_id_jpl", $"st".cast("timestamp").as("sensing_time"), $"granule")
      .write.parquet(s"$tmp/bursts")
    assert(burstIds.nonEmpty)
    Served(catDir, zip, s"$tmp/bursts", fid, burstIds)
  }

  test("create + lookup + intersect + fetch-bursts + fetch-granules end-to-end") {
    val c = served

    // create: persists the three catalog tables
    val frames = spark.read.parquet(s"${c.catDir}/frames")
    assert(frames.count() > 0)
    assert(Seq("bb_xmin", "bb_ymin", "bb_xmax", "bb_ymax", "is_north_america")
      .forall(frames.columns.contains))

    // lookup: JSON line carrying the frame's sorted burst-id list
    val lookupOut = capture(Main.run(spark, List("lookup", c.catDir, c.fid.toString)))
    assert(lookupOut.size == 1)
    assert(lookupOut.head.contains("\"burst_ids\":[\"t001_"))

    // intersect: both probe forms hit the frames covering lon 10-12, lat ~4
    val byBbox = capture(Main.run(spark,
      List("intersect", c.catDir, "--bbox", "10.5,3.9,11.5,4.1")))
    val byWkt = capture(Main.run(spark, List("intersect", c.catDir, "--wkt",
      Catalog.bboxWkt(10.5, 3.9, 11.5, 4.1))))
    assert(byBbox.nonEmpty && byBbox == byWkt)
    assert(byBbox.forall(_.contains("\"fid\":")))

    // fetch-bursts: CSV rows only inside the time range
    val outDir = java.nio.file.Files.createTempDirectory("graft-cli-fetched").toString
    Main.run(spark, List("fetch-bursts", c.bursts, c.zip, c.fid.toString,
      "2023-01-01 00:00:00", "2023-12-31 00:00:00", outDir))
    val fetched = spark.read.option("header", "true").csv(outDir)
    assert(fetched.count() == c.burstIds.size)
    assert(fetched.select($"granule").distinct().as[String].collect().toSeq ==
      Seq("S1A_20230105.SAFE"))

    // fetch-granules: distinct granules with .SAFE stripped, full range
    val granules = capture(Main.run(spark, List("fetch-granules", c.bursts, c.zip,
      c.fid.toString, "2023-01-01 00:00:00", "2024-12-31 00:00:00")))
    assert(granules.map(l => l.contains("S1A_20230105") || l.contains("S1A_20240601"))
      .forall(identity) && granules.size == 2)
    assert(granules.forall(!_.contains(".SAFE")))
  }

  test("printJson guard refuses to collect past the row cap") {
    val catDir = served.catDir
    val nFrames = spark.read.parquet(s"$catDir/frames").count()
    assert(nFrames > 1)
    // a planet-sized probe hits every frame; with the cap below it, the
    // CLI must fail loud instead of silently pulling them onto the driver
    System.setProperty("graft.cli.maxJsonRows", "1")
    try {
      val e = intercept[IllegalArgumentException](capture(Main.run(spark,
        List("intersect", catDir, "--bbox", "-180,-90,180,90"))))
      assert(e.getMessage.contains("exceeds 1 rows"))
    } finally System.clearProperty("graft.cli.maxJsonRows")
    // and with the default cap the same probe serves fine
    val all = capture(Main.run(spark,
      List("intersect", catDir, "--bbox", "-180,-90,180,90")))
    assert(all.size == nFrames)
  }

  test("create flags the frames that meet any shape of a multi-shape North-America boundary") {
    val (tmp, burstMapDir, land) = createInputs("graft-cli-na")
    // two disjoint shapes, one WKT per line (build_frame_db.py:653-655
    // loads a multi-shape NA boundary): one over track 1's lon band
    // (~10-13), one over track 2's (~20-23) but only low latitudes
    val naFile = java.nio.file.Paths.get(s"$tmp/na.wkt")
    java.nio.file.Files.writeString(naFile,
      """POLYGON ((9 0, 14 0, 14 20, 9 20, 9 0))
        |POLYGON ((19 0, 24 0, 24 3, 19 3, 19 0))""".stripMargin)
    val catDir = s"$tmp/catalog"
    val jobs = jobsOf(Main.run(spark, List("create", burstMapDir, land, catDir, naFile.toString)))
    val frames = spark.read.parquet(s"$catDir/frames")
    // every track-1 frame intersects shape 1; track-2 frames only if their
    // bbox dips below lat 3 (burst rows start at y = 0.8) — both shapes
    // must have contributed hits or the multi-shape routing is broken
    val na = frames.filter($"is_north_america").select($"fid").as[Int].collect().toSet
    val t1 = frames.filter($"relative_orbit_number" === 1)
      .select($"fid").as[Int].collect().toSet
    val t2low = frames.filter($"relative_orbit_number" === 2 && $"bb_ymin" < 3)
      .select($"fid").as[Int].collect().toSet
    assert(t1.nonEmpty && t2low.nonEmpty)
    assert(na == (t1 ++ t2low))
    // the flag is one projected predicate, so the file adds no job to the
    // 22 of a create without it
    assert(jobs <= 22, s"create with a North-America file launched $jobs jobs")
  }

  test("create frees what it persists") {
    val (tmp, burstMap, land) = createInputs("graft-cli-persist")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Main.run(spark, List("create", burstMap, land, s"$tmp/catalog"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("create writes its three tables at once") {
    val (tmp, burstMap, land) = createInputs("graft-cli-parallel")
    // start and end of every SQL execution while `create` runs
    val spans = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => spans.put(s.executionId, (s.time, Long.MaxValue))
        case f: SparkListenerSQLExecutionEnd =>
          spans.computeIfPresent(f.executionId, (_, v) => (v._1, f.time))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val executions = try jobExecutions(
        Main.run(spark, List("create", burstMap, land, s"$tmp/catalog"))).flatten.distinct
    finally spark.sparkContext.removeSparkListener(listener)
    // the writes' jobs carry the job group `jobExecutions` sets only if
    // the write threads inherit the caller's local properties.
    // One execution per table write, all three begun before a second one
    // ended; one after another, the last would begin only after the other
    // two had ended (the burst map's write, one small job, may end before
    // the frames write is planned)
    val writes = executions.map(spans.get)
    assert(writes.size == 3, s"jobs of ${writes.size} executions")
    val (starts, ends) = writes.unzip
    assert(starts.max < ends.sorted.apply(1), s"write spans $writes")
  }

  test("repeated creates write the same part files per table") {
    // lookup's job count follows frames_bursts's file count, which the
    // join plan sets; the concurrent writes must not move it
    val (tmp, burstMap, land) = createInputs("graft-cli-files")
    val counts = Seq("first", "second").map { out =>
      Main.run(spark, List("create", burstMap, land, s"$tmp/$out"))
      Seq("frames", "frames_bursts", "burst_id_map").map(t =>
        t -> new java.io.File(s"$tmp/$out/$t").list().count(_.startsWith("part-"))).toMap
    }
    assert(counts == Seq.fill(2)(Map("frames" -> 1, "frames_bursts" -> 1, "burst_id_map" -> 4)),
      s"part files per create: $counts")
  }

  test("inParallel waits for every task, then rethrows the first failure") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    def task(ms: Long, failure: Option[String]): () => Unit = () => {
      threads.add(Thread.currentThread)
      Thread.sleep(ms)
      failure.foreach(m => throw new IllegalStateException(m))
      finished.incrementAndGet()
    }
    // one task fails early: the other two still run to their end
    val one = intercept[IllegalStateException](
      Main.inParallel(Seq(task(300, None), task(10, Some("write failed")), task(300, None))))
    assert(one.getMessage == "write failed" && one.getSuppressed.isEmpty)
    assert(finished.get == 2 && threads.size == 3)
    // two fail: the first in task order surfaces although the later failed sooner
    val two = intercept[IllegalStateException](
      Main.inParallel(Seq(task(200, Some("first")), task(10, Some("second")), task(50, None))))
    assert(two.getMessage == "first" && two.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(finished.get == 3 && threads.size == 6)
    assert(threads.stream.allMatch(!_.isAlive), "a task thread outlived the call")
  }

  test("a repeated catalog build and serve compiles no generated class") {
    // `create`, the burst catalog, the frame-to-burst document and one
    // request of each CLI kind: about 180 generated classes, so with
    // Spark's default cache of 100 (an LRU) every repeat recompiled them
    val (tmp, burstMap, land) = createInputs("graft-cli-compiles")
    val survey = java.nio.file.Paths.get(s"$tmp/survey.csv")
    java.nio.file.Files.writeString(survey, (for {
      track <- Seq(1, 2); burst <- 1 to 18; iw <- 1 to 3; day <- Seq("05", "17", "29")
    } yield {
      val g = f"OPERA_L2_CSLC-S1_T$track%03d-${(track - 1) * 18 + burst}%06d-IW$iw%d_" +
        s"202401${day}T060000Z_20240201T000000Z_S1A_VV_v1.0"
      s"$g,2024-01-$day 06:00:00,2024-02-01 00:00:00,1"
    }).mkString("Granule ID,Temporal Time,Revision Time,revision-id\n", "\n", "\n"))
    val c = served
    def compiles(out: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cat = s"$tmp/$out"
      Main.run(spark, List("create", burstMap, land, cat))
      val frames = spark.read.parquet(s"$cat/frames")
      val fb = spark.read.parquet(s"$cat/frames_bursts")
      val bim = spark.read.parquet(s"$cat/burst_id_map")
      assert(BurstCatalog.makeBurstCatalog(spark, survey.toString, bim, fb, None,
        Map("version" -> "test")).contains("sensing_time_list"))
      val zip = s"$cat/f2b.json.zip"
      Io.writeJsonZip(zip, "f2b.json", Io.frameToBurstJson(
        Catalog.frameSummaries(frames, fb, bim), Map("version" -> "test")))
      capture {
        Main.run(spark, List("lookup", cat, c.fid.toString))
        Main.run(spark, List("intersect", cat, "--bbox", "10.5,3.9,11.5,4.1"))
        Main.run(spark, List("intersect", cat, "--wkt", Catalog.bboxWkt(10.5, 3.9, 11.5, 4.1)))
        Main.run(spark, List("fetch-granules", c.bursts, zip, c.fid.toString,
          "2023-01-01 00:00:00", "2024-12-31 00:00:00"))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles("first")
    val second = compiles("second")
    assert(second == 0, s"the repeat compiled $second classes (the first pass $first)")
  }

  test("a request with new parameters compiles no generated class") {
    // Spark inlines primitive literals into generated code; the engine's
    // ParamLiteralRule keeps a filter's frame id, bbox and date range out
    // of it, so each kind compiles only for its first request
    val c = served
    val frames = spark.read.parquet(s"${c.catDir}/frames")
    val fb = spark.read.parquet(s"${c.catDir}/frames_bursts")
    val bim = spark.read.parquet(s"${c.catDir}/burst_id_map")
    def compiled(body: => Unit): (Long, Seq[String]) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = capture(body)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, out)
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def field(lines: Seq[String], name: String): Seq[String] =
      lines.map(l => json.readTree(l).path(name).toString)
    def fetch(start: String, end: String) =
      List("fetch-granules", c.bursts, c.zip, c.fid.toString, start, end)
    val polygon = "POLYGON ((20.2 8.3, 22.5 9.1, 21.1 12.6, 20.2 8.3))"
    Seq(List("lookup", c.catDir, c.fid.toString),
      List("intersect", c.catDir, "--bbox", "10.5,3.9,11.5,4.1"),
      List("intersect", c.catDir, "--wkt", Catalog.bboxWkt(10.5, 3.9, 11.5, 4.1)),
      fetch("2023-01-01 00:00:00", "2024-12-31 00:00:00"))
      .foreach(args => capture(Main.run(spark, args)))

    // brute force over the collected tables, outside any Spark plan
    val fid2 = frames.select($"fid".cast("long")).as[Long].collect().filter(_ != c.fid).min
    val ogcToJpl = bim.select($"OGC_FID".cast("long"), $"burst_id_jpl").as[(Long, String)]
      .collect().toMap
    val members = fb.select($"frame_fid".cast("long"), $"burst_ogc_fid".cast("long"))
      .as[(Long, Long)].collect().groupMap(_._1)(p => ogcToJpl(p._2))
    val geoms = frames.select($"fid".cast("long"), $"geom").as[(Long, String)].collect()
    def intersecting(wkt: String): Seq[String] = geoms.filter { case (_, g) =>
      GeoFunctions.parseWkt(g).intersects(GeoFunctions.parseWkt(wkt))
    }.map(_._1.toString).sorted.toSeq

    val (lookupN, lookup) = compiled(Main.run(spark, List("lookup", c.catDir, fid2.toString)))
    assert(field(lookup, "fid") == Seq(fid2.toString))
    assert(field(lookup, "burst_ids") ==
      Seq(members(fid2).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")))

    val (bboxN, bbox) = compiled(Main.run(spark,
      List("intersect", c.catDir, "--bbox", "20.5,8.9,21.5,12.1")))
    assert(field(bbox, "fid").sorted == intersecting(Catalog.bboxWkt(20.5, 8.9, 21.5, 12.1)))
    val (wktN, wkt) = compiled(Main.run(spark, List("intersect", c.catDir, "--wkt", polygon)))
    assert(field(wkt, "fid").sorted == intersecting(polygon))
    assert(bbox.nonEmpty && wkt.nonEmpty)

    val (fetchN, granules) = compiled(Main.run(spark,
      fetch("2024-01-01 00:00:00", "2024-12-31 00:00:00")))
    val ids = members(c.fid).toSet
    val from = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val to = java.sql.Timestamp.valueOf("2024-12-31 00:00:00")
    val expected = spark.read.parquet(c.bursts).as[(String, java.sql.Timestamp, String)]
      .collect().collect { case (b, t, g) if ids(b) && !t.before(from) && !t.after(to) =>
        "\"" + g.stripSuffix(".SAFE") + "\"" }.distinct.sorted.toSeq
    assert(field(granules, "granule") == expected && expected == Seq("\"S1A_20240601\""))

    assert(Seq(lookupN, bboxN, wktN, fetchN) == Seq(0, 0, 0, 0),
      s"compiled: lookup $lookupN, bbox $bboxN, wkt $wktN, fetch-granules $fetchN")
  }

  test("CLI lookup/intersect agree with direct Catalog calls on the sf0.01 build") {
    val d = sf("sf0.01")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli-oracle").toString
    val burstMapDir = s"$tmp/burst_map"
    graft.operators.Geo.burstGridFixture(spark, d).write.parquet(burstMapDir)
    val landFile = java.nio.file.Paths.get(s"$tmp/land.wkt")
    java.nio.file.Files.writeString(landFile,
      graft.operators.Geo.catalogFixtureLandWkt)
    val catDir = s"$tmp/catalog"
    Main.run(spark, List("create", burstMapDir, landFile.toString, catDir))
    val frames = spark.read.parquet(s"$catDir/frames")
    val fb = spark.read.parquet(s"$catDir/frames_bursts")
    val bim = spark.read.parquet(s"$catDir/burst_id_map")
    val fids = frames.select($"fid").orderBy($"fid").as[Int].collect()
    assert(fids.length > 4)
    // lookup: every frame's CLI JSON == the library call's JSON, verbatim
    fids.foreach { fid =>
      val cli = capture(Main.run(spark, List("lookup", catDir, fid.toString)))
      val direct = Catalog.lookup(frames, fb, bim, fid.toLong).toJSON.collect().toSeq
      assert(cli == direct, s"lookup($fid) diverged")
    }
    // intersect: a probe crossing several frames, both CLI forms vs direct
    val (xmin, ymin, xmax, ymax) = (1.5, 0.5, 18.0, 13.0)
    val direct = Catalog.intersect(frames,
        Catalog.bboxWkt(xmin, ymin, xmax, ymax), (xmin, ymin, xmax, ymax))
      .select($"fid", $"epsg", $"is_land", $"orbit_pass")
      .toJSON.collect().toSeq
    val cli = capture(Main.run(spark,
      List("intersect", catDir, "--bbox", s"$xmin,$ymin,$xmax,$ymax")))
    val cliWkt = capture(Main.run(spark, List("intersect", catDir, "--wkt",
      Catalog.bboxWkt(xmin, ymin, xmax, ymax))))
    assert(direct.nonEmpty && cli == direct && cliWkt == direct)
  }

  test("each CLI request stays within its job budget") {
    val c = served
    val lookup = jobsOf(capture(Main.run(spark, List("lookup", c.catDir, c.fid.toString))))
    val bbox = jobsOf(capture(Main.run(spark,
      List("intersect", c.catDir, "--bbox", "10.5,3.9,11.5,4.1"))))
    val wkt = jobsOf(capture(Main.run(spark, List("intersect", c.catDir, "--wkt",
      Catalog.bboxWkt(10.5, 3.9, 11.5, 4.1)))))
    val fetch = jobsOf(capture(Main.run(spark, List("fetch-granules",
      c.bursts, c.zip, c.fid.toString, "2023-01-01 00:00:00", "2024-12-31 00:00:00"))))
    assert(lookup <= 3, s"lookup launched $lookup jobs")
    assert(bbox == 1 && wkt == 1, s"intersect launched $bbox (bbox) and $wkt (wkt) jobs")
    assert(fetch <= 3, s"fetch-granules launched $fetch jobs")
  }

  test("Tables.read takes Spark's inferred schema from one footer, without a job") {
    Seq("frames", "frames_bursts", "burst_id_map").foreach { t =>
      val p = s"${served.catDir}/$t"
      var df: DataFrame = null
      assert(jobsOf { df = Tables.read(spark, p) } == 0, t)
      assert(df.schema == spark.read.parquet(p).schema, t)
    }
    // partition columns still come from the directory names
    val part = java.nio.file.Files.createTempDirectory("graft-part").toString + "/t"
    spark.range(0, 20).select($"id", ($"id" % 3).cast("int").as("year"),
        $"id".cast("string").as("s"))
      .write.partitionBy("year").parquet(part)
    val got = Tables.read(spark, part)
    assert(got.schema == spark.read.parquet(part).schema && got.columns.contains("year"))
    assert(got.orderBy($"id").collect().toSeq ==
      spark.read.parquet(part).orderBy($"id").collect().toSeq)
    // a column the files lack still fails analysis
    intercept[AnalysisException](
      Tables.read(spark, s"${served.catDir}/frames").select($"no_such_column"))
  }

  test("st_intersects over a created catalog's frames equals the UDF and the CLI intersect") {
    // the frames' xmin..ymax are UTM metres; only bb_* are degrees
    val frames = spark.read.parquet(s"${served.catDir}/frames")
    val q = Catalog.bboxWkt(10.5, 3.9, 11.5, 4.1)
    def fids(df: DataFrame): Seq[Long] =
      df.select($"fid".cast("long")).as[Long].collect().sorted.toSeq
    val udf = fids(frames.filter(GeoFunctions.stIntersects($"geom", lit(q))))
    val native = fids(frames.filter(SpatialExpressions.stIntersectsNative($"geom", q)))
    frames.createOrReplaceTempView("created_frames")
    val sql = fids(spark.sql(s"SELECT fid FROM created_frames WHERE st_intersects(geom, '$q')"))
    val cli = capture(Main.run(spark, List("intersect", served.catDir, "--wkt", q)))
      .map(l => "\"fid\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted
    assert(udf.nonEmpty)
    assert(native == udf && sql == udf && cli == udf,
      s"udf $udf, native $native, sql $sql, cli $cli")
  }
}
