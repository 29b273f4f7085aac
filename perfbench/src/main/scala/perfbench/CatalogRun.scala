package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.domain.{BurstCatalog, Catalog, CatalogBuild, ConsistentBursts, ReferenceDates}
import graft.functions.GeoFunctions
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One run of the `catalog` workload: generate the F1/F4/F5 inputs, build
  * the catalog the way `make` does (create, burst catalog, reference dates,
  * plus the frame-to-burst document that `fetch-granules` reads), then serve
  * a seeded closed-loop mix of CLI requests through `graft.Main.run`, each
  * response checked against a brute force over the collected catalog. */
final class CatalogRun(ctx: Ctx) {
  import CatalogRun.Request
  private val spark: SparkSession = ctx.spark
  private val dir = s"${ctx.work}/data/catalog"
  private val in = s"$dir/inputs"
  private val sizes = CatalogGen.Default
  private val seed = ctx.dataSeed
  private val mapper = new ObjectMapper()
  /** Requests in the traced serving loop: a p90 with ten samples beyond. */
  private val TracedRequests = Stats.samplesForTail(90, 10)
  /** Traced requests paired with the same request untraced. */
  private val OverheadPairs = 10
  /** Intersect requests whose bbox funnel is counted. */
  private val FunnelRequests = 10

  private def gridPath = s"$in/burst_id_map.parquet"
  private def landPath = s"$in/land.wkt"
  private def surveyPath = s"$in/survey.csv"
  private def historyPath = s"$in/bursts.parquet"

  /** Set-up: write the four inputs. Returns rows and bytes per input. */
  private def writeInputs(): Map[String, (Long, Long)] = {
    import spark.implicits._
    Files.deleteTree(in)
    val g = CatalogGen.grid(seed, sizes)
    g.map(b => (b.ogcFid, b.burstId, b.track, s"IW${b.iw}", b.pass, b.wkt))
      .toDF("OGC_FID", "burst_id", "relative_orbit_number", "subswath_name", "orbit_pass", "geom")
      .coalesce(1).write.parquet(gridPath)
    Files.write(landPath, CatalogGen.landWkt(seed))
    val csv = CatalogGen.surveyCsv(seed, sizes)
    Files.write(surveyPath, csv)
    val h = CatalogGen.historical(seed, sizes)
    h.map(x => (x.burstIdJpl, java.sql.Timestamp.valueOf(x.sensingTime), x.geometry, x.granule))
      .toDF("burst_id_jpl", "sensing_time", "geometry", "granule")
      .coalesce(1).write.parquet(historyPath)
    Map("burst_id_map" -> (g.length.toLong, Files.bytes(gridPath)),
      "land_wkt" -> (1L, Files.bytes(landPath)),
      "survey_csv" -> (csv.count(_ == '\n') - 1L, Files.bytes(surveyPath)),
      "historical_bursts" -> (h.length.toLong, Files.bytes(historyPath)))
  }

  private def docPath(out: String) = s"$out/consistent_bursts.json"
  private def refsPath(out: String) = s"$out/reference_dates"
  private def zipPath(out: String) = s"$out/frame_to_burst.json.zip"

  /** (frame id, sensing time) rows of a consistent-burst document. */
  private def docTimes(doc: String): Seq[(Long, java.sql.Timestamp)] =
    mapper.readTree(doc).get("data").properties().asScala.toSeq.flatMap { e =>
      e.getValue.get("sensing_time_list").elements().asScala.map(t =>
        (e.getKey.toLong, java.sql.Timestamp.valueOf(LocalDateTime.parse(t.asText))))
    }

  /** The `make` equivalent, into a fresh `out`. */
  private def build(out: String): Unit = {
    import spark.implicits._
    Files.deleteTree(out)
    graft.Main.run(spark, List("create", gridPath, landPath, out))
    val fb = spark.read.parquet(s"$out/frames_bursts")
    val bim = spark.read.parquet(s"$out/burst_id_map")
    val doc = BurstCatalog.makeBurstCatalog(spark, surveyPath, bim, fb, None,
      Map("version" -> "perfbench"))
    Files.write(docPath(out), doc)
    ReferenceDates.referenceDates(docTimes(doc).toDF("key", "ts"),
        CatalogGen.eventDates(seed, sizes))
      .write.mode("overwrite").parquet(refsPath(out))
    val frames = spark.read.parquet(s"$out/frames")
    Io.writeJsonZip(zipPath(out), "frame_to_burst.json",
      Io.frameToBurstJson(Catalog.frameSummaries(frames, fb, bim), Map("version" -> "perfbench")))
  }

  /** Digests of the four catalog outputs. */
  private def outputDigests(out: String): Map[String, String] = Map(
    "frames" -> Registry.digest(spark.read.parquet(s"$out/frames")).hex,
    "frames_bursts" -> Registry.digest(spark.read.parquet(s"$out/frames_bursts")).hex,
    "consistent_bursts" -> f"${Stats.Digest.fnv(Files.read(docPath(out)))}%016x",
    "reference_dates" -> Registry.digest(spark.read.parquet(refsPath(out))).hex)

  // ------------------------------------------------------------ serving

  /** The catalog as plain Scala values, for the brute-force checks. */
  private final class Truth(out: String) {
    import spark.implicits._
    val frames: Map[Long, (Int, org.locationtech.jts.geom.Geometry)] =
      spark.read.parquet(s"$out/frames").select(col("fid").cast("long"), col("epsg"), col("geom"))
        .as[(Long, Int, String)].collect()
        .map { case (f, e, g) => f -> (e, GeoFunctions.parseWkt(g)) }.toMap
    private val jpl = spark.read.parquet(s"$out/burst_id_map")
      .select(col("OGC_FID").cast("long"), col("burst_id_jpl")).as[(Long, String)].collect().toMap
    val burstsOf: Map[Long, Seq[String]] = spark.read.parquet(s"$out/frames_bursts")
      .select(col("frame_fid").cast("long"), col("burst_ogc_fid").cast("long"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(x => jpl(x._2)).sorted }
    val history: Seq[CatalogGen.Historical] = CatalogGen.historical(seed, sizes)
    val uncovered: Set[Long] = jpl.keySet -- spark.read.parquet(s"$out/frames_bursts")
      .select(col("burst_ogc_fid").cast("long")).as[Long].collect().toSet
  }

  private def micros(d: String): Long =
    LocalDateTime.parse(d.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private val MixBlock = Seq.fill(3)("lookup") ++ Seq.fill(3)("intersect_bbox") ++
    Seq.fill(2)("intersect_wkt") ++ Seq.fill(2)("fetch_granules")

  /** Seeded requests of the given kinds; `expect` returns a mismatch
    * description. */
  private def requests(t: Truth, out: String, r: scala.util.Random,
      kinds: scala.util.Random => Iterator[String]): Iterator[Request] = {
    val fids = t.frames.keys.toVector.sorted
    def field(line: String, k: String) = mapper.readTree(line).get(k)
    def fidSet(lines: Seq[String]) = lines.map(l => field(l, "fid").asLong).sorted
    def around(): (Double, Double) = {
      val c = t.frames(fids(r.nextInt(fids.length)))._2.getInteriorPoint.getCoordinate
      (c.x, c.y)
    }
    def intersecting(q: org.locationtech.jts.geom.Geometry): Seq[Long] =
      t.frames.collect { case (f, (_, g)) if g.intersects(q) => f }.toSeq.sorted
    def same(what: String, got: Any, want: Any): Option[String] =
      if (got == want) None else Some(s"$what: got $got, want $want")
    def make(kind: String): Request = kind match {
        case "lookup" =>
          val f = fids(r.nextInt(fids.length))
          Request("lookup", List("lookup", out, f.toString), lines =>
            if (lines.length != 1) Some(s"lookup $f: ${lines.length} rows")
            else {
              val n = mapper.readTree(lines.head)
              same(s"lookup $f", (n.get("fid").asLong, n.get("epsg").asInt,
                  n.get("burst_ids").elements().asScala.map(_.asText).toSeq),
                (f, t.frames(f)._1, t.burstsOf(f)))
            })
        case "intersect_bbox" =>
          val (x, y) = if (r.nextInt(10) == 0) (r.nextDouble() * 360 - 180, r.nextDouble() * 160 - 80)
            else around()
          val (w, h) = (0.05 + 1.5 * r.nextDouble(), 0.05 + 1.5 * r.nextDouble())
          val bb = Seq(x - w, y - h, x + w, y + h).map(v => f"$v%.4f")
          val Seq(x0, y0, x1, y1) = bb.map(_.toDouble)
          val q = GeoFunctions.parseWkt(Catalog.bboxWkt(x0, y0, x1, y1))
          Request("intersect_bbox", List("intersect", out, "--bbox", bb.mkString(",")),
            lines => same(s"bbox ${bb.mkString(",")}", fidSet(lines), intersecting(q)))
        case "intersect_wkt" =>
          val (x, y) = around()
          val rad = 0.1 + 0.9 * r.nextDouble()
          val pts = (0 until 3).map { k =>
            val a = 2 * math.Pi * (k / 3.0 + r.nextDouble() * 0.2)
            f"${x + rad * math.cos(a)}%.4f ${y + rad * math.sin(a)}%.4f"
          }
          val wkt = (pts :+ pts.head).mkString("POLYGON ((", ", ", "))")
          val q = GeoFunctions.parseWkt(wkt)
          Request("intersect_wkt", List("intersect", out, "--wkt", wkt),
            lines => same(s"wkt $wkt", fidSet(lines), intersecting(q)))
        case "fetch_granules" =>
          val fs = Seq.fill(1 + r.nextInt(3))(fids(r.nextInt(fids.length))).distinct.sorted
          val start = LocalDate.of(2017, 1, 1).plusDays(r.nextInt(300).toLong)
          val end = start.plusDays(60L + r.nextInt(1500))
          val (s0, e0) = (s"$start 00:00:00", s"$end 23:59:59")
          val ids = fs.flatMap(t.burstsOf).toSet
          val want = t.history.filter(h => ids(h.burstIdJpl) && h.micros >= micros(s0) &&
              h.micros <= micros(e0))
            .map(_.granule.replace(".SAFE", "")).distinct.sorted
          Request("fetch_granules", List("fetch-granules", historyPath, zipPath(out),
              fs.mkString(","), s0, e0),
            lines => same(s"fetch ${fs.mkString(",")} $s0..$e0",
              lines.map(l => field(l, "granule").asText), want))
    }
    kinds(r).map(make)
  }

  /** The timed mix: fixed proportions per block of ten, so percentiles
    * pooled over the mix do not move with the seed; the seed sets order
    * and parameters. */
  private def mix(r: scala.util.Random): Iterator[String] =
    Iterator.continually(r.shuffle(MixBlock)).flatten

  /** Run one request through the CLI with stdout captured. */
  private def serve(req: Request): (Double, Option[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val (ms, _) = Timer.ms(Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.Main.run(spark, req.args)
    })
    val lines = buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    (ms, req.expect(lines))
  }

  def run(): WorkloadResult = {
    val res = new WorkloadResult
    Timer.phase("set-up")
    val setups = (1 to Main.SetUps).map(_ => Timer.seconds(writeInputs()))
    res.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    res.report("inputs") = setups.last._2.map { case (t, (r, b)) => t -> Map("rows" -> r, "bytes" -> b) }

    // the first build in a fresh JVM, as a `make` user sees it: reported,
    // not gated (class loading and JIT make it swing from run to run). Its
    // outputs, like those of every later build, are checked against the
    // recorded digests.
    Timer.phase("cold build")
    val golden = new Golden(ctx, "catalog")
    def checkedBuild(out: String): Double = {
      res.attempted += 1
      val s = Timer.seconds(build(out))._1
      outputDigests(out).foreach { case (k, d) => golden.check(s"$seed.$k", d, res) }
      s
    }
    val out = s"$dir/build"
    res.named("cold_build_s") = (checkedBuild(out), "s")
    golden.save()
    res.report("digests") = golden.digests

    Timer.phase("collecting the catalog for the checks")
    val truth = new Truth(out)
    if (truth.uncovered.nonEmpty) res.fail(s"${truth.uncovered.size} bursts in no frame")
    res.report("frames") = truth.frames.size

    /** At least `n` requests, then whole blocks of the mix until `deadline`. */
    def serveLoop(reqs: Iterator[Request], n: Int, deadline: Long): Seq[(String, Double)] = {
      val done = mutable.ArrayBuffer[(String, Double)]()
      var tries = 0
      while (tries < n ||
          (System.nanoTime() < deadline || tries % MixBlock.length != 0) && deadline > 0) {
        val q = reqs.next()
        tries += 1
        res.attempted += 1
        try {
          val (ms, bad) = serve(q)
          bad.foreach(res.fail)
          done += ((q.kind, ms))
        } catch { case e: Throwable => res.fail(s"${q.args.mkString(" ")}: ${Timer.msg(e)}") }
      }
      done.toSeq
    }
    // warm the serving path on one request of each kind, then the timed
    // closed loop with one client: rounds of one warm build (into a
    // directory of its own) and one whole block of the mix, at least
    // [[MinRounds]], until the run's seconds are used. Interleaving puts
    // builds and requests under the same host conditions. A traced run
    // traces its builds and requests instead.
    Timer.phase("serving warm-up")
    val kinds = Layers.ServeTypes
    serveLoop(requests(truth, out, new scala.util.Random(ctx.seed + 1), _ => kinds.iterator),
      kinds.length, 0L)
    val reqs = requests(truth, out, new scala.util.Random(ctx.seed), mix)
    if (ctx.trace) traced(res, reqs)
    else {
      Timer.phase("timed rounds")
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      val builds = mutable.ArrayBuffer[Double]()
      val timed = mutable.ArrayBuffer[(String, Double)]()
      val host = mutable.ArrayBuffer[Map[String, Double]]()
      while (builds.length < MinRounds || System.nanoTime() < deadline) {
        val (cpu, steal) = (Timer.cpuSeconds, Timer.stealSeconds)
        builds += checkedBuild(s"$dir/rebuild")
        host += Map("wall_s" -> builds.last, "cpu_s" -> (Timer.cpuSeconds - cpu),
          "steal_s" -> (Timer.stealSeconds - steal))
        timed ++= serveLoop(reqs, MixBlock.length, 0L)
      }
      res.report("build_host") = host
      res.e2e("batch_s") = (Stats.mean(builds), "s")
      res.named("build_s") = res.e2e("batch_s")
      val all = timed.map(_._2)
      // the mix has fixed proportions per block, so the geometric mean of
      // all requests weighs each kind by its share
      res.e2e("op_latency_ms") = (Stats.geoMean(all), "ms")
      res.named("serve_geomean_ms") = res.e2e("op_latency_ms")
      res.named("serve_p50_ms") = (Stats.median(all), "ms")
      Seq("lookup" -> "lookup_p50_ms", "intersect" -> "intersect_p50_ms",
          "fetch" -> "fetch_p50_ms").foreach { case (k, n) =>
        val xs = timed.filter(_._1.startsWith(k)).map(_._2)
        if (xs.nonEmpty) res.named(n) = (Stats.median(xs), "ms")
      }
      val tail = Stats.tailPercentile(all.length, 10)
      res.named(s"serve_p${tail}_ms") = (Stats.percentile(all, tail), "ms")
      res.report("builds") = builds.length
      res.report("latency_ms") = timed.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
      res.report("samples") = all.length
    }
    res
  }

  /** Timed rounds (a warm build and a block of the mix) per run, at least. */
  private val MinRounds = 2

  // ------------------------------------------------------------ tracing

  private def noop(df: DataFrame): Double =
    Timer.ms(df.write.format("noop").mode("overwrite").save())._1

  /** Build phases as successive prefixes of the public stage functions,
    * each materialized into the `noop` sink and differenced with the one
    * before. A difference can read slightly negative when a stage costs
    * less than the run-to-run noise. */
  private def phases(): Seq[(String, Double)] = {
    val raw = spark.read.parquet(gridPath)
    val land = Files.read(landPath).trim
    val bursts = CatalogBuild.withJplId(raw)
    def triplets = CatalogBuild.withLandFlag(CatalogBuild.dissolveTriplets(bursts), land)
    val dissolve = noop(CatalogBuild.dissolveTriplets(bursts))
    val landFlag = noop(triplets)
    val solve = noop(CatalogBuild.withGlobalFrameIds(CatalogBuild.solveTrackFrames(triplets)))
    val phaseOut = s"$dir/phases"
    val create = Timer.ms(graft.Main.run(spark, List("create", gridPath, landPath, phaseOut)))._1

    val fb = spark.read.parquet(s"$phaseOut/frames_bursts")
    val bim = spark.read.parquet(s"$phaseOut/burst_id_map")
    def parsed = BurstCatalog.dedupRevisions(BurstCatalog.parseSurvey(
      spark.read.option("header", "true").csv(surveyPath)))
    def joined = BurstCatalog.withFrameIds(parsed, bim, fb)
    val parse = noop(parsed)
    val join = noop(joined)
    val select = noop(ConsistentBursts.consistentSelection(joined.select(col("frame_id"),
      col("burst_id_jpl").as("burst_id"), col("sensing_time").cast("date").as("date"),
      col("sensing_time"))))
    val doc = BurstCatalog.makeBurstCatalog(spark, surveyPath, bim, fb, None,
      Map("version" -> "perfbench"))
    import spark.implicits._
    val times = docTimes(doc).toDF("key", "ts").cache()
    times.count()
    val sweep = noop(ReferenceDates.referenceDates(times, CatalogGen.eventDates(seed, sizes)))
    times.unpersist()
    Seq("CatalogBuild.dissolve_ms" -> dissolve, "CatalogBuild.land_flag_ms" -> (landFlag - dissolve),
      "CatalogBuild.solve_frames_ms" -> (solve - landFlag),
      "CatalogBuild.assemble_write_ms" -> (create - solve),
      "BurstCatalog.parse_dedup_ms" -> parse, "BurstCatalog.frame_join_ms" -> (join - parse),
      "ConsistentBursts.selection_ms" -> (select - join), "ReferenceDates.sweep_ms" -> sweep)
  }

  /** Triplets flagged as land over triplets that pass the land bbox. */
  private def landYield(res: WorkloadResult): Unit = {
    import spark.implicits._
    val land = Files.read(landPath).trim
    val env = GeoFunctions.parseWkt(land).getEnvelopeInternal
    val (inBbox, onLand) = CatalogBuild.dissolveTriplets(
        CatalogBuild.withJplId(spark.read.parquet(gridPath)))
      .withColumn("e", GeoFunctions.stEnvelope(col("geom")))
      .withColumn("in_bbox", col("e._1") <= env.getMaxX && col("e._3") >= env.getMinX &&
        col("e._2") <= env.getMaxY && col("e._4") >= env.getMinY)
      .withColumn("is_land", GeoFunctions.stIntersects(col("geom"), lit(land)))
      .agg(sum(col("in_bbox").cast("long")), sum((col("in_bbox") && col("is_land")).cast("long")))
      .as[(Long, Long)].head()
    res.layer("CatalogBuild.land_refine_base") = (inBbox.toDouble, "count")
    res.layer("CatalogBuild.land_refine_yield") = (onLand.toDouble / math.max(1L, inBbox), "ratio")
  }

  /** The traced run: build phases; an untraced/traced pair of builds and
    * ten of requests for the tracing overhead; traced requests up to a p90
    * with ten samples beyond it. The engine layers sum the traced builds
    * and requests. */
  private def traced(res: WorkloadResult, reqs: Iterator[Request]): Unit = {
    Timer.phase("build phases")
    phases().foreach { case (k, v) => res.layer(k) = (v, "ms") }
    landYield(res)

    Timer.phase("traced build and serving")
    val tracer = new Tracer(spark)
    // one pair, traced first: the second build is the warmer one, so any
    // order bias inflates the overhead rather than hiding it
    val builds = Seq(Tracer.pair(tracer, 1)(Timer.seconds(build(s"$dir/pair"))._1))
    val perReq = mutable.ArrayBuffer[(String, Double, Map[String, Double], Tracer.Snap)]()
    val pairs = mutable.ArrayBuffer[(Double, Double)]()
    (1 to TracedRequests).foreach { _ =>
      val q = reqs.next()
      try {
        val ((ms, bad), engine, d) =
          if (pairs.length < OverheadPairs) {
            res.attempted += 2
            val ((u, ub), t, engine, d) = Tracer.pair(tracer, pairs.length)(serve(q))
            ub.foreach(res.fail)
            pairs += ((u, t._1))
            (t, engine, d)
          } else {
            res.attempted += 1
            tracer.traced(serve(q))
          }
        bad.foreach(res.fail)
        perReq += ((q.kind, ms, engine, d))
        if (q.kind.startsWith("intersect") && funnel.length < FunnelRequests)
          intersectFunnel(s"$dir/build", q)
      } catch { case e: Throwable => res.fail(s"${q.args.mkString(" ")}: ${Timer.msg(e)}") }
    }
    Tracer.sum(builds.map(_._3) ++ perReq.map(_._3))
      .foreach { case (k, v) => res.layer(k) = (v, Layers.unit(k)) }
    Layers.ServeTypes.foreach { k =>
      val xs = perReq.filter(_._1 == k)
      if (xs.nonEmpty) {
        def mean(f: Tracer.Snap => Long) = xs.map(x => f(x._4).toDouble).sum / xs.length
        res.layer(s"serve.$k.p50_ms") = (Stats.median(xs.map(_._2)), "ms")
        res.layer(s"serve.$k.plan_ms") =
          (mean(d => d("plan.analysis_ms") + d("plan.optimizer_ms") + d("plan.physical_ms")), "ms")
        res.layer(s"serve.$k.jobs_per_request") = (mean(_("sched.jobs")), "count")
        res.layer(s"scan.$k.files_read") = (mean(_("scan.files_read")), "count")
        res.layer(s"scan.$k.rows_read") = (mean(_("scan.rows_read")), "count")
      }
    }
    res.layer("serve.p90_ms") = (Stats.percentile(perReq.map(_._2), 90), "ms")
    val n = funnel.length.max(1)
    res.layer("Catalog.intersect.bbox_survivors") = (funnel.map(_._1).sum.toDouble / n, "count")
    res.layer("Catalog.intersect.matches") = (funnel.map(_._2).sum.toDouble / n, "count")
    res.layer("trace.batch_overhead_s") = (builds.map(b => b._2 - b._1).sum, "s")
    res.layer("trace.op_p50_overhead_ms") =
      (Stats.median(pairs.map(_._2)) - Stats.median(pairs.map(_._1)), "ms")
  }

  private val funnel = mutable.ArrayBuffer[(Long, Long)]()

  /** Bbox-prefilter survivors against exact matches for one intersect
    * request, through the public `Catalog.intersect` (outside the
    * request's own window). */
  private def intersectFunnel(out: String, q: Request): Unit = {
    val frames = spark.read.parquet(s"$out/frames")
    val (wkt, (x0, y0, x1, y1)) = (q.args: @unchecked) match {
      case _ :: _ :: "--bbox" :: bb :: Nil =>
        val Array(a, b, c, d) = bb.split(',').map(_.toDouble)
        (Catalog.bboxWkt(a, b, c, d), (a, b, c, d))
      case _ :: _ :: "--wkt" :: w :: Nil =>
        val e = GeoFunctions.parseWkt(w).getEnvelopeInternal
        (w, (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }
    val survivors = frames.filter(col("bb_xmin") <= x1 && col("bb_xmax") >= x0 &&
      col("bb_ymin") <= y1 && col("bb_ymax") >= y0).count()
    val matches = Catalog.intersect(frames, wkt, (x0, y0, x1, y1)).count()
    funnel += ((survivors, matches))
  }
}

object CatalogRun {
  /** One CLI request; `expect` returns a mismatch description. */
  final case class Request(kind: String, args: List[String], expect: Seq[String] => Option[String])
}
