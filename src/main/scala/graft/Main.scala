package graft

import graft.domain.{Catalog, CatalogBuild}
import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line front door (the reference's `opera-db` CLI, cli.py:28-44),
  * mapping each subcommand to the existing library calls:
  *
  *   create <burst_id_map.parquet> <land.wkt> <outDir> [<north_america.wkt>]
  *   lookup <catalogDir> <frameId>
  *   intersect <catalogDir> --bbox <xmin,ymin,xmax,ymax> | --wkt <WKT>
  *   fetch-bursts   <bursts.parquet> <frameToBurst.json.zip> <fids> <start> <end> <outDir>
  *   fetch-granules <bursts.parquet> <frameToBurst.json.zip> <fids> <start> <end>
  *
  * `create` persists the catalog as three parquet tables under <outDir>
  * (frames / frames_bursts / burst_id_map), each as `CatalogBuild.build`
  * returns it; the optional North-America file holds one WKT per line.
  * The three writes run at once ([[inParallel]]): a warm build is a chain
  * of small jobs whose length the driver's gaps between jobs set, not
  * executor work, and the tables depend on nothing but the built plans.
  * Query results print as JSON lines (lookup/intersect/fetch-granules are
  * human-sized); fetch-bursts writes CSV, the reference's output format.
  *
  * Serving requests are tiny and their latency tracks the number of Spark
  * jobs they launch, so each one is planned to launch as few as possible:
  *   - every parquet input goes through the engine's one reader,
  *     [[Tables.read]], which takes the schema from one footer on the
  *     driver, so no read runs Spark's schema-inference job;
  *   - the frame-to-burst document is parsed on the driver (Catalog);
  *   - [[printJson]] puts the row cap at the plan's root, so the collect is
  *     a `CollectLimit` (or a `TakeOrderedAndProject` for sorted results)
  *     instead of a limit behind a single-partition shuffle.
  * Jobs per request (MainSpec pins them): `intersect` 1 (the scan);
  * `lookup` at most 3 (two broadcasts and the one-partition scan-join-
  * aggregate); `fetch-granules` at most 3 (the id broadcast, the distinct's
  * shuffle map stage and the ordered take).
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Main <command> [args]
        |  create <burst_id_map.parquet> <land.wkt> <outDir> [<north_america.wkt>]
        |  lookup <catalogDir> <frameId>
        |  intersect <catalogDir> --bbox <xmin,ymin,xmax,ymax>
        |  intersect <catalogDir> --wkt <WKT>
        |  fetch-bursts <bursts.parquet> <frameToBurst.json.zip> <fid[,fid...]> <start> <end> <outDir>
        |  fetch-granules <bursts.parquet> <frameToBurst.json.zip> <fid[,fid...]> <start> <end>""".stripMargin)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  /** Dispatch, separated from main so specs drive it on a shared session. */
  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "create" :: burstMap :: landWkt :: outDir :: rest =>
      create(spark, burstMap, landWkt, outDir, rest.headOption)
    case "lookup" :: catalogDir :: frameId :: Nil =>
      printJson(Catalog.lookup(Tables.read(spark, s"$catalogDir/frames"),
        Tables.read(spark, s"$catalogDir/frames_bursts"),
        Tables.read(spark, s"$catalogDir/burst_id_map"), frameId.toLong))
    case "intersect" :: catalogDir :: "--bbox" :: bbox :: Nil =>
      bbox.split(',').map(_.trim.toDouble) match {
        case Array(xmin, ymin, xmax, ymax) =>
          printJson(Catalog.intersect(Tables.read(spark, s"$catalogDir/frames"),
            Catalog.bboxWkt(xmin, ymin, xmax, ymax), (xmin, ymin, xmax, ymax))
            .select(col("fid"), col("epsg"), col("is_land"), col("orbit_pass")))
        case _ => usage()
      }
    case "intersect" :: catalogDir :: "--wkt" :: wkt :: Nil =>
      val env = GeoFunctions.parseWkt(wkt).getEnvelopeInternal
      printJson(Catalog.intersect(Tables.read(spark, s"$catalogDir/frames"), wkt,
        (env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
        .select(col("fid"), col("epsg"), col("is_land"), col("orbit_pass")))
    case "fetch-bursts" :: bursts :: jsonZip :: fids :: start :: end :: outDir :: Nil =>
      Catalog.fetchBursts(spark, Tables.read(spark, bursts), jsonZip,
          fids.split(',').map(_.trim.toLong).toSeq, start, end)
        .orderBy(col("burst_id_jpl"), col("sensing_time"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(outDir)
    case "fetch-granules" :: bursts :: jsonZip :: fids :: start :: end :: Nil =>
      printJson(Catalog.fetchGranules(spark, Tables.read(spark, bursts), jsonZip,
        fids.split(',').map(_.trim.toLong).toSeq, start, end))
    case _ => usage()
  }

  /** §3.1 build → persisted catalog. */
  private def create(spark: SparkSession, burstMap: String, landWktFile: String,
      outDir: String, naWktFile: Option[String]): Unit = {
    def readWkt(p: String): String = java.nio.file.Files.readString(java.nio.file.Paths.get(p)).trim
    val naWkts = naWktFile.toSeq.flatMap(
      readWkt(_).split('\n').map(_.trim).filter(_.nonEmpty))
    val r = CatalogBuild.build(Tables.read(spark, burstMap), readWkt(landWktFile), naWkts)
    // the three tables are independent once built: write them at once;
    // the triplets are unpersisted only after every write has returned
    try inParallel(Seq(
        () => r.frames.write.mode("overwrite").parquet(s"$outDir/frames"),
        () => r.framesBursts.write.mode("overwrite").parquet(s"$outDir/frames_bursts"),
        () => r.burstIdMap.write.mode("overwrite").parquet(s"$outDir/burst_id_map")))
    finally r.unpersist()
  }

  /** Runs `tasks` at once, one thread each, and returns once every thread
    * has finished; then the first failure, in task order, is rethrown with
    * the later ones attached as suppressed. The threads are created inside
    * the call, so they inherit the caller's Spark local properties (job
    * group, scheduler pool) and its active session. */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      new Thread(() => try t() catch { case e: Throwable => failures(i) = e },
        s"graft-parallel-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }

  /** Hard cap on rows printed by [[printJson]] — serving results are
    * human-sized; anything above this means the caller pointed the CLI at
    * an unfiltered fact table and collecting it would OOM the driver.
    * System property so specs can lower it without a million-row fixture. */
  private[graft] def maxJsonRows: Int =
    sys.props.get("graft.cli.maxJsonRows").map(_.toInt).getOrElse(100000)

  /** Deterministic JSON-lines print: small serving results only. The
    * `limit(cap + 1)` bounds what ever reaches the driver, and the +1
    * sentinel row distinguishes "exactly at the cap" from "over it" so the
    * failure is loud instead of a silent truncation. The rows are encoded
    * with `to_json(struct(*))` (the generator and options `toJSON` uses, so
    * the same bytes) before the limit, which leaves the limit at the plan's
    * root: a `CollectLimit`, or a `TakeOrderedAndProject` over a sort,
    * instead of a limit behind a single-partition shuffle. */
  private def printJson(df: DataFrame): Unit = {
    val cap = maxJsonRows
    val rows = df.select(to_json(struct(col("*")))).limit(cap + 1)
      .collect().map(_.getString(0))
    if (rows.length > cap)
      throw new IllegalArgumentException(
        s"result exceeds $cap rows — refusing to collect onto the " +
          "driver; narrow the query (bbox/fids/date range)")
    rows.foreach(println)
  }
}
