package graft.domain

import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `opera-db make-burst-catalog` pipeline (SURVEY.md §3.2,
  * create_cslc_burst_catalog.py:355-396) as one Spark program:
  *
  *   CMR survey CSV → granule parse → VV filter → dedup by
  *   (burst, sensing_time) keeping the latest revision → 4-way join onto
  *   the frame catalog → per-frame blackout exclusion → consistent-burst
  *   option-0 selection → frame-keyed JSON document.
  *
  * The reference's CSV-roundtrip-through-tempdir and its DuckDB↔pandas
  * hops disappear; every stage is a shuffle keyed on burst/frame ids, so
  * the 50M-row survey scales horizontally.
  */
object BurstCatalog {

  /** A structurally valid OPERA CSLC granule id (guards the fixed-slice
    * parse — a malformed id would otherwise be silently mis-sliced). */
  private val granulePattern =
    "OPERA_L2_CSLC-S1_T\\d{3}-\\d{6}-IW\\d_\\d{8}T\\d{6}Z_.*_(VV|VH|HH|HV)_.*"

  /** Parse the raw survey rows (F4 schema: "Granule ID", "Temporal Time",
    * "Revision Time", "revision-id") into typed burst acquisitions.
    * Malformed granule ids are dropped here; count them via
    * `surveyQualityReport` before blaming the catalog. */
  def parseSurvey(raw: DataFrame): DataFrame =
    raw.select(
        col("Granule ID").as("granule"),
        col("Temporal Time").cast("timestamp").as("sensing_time"),
        col("Revision Time").cast("timestamp").as("revision_time"),
        col("revision-id").cast("int").as("revision_id"))
      .filter(col("granule").rlike(granulePattern))
      .withColumn("burst_id_jpl",
        lower(regexp_replace(substring(col("granule"), 18, 15), "-", "_")))
      .withColumn("pol", substring(col("granule"), 72, 2))
      .filter(col("pol") === "VV")

  /** Ingest-quality counters: total rows, structurally valid, VV-polarized,
    * malformed (the validation the fixed-slice parse needs). */
  def surveyQualityReport(raw: DataFrame): DataFrame =
    raw.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("Granule ID").rlike(granulePattern), 1).otherwise(0))
        .cast("long").as("n_valid"),
      sum(when(col("Granule ID").rlike(granulePattern) &&
          substring(col("Granule ID"), 72, 2) === "VV", 1).otherwise(0))
        .cast("long").as("n_vv"),
      sum(when(!col("Granule ID").rlike(granulePattern), 1).otherwise(0))
        .cast("long").as("n_malformed"))

  /** Dedup duplicate deliveries: keep the newest revision per
    * (burst, sensing_time), determinized (A5 / §7.5 risk 5). */
  def dedupRevisions(parsed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("burst_id_jpl"), col("sensing_time"))
      .orderBy(col("revision_time").desc, col("revision_id").desc, col("granule"))
    parsed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Attach frame ids (J2): bursts ⋈ burst_id_map ⋈ frames_bursts. The
    * dims are catalog-sized → broadcast. */
  def withFrameIds(bursts: DataFrame, burstIdMap: DataFrame,
      framesBursts: DataFrame): DataFrame = {
    val dims = burstIdMap.select(col("burst_id_jpl").as("b_jpl"), col("OGC_FID"))
      .join(framesBursts, col("OGC_FID") === col("burst_ogc_fid"))
      .select(col("b_jpl"), col("frame_fid").as("frame_id")).distinct()
    bursts.join(broadcast(dims), col("burst_id_jpl") === col("b_jpl"))
      .drop("b_jpl")
  }

  /** P7 blackout exclusion: drop acquisitions whose date falls in any of
    * the frame's windows. `blackouts`: (frame_id, window_start, window_end). */
  def excludeBlackouts(bursts: DataFrame, blackouts: DataFrame): DataFrame =
    bursts.join(broadcast(blackouts),
      bursts("frame_id") === blackouts("frame_id") &&
        col("sensing_time").between(col("window_start"), col("window_end")),
      "left_anti")

  /** Full pipeline → the consistent-burst JSON document string (F6 shape). */
  def makeBurstCatalog(spark: SparkSession, surveyCsv: String,
      burstIdMap: DataFrame, framesBursts: DataFrame,
      blackouts: Option[DataFrame], metadata: Map[String, String]): String = {
    val raw = spark.read.option("header", "true").csv(surveyCsv)
    val deduped = dedupRevisions(parseSurvey(raw))
    val withFrames = withFrameIds(deduped, burstIdMap, framesBursts)
    val filtered = blackouts.map(excludeBlackouts(withFrames, _)).getOrElse(withFrames)
    val selected = ConsistentBursts.consistentSelection(
      filtered.select(col("frame_id"),
        col("burst_id_jpl").as("burst_id"),
        col("sensing_time").cast("date").as("date"),
        col("sensing_time")))
    // final small document assembly only (§7.5 risk 6): the rows are
    // joined into one string on the driver, so they are ordered there too
    val rows = Io.collectOrdered(selected
      .select(col("frame_id"),
        to_json(struct(
          col("burst_id_list"),
          transform(col("sensing_time_list"),
            t => date_format(t, "yyyy-MM-dd'T'HH:mm:ss")).as("sensing_time_list")))
          .as("j")), "frame_id")
    val data = rows
      .map(r => s""""${r.getAs[Long]("frame_id")}": ${r.getAs[String]("j")}""")
      .mkString("{", ", ", "}")
    s"""{"metadata": ${Io.metaJson(metadata)}, "data": $data}"""
  }
}
