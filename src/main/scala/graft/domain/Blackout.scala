package graft.domain

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blackout-window derivation (SURVEY.md D8): the snow-analysis pipeline
  * (snow_month_filter.py:315-368 `find_seasons`) and the per-year window
  * expansion with calendar wrap (create_blackout_dates_s1.py:14-35
  * `_yearly_windows`) — both as pure window/column plans with DuckDB
  * oracles (the reference's pandas loops become one-shuffle islands).
  */
object Blackout {

  /** find_seasons: daily (key, day, bad) → per water-year
    * (freeze_start = first day of the first run of ≥ minRun bad days,
    * thaw_end = last bad day), skipping years with < minTotal bad days. */
  def findSeasons(daily: DataFrame, pivotMonth: Int = 10, minTotal: Int = 30,
      minRun: Int = 5): DataFrame = {
    val withWy = daily.withColumn("wy",
      (year(col("day")) - when(month(col("day")) < pivotMonth, 1).otherwise(0))
        .cast("int"))
    val w = Window.partitionBy(col("key"), col("wy")).orderBy(col("day"))
    val runs = withWy
      .withColumn("boundary",
        when(not(col("bad") <=> lag(col("bad"), 1).over(w)), 1).otherwise(0))
      .withColumn("run_id",
        sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val badRuns = runs.filter(col("bad"))
      .groupBy(col("key"), col("wy"), col("run_id"))
      .agg(count(lit(1)).as("run_len"), min(col("day")).as("run_start"),
        max(col("day")).as("run_end"))
    val perYear = badRuns.groupBy(col("key"), col("wy"))
      .agg(sum(col("run_len")).as("n_bad"),
        min(when(col("run_len") >= minRun, col("run_start"))).as("freeze_start"),
        max(col("run_end")).as("thaw_end"))
    perYear
      .filter(col("n_bad") >= minTotal && col("freeze_start").isNotNull)
      .select(col("key"), col("wy"), col("freeze_start"), col("thaw_end"),
        col("n_bad").cast("long").as("n_bad"))
  }

  /** _yearly_windows: a (startMonth, startDay, endMonth, endDay) template →
    * per-year [start, end 23:59:59] windows; end year rolls over when the
    * end month/day precedes the start in the calendar (Nov→May case). */
  def yearlyWindows(templates: DataFrame, years: Seq[Int]): DataFrame = {
    val yearsDf = templates.sparkSession.range(years.min, years.max + 1)
      .toDF("yr").select(col("yr").cast("int"))
    templates.crossJoin(broadcast(yearsDf))
      .withColumn("wrap",
        (col("e_month") < col("s_month")) ||
          (col("e_month") === col("s_month") && col("e_day") < col("s_day")))
      .select(
        col("key"), col("yr"),
        make_timestamp(col("yr"), col("s_month"), col("s_day"),
          lit(0), lit(0), lit(0)).as("window_start"),
        make_timestamp(col("yr") + when(col("wrap"), 1).otherwise(0),
          col("e_month"), col("e_day"), lit(23), lit(59), lit(59)).as("window_end"))
  }

  // deterministic synthetic daily "snow fraction" series shared with the
  // oracle: 5 frames × 3 years; bad when day-of-year is in the frame's
  // winter band (wrapping new year)
  private def syntheticDaily(s: SparkSession): DataFrame =
    s.range(0, 5).toDF("key").crossJoin(s.range(0, 1096).toDF("d"))
      .select(col("key").cast("long"),
        date_add(lit("2020-01-01").cast("date"), col("d").cast("int")).as("day"))
      .withColumn("doy", dayofyear(col("day")))
      .withColumn("bad", col("doy") >= 305 || col("doy") <= col("key") * 10 + 60)
      .drop("doy")

  private val syntheticDailySql =
    """daily AS (
      |  SELECT k.key, DATE '2020-01-01' + CAST(d.d AS INTEGER) AS day,
      |    (DAYOFYEAR(DATE '2020-01-01' + CAST(d.d AS INTEGER)) >= 305
      |     OR DAYOFYEAR(DATE '2020-01-01' + CAST(d.d AS INTEGER)) <= 60 + k.key*10) AS bad
      |  FROM (SELECT UNNEST(RANGE(0, 5)) AS key) k,
      |       (SELECT UNNEST(RANGE(0, 1096)) AS d) d)""".stripMargin

  /** find_seasons' oracle over the synthetic daily series, up to the
    * per-water-year aggregate `per_year` (caller filters n_bad/freeze_start). */
  private val perYearSql =
    s"""WITH $syntheticDailySql,
       |wyd AS (
       |  SELECT key, day, bad,
       |    CAST(YEAR(day) - CASE WHEN MONTH(day) < 10 THEN 1 ELSE 0 END AS INTEGER) AS wy
       |  FROM daily),
       |marked AS (
       |  SELECT key, wy, day, bad,
       |    CASE WHEN bad IS DISTINCT FROM LAG(bad)
       |           OVER (PARTITION BY key, wy ORDER BY day)
       |         THEN 1 ELSE 0 END AS boundary
       |  FROM wyd),
       |runs AS (
       |  SELECT key, wy, day, bad,
       |    SUM(boundary) OVER (PARTITION BY key, wy ORDER BY day
       |                        ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM marked),
       |bad_runs AS (
       |  SELECT key, wy, run_id, CAST(COUNT(*) AS BIGINT) AS run_len,
       |    MIN(day) AS run_start, MAX(day) AS run_end
       |  FROM runs WHERE bad GROUP BY key, wy, run_id),
       |per_year AS (
       |  SELECT key, wy, CAST(SUM(run_len) AS BIGINT) AS n_bad,
       |    MIN(CASE WHEN run_len >= 5 THEN run_start END) AS freeze_start,
       |    MAX(run_end) AS thaw_end
       |  FROM bad_runs GROUP BY key, wy)""".stripMargin

  /** _yearly_windows' oracle: per-year windows of the (key, s_month, s_day,
    * e_month, e_day) template relation `tmpl`, crossed with `yrs`. */
  private def yearlyWindowsSql(tmpl: String): String =
    s"""SELECT key, yr,
       |  MAKE_TIMESTAMP(yr, s_month, s_day, 0, 0, 0) AS window_start,
       |  MAKE_TIMESTAMP(
       |    yr + CASE WHEN e_month < s_month
       |               OR (e_month = s_month AND e_day < s_day) THEN 1 ELSE 0 END,
       |    e_month, e_day, 23, 59, 59) AS window_end
       |FROM $tmpl, yrs ORDER BY key, yr""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q_blackout_seasons",
      s"""$perYearSql
         |SELECT key, wy, freeze_start, thaw_end, n_bad
         |FROM per_year WHERE n_bad >= 30 AND freeze_start IS NOT NULL
         |ORDER BY key, wy""".stripMargin) { (s, d) =>
      findSeasons(syntheticDaily(s), pivotMonth = 10, minTotal = 30, minRun = 5)
        .orderBy(col("key"), col("wy"))
    },

    // the COMPLETE snow-analysis pipeline in one verified plan
    // (snow_month_filter → summarize_blackouts → _yearly_windows):
    // seasons per water year → median freeze/thaw day-of-year over the
    // years (exact interpolated median on tiny groups) → month/day
    // template → per-year windows with calendar wrap
    QueryDef.sql(
      "q_blackout_pipeline",
      s"""$perYearSql,
         |seasons AS (
         |  SELECT key, wy, freeze_start, thaw_end FROM per_year
         |  WHERE n_bad >= 30 AND freeze_start IS NOT NULL),
         |tmpl AS (
         |  SELECT key,
         |    CAST(FLOOR(MEDIAN(DAYOFYEAR(freeze_start))) AS INTEGER) AS s_doy,
         |    CAST(FLOOR(MEDIAN(DAYOFYEAR(thaw_end))) AS INTEGER) AS e_doy
         |  FROM seasons GROUP BY key),
         |md AS (
         |  SELECT key,
         |    CAST(MONTH(DATE '2001-01-01' + (s_doy - 1)) AS INTEGER) AS s_month,
         |    CAST(DAYOFMONTH(DATE '2001-01-01' + (s_doy - 1)) AS INTEGER) AS s_day,
         |    CAST(MONTH(DATE '2001-01-01' + (e_doy - 1)) AS INTEGER) AS e_month,
         |    CAST(DAYOFMONTH(DATE '2001-01-01' + (e_doy - 1)) AS INTEGER) AS e_day
         |  FROM tmpl),
         |yrs AS (SELECT CAST(UNNEST(RANGE(2020, 2023)) AS INTEGER) AS yr)
         |${yearlyWindowsSql("md")}""".stripMargin) { (s, d) =>
      val seasons = findSeasons(syntheticDaily(s), pivotMonth = 10,
        minTotal = 30, minRun = 5)
      val tmpl = seasons.groupBy(col("key"))
        .agg(
          floor(expr("percentile(dayofyear(freeze_start), 0.5d)")).cast("int").as("s_doy"),
          floor(expr("percentile(dayofyear(thaw_end), 0.5d)")).cast("int").as("e_doy"))
      val base = lit("2001-01-01").cast("date")
      val md = tmpl.select(col("key"),
        month(date_add(base, col("s_doy") - 1)).cast("int").as("s_month"),
        dayofmonth(date_add(base, col("s_doy") - 1)).cast("int").as("s_day"),
        month(date_add(base, col("e_doy") - 1)).cast("int").as("e_month"),
        dayofmonth(date_add(base, col("e_doy") - 1)).cast("int").as("e_day"))
      yearlyWindows(md, 2020 to 2022)
        .orderBy(col("key"), col("yr"))
    },

    QueryDef.sql(
      "q_blackout_yearly_windows",
      s"""WITH tmpl AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS key,
        |    CAST(n_nationkey % 12 + 1 AS INTEGER) AS s_month,
        |    CAST(n_nationkey % 27 + 1 AS INTEGER) AS s_day,
        |    CAST((n_nationkey + 6) % 12 + 1 AS INTEGER) AS e_month,
        |    CAST((n_nationkey + 13) % 27 + 1 AS INTEGER) AS e_day
        |  FROM nation),
        |yrs AS (SELECT CAST(UNNEST(RANGE(2016, 2020)) AS INTEGER) AS yr)
        |${yearlyWindowsSql("tmpl")}""".stripMargin) { (s, d) =>
      val tmpl = graft.Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("key"),
        (col("n_nationkey") % 12 + 1).cast("int").as("s_month"),
        (col("n_nationkey") % 27 + 1).cast("int").as("s_day"),
        ((col("n_nationkey") + 6) % 12 + 1).cast("int").as("e_month"),
        ((col("n_nationkey") + 13) % 27 + 1).cast("int").as("e_day"))
      yearlyWindows(tmpl, 2016 to 2019)
        .orderBy(col("key"), col("yr"))
    }
  )
}
