package graft.domain

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consistent-burst selection (SURVEY.md D4): the reference delegates to
  * `opera_utils.missing_data.get_missing_data_options`
  * (create_cslc_burst_catalog.py:241-271) and keeps option 0 (:290-292).
  * Reimplemented from the observable contract (§7.5 risk 1): from a frame's
  * (burst_id, date) grid, candidate burst-sets are the distinct per-date
  * burst sets; each option keeps the dates whose burst set covers the
  * candidate; options rank by total kept cells = |bursts| × |dates|,
  * ties broken by more dates, then lexicographic burst list.
  *
  * Key-local per frame → `groupByKey.flatMapGroups`; at 46k frames × O(100)
  * dates the state per key is tiny and the operator scales linearly.
  */
object ConsistentBursts {

  final case class BurstOption(
      burstIds: Seq[String], dates: Seq[LocalDate], totalCells: Long)

  /** Rank all options for one frame's (burst, date) tuples. */
  def options(tuples: Seq[(String, LocalDate)]): Seq[BurstOption] = {
    val byDate: Map[LocalDate, Set[String]] =
      tuples.groupBy(_._2).map { case (d, ts) => d -> ts.map(_._1).toSet }
    val candidates = byDate.values.toSet
    candidates.toSeq.map { cand =>
      val dates = byDate.collect { case (d, bs) if cand.subsetOf(bs) => d }.toSeq.sorted
      BurstOption(cand.toSeq.sorted, dates, cand.size.toLong * dates.size)
    }.sortBy(o => (-o.totalCells, -o.dates.size, o.burstIds.mkString(",")))
  }

  /** Spark operator: rows (frame_id, burst_id, date) → one row per option:
    * (frame_id, option_num, total_num_bursts, burst_id_list, date_list). */
  def missingDataOptions(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("frame_id").cast("long"), col("burst_id").cast("string"),
        col("date").cast("date"))
      .as[(Long, String, java.sql.Date)]
      .groupByKey(_._1)
      .flatMapGroups { (fid, rows) =>
        val tuples = rows.map(r => (r._2, r._3.toLocalDate)).toSeq
        options(tuples).zipWithIndex.map { case (o, i) =>
          (fid, i, o.totalCells, o.burstIds, o.dates.map(_.toString))
        }.iterator
      }
      .toDF("frame_id", "option_num", "total_num_bursts", "burst_id_list", "date_list")
  }

  /** Option-0 per frame (the selection the reference ships,
    * create_cslc_burst_catalog.py:290-311), with the per-(frame, date)
    * earliest sensing time truncated to seconds attached for each kept
    * date. One keyed pass: a frame's rows carry both the (burst, date) grid
    * and the sensing times, so the option and its times come from the same
    * group, and min(trunc(t)) = trunc(min(t)) lets the truncation follow
    * the minimum. The input is read once; a separate time aggregate joined
    * back per kept date would read it twice.
    * Rows (frame_id, burst_id, date, sensing_time) → (frame_id,
    * total_num_bursts, burst_id_list, sensing_time_list ascending). */
  def consistentSelection(bursts: DataFrame): DataFrame = {
    val spark = bursts.sparkSession
    import spark.implicits._
    bursts.select(col("frame_id").cast("long"), col("burst_id").cast("string"),
        col("date").cast("date"), col("sensing_time").cast("timestamp"))
      .as[(Long, String, LocalDate, Instant)]
      .groupByKey(_._1)
      .flatMapGroups { (fid, rows) =>
        val rs = rows.toSeq
        val o = options(rs.map(r => (r._2, r._3))).head
        // a kept date whose times are all null attaches no time, as a SQL
        // min per date followed by collect_list (which skips nulls) does
        val earliest = rs.filter(_._4 != null)
          .groupMapReduce(_._3)(_._4)((a, b) => if (b.isBefore(a)) b else a)
        val times = o.dates.flatMap(earliest.get)
          .map(_.truncatedTo(ChronoUnit.SECONDS)).sorted
        Iterator((fid, o.totalCells, o.burstIds, times))
      }
      .toDF("frame_id", "total_num_bursts", "burst_id_list", "sensing_time_list")
  }

  /** Oracle of the option-0 candidates: the distinct (frame, date, burst)
    * tuples, each date's sorted burst set `bset`, and the distinct sets. */
  private val candidateSetsSql =
    """WITH tuples AS (
      |  SELECT DISTINCT user_id AS frame_id, event_type AS burst_id,
      |    CAST(ts AS DATE) AS date
      |  FROM events),
      |by_date AS (
      |  SELECT frame_id, date, LIST_SORT(LIST(DISTINCT burst_id)) AS bset
      |  FROM tuples GROUP BY frame_id, date),
      |cands AS (SELECT DISTINCT frame_id, bset FROM by_date)""".stripMargin

  /** Ranks the kept (frame_id, bset, n_dates) of relation `kept` by cells,
    * dates, then the lexicographic burst list, as [[options]] does. */
  private def rankedSql(kept: String): String =
    s"""ranked AS (
       |  SELECT frame_id, bset, n_dates,
       |    CAST(LEN(bset) * n_dates AS BIGINT) AS total_cells,
       |    ROW_NUMBER() OVER (PARTITION BY frame_id
       |      ORDER BY LEN(bset) * n_dates DESC, n_dates DESC,
       |               ARRAY_TO_STRING(bset, ',')) AS rn
       |  FROM $kept)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // blackout-interval anti-join (P7, create_cslc_burst_catalog.py:172-183):
    // events excluded when their date falls inside the key's blackout window
    QueryDef.sql(
      "q_blackout_anti_join",
      """WITH blackout AS (
        |  SELECT n_nationkey AS k,
        |    CAST(DATE '2024-01-01' + INTERVAL (n_nationkey * 2) DAY AS DATE) AS bstart,
        |    CAST(DATE '2024-01-01' + INTERVAL (n_nationkey * 2 + 9) DAY AS DATE) AS bend
        |  FROM nation)
        |SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM blackout b
        |  WHERE b.k = e.user_id % 25
        |    AND CAST(e.ts AS DATE) BETWEEN b.bstart AND b.bend)
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin) { (s, d) =>
      val blackout = Tables.nation(s, d).select(
        col("n_nationkey").as("k"),
        date_add(lit("2024-01-01").cast("date"), col("n_nationkey") * 2).as("bstart"),
        date_add(lit("2024-01-01").cast("date"), col("n_nationkey") * 2 + 9).as("bend"))
      Tables.events(s, d)
        .join(broadcast(blackout),
          col("user_id") % 25 === col("k") &&
            col("ts").cast("date").between(col("bstart"), col("bend")),
          "left_anti")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("user_id"))
    },

    // consistent-burst option-0 (D4) — the sequential flatMapGroups
    // algorithm verified against a full SQL reimplementation of the same
    // contract (candidate sets = distinct per-date burst sets; kept dates
    // by subset-coverage; rank by cells, dates, lexicographic tiebreak)
    QueryDef.sql(
      "q_consistent_option0",
      s"""$candidateSetsSql,
        |kept AS (
        |  SELECT c.frame_id, c.bset, CAST(COUNT(*) AS BIGINT) AS n_dates
        |  FROM cands c JOIN by_date d
        |    ON d.frame_id = c.frame_id AND LIST_HAS_ALL(d.bset, c.bset)
        |  GROUP BY c.frame_id, c.bset),
        |${rankedSql("kept")}
        |SELECT frame_id, total_cells, ARRAY_TO_STRING(bset, ',') AS burst_ids,
        |  n_dates
        |FROM ranked WHERE rn = 1 ORDER BY frame_id""".stripMargin) { (s, d) =>
      val tuples = Tables.events(s, d).select(
        col("user_id").as("frame_id"), col("event_type").as("burst_id"),
        col("ts").cast("date").as("date"))
      missingDataOptions(tuples)
        .filter(col("option_num") === 0)
        .select(col("frame_id"), col("total_num_bursts").as("total_cells"),
          array_join(col("burst_id_list"), ",").as("burst_ids"),
          size(col("date_list")).cast("long").as("n_dates"))
        .orderBy(col("frame_id"))
    },

    // option-0 selection joined with earliest sensing times (full D4 output
    // shape, create_cslc_burst_catalog.py:290-311). Oracled end-to-end:
    // the same SQL reformulation as q_consistent_option0 plus the
    // per-(frame, kept-date) earliest sensing time truncated to seconds —
    // first/last of the attached time list pin the time attachment.
    QueryDef.sql(
      "q_consistent_selection",
      s"""$candidateSetsSql,
        |kept AS (
        |  SELECT c.frame_id, c.bset, d.date
        |  FROM cands c JOIN by_date d
        |    ON d.frame_id = c.frame_id AND LIST_HAS_ALL(d.bset, c.bset)),
        |agg AS (
        |  SELECT frame_id, bset, CAST(COUNT(*) AS BIGINT) AS n_dates
        |  FROM kept GROUP BY frame_id, bset),
        |${rankedSql("agg")},
        |times AS (
        |  SELECT user_id AS frame_id, CAST(ts AS DATE) AS date,
        |    DATE_TRUNC('second', MIN(ts)) AS t
        |  FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT s.frame_id, s.total_cells AS total_num_bursts,
        |  ARRAY_TO_STRING(s.bset, ',') AS burst_ids,
        |  CAST(COUNT(*) AS BIGINT) AS n_times,
        |  MIN(t.t) AS first_time, MAX(t.t) AS last_time
        |FROM (SELECT frame_id, bset, total_cells FROM ranked WHERE rn = 1) s
        |JOIN kept k ON k.frame_id = s.frame_id AND k.bset = s.bset
        |JOIN times t ON t.frame_id = s.frame_id AND t.date = k.date
        |GROUP BY s.frame_id, s.total_cells, s.bset
        |ORDER BY s.frame_id""".stripMargin) { (s, d) =>
      val bursts = Tables.events(s, d).select(
        col("user_id").as("frame_id"),
        col("event_type").as("burst_id"),
        col("ts").cast("date").as("date"),
        col("ts").as("sensing_time"))
      consistentSelection(bursts)
        .select(col("frame_id"), col("total_num_bursts"),
          array_join(col("burst_id_list"), ",").as("burst_ids"),
          size(col("sensing_time_list")).cast("long").as("n_times"),
          element_at(col("sensing_time_list"), 1).as("first_time"),
          element_at(col("sensing_time_list"), -1).as("last_time"))
        .orderBy(col("frame_id"))
    }
  )
}
