package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.5): first_value, temporal gap
  * sessionization (gaps-and-islands, reconcile_and_label_db.py:290-338),
  * batch labeling (:341-412), run-length encoding (frames.py:214-251),
  * and time-bucket resampling (snow_month_filter.py:55-68).
  *
  * All are single-shuffle plans: one hash-partition by the window key, then
  * sorted in-partition evaluation — the pattern that scales linearly with
  * executor count (the per-key state never leaves its partition).
  */
object Windows {

  /** One EWMA step (α = 16/64): returns (next smoothed value, spiked?)
    * given the prior smoothed value. The q_ewma fold calls it once per
    * row; the caller seeds the first row (s₁ = x₁). */
  private def ewmaStep(s: Long, x: Long): (Long, Boolean) =
    (math.floor((16.0 * x + 48.0 * s) / 64.0).toLong, math.abs(x - s) > 500)

  /** One Holt (double exponential smoothing) step, α = β = 1/2 in exact
    * binary halving: lₜ = ⌊(xₜ + lₜ₋₁ + bₜ₋₁)/2⌋, bₜ = ⌊(lₜ − lₜ₋₁ + bₜ₋₁)/2⌋.
    * Halving a < 2⁵³ integer in a double is exact and FLOOR is negative-
    * safe, so the DuckDB recursive CTE replays the fold bit-for-bit.
    * The q_holt_linear fold calls it once per row. */
  def holtStep(l: Long, b: Long, x: Long): (Long, Long) = {
    val l2 = math.floor((x + l + b) / 2.0).toLong
    (l2, math.floor((l2 - l + b) / 2.0).toLong)
  }

  val queries: Seq[QueryDef] = Seq(

    // W1: FIRST_VALUE over partition (build_frame_db.py:173-187), with a
    // pinned ORDER BY for determinism (§7.5 risk 5)
    QueryDef.sql(
      "q_window_first_value",
      """SELECT o_orderkey,
        |  FIRST_VALUE(o_orderpriority) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_prio,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          first(col("o_orderpriority")).over(w).as("first_prio"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    },

    // W2: temporal-gap sessionization (gaps-and-islands). 30-minute gap in
    // microseconds — epochs compared as exact integers on both engines.
    QueryDef.sql(
      "q_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |              OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_num
        |  FROM flagged)
        |SELECT user_id, CAST(session_num AS BIGINT) AS session_num,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sess GROUP BY user_id, session_num
        |ORDER BY user_id, session_num""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 1800L * 1000000L
      Tables.events(s, d)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
        .withColumn("session_num",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_num").cast("long").as("session_num"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_num"))
    },

    // W3: batch index within group + historical/forward labeling — the
    // SIMPLIFIED single-group variant (batches of 50 per key; last batch
    // "forward", earlier ones "historical_{k:02d}"). The reference's full
    // assign_processing_modes semantics (gap groups, no_run, group-number
    // suffixes; reconcile_and_label_db.py:341-412) live in
    // q_processing_modes below.
    QueryDef.sql(
      "q_batch_label",
      """WITH numbered AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) / 50) AS BIGINT) AS batch_id,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
        |  FROM events)
        |SELECT user_id, batch_id,
        |  CASE WHEN batch_id = CAST(FLOOR((n_total - 1) / 50) AS BIGINT)
        |       THEN 'forward' ELSE PRINTF('historical_%02d', batch_id + 1) END AS label,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM numbered GROUP BY user_id, batch_id, n_total
        |ORDER BY user_id, batch_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .withColumn("batch_id", floor((row_number().over(w) - 1) / 50).cast("long"))
        .withColumn("n_total", count(lit(1)).over(wAll).cast("long"))
        .groupBy(col("user_id"), col("batch_id"), col("n_total"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("batch_id"),
          when(col("batch_id") === floor((col("n_total") - 1) / 50).cast("long"), "forward")
            .otherwise(format_string("historical_%02d", col("batch_id") + 1)).as("label"),
          col("n"))
        .orderBy(col("user_id"), col("batch_id"))
    },

    // W4+A13: run-length encoding of a sequence + run-length histogram
    // (frames.py:238-258 land/water runs → here: consecutive same
    // event_type runs per user)
    QueryDef.sql(
      "q_runlength_histogram",
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS boundary
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type,
        |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM marked),
        |lens AS (
        |  SELECT user_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
        |  FROM runs GROUP BY user_id, run_id)
        |SELECT run_len, CAST(COUNT(*) AS BIGINT) AS n_runs
        |FROM lens GROUP BY run_len ORDER BY run_len""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("boundary",
          when(not(col("event_type") <=> lag(col("event_type"), 1).over(w)), 1)
            .otherwise(0))
        .withColumn("run_id",
          sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("run_id"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("run_len"))
        .agg(count(lit(1)).as("n_runs"))
        .orderBy(col("run_len"))
    },

    // D7 (reconcile_and_label_db.py:341-412 assign_processing_modes, exact
    // semantics): 2-hour gaps restart grouping (the reference's 2-year gaps,
    // scaled to the synthetic table's span); groups with fewer than
    // batch_size (40) times are entirely 'no_run'; each FULL batch of 40 in
    // a group is 'historical_NN' and the partial trailing batch (if any) is
    // 'forward_NN', where NN is the 1-based GROUP number (the suffix
    // increments per gap-group, not per batch — reference :385-408); a
    // group sized an exact multiple of 40 has no forward batch at all.
    QueryDef.sql(
      "q_processing_modes",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 7200000000
        |         THEN 1 ELSE 0 END AS restart
        |  FROM events),
        |islands AS (
        |  SELECT user_id, ts, event_id,
        |    SUM(restart) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM flagged),
        |numbered AS (
        |  SELECT user_id, grp,
        |    CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts, event_id) - 1) / 40) AS BIGINT) AS batch_id,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, grp) AS BIGINT) AS n_in_grp
        |  FROM islands)
        |SELECT user_id, CAST(grp AS BIGINT) AS grp, batch_id,
        |  CASE WHEN n_in_grp < 40 THEN 'no_run'
        |       WHEN batch_id < CAST(FLOOR(n_in_grp / 40) AS BIGINT)
        |       THEN PRINTF('historical_%02d', CAST(grp AS BIGINT))
        |       ELSE PRINTF('forward_%02d', CAST(grp AS BIGINT)) END AS mode,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM numbered GROUP BY user_id, grp, batch_id, n_in_grp
        |ORDER BY user_id, grp, batch_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val islands = Tables.events(s, d)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("restart",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 7200L * 1000000L, 1).otherwise(0))
        .withColumn("grp",
          sum(col("restart")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val wg = Window.partitionBy(col("user_id"), col("grp"))
        .orderBy(col("ts"), col("event_id"))
      islands
        .withColumn("batch_id", floor((row_number().over(wg) - 1) / 40).cast("long"))
        .withColumn("n_in_grp",
          count(lit(1)).over(Window.partitionBy(col("user_id"), col("grp"))).cast("long"))
        .groupBy(col("user_id"), col("grp").cast("long").as("grp"), col("batch_id"),
          col("n_in_grp"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("grp"), col("batch_id"),
          when(col("n_in_grp") < 40, "no_run")
            .when(col("batch_id") < floor(col("n_in_grp") / 40).cast("long"),
              format_string("historical_%02d", col("grp")))
            .otherwise(format_string("forward_%02d", col("grp"))).as("mode"),
          col("n"))
        .orderBy(col("user_id"), col("grp"), col("batch_id"))
    },

    // U2: row-wise array set algebra (reconcile_and_label_db.py:136-142 —
    // burst-id/date set intersection/difference/union per frame)
    QueryDef.sql(
      "q_array_setops",
      """WITH t AS (
        |  SELECT n_nationkey,
        |    RANGE(n_nationkey % 5, n_nationkey % 5 + 6) AS a,
        |    RANGE(n_nationkey % 3, n_nationkey % 3 + 4) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_INTERSECT(a, b)), ','), '') AS inter,
        |  COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(a, x -> NOT LIST_CONTAINS(b, x))), ','), '') AS a_minus_b,
        |  COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST_CONCAT(a, b))), ','), '') AS uni,
        |  CAST(LEN(LIST_INTERSECT(a, b)) AS BIGINT) AS n_common
        |FROM t ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val t = Tables.nation(s, d).select(col("n_nationkey"),
        sequence(pmod(col("n_nationkey"), lit(5)).cast("long"),
          pmod(col("n_nationkey"), lit(5)).cast("long") + 5).as("a"),
        sequence(pmod(col("n_nationkey"), lit(3)).cast("long"),
          pmod(col("n_nationkey"), lit(3)).cast("long") + 3).as("b"))
      t.select(col("n_nationkey"),
          array_join(array_sort(array_intersect(col("a"), col("b"))), ",").as("inter"),
          array_join(array_sort(array_except(col("a"), col("b"))), ",").as("a_minus_b"),
          array_join(array_sort(array_distinct(concat(col("a"), col("b")))), ",").as("uni"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("n_common"))
        .orderBy(col("n_nationkey"))
    },

    // A14+A15 on the weather-grid shape (snow_month_filter.py:55-111):
    // (time, lat, lon, snow) → spatial mean per time → daily max →
    // weekly sum, all from a deterministic synthetic 0.25° grid
    QueryDef.sql(
      "q_weather_resample",
      """WITH grid AS (
        |  SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (t.t * 6) HOUR AS time,
        |    40.0 + y.y * 0.25 AS lat, -120.0 + x.x * 0.25 AS lon,
        |    CASE WHEN (t.t + x.x * 3 + y.y * 7) % 11 < 4 THEN 1 ELSE 0 END AS snow
        |  FROM (SELECT UNNEST(RANGE(0, 120)) AS t) t,
        |       (SELECT UNNEST(RANGE(0, 4)) AS x) x,
        |       (SELECT UNNEST(RANGE(0, 4)) AS y) y),
        |spatial AS (
        |  SELECT time,
        |    CAST(FLOOR(CAST(SUM(snow) AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT) AS frac_q6
        |  FROM grid GROUP BY time),
        |daily AS (
        |  SELECT CAST(DATE_TRUNC('day', time) AS DATE) AS day,
        |    CAST(MAX(frac_q6) AS BIGINT) AS max_frac_q6
        |  FROM spatial GROUP BY DATE_TRUNC('day', time))
        |SELECT CAST(DATE_TRUNC('week', day) AS DATE) AS week,
        |  CAST(SUM(max_frac_q6) AS BIGINT) AS sum_daily_max_q6,
        |  CAST(COUNT(*) AS BIGINT) AS n_days
        |FROM daily GROUP BY DATE_TRUNC('week', day)
        |ORDER BY week""".stripMargin) { (s, d) =>
      val grid = s.range(0, 120).toDF("t")
        .crossJoin(s.range(0, 4).toDF("x"))
        .crossJoin(s.range(0, 4).toDF("y"))
        .select(
          (lit("2024-01-01 00:00:00").cast("timestamp") +
            make_dt_interval(lit(0), col("t") * 6)).as("time"),
          (lit(40.0) + col("y") * 0.25).as("lat"),
          (lit(-120.0) + col("x") * 0.25).as("lon"),
          when((col("t") + col("x") * 3 + col("y") * 7) % 11 < 4, 1).otherwise(0)
            .as("snow"))
      val spatial = grid.groupBy(col("time"))
        .agg(floor(sum(col("snow")).cast("double") / count(lit(1)) * 1000000)
          .cast("long").as("frac_q6"))
      val daily = spatial
        .groupBy(date_trunc("day", col("time")).cast("date").as("day"))
        .agg(max(col("frac_q6")).cast("long").as("max_frac_q6"))
      daily.groupBy(date_trunc("week", col("day")).cast("date").as("week"))
        .agg(sum(col("max_frac_q6")).cast("long").as("sum_daily_max_q6"),
          count(lit(1)).as("n_days"))
        .orderBy(col("week"))
    },

    // A14: time-bucket resample — daily counts then weekly min/max/sum
    // (snow_month_filter.py:55-68 daily→weekly cascade)
    QueryDef.sql(
      "q_resample_weekly",
      """WITH daily AS (
        |  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(value*10000) AS BIGINT)) AS BIGINT) AS val_q4
        |  FROM events GROUP BY event_type, DATE_TRUNC('day', ts))
        |SELECT event_type, CAST(DATE_TRUNC('week', day) AS DATE) AS week,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(MIN(n) AS BIGINT) AS min_daily, CAST(MAX(n) AS BIGINT) AS max_daily,
        |  CAST(SUM(val_q4) AS BIGINT) AS val_q4
        |FROM daily GROUP BY event_type, DATE_TRUNC('week', day)
        |ORDER BY event_type, week""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 10000).cast("long")).as("val_q4"))
      daily.groupBy(col("event_type"),
          date_trunc("week", col("day")).cast("date").as("week"))
        .agg(sum(col("n")).cast("long").as("n_events"),
          min(col("n")).cast("long").as("min_daily"),
          max(col("n")).cast("long").as("max_daily"),
          sum(col("val_q4")).cast("long").as("val_q4"))
        .orderBy(col("event_type"), col("week"))
    },

    // Integer-exact EWMA per user (α = 16/64): the streaming-analytics
    // smoother as a key-local sequential fold. s₁ = x₁;
    // sₜ = floor((16·xₜ + 48·sₜ₋₁)/64) — pure integers, so the DuckDB
    // recursive CTE replays it bit-for-bit. A residual |xₜ − sₜ₋₁| > 500
    // counts as a spike (the anomaly flag riding the same pass).
    // Secondary sort (repartition by user, sortWithinPartitions by
    // (user, ts, id)) streams each user's rows through the fold without
    // materializing the group — the same license as packGreedy; state is
    // O(1) per user regardless of history length.
    QueryDef.sql(
      "q_ewma",
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, CAST(FLOOR(value * 100) AS BIGINT) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id < 40),
        |walk(user_id, rn, x, s, spikes) AS (
        |  SELECT user_id, rn, x, x, 0 FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.x,
        |    CAST(FLOOR((16.0 * e.x + 48.0 * w.s) / 64.0) AS BIGINT),
        |    w.spikes + CASE WHEN ABS(e.x - w.s) > 500 THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1),
        |last AS (
        |  SELECT user_id, rn, s, spikes,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rr
        |  FROM walk)
        |SELECT user_id, CAST(rn AS BIGINT) AS n_events,
        |  CAST(s AS BIGINT) AS ewma_final, CAST(spikes AS BIGINT) AS n_spikes
        |FROM last WHERE rr = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d).filter(col("user_id") < 40)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), floor(col("value") * 100).cast("long").as("x"))
        .as[(Long, Long, Long, Long)]
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
        .mapPartitions { it =>
          var cur = Long.MinValue
          var n = 0L; var sAcc = 0L; var spikes = 0L
          val buf = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
          def flush(): Unit = if (n > 0) buf += ((cur, n, sAcc, spikes))
          it.foreach { case (u, _, _, x) =>
            if (u != cur) { flush(); cur = u; n = 0L; sAcc = 0L; spikes = 0L }
            if (n == 0) sAcc = x
            else {
              val (s2, spiked) = ewmaStep(sAcc, x)
              if (spiked) spikes += 1
              sAcc = s2
            }
            n += 1
          }
          flush()
          buf.iterator
        }
        .toDF("user_id", "n_events", "ewma_final", "n_spikes")
        .orderBy(col("user_id"))
    },

    // Holt linear-trend (double exponential) smoothing of the per-type
    // daily count series, α = β = 1/2 as exact binary halving — the
    // level+trend forecaster a metrics pipeline runs per series. The
    // sequential fold runs over the BOUNDED daily grid (days × types —
    // an aggregate, never raw events), per-key in-partition like q_ewma;
    // state is two longs per series. Output: final level/trend per type
    // plus the 7-day-ahead linear forecast. The oracle replays the fold
    // as a recursive CTE (exact halving, see holtStep).
    QueryDef.sql(
      "q_holt_linear",
      s"""${StatsTimeSeries.dailySeriesSql},
        |walk(event_type, rn, l, b) AS (
        |  SELECT event_type, rn, xc, CAST(0 AS BIGINT) FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.rn,
        |    CAST(FLOOR((s.xc + w.l + w.b) / 2.0) AS BIGINT),
        |    CAST(FLOOR((CAST(FLOOR((s.xc + w.l + w.b) / 2.0) AS BIGINT)
        |      - w.l + w.b) / 2.0) AS BIGINT)
        |  FROM walk w JOIN seq s ON s.event_type = w.event_type AND s.rn = w.rn + 1),
        |last AS (
        |  SELECT event_type, rn, l, b,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rr
        |  FROM walk)
        |SELECT event_type, CAST(rn AS BIGINT) AS n_days,
        |  CAST(l AS BIGINT) AS level_c, CAST(b AS BIGINT) AS trend_c,
        |  CAST(l + 7 * b AS BIGINT) AS fc7_c
        |FROM last WHERE rr = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      StatsTimeSeries.dailySeries(s, d)
        .mapPartitions { it =>
          val out = scala.collection.mutable.ListBuffer.empty[(String, Long, Long, Long, Long)]
          var cur: String = null
          var n = 0L; var l = 0L; var b = 0L
          def flush(): Unit = if (n > 0) out += ((cur, n, l, b, l + 7 * b))
          it.foreach { case (t, _, xc) =>
            if (t != cur) { flush(); cur = t; n = 0L; l = 0L; b = 0L }
            if (n == 0) { l = xc; b = 0L }
            else { val (l2, b2) = holtStep(l, b, xc); l = l2; b = b2 }
            n += 1
          }
          flush()
          out.iterator
        }
        .toDF("event_type", "n_days", "level_c", "trend_c", "fc7_c")
        .orderBy(col("event_type"))
    },

    // Debounce / alert throttling: keep an event only if it arrives ≥ 6
    // hours after the last KEPT event of the same user — inherently
    // sequential state (the threshold anchors to the last survivor, not
    // the previous row, so no gaps-and-islands rewrite exists). The
    // engine runs it as the same per-user repartition + in-partition
    // scan as the EWMA operator (mapPartitions is the documented last
    // resort for genuinely sequential per-key state — SURVEY §7.5);
    // the oracle replays the identical recursion as a recursive CTE
    // stepping one row per user per level. Output is the per-user
    // summary (kept count + id checksum), so both engines agree without
    // emitting every survivor row.
    QueryDef.sql(
      "q_debounce",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, EPOCH_US(ts) AS t,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, rn, t AS last_kept, CAST(1 AS BIGINT) AS n_kept,
        |    (event_id % 1000003) AS ck
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    CASE WHEN e.t >= r.last_kept + 21600000000 THEN e.t ELSE r.last_kept END,
        |    r.n_kept + CASE WHEN e.t >= r.last_kept + 21600000000 THEN 1 ELSE 0 END,
        |    (r.ck + CASE WHEN e.t >= r.last_kept + 21600000000
        |       THEN e.event_id % 1000003 ELSE 0 END) % 1000003
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        |fin AS (
        |  SELECT user_id, rn, n_kept, ck,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rr
        |  FROM r)
        |SELECT user_id, CAST(rn AS BIGINT) AS n_events, n_kept,
        |  CAST(ck AS BIGINT) AS kept_ck
        |FROM fin WHERE rr = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
        .as[(Long, Long, Long)]
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("t"), col("event_id"))
        .mapPartitions { it =>
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
          var cur = Long.MinValue
          var lastKept = 0L; var n = 0L; var nKept = 0L; var ck = 0L
          def flush(): Unit = if (n > 0) out += ((cur, n, nKept, ck))
          it.foreach { case (u, t, id) =>
            if (u != cur) { flush(); cur = u; n = 0L; nKept = 0L; ck = 0L; lastKept = Long.MinValue }
            n += 1
            if (lastKept == Long.MinValue || t >= lastKept + 21600000000L) {
              lastKept = t; nKept += 1; ck = (ck + id % 1000003L) % 1000003L
            }
          }
          flush()
          out.iterator
        }
        .toDF("user_id", "n_events", "n_kept", "kept_ck")
        .orderBy(col("user_id"))
    },

    // SCD Type-2 dimension build from a changelog: collapse each user's
    // event stream into validity intervals of consecutive equal
    // event_type (gaps-and-islands via the row_number difference), then
    // close each interval with the next interval's start (LEAD) and the
    // warehouse high-date sentinel on the current row. Every window
    // partitions by user_id — per-key state only, no global ordering.
    //
    // The sentinel must stay inside the pandas datetime64[ns] range
    // (1677..2262): Spark writes INT96 timestamps that pyarrow converts
    // to nanoseconds, and a 9999-12-31 high date silently WRAPS in that
    // conversion (observed: r07 hash mismatch with identical rows) while
    // DuckDB reads the same file correctly. 2200-01-01 is ns-safe in
    // every reader and is just as unmistakably "open interval".
    // The versioned window additionally orders by the island id — a
    // deterministic total order even if two islands of the same type
    // ever shared a start timestamp.
    QueryDef.sql(
      "q_scd2",
      """WITH numbered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |      AS island
        |  FROM events),
        |intervals AS (
        |  SELECT user_id, event_type, island, MIN(ts) AS valid_from,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM numbered GROUP BY user_id, event_type, island),
        |versioned AS (
        |  SELECT user_id, event_type, valid_from, n_events,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |    COALESCE(LEAD(valid_from) OVER w,
        |             TIMESTAMP '2200-01-01 00:00:00') AS valid_to
        |  FROM intervals
        |  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type, island))
        |SELECT user_id, version, event_type, valid_from, valid_to,
        |  CAST(valid_to = TIMESTAMP '2200-01-01 00:00:00' AS BIGINT) AS is_current,
        |  n_events
        |FROM versioned ORDER BY user_id, version""".stripMargin) { (s, d) =>
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byTimeInType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val byStart = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_type"), col("island"))
      val hi = to_timestamp(lit("2200-01-01 00:00:00"))
      Tables.events(s, d)
        .withColumn("island",
          row_number().over(byTime) - row_number().over(byTimeInType))
        .groupBy(col("user_id"), col("event_type"), col("island"))
        .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
        .withColumn("version", row_number().over(byStart).cast("long"))
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(byStart), hi))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"),
          (col("valid_to") === hi).cast("long").as("is_current"),
          col("n_events"))
        .orderBy(col("user_id"), col("version"))
    },

    // Floor-clamped running inventory balance per part: receipts (+qty)
    // and returns (−qty for R lines) applied in ship order, with the
    // balance clamped at zero — the Lindley recursion
    // B_t = max(0, B_{t−1} + x_t). The recursion has the closed form
    // B_t = S_t − min(0, min_{k≤t} S_k) (reflection at zero via the
    // running-minimum of the prefix sum), so a genuinely sequential
    // per-key fold becomes two stacked partitioned windows — no
    // mapPartitions state needed (ClampedBalanceSpec proves the identity
    // against a sequential fold). All arithmetic integer; per-part
    // output: ending/peak balance and how often the floor absorbed a
    // return.
    QueryDef.sql(
      "q_clamped_balance",
      """WITH mv AS (
        |  SELECT l_partkey,
        |    CASE WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS BIGINT)
        |         ELSE CAST(l_quantity AS BIGINT) END AS x,
        |    l_shipdate, l_orderkey, l_linenumber
        |  FROM lineitem),
        |s AS (
        |  SELECT l_partkey, x, l_shipdate, l_orderkey, l_linenumber,
        |    SUM(x) OVER w AS srun
        |  FROM mv
        |  WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING)),
        |b AS (
        |  SELECT l_partkey, x, srun,
        |    srun - LEAST(0, MIN(srun) OVER w) AS bal
        |  FROM s
        |  WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_moves,
        |  CAST(SUM(x) - LEAST(0, MIN(srun)) AS BIGINT) AS end_bal,
        |  CAST(MAX(bal) AS BIGINT) AS peak_bal,
        |  CAST(SUM(CASE WHEN x < 0 AND bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_floor_hits
        |FROM b GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin) { (s, d) =>
      val mv = Tables.lineitem(s, d).select(
        col("l_partkey"),
        when(col("l_returnflag") === "R", -col("l_quantity").cast("long"))
          .otherwise(col("l_quantity").cast("long")).as("x"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val b = mv.withColumn("srun", sum(col("x")).over(w))
        .withColumn("bal", col("srun") - least(lit(0L), min(col("srun")).over(w)))
      b.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_moves"),
          (sum(col("x")) - least(lit(0L), min(col("srun")))).as("end_bal"),
          max(col("bal")).as("peak_bal"),
          sum(when(col("x") < 0 && col("bal") === 0, 1L).otherwise(0L))
            .as("n_floor_hits"))
        .orderBy(col("l_partkey"))
    }
  )
}
