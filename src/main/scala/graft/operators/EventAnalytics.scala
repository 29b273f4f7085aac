package graft.operators

import graft.{QueryDef, QueryScope, Tables}
import graft.pipeline.SparseProduct
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table — the product-analytics
  * operator family a serving engine runs next to the pipeline operators:
  * transition matrices, funnels, cohort retention, and time-weighted
  * averages. All window frames partition by user (high cardinality — never
  * a global window), all aggregates are combiner-backed, and every value
  * is integer-quantized per the determinism contract.
  */
object EventAnalytics {

  val queries: Seq[QueryDef] = Seq(

    // Markov transition matrix: (event_type → next event_type) counts per
    // user-ordered stream — LEAD over (user, time) then one combiner
    // aggregate over the 25-cell matrix
    QueryDef.sql(
      "q_event_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Ordered funnel: users who viewed, then clicked AFTER the first view,
    // then purchased AFTER that click — each stage joins on the previous
    // stage's first-completion time (strict event ordering, not mere
    // co-occurrence)
    QueryDef.sql(
      "q_funnel",
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t0
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t1
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_after,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_after""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v.as("v"), col("e.user_id") === col("v.user_id") && col("e.ts") > col("v.t0"))
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(c.as("c"), col("e.user_id") === col("c.user_id") && col("e.ts") > col("c.t1"))
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t2"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked_after")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased_after")))
    },

    // Cohort retention: users grouped by first-activity week, counted as
    // active per week offset — the (cohort × offset) retention matrix.
    // Both stages are combiner-backed aggregates; the cohort table joins
    // back by user key (no window over the corpus).
    QueryDef.sql(
      "q_retention_cohorts",
      """WITH firsts AS (
        |  SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
        |  FROM events)
        |SELECT f.cohort AS cohort_week,
        |  CAST(DATEDIFF('day', f.cohort, a.wk) / 7 AS BIGINT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM activity a JOIN firsts f USING (user_id)
        |GROUP BY f.cohort, DATEDIFF('day', f.cohort, a.wk) / 7
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val firsts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
      val activity = ev
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      activity.join(firsts, Seq("user_id"))
        .groupBy(col("cohort").as("cohort_week"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // Time-weighted average value per user-day (TWAP): each reading
    // weights by its holding duration to the next reading the same day;
    // the day's last reading carries no weight (half-open intervals).
    // Weighted sums are exact int64; the final ratio is one double
    // division + floor, identical both engines.
    QueryDef.sql(
      "q_twap",
      """WITH seq AS (
        |  SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v_c, EPOCH_US(ts) AS t,
        |    LEAD(EPOCH_US(ts)) OVER (
        |      PARTITION BY user_id, DATE_TRUNC('day', ts) ORDER BY ts, event_id) AS t_next
        |  FROM events)
        |SELECT user_id, day,
        |  CAST(SUM(v_c * (t_next - t)) AS BIGINT) AS sum_wv,
        |  CAST(SUM(t_next - t) AS BIGINT) AS sum_dt,
        |  CAST(FLOOR(SUM(v_c * (t_next - t)) * CAST(1.0 AS DOUBLE) / SUM(t_next - t)) AS BIGINT) AS twap_c
        |FROM seq WHERE t_next IS NOT NULL
        |GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"), date_trunc("day", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, d).select(
        col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"),
        floor(col("value") * 100).cast("long").as("v_c"),
        unix_micros(col("ts")).as("t"),
        lead(unix_micros(col("ts")), 1).over(w).as("t_next"))
      seq.filter(col("t_next").isNotNull)
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("v_c") * (col("t_next") - col("t"))).as("sum_wv"),
          sum(col("t_next") - col("t")).as("sum_dt"))
        .select(col("user_id"), col("day"), col("sum_wv"), col("sum_dt"),
          floor(col("sum_wv") * lit(1.0) / col("sum_dt")).cast("long").as("twap_c"))
        .orderBy(col("user_id"), col("day"))
    },

    // Interval-union coverage: each event opens a 5-minute activity
    // interval; overlapping intervals merge and the covered time per user
    // is the union length. The running-max-end island trick — all windows
    // partition by user, so the merge is key-local at any scale.
    QueryDef.sql(
      "q_interval_union",
      """WITH iv AS (
        |  SELECT user_id, event_id, EPOCH_US(ts) AS s,
        |    EPOCH_US(ts) + 300000000 AS e
        |  FROM events),
        |x AS (
        |  SELECT user_id, event_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |y AS (
        |  SELECT user_id, event_id, s, e,
        |    CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS is_new
        |  FROM x),
        |z AS (
        |  SELECT user_id, s, e,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM y),
        |isl AS (
        |  SELECT user_id, island, MIN(s) AS s0, MAX(e) AS e1
        |  FROM z GROUP BY user_id, island)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(e1 - s0) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
      val iv = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + 300000000L).as("e"))
      val x = iv.withColumn("prev_max",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      val y = x.withColumn("is_new",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0))
      val z = y.withColumn("island",
        sum(col("is_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      z.groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("s0"), max(col("e")).as("e1"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"), sum(col("e1") - col("s0")).as("covered_us"))
        .orderBy(col("user_id"))
    },

    // Week-over-week growth: LAG over the pre-aggregated weekly series
    // (the window sees one row per (type, week), never raw events),
    // growth quantized from one exact double division
    QueryDef.sql(
      "q_wow_growth",
      """WITH wk AS (
        |  SELECT event_type, CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, DATE_TRUNC('week', ts)),
        |g AS (
        |  SELECT event_type, week, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
        |  FROM wk)
        |SELECT event_type, week, n, COALESCE(prev, 0) AS prev_n,
        |  CASE WHEN prev IS NULL THEN CAST(NULL AS BIGINT)
        |       ELSE CAST(FLOOR((n - prev) * CAST(1000000.0 AS DOUBLE) / prev) AS BIGINT) END AS growth_q6
        |FROM g ORDER BY event_type, week""".stripMargin) { (s, d) =>
      val wk = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      wk.withColumn("prev", lag(col("n"), 1).over(w))
        .select(col("event_type"), col("week"), col("n"),
          coalesce(col("prev"), lit(0L)).as("prev_n"),
          when(col("prev").isNull, lit(null).cast("long"))
            .otherwise(floor((col("n") - col("prev")) * lit(1000000.0) / col("prev"))
              .cast("long")).as("growth_q6"))
        .orderBy(col("event_type"), col("week"))
    },

    // Distribution-drift monitor: total-variation distance between
    // consecutive weeks' event-type mixes — the alarm a training-data
    // pipeline hangs on its source composition. TV = ½·Σ|p_i − q_i|
    // computed from EXACT integer cross terms |n_i·M − m_i·N| (no
    // per-row division), quantized once per week. The type×week spine
    // fills absent types with 0 so a vanishing type registers as drift.
    // Scale: everything runs over the #weeks × #types aggregate table,
    // never raw events; windows partition by week or type.
    QueryDef.sql(
      "q_drift_weekly",
      """WITH wk AS (
        |  SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT w.week, t.event_type
        |  FROM (SELECT DISTINCT week FROM wk) w
        |  CROSS JOIN (SELECT DISTINCT event_type FROM wk) t),
        |f AS (
        |  SELECT s.week, s.event_type, COALESCE(wk.n, 0) AS n
        |  FROM spine s LEFT JOIN wk USING (week, event_type)),
        |l AS (
        |  SELECT week, event_type, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |  FROM f),
        |d AS (
        |  SELECT week, event_type, n, prev_n,
        |    SUM(n) OVER (PARTITION BY week) AS n_cur,
        |    SUM(prev_n) OVER (PARTITION BY week) AS n_prev
        |  FROM l WHERE prev_n IS NOT NULL)
        |SELECT week,
        |  CAST(MAX(n_cur) AS BIGINT) AS n_cur,
        |  CAST(MAX(n_prev) AS BIGINT) AS n_prev,
        |  CAST(SUM(ABS(n * n_prev - prev_n * n_cur)) AS BIGINT) AS s_abs,
        |  CAST(FLOOR(SUM(ABS(n * n_prev - prev_n * n_cur))
        |    * CAST(1000000.0 AS DOUBLE) / (2 * MAX(n_cur) * MAX(n_prev)))
        |    AS BIGINT) AS tv_q6
        |FROM d GROUP BY week ORDER BY week""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wk = Tables.events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = wk.select(col("week")).distinct()
        .crossJoin(broadcast(wk.select(col("event_type")).distinct()))
      val f = spine.join(wk, Seq("week", "event_type"), "left")
        .select(col("week"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      val l = f.withColumn("prev_n",
          lag(col("n"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("week"))))
        .filter(col("prev_n").isNotNull)
      val wWeek = Window.partitionBy(col("week"))
      val dd = l
        .withColumn("n_cur", sum(col("n")).over(wWeek))
        .withColumn("n_prev", sum(col("prev_n")).over(wWeek))
      val sAbs = sum(abs(col("n") * col("n_prev") - col("prev_n") * col("n_cur")))
      dd.groupBy(col("week"))
        .agg(max(col("n_cur")).as("n_cur"), max(col("n_prev")).as("n_prev"),
          sAbs.cast("long").as("s_abs"),
          floor(sAbs * lit(1000000.0) / (lit(2) * max(col("n_cur")) * max(col("n_prev"))))
            .cast("long").as("tv_q6"))
        .orderBy(col("week"))
    },

    // Rolling 7-day distinct active users. Sliding DISTINCT does not
    // decompose into window partials, so the scale formulation is the
    // CONTRIBUTION EXPANSION: reduce to one row per (day, user) first
    // (combiner-backed), then each such row contributes to the ≤7 target
    // days whose trailing window covers it — a bounded ×7 explode over the
    // REDUCED rows, never the raw stream — and a per-target-day distinct
    // count. Window edges keep their partial windows on both engines.
    QueryDef.sql(
      "q_rolling_dau",
      """WITH du AS (
        |  SELECT DISTINCT EPOCH_US(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du),
        |contrib AS (
        |  SELECT du.day + o AS tday, du.user_id
        |  FROM du CROSS JOIN UNNEST(RANGE(0, 7)) AS u(o))
        |SELECT CAST(c.tday AS BIGINT) AS day,
        |  CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS dau7
        |FROM contrib c CROSS JOIN span
        |WHERE c.tday BETWEEN span.d0 AND span.d1
        |GROUP BY c.tday ORDER BY day""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val du = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div $dayUs").as("day"), col("user_id"))
        .distinct()
      val span = du.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      du.select(explode(sequence(col("day"), col("day") + 6)).as("tday"),
          col("user_id"))
        .crossJoin(broadcast(span))
        .filter(col("tday").between(col("d0"), col("d1")))
        .groupBy(col("tday").as("day"))
        .agg(countDistinct(col("user_id")).as("dau7"))
        .orderBy(col("day"))
    },

    // Cumulative customer growth: distinct customers ever seen, by first
    // order month. The scale form: one combiner-backed MIN per customer
    // (first-seen month), one count per month, then a running sum over
    // the TINY month table — a cumulative COUNT(DISTINCT) window over
    // raw orders would re-shuffle the fact table per month instead.
    QueryDef.sql(
      "q_cumulative_users",
      """WITH fs AS (
        |  SELECT o_custkey,
        |    CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS first_month
        |  FROM orders GROUP BY o_custkey),
        |mo AS (
        |  SELECT first_month AS month, CAST(COUNT(*) AS BIGINT) AS n_new
        |  FROM fs GROUP BY first_month)
        |SELECT month, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY month
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cumulative
        |FROM mo ORDER BY month""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val fs = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(date_trunc("month", min(col("o_orderdate"))).cast("date").as("first_month"))
      val mo = fs.groupBy(col("first_month").as("month"))
        .agg(count(lit(1)).as("n_new"))
      // global window over the month table only (#months rows —
      // documented bounded-global-window exception)
      mo.withColumn("n_cumulative",
          sum(col("n_new")).over(Window.orderBy(col("month"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("month"))
    },

    // RFM segmentation: per-user Recency (days since last event, against
    // the corpus max timestamp), Frequency (events), Monetary (purchase
    // cents) — then the coarse 2×2×2 segment label a lifecycle pipeline
    // acts on. One combiner-backed pass over events plus a broadcast
    // 1-row anchor; banding thresholds are exact integers.
    QueryDef.sql(
      "q_rfm_segments",
      """WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
        |rfm AS (
        |  SELECT user_id,
        |    CAST((EPOCH_US(a.mx) - EPOCH_US(MAX(e.ts))) // 86400000000 AS BIGINT) AS recency_d,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CASE WHEN e.event_type = 'purchase'
        |      THEN CAST(FLOOR(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS monetary_c
        |  FROM events e CROSS JOIN anchor a
        |  GROUP BY user_id, a.mx)
        |SELECT user_id, recency_d, frequency, monetary_c,
        |  (CASE WHEN recency_d <= 7 THEN 'R1' ELSE 'R0' END ||
        |   CASE WHEN frequency >= 20 THEN 'F1' ELSE 'F0' END ||
        |   CASE WHEN monetary_c >= 50000 THEN 'M1' ELSE 'M0' END) AS segment
        |FROM rfm ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val anchor = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(anchor)) // 1-row corpus anchor — never a driver action
        .groupBy(col("user_id"), col("mx"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("frequency"),
          sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L)).as("monetary_c"))
        .select(col("user_id"),
          expr("(unix_micros(mx) - unix_micros(last_ts)) div 86400000000")
            .as("recency_d"),
          col("frequency"), col("monetary_c"),
          concat(when(expr("(unix_micros(mx) - unix_micros(last_ts)) div 86400000000") <= 7,
              "R1").otherwise("R0"),
            when(col("frequency") >= 20, "F1").otherwise("F0"),
            when(col("monetary_c") >= 50000, "M1").otherwise("M0")).as("segment"))
        .orderBy(col("user_id"))
    },

    // Last-touch attribution: each purchase credits the most recent
    // preceding non-purchase event of the same user within a 24 h
    // lookback, else 'direct'. One pass: the per-user IGNORE NULLS
    // last_value window carries (ts, type) of the latest candidate
    // touch — no self-join, the stream is scanned once and the window
    // is user-partitioned (key-local sort at any scale).
    QueryDef.sql(
      "q_attribution",
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS tus FROM events),
        |carried AS (
        |  SELECT user_id, event_id, event_type, tus,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN tus END IGNORE NULLS)
        |      OVER w AS touch_tus,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id,
        |  CASE WHEN touch_tus IS NOT NULL AND tus - touch_tus <= 86400000000
        |       THEN touch_type ELSE 'direct' END AS channel,
        |  CAST(CASE WHEN touch_tus IS NOT NULL AND tus - touch_tus <= 86400000000
        |       THEN tus - touch_tus END AS BIGINT) AS dt_us
        |FROM carried WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id LIMIT 2000""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tus"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carried = ev
        .withColumn("touch_tus",
          last(when(col("event_type") =!= "purchase", col("tus")), ignoreNulls = true).over(w))
        .withColumn("touch_type",
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      val attributed = col("touch_tus").isNotNull &&
        col("tus") - col("touch_tus") <= 86400000000L
      carried.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          when(attributed, col("touch_type")).otherwise("direct").as("channel"),
          when(attributed, col("tus") - col("touch_tus")).cast("long").as("dt_us"))
        .orderBy(col("user_id"), col("event_id"))
        .limit(2000)
    },

    // Linear multi-touch attribution (the fractional complement of the
    // last-touch query above): every non-purchase touch within the 24 h
    // lookback of a purchase shares its credit equally — credit per touch
    // is the INTEGER q6 split 1000000 div n, so both engines sum exact
    // integers and channel totals compare bit-for-bit. The touch↔purchase
    // pairing is an equi join on user_id with a bounded time-range
    // predicate — per-user work is bounded by activity inside the window,
    // never a cross join; the per-purchase touch count is one
    // combiner-backed groupBy on the pair stream.
    QueryDef.sql(
      "q_attribution_linear",
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS pid, tus AS ptus
        |      FROM ev WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, tus
        |      FROM ev WHERE event_type <> 'purchase'),
        |pt AS (
        |  SELECT p.pid, t.channel
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND t.tus < p.ptus AND t.tus >= p.ptus - 86400000000),
        |n AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_t FROM pt GROUP BY pid),
        |credit AS (
        |  SELECT pt.channel, 1000000 // n.n_t AS c
        |  FROM pt JOIN n USING (pid))
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(c) AS BIGINT) AS credit_q6
        |FROM credit GROUP BY channel ORDER BY channel""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tus"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("tus").as("ptus"))
      val t = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"), col("tus"))
      // Explicit leg aliases: p and t share the `ev` lineage, and the
      // dataframe-apply form p("user_id") === t("user_id") makes Spark
      // warn "Constructing trivially true equals predicate" before its
      // self-join disambiguation fixes it up — qualify instead.
      val pt = p.as("p").join(t.as("t"),
          col("p.user_id") === col("t.user_id") &&
          col("t.tus") < col("p.ptus") &&
          col("t.tus") >= col("p.ptus") - 86400000000L)
        .select(col("p.pid").as("pid"), col("t.channel").as("channel"))
      val n = pt.groupBy(col("pid")).agg(count(lit(1)).as("n_t"))
      pt.join(n, Seq("pid"))
        .select(col("channel"), expr("1000000 div n_t").as("c"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"), sum(col("c")).as("credit_q6"))
        .orderBy(col("channel"))
    },

    // Consecutive-day activity streaks per user (gaps-and-islands on the
    // DISTINCT active-day grid): day minus its per-user rank is constant
    // within a run of consecutive days, so one user-partitioned window +
    // two combiner-backed groupBys produce per-user streak stats. The
    // window runs over the (user, day) DISTINCT grid — time-bounded per
    // user, never raw events.
    QueryDef.sql(
      "q_user_streaks",
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM days),
        |isl AS (
        |  SELECT user_id, day - CAST(rn AS INTEGER) AS grp,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM r GROUP BY user_id, day - CAST(rn AS INTEGER))
        |SELECT user_id,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val r = days.withColumn("rn",
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day"))))
      val isl = r.groupBy(col("user_id"),
          date_sub(col("day"), col("rn").cast("int")).as("grp"))
        .agg(count(lit(1)).as("len"))
      isl.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    },

    // Entry-path analysis: each user's first three event types (event-time
    // order, id tie-break) as a '>'-joined path, counted across users.
    // The rank window is user-partitioned; the path assembly is a 3-row
    // conditional pivot per user — never an ordered collect.
    QueryDef.sql(
      "q_entry_paths",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY EPOCH_US(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN rn = 1 THEN event_type END) || '>' ||
        |    MAX(CASE WHEN rn = 2 THEN event_type END) || '>' ||
        |    MAX(CASE WHEN rn = 3 THEN event_type END) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id
        |  HAVING COUNT(*) = 3)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
      val p = r.groupBy(col("user_id"))
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"),
          count(lit(1)).as("n"))
        .filter(col("n") === 3)
        .select(concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3")).as("path"))
      p.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    },

    // Association rules over session baskets (market-basket mining):
    // sessions are the 30-minute-gap sessionization, a basket is the
    // DISTINCT event_type set of one session, and each ordered pair
    // a→b (a < b lexically) is scored support / confidence / lift from
    // exact basket counts. The pair self-join fans out per basket by
    // its DISTINCT item degree (bounded by the event-type vocabulary,
    // never raw event count) and reduces to ≤|vocab|² cells; the three
    // ratios are single IEEE divisions of exact BIGINTs.
    QueryDef.sql(
      "q_assoc_rules",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |              OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sn
        |  FROM flagged),
        |basket AS (SELECT DISTINCT user_id, sn, event_type FROM sess),
        |nb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT DISTINCT user_id, sn FROM basket)),
        |item AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM basket GROUP BY event_type),
        |pair AS (
        |  SELECT a.event_type AS a, b.event_type AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM basket a JOIN basket b
        |    ON a.user_id = b.user_id AND a.sn = b.sn
        |   AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.a, p.b, p.n_ab, ia.c AS n_a, ib.c AS n_b,
        |  CAST(FLOOR(p.n_ab * CAST(1000000.0 AS DOUBLE) / nb.n) AS BIGINT)
        |    AS support_q6,
        |  CAST(FLOOR(p.n_ab * CAST(1000000.0 AS DOUBLE) / ia.c) AS BIGINT)
        |    AS conf_q6,
        |  CAST(FLOOR(p.n_ab * CAST(1000000.0 AS DOUBLE) * nb.n
        |             / (ia.c * CAST(1.0 AS DOUBLE) * ib.c)) AS BIGINT)
        |    AS lift_q6
        |FROM pair p
        |JOIN item ia ON ia.event_type = p.a
        |JOIN item ib ON ib.event_type = p.b
        |CROSS JOIN nb
        |ORDER BY p.a, p.b""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val basket = QueryScope.persisted(Tables.events(s, d)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("sn",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("user_id"), col("sn"), col("event_type"))
        .distinct())
      val nb = basket.select(col("user_id"), col("sn")).distinct()
        .agg(count(lit(1)).as("n"))
      SparseProduct.product(basket, Seq("user_id", "sn"), "event_type",
          SparseProduct.Names("a", "b", "n_ab", "n_a", "n_b"))
        .crossJoin(broadcast(nb))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          floor(col("n_ab") * lit(1000000.0) / col("n")).cast("long").as("support_q6"),
          floor(col("n_ab") * lit(1000000.0) / col("n_a")).cast("long").as("conf_q6"),
          floor(col("n_ab") * lit(1000000.0) * col("n")
            / (col("n_a") * lit(1.0) * col("n_b"))).cast("long").as("lift_q6"))
        .orderBy(col("a"), col("b"))
    },
  )
}
