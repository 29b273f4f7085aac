package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series statistics split out of [[Stats]] (same determinism and
  * scale contracts — exact BIGINT moment sums over a bounded daily/hourly
  * grid, one shared IEEE tree for the final floating step, per-key
  * partitioned windows only): lag/rolling features, seasonality,
  * autocorrelation, trend estimators (Theil-Sen, Mann-Kendall,
  * changepoint), decomposition, SAX symbolization, and forecast-error
  * baselines. */
object StatsTimeSeries {

  /** One additive Holt-Winters update with α = β = γ = 1/2 as exact
    * binary halving (the holtStep discipline — halving a < 2⁵³ integer in
    * a double is exact and FLOOR is negative-safe, so the q_holt_winters
    * fold and its recursive-CTE oracle replay the identical update):
    * l' = ⌊(x − s + l + b)/2⌋, b' = ⌊(l' − l + b)/2⌋,
    * s' = ⌊(x − l' + s)/2⌋. */
  def hwStep(l: Long, b: Long, s: Long, xc: Long): (Long, Long, Long) = {
    val l2 = math.floor((xc - s + l + b) / 2.0).toLong
    val b2 = math.floor((l2 - l + b) / 2.0).toLong
    val s2 = math.floor((xc - l2 + s) / 2.0).toLong
    (l2, b2, s2)
  }

  /** Per-type daily count series (event_type, ep = epoch day, xc =
    * count·100), each type's days in one partition and in order: the input
    * of the sequential Holt folds (q_holt_winters, q_holt_linear). */
  private[operators] def dailySeries(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("ep"),
        (col("x") * 100).as("xc"))
      .as[(String, Long, Long)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("ep"))
  }

  /** Oracle twin of [[dailySeries]]: CTEs daily and seq (rn = day order). */
  private[operators] val dailySeriesSql =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |seq AS (
      |  SELECT event_type, x * 100 AS xc,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily)""".stripMargin

  /** Per-type daily event counts (event_type, di, x) and their ordered
    * same-type day pairs a.di < b.di, columns still aliased a and b. */
  private def dailyPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("di"))
      .agg(count(lit(1)).as("x"))
    (daily, daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.di") < col("b.di")))
  }

  /** Oracle twin of [[dailyPairs]]: CTEs daily and pr, where pr projects
    * event_type and `cols` over the pair (a, b). */
  private def dailyPairsSql(cols: String): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.event_type,
       |    $cols
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.di < b.di)""".stripMargin

  val queries: Seq[QueryDef] = Seq(


    // Per-user lag / delta / rolling-3 features (supervised-learning
    // feature generation): every window partitions by user, so the sort
    // is key-local and scales with executor count.
    QueryDef.sql(
      "q_lag_features",
      """WITH v AS (
        |  SELECT user_id, event_id, EPOCH_US(ts) AS tus,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v_q2
        |  FROM events)
        |SELECT user_id, event_id, v_q2,
        |  LAG(v_q2, 1) OVER w AS lag1_q2,
        |  LAG(v_q2, 2) OVER w AS lag2_q2,
        |  CAST(tus - LAG(tus, 1) OVER w AS BIGINT) AS dt_us,
        |  CAST(FLOOR(SUM(v_q2) OVER w3 * CAST(1.0 AS DOUBLE)
        |             / COUNT(*) OVER w3) AS BIGINT) AS mean3_q2
        |FROM v
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id),
        |       w3 AS (PARTITION BY user_id ORDER BY tus, event_id
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id LIMIT 2000""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        floor(col("value") * 100).cast("long").as("v_q2"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      val w3 = w.rowsBetween(-2, Window.currentRow)
      v.select(col("user_id"), col("event_id"), col("v_q2"),
          lag(col("v_q2"), 1).over(w).as("lag1_q2"),
          lag(col("v_q2"), 2).over(w).as("lag2_q2"),
          (col("tus") - lag(col("tus"), 1).over(w)).cast("long").as("dt_us"),
          floor(sum(col("v_q2")).over(w3) * lit(1.0)
            / count(lit(1)).over(w3)).cast("long").as("mean3_q2"))
        .orderBy(col("user_id"), col("event_id"))
        .limit(2000)
    },


    // Hour-of-week seasonality profile: activity share (ppm of the event
    // type's total) per ISO weekday x hour cell. One combiner-backed
    // groupBy to <= 168 cells per type; the share join is broadcast.
    QueryDef.sql(
      "q_seasonality_profile",
      """WITH cell AS (
        |  SELECT event_type,
        |    CAST(ISODOW(ts) AS BIGINT) AS dow,
        |    CAST(HOUR(ts) AS BIGINT) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
        |        FROM cell GROUP BY event_type)
        |SELECT c.event_type, c.dow, c.hr, c.n,
        |  CAST(FLOOR(c.n * CAST(1000000.0 AS DOUBLE) / t.total) AS BIGINT) AS share_q6
        |FROM cell c JOIN tot t USING (event_type)
        |ORDER BY c.event_type, c.dow, c.hr""".stripMargin) { (s, d) =>
      val cell = Tables.events(s, d)
        .groupBy(col("event_type"),
          (weekday(col("ts")) + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = cell.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
      cell.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("hr"), col("n"),
          floor(col("n") * lit(1000000.0) / col("total")).cast("long").as("share_q6"))
        .orderBy(col("event_type"), col("dow"), col("hr"))
    },


    // Exponential time-decay engagement score per user (half-life 1 day,
    // anchored at the corpus max date — feature-store freshness
    // weighting). EXACT despite the floating weight: each term is
    // v_cents · 2^(20 - age_days), an integer times a power of two, so
    // the double product rounds nothing (v_c < 2^17, scale ≤ 2^20);
    // per-term floor-to-bigint then makes the SUM order-independent.
    // One combiner-backed groupBy; the anchor date is a broadcast row.
    QueryDef.sql(
      "q_decay_sum",
      """WITH anchor AS (SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events),
        |term AS (
        |  SELECT user_id,
        |    CAST(FLOOR(CAST(FLOOR(value * 100) AS BIGINT)
        |      * POWER(2.0, 20 - DATEDIFF('day', CAST(ts AS DATE), d0)))
        |      AS BIGINT) AS t
        |  FROM events CROSS JOIN anchor)
        |SELECT user_id, CAST(SUM(t) AS BIGINT) AS decay_s20,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM term GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val anchor = ev.agg(max(col("ts")).cast("date").as("d0"))
      ev.crossJoin(broadcast(anchor))
        .select(col("user_id"),
          floor(floor(col("value") * 100).cast("long")
            * pow(lit(2.0), lit(20) - datediff(col("d0"), col("ts").cast("date"))))
            .cast("long").as("t"))
        .groupBy(col("user_id"))
        .agg(sum(col("t")).as("decay_s20"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },


    // Lag-k autocorrelation (k = 1, 7) of the daily event-count series
    // per event type — the feature-engineering readout that tells a
    // pipeline whether a series has day-over-day momentum or weekly
    // seasonality. Pairs (x_t, x_{t-k}) come from a LAG window over the
    // BOUNDED daily grid (days × types, never raw rows); the five moment
    // sums are exact BIGINTs and the final Pearson ratio is one shared
    // IEEE expression floor-quantized to q6.
    QueryDef.sql(
      "q_autocorr_lag",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |lagged AS (
        |  SELECT event_type, k.lag AS lag, x,
        |    LAG(x, CAST(k.lag AS INTEGER)) OVER (
        |      PARTITION BY event_type, k.lag ORDER BY day) AS xl
        |  FROM daily CROSS JOIN (SELECT UNNEST([1, 7]) AS lag) k),
        |m AS (
        |  SELECT event_type, lag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(xl) AS BIGINT) AS sy,
        |    CAST(SUM(x*xl) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(xl*xl) AS BIGINT) AS syy
        |  FROM lagged WHERE xl IS NOT NULL GROUP BY event_type, lag)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
        |  CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL
        |  ELSE CAST(FLOOR((n*sxy - sx*sy) * CAST(1000000.0 AS DOUBLE)
        |    / (SQRT((n*sxx - sx*sx) * CAST(1.0 AS DOUBLE))
        |       * SQRT((n*syy - sy*sy) * CAST(1.0 AS DOUBLE)))) AS BIGINT)
        |  END AS acf_q6
        |FROM m ORDER BY event_type, lag""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val lagged = daily
        .select(col("event_type"), col("day"), col("x"),
          explode(array(lit(1), lit(7))).as("lag"))
      val k1 = Window.partitionBy(col("event_type"), col("lag")).orderBy(col("day"))
      val withLag = lagged
        .withColumn("xl", when(col("lag") === 1, lag(col("x"), 1).over(k1))
          .otherwise(lag(col("x"), 7).over(k1)))
        .filter(col("xl").isNotNull)
      val m = withLag.groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("xl")).as("sy"),
          sum(col("x") * col("xl")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("xl") * col("xl")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vxInt = col("n") * col("sxx") - col("sx") * col("sx")
      val vyInt = col("n") * col("syy") - col("sy") * col("sy")
      // zero-variance guard: a constant series yields 0/0 — Spark would
      // silently cast NaN/Inf while DuckDB's CAST raises; both emit NULL
      m.select(col("event_type"), col("lag").cast("long").as("lag"), col("n"),
          when(vxInt === 0 || vyInt === 0, lit(null))
            .otherwise(floor(cov * lit(1000000.0) /
              (sqrt(vxInt * lit(1.0)) * sqrt(vyInt * lit(1.0)))).cast("long"))
            .as("acf_q6"))
        .orderBy(col("event_type"), col("lag"))
    },


    // Binary (at-most-one-change) changepoint per event type: over the
    // bounded daily-count grid, the split k maximizing the CUSUM²
    // objective (S_k·n − S·k)²/(k·(n−k)). Prefix sums are exact; the
    // score is one shared IEEE tree floor-quantized BEFORE the argmax so
    // the (score, k) rank is deterministic in both engines. Left/right
    // means report as exact integer centi-divisions.
    QueryDef.sql(
      "q_changepoint",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, di, x,
        |    SUM(x) OVER w AS sk,
        |    ROW_NUMBER() OVER w AS k,
        |    SUM(x) OVER (PARTITION BY event_type) AS s,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY di
        |               ROWS UNBOUNDED PRECEDING)),
        |sc AS (
        |  SELECT event_type, di, k, n, sk, s,
        |    CAST(FLOOR(((sk * n - s * k) * CAST(1.0 AS DOUBLE))
        |      * ((sk * n - s * k) * CAST(1.0 AS DOUBLE))
        |      / (k * (n - k)) / (s * CAST(1.0 AS DOUBLE) / n)
        |      * 1000000.0 / s) AS BIGINT) AS score_q6
        |  FROM p WHERE k < n),
        |best AS (
        |  SELECT event_type, di, k, n, sk, s, score_q6,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY score_q6 DESC, k) AS rn
        |  FROM sc)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(k AS BIGINT) AS k_hat, CAST(di AS BIGINT) AS split_day,
        |  score_q6,
        |  CAST((sk * 100) // k AS BIGINT) AS mean_left_c,
        |  CAST(((s - sk) * 100) // (n - k) AS BIGINT) AS mean_right_c
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("di"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("event_type"))
      val p = daily.select(col("event_type"), col("di"), col("x"),
        sum(col("x")).over(wRun).as("sk"),
        row_number().over(Window.partitionBy(col("event_type")).orderBy(col("di"))).as("k"),
        sum(col("x")).over(wAll).as("s"),
        count(lit(1)).over(wAll).as("n"))
      val dd = (col("sk") * col("n") - col("s") * col("k")) * lit(1.0)
      val sc = p.filter(col("k") < col("n"))
        .select(col("event_type"), col("di"), col("k"), col("n"), col("sk"), col("s"),
          floor(dd * dd / (col("k") * (col("n") - col("k")))
            / (col("s") * lit(1.0) / col("n")) * lit(1000000.0) / col("s"))
            .cast("long").as("score_q6"))
      val wBest = Window.partitionBy(col("event_type"))
        .orderBy(col("score_q6").desc, col("k"))
      sc.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n").cast("long").as("n_days"),
          col("k").cast("long").as("k_hat"), col("di").as("split_day"),
          col("score_q6"),
          expr("(sk * 100) div k").as("mean_left_c"),
          expr("((s - sk) * 100) div (n - k)").as("mean_right_c"))
        .orderBy(col("event_type"))
    },


    // Theil–Sen robust trend: the median of all pairwise slopes of the
    // per-type daily count series — the outlier-proof alternative to the
    // OLS slope in q_daily_corr_ols. The pair self-join runs on the
    // TIME-bounded daily grid (≤ days²/2 pairs per type, independent of
    // row count), each slope is one exact-numerator IEEE division
    // floor-quantized to q6, and the median pick is a deterministic
    // (slope, d1, d2) rank inside each type partition.
    QueryDef.sql(
      "q_theilsen",
      s"""${dailyPairsSql("""CAST(FLOOR((b.x - a.x) * CAST(1000000.0 AS DOUBLE)
          |      / (b.di - a.di)) AS BIGINT) AS sl,
          |    a.di AS d1, b.di AS d2""".stripMargin)},
        |rk AS (
        |  SELECT event_type, sl,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sl, d1, d2) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM pr)
        |SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
        |  CAST(sl AS BIGINT) AS ts_slope_q6
        |FROM rk WHERE rn = (m + 1) // 2 ORDER BY event_type""".stripMargin) { (s, d) =>
      val (_, pairs) = dailyPairs(s, d)
      val pr = pairs.select(col("a.event_type").as("event_type"),
          floor((col("b.x") - col("a.x")) * lit(1000000.0)
            / (col("b.di") - col("a.di"))).cast("long").as("sl"),
          col("a.di").as("d1"), col("b.di").as("d2"))
      val wp = Window.partitionBy(col("event_type"))
      pr.select(col("event_type"), col("sl"),
          row_number().over(wp.orderBy(col("sl"), col("d1"), col("d2"))).as("rn"),
          count(lit(1)).over(wp).as("m"))
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("event_type"), col("m").cast("long").as("n_pairs"),
          col("sl").as("ts_slope_q6"))
        .orderBy(col("event_type"))
    },


    // Mann–Kendall trend test (with the textbook tie correction) on the
    // same daily grid: S = Σ sign(x_j − x_i) over ordered day pairs, the
    // variance 18·Var = n(n−1)(2n+5) − Σt(t−1)(2t+5) stays a pure
    // integer, and the continuity-corrected z is one shared IEEE tree.
    // A constant series zeroes the variance → NULL (the q_autocorr_lag
    // guard discipline).
    QueryDef.sql(
      "q_mann_kendall",
      s"""${dailyPairsSql("CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg")},
        |s AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s_stat
        |      FROM pr GROUP BY event_type),
        |nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM daily GROUP BY event_type),
        |ties AS (
        |  SELECT event_type,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
        |        FROM daily GROUP BY event_type, x)
        |  GROUP BY event_type),
        |v AS (
        |  SELECT nn.event_type, nn.n, s.s_stat,
        |    nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS var18
        |  FROM nn JOIN s ON s.event_type = nn.event_type
        |  JOIN ties ON ties.event_type = nn.event_type)
        |SELECT event_type, n AS n_days, s_stat,
        |  CASE WHEN var18 <= 0 THEN NULL
        |  ELSE CAST(FLOOR(
        |    (s_stat - CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END)
        |    * CAST(1000000.0 AS DOUBLE)
        |    / SQRT(var18 * CAST(1.0 AS DOUBLE) / 18.0)) AS BIGINT)
        |  END AS z_q6
        |FROM v ORDER BY event_type""".stripMargin) { (s, d) =>
      val (daily, pairs) = dailyPairs(s, d)
      val pr = pairs.select(col("a.event_type").as("event_type"),
          when(col("b.x") > col("a.x"), 1)
            .when(col("b.x") < col("a.x"), -1).otherwise(0).as("sg"))
      val sS = pr.groupBy(col("event_type")).agg(sum(col("sg")).cast("long").as("s_stat"))
      val nn = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ties = daily.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie18"))
      val v = nn.join(sS, Seq("event_type")).join(ties, Seq("event_type"))
        .withColumn("var18",
          col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie18"))
      val corr = col("s_stat") -
        when(col("s_stat") > 0, 1).when(col("s_stat") < 0, -1).otherwise(0)
      v.select(col("event_type"), col("n").as("n_days"), col("s_stat"),
          when(col("var18") <= 0, lit(null))
            .otherwise(floor(corr * lit(1000000.0)
              / sqrt(col("var18") * lit(1.0) / lit(18.0))).cast("long"))
            .as("z_q6"))
        .orderBy(col("event_type"))
    },


    // Additive seasonal decomposition of the daily event-count series:
    // trend = centered 7-day moving average (NULL at the edges where the
    // window is short), seasonal = per-ISO-weekday mean of the detrended
    // series, residual = detrended − seasonal. The only global window
    // runs over the BOUNDED daily grid (an Aggregate input — gated by
    // PlanAuditSpec); everything stays integer-exact in centi-units: the
    // MA is (Σ·100) div 7, the per-dow mean is one negative-safe FLOOR
    // of an exact-sum division, both identical across engines.
    QueryDef.sql(
      "q_seasonal_decompose",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ma AS (
        |  SELECT day, x,
        |    CAST(SUM(x) OVER w7 AS BIGINT) AS s7,
        |    CAST(COUNT(*) OVER w7 AS BIGINT) AS c7
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT day, x,
        |    CASE WHEN c7 = 7 THEN CAST((s7 * 100) // 7 AS BIGINT) END AS trend_c,
        |    CASE WHEN c7 = 7 THEN x * 100 - CAST((s7 * 100) // 7 AS BIGINT) END AS detr_c
        |  FROM ma),
        |seas AS (
        |  SELECT CAST(ISODOW(day) AS BIGINT) AS dow,
        |    CAST(FLOOR(SUM(detr_c) * CAST(1.0 AS DOUBLE) / COUNT(*)) AS BIGINT) AS seas_c
        |  FROM det WHERE detr_c IS NOT NULL GROUP BY 1)
        |SELECT d.day, d.x, d.trend_c, s.seas_c,
        |  d.detr_c - s.seas_c AS resid_c
        |FROM det d JOIN seas s ON s.dow = CAST(ISODOW(d.day) AS BIGINT)
        |ORDER BY d.day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val ma = daily.select(col("day"), col("x"),
        sum(col("x")).over(w7).as("s7"),
        count(lit(1)).over(w7).as("c7"))
      val det = ma.select(col("day"), col("x"),
        when(col("c7") === 7, expr("(s7 * 100) div 7")).as("trend_c"),
        when(col("c7") === 7, col("x") * 100 - expr("(s7 * 100) div 7")).as("detr_c"))
      val seas = det.filter(col("detr_c").isNotNull)
        .groupBy((weekday(col("day")) + 1).cast("long").as("dow"))
        .agg(floor(sum(col("detr_c")) * lit(1.0) / count(lit(1)))
          .cast("long").as("seas_c"))
      det
        .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
        .join(broadcast(seas), Seq("dow"))
        .select(col("day"), col("x"), col("trend_c"), col("seas_c"),
          (col("detr_c") - col("seas_c")).as("resid_c"))
        .orderBy(col("day"))
    },


    // Seasonal-naive forecast backtest: over each event type's last 14
    // days, score yesterday's count (naive-1) against the same-weekday
    // count (naive-7) as forecasts — the sanity baseline every real
    // forecasting pipeline reports before fitting anything. Missing grid
    // days forecast 0 via LEFT self-joins on the bounded daily rollup
    // (a lag window would silently skip gaps); MAE is an exact integer
    // permille-style division.
    QueryDef.sql(
      "q_snaive_mae",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(di) AS d0, MAX(di) AS d1
        |         FROM daily GROUP BY 1),
        |ev AS (
        |  SELECT d.event_type, d.di, d.x,
        |    COALESCE(l1.x, 0) AS f1, COALESCE(l7.x, 0) AS f7
        |  FROM daily d
        |  JOIN span s ON s.event_type = d.event_type
        |  LEFT JOIN daily l1 ON l1.event_type = d.event_type AND l1.di = d.di - 1
        |  LEFT JOIN daily l7 ON l7.event_type = d.event_type AND l7.di = d.di - 7
        |  WHERE d.di > s.d1 - 14 AND d.di - 7 >= s.d0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST((SUM(ABS(x - f1)) * 1000000) // COUNT(*) AS BIGINT) AS mae1_q6,
        |  CAST((SUM(ABS(x - f7)) * 1000000) // COUNT(*) AS BIGINT) AS mae7_q6
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val span = daily.groupBy(col("event_type"))
        .agg(min(col("di")).as("d0"), max(col("di")).as("d1"))
      val l1 = daily.select(col("event_type").as("et1"),
        col("di").as("di1"), col("x").as("x1"))
      val l7 = daily.select(col("event_type").as("et7"),
        col("di").as("di7"), col("x").as("x7"))
      daily
        .join(broadcast(span), Seq("event_type"))
        .join(l1, col("et1") === col("event_type")
          && col("di1") === col("di") - 1, "left")
        .join(l7, col("et7") === col("event_type")
          && col("di7") === col("di") - 7, "left")
        .filter(col("di") > col("d1") - 14 && col("di") - 7 >= col("d0"))
        .select(col("event_type"), col("x"),
          coalesce(col("x1"), lit(0L)).as("f1"),
          coalesce(col("x7"), lit(0L)).as("f7"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          expr("(sum(abs(x - f1)) * 1000000) div count(*)").as("mae1_q6"),
          expr("(sum(abs(x - f7)) * 1000000) div count(*)").as("mae7_q6"))
        .orderBy(col("event_type"))
    },


    // Rolling 14-day OLS slope of daily event volume — local trend
    // detection as a windowed twin of the global q_daily_corr_ols fit.
    // The five moments (n, Σd, Σx, Σdx, Σd²) accumulate exactly inside
    // one RANGE frame over the bounded daily grid (epoch-day indexes
    // keep every product well under 2⁶³ — n·Σdx tops out near 10¹³ even
    // at 1000× volume). One shared IEEE division at the end; single-day
    // windows (zero variance) emit NULL.
    QueryDef.sql(
      "q_rolling_slope",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, di, x,
        |    COUNT(*) OVER w AS n,
        |    SUM(di) OVER w AS sd, SUM(x) OVER w AS sx,
        |    SUM(di * x) OVER w AS sdx, SUM(di * di) OVER w AS sdd
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY di
        |    RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, di, x, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN n * sdd - sd * sd = 0 THEN NULL
        |    ELSE CAST(FLOOR((n * sdx - sd * sx) * CAST(1000000.0 AS DOUBLE)
        |      / (n * sdd - sd * sd)) AS BIGINT)
        |  END AS slope_q6
        |FROM m ORDER BY event_type, di""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("di"))
        .rangeBetween(-13, 0)
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sd", sum(col("di")).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sdx", sum(col("di") * col("x")).over(w))
        .withColumn("sdd", sum(col("di") * col("di")).over(w))
        .select(col("event_type"), col("di"), col("x"),
          col("n").cast("long").as("n_days"),
          when(col("n") * col("sdd") - col("sd") * col("sd") === 0, lit(null))
            .otherwise(floor((col("n") * col("sdx") - col("sd") * col("sx"))
              * lit(1000000.0)
              / (col("n") * col("sdd") - col("sd") * col("sd"))).cast("long"))
            .as("slope_q6"))
        .orderBy(col("event_type"), col("di"))
    },


    // Lead–lag cross-correlation between the view and purchase daily
    // series: Pearson r at every shift k ∈ [−7, 7] (does today's view
    // volume predict purchases k days later?). One lag-grid expansion
    // (15×) over the BOUNDED daily rollup, aligned by an equi-join on
    // the shifted day index; exact moments per lag, zero-variance →
    // NULL. The full lag profile is reported — argmax is the reader's
    // one-liner and would hide the shape.
    QueryDef.sql(
      "q_lag_xcorr",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT di, x FROM daily WHERE event_type = 'view'),
        |b AS (SELECT di, x FROM daily WHERE event_type = 'purchase'),
        |lags AS (SELECT UNNEST(RANGE(-7, 8)) AS k),
        |m AS (
        |  SELECT lags.k, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a.x) AS BIGINT) AS sa, CAST(SUM(b.x) AS BIGINT) AS sb,
        |    CAST(SUM(a.x * b.x) AS BIGINT) AS sab,
        |    CAST(SUM(a.x * a.x) AS BIGINT) AS saa,
        |    CAST(SUM(b.x * b.x) AS BIGINT) AS sbb
        |  FROM lags JOIN a ON TRUE JOIN b ON b.di = a.di + lags.k
        |  GROUP BY lags.k)
        |SELECT k AS lag_days, n AS n_days,
        |  CASE WHEN n*saa - sa*sa = 0 OR n*sbb - sb*sb = 0 THEN NULL
        |    ELSE CAST(FLOOR((n*sab - sa*sb) * CAST(1000000.0 AS DOUBLE)
        |      / SQRT(CAST(n*saa - sa*sa AS DOUBLE))
        |      / SQRT(CAST(n*sbb - sb*sb AS DOUBLE))) AS BIGINT)
        |  END AS r_q6
        |FROM m ORDER BY lag_days""".stripMargin) { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val a = daily.filter(col("event_type") === "view")
        .select(col("di").as("dia"), col("x").as("xa"))
      val b = daily.filter(col("event_type") === "purchase")
        .select(col("di").as("dib"), col("x").as("xb"))
      val lags = (-7 to 7).map(_.toLong).toDF("k")
      val m = broadcast(lags).crossJoin(a)
        .join(b, col("dib") === col("dia") + col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
          sum(col("xa") * col("xb")).as("sab"),
          sum(col("xa") * col("xa")).as("saa"),
          sum(col("xb") * col("xb")).as("sbb"))
      m.select(col("k").as("lag_days"), col("n").as("n_days"),
        when((col("n") * col("saa") - col("sa") * col("sa")) === 0
          || (col("n") * col("sbb") - col("sb") * col("sb")) === 0, lit(null))
          .otherwise(floor((col("n") * col("sab") - col("sa") * col("sb"))
            * lit(1000000.0)
            / sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
            / sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double")))
            .cast("long"))
          .as("r_q6"))
        .orderBy(col("lag_days"))
    },


    // Spike/peak detection on the daily volume series: a day is a peak
    // when it beats both neighbors (strictly the previous, at-least the
    // next — deterministic plateau handling) AND clears 120% of the
    // trailing-7-day mean, phrased as the cross-multiplied integer
    // comparison 10·7·x ≥ 12·Σ₇ so no division ever happens. Pure
    // lag/lead windows over the bounded daily grid.
    QueryDef.sql(
      "q_peak_detection",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, di, x,
        |    LAG(x) OVER win AS prev, LEAD(x) OVER win AS nxt,
        |    SUM(x) OVER (PARTITION BY event_type ORDER BY di
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY di
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY di))
        |SELECT event_type, di, x, CAST(s7 AS BIGINT) AS sum7_prev,
        |  CAST(n7 AS BIGINT) AS n7
        |FROM w
        |WHERE prev IS NOT NULL AND nxt IS NOT NULL AND n7 >= 3
        |  AND x > prev AND x >= nxt AND 10 * n7 * x >= 12 * s7
        |ORDER BY event_type, di""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("di"))
      val trail = win.rowsBetween(-7, -1)
      daily
        .withColumn("prev", lag(col("x"), 1).over(win))
        .withColumn("nxt", lead(col("x"), 1).over(win))
        .withColumn("s7", sum(col("x")).over(trail))
        .withColumn("n7", count(lit(1)).over(trail))
        .filter(col("prev").isNotNull && col("nxt").isNotNull && col("n7") >= 3
          && col("x") > col("prev") && col("x") >= col("nxt")
          && lit(10) * col("n7") * col("x") >= lit(12) * col("s7"))
        .select(col("event_type"), col("di"), col("x"),
          col("s7").as("sum7_prev"), col("n7"))
        .orderBy(col("event_type"), col("di"))
    },


    // SAX symbolization: each event type's daily series compressed to a
    // symbol string — 3-day piecewise-aggregate segments, each mapped to
    // a/b/c/d by its ratio to the series mean (cross-multiplied integer
    // breakpoints at 75%/100%/125%, no division): the classic
    // time-series index for motif/novelty search. Segment order is
    // pinned by an explicit sort inside the aggregation, so the string
    // is deterministic in both engines.
    QueryDef.sql(
      "q_sax_symbols",
      """WITH daily AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT event_type, MIN(di) AS d0 FROM daily GROUP BY 1),
        |seg AS (
        |  SELECT daily.event_type, (daily.di - d0.d0) // 3 AS sg,
        |    CAST(SUM(daily.x) AS BIGINT) AS sx, CAST(COUNT(*) AS BIGINT) AS sn
        |  FROM daily JOIN d0 ON d0.event_type = daily.event_type
        |  GROUP BY daily.event_type, (daily.di - d0.d0) // 3),
        |m AS (SELECT event_type, CAST(SUM(sx) AS BIGINT) AS tx,
        |        CAST(SUM(sn) AS BIGINT) AS tn FROM seg GROUP BY 1),
        |sym AS (
        |  SELECT seg.event_type, seg.sg,
        |    CASE
        |      WHEN seg.sx * m.tn * 4 < m.tx * seg.sn * 3 THEN 'a'
        |      WHEN seg.sx * m.tn * 4 < m.tx * seg.sn * 4 THEN 'b'
        |      WHEN seg.sx * m.tn * 4 < m.tx * seg.sn * 5 THEN 'c'
        |      ELSE 'd' END AS s
        |  FROM seg JOIN m ON m.event_type = seg.event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  STRING_AGG(s, '' ORDER BY sg) AS sax
        |FROM sym GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(count(lit(1)).as("x"))
      val d0 = daily.groupBy(col("event_type")).agg(min(col("di")).as("d0"))
      val seg = daily.join(broadcast(d0), Seq("event_type"))
        .groupBy(col("event_type"), expr("(di - d0) div 3").as("sg"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("sn"))
      val m = seg.groupBy(col("event_type"))
        .agg(sum(col("sx")).as("tx"), sum(col("sn")).as("tn"))
      val sym = seg.join(broadcast(m), Seq("event_type"))
        .select(col("event_type"), col("sg"),
          when(col("sx") * col("tn") * 4 < col("tx") * col("sn") * 3, "a")
            .when(col("sx") * col("tn") * 4 < col("tx") * col("sn") * 4, "b")
            .when(col("sx") * col("tn") * 4 < col("tx") * col("sn") * 5, "c")
            .otherwise("d").as("s"))
      sym.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_segments"),
          array_join(transform(array_sort(collect_list(struct(col("sg"), col("s")))),
            x => x.getField("s")), "").as("sax"))
        .orderBy(col("event_type"))
    },

    // Additive Holt-Winters (triple exponential, index-based period 7)
    // over the per-type daily count series — the seasonal completion of
    // q_holt_linear. α = β = γ = 1/2 as exact binary halving (the
    // holtStep discipline: halving a < 2⁵³ integer in a double is exact
    // and FLOOR is negative-safe, so both engines replay the fold
    // bit-for-bit): l' = ⌊(x − s_slot + l + b)/2⌋, b' = ⌊(l' − l + b)/2⌋,
    // s_slot' = ⌊(x − l' + s_slot)/2⌋, slot = (rn−1) mod 7. Level seeds
    // at ⌊Σ(first 7)/7⌋ with the first week's deviations as the seasonal
    // vector; seasonality is INDEX-based (grid gaps compress), which is
    // what makes the recursion engine-portable. Sequential per-series
    // state (9 longs) runs in-partition over the BOUNDED daily grid
    // exactly like q_holt_linear; the oracle carries the seven seasonal
    // slots as recursive-CTE columns.
    QueryDef.sql(
      "q_holt_winters",
      {
        def sOld(p: String, rn: String) =
          s"CASE ($rn - 1) % 7" +
            (0 to 6).map(i => s" WHEN $i THEN $p.s$i").mkString + " END"
        val l2 = s"CAST(FLOOR((s.xc - ${sOld("w", "s.rn")} + w.l + w.b) / 2.0) AS BIGINT)"
        val b2 = s"CAST(FLOOR(($l2 - w.l + w.b) / 2.0) AS BIGINT)"
        val sNew = s"CAST(FLOOR((s.xc - $l2 + ${sOld("w", "s.rn")}) / 2.0) AS BIGINT)"
        val slotCols = (0 to 6).map(i =>
          s"CASE WHEN (s.rn - 1) % 7 = $i THEN $sNew ELSE w.s$i END").mkString(",\n    ")
        val initS = (1 to 7).map(i => s"x$i - l0").mkString(", ")
        val xPivot = (1 to 7).map(i =>
          s"MAX(CASE WHEN rn = $i THEN xc END) AS x$i").mkString(",\n    ")
        s"""$dailySeriesSql,
           |init AS (
           |  SELECT event_type, SUM(CASE WHEN rn <= 7 THEN xc ELSE 0 END) // 7 AS l0,
           |    $xPivot
           |  FROM seq GROUP BY event_type HAVING MAX(rn) >= 8),
           |walk(event_type, rn, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
           |  SELECT event_type, CAST(7 AS BIGINT), l0, CAST(0 AS BIGINT), $initS
           |  FROM init
           |  UNION ALL
           |  SELECT s.event_type, s.rn, $l2, $b2,
           |    $slotCols
           |  FROM walk w JOIN seq s ON s.event_type = w.event_type AND s.rn = w.rn + 1),
           |last AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rr
           |  FROM walk)
           |SELECT event_type, CAST(rn AS BIGINT) AS n_days,
           |  CAST(l AS BIGINT) AS level_c, CAST(b AS BIGINT) AS trend_c,
           |  CAST(s0 AS BIGINT) AS s0_c, CAST(s1 AS BIGINT) AS s1_c,
           |  CAST(s2 AS BIGINT) AS s2_c, CAST(s3 AS BIGINT) AS s3_c,
           |  CAST(s4 AS BIGINT) AS s4_c, CAST(s5 AS BIGINT) AS s5_c,
           |  CAST(s6 AS BIGINT) AS s6_c,
           |  CAST(l + b + ${sOld("last", "rn + 1")} AS BIGINT) AS fc1_c
           |FROM last WHERE rr = 1 ORDER BY event_type""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      dailySeries(s, d)
        .mapPartitions { it =>
          val out = scala.collection.mutable.ListBuffer
            .empty[(String, Long, Long, Long, Array[Long], Long)]
          var cur: String = null
          var n = 0L; var l = 0L; var b = 0L
          var sv = new Array[Long](7)
          val firstWeek = new Array[Long](7)
          def flush(): Unit = if (n > 7) {
            val fc1 = l + b + sv(((n + 1 - 1) % 7).toInt)
            out += ((cur, n, l, b, sv.clone(), fc1))
          }
          it.foreach { case (t, _, xc) =>
            if (t != cur) {
              flush(); cur = t; n = 0L; l = 0L; b = 0L; sv = new Array[Long](7)
            }
            n += 1
            if (n <= 7) {
              firstWeek((n - 1).toInt) = xc
              if (n == 7) {
                l = firstWeek.sum / 7
                b = 0L
                for (i <- 0 until 7) sv(i) = firstWeek(i) - l
              }
            } else {
              val slot = ((n - 1) % 7).toInt
              val (l2, b2, s2) = hwStep(l, b, sv(slot), xc)
              l = l2; b = b2; sv(slot) = s2
            }
          }
          flush()
          out.iterator
        }
        .map { case (t, n, l, b, sv, fc1) =>
          (t, n, l, b, sv(0), sv(1), sv(2), sv(3), sv(4), sv(5), sv(6), fc1)
        }
        .toDF("event_type", "n_days", "level_c", "trend_c",
          "s0_c", "s1_c", "s2_c", "s3_c", "s4_c", "s5_c", "s6_c", "fc1_c")
        .orderBy(col("event_type"))
    }
  )
}
