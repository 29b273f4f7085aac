package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-and-journey analytics over the `events` table — the second
  * half of the event-analytics family, split from EventAnalytics.scala
  * along its comment-group seam (byte-identical query moves): process
  * mining (eventually-follows, top paths, sequence patterns), journey
  * attribution (Markov removal effects, conversion chains), lifecycle
  * metrics (stickiness, churn flow, cohort LTV, survival), audience
  * overlap bitmasks, and windowed funnels. Same scale posture: windows
  * partition by user, aggregates are combiner-backed, values quantized.
  */
object EventJourneys {

  /** The next-event transition matrix (a, b, p = q6 probability) of the
    * Markov queries, purchase made absorbing; checkpointed, since every
    * squaring reads it twice. */
  private def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val seq = Tables.events(s, d).select(col("user_id"), col("event_type").as("a"),
      lead(col("event_type"), 1).over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))).as("b"))
    val tc = seq.filter(col("b").isNotNull && col("a") =!= "purchase")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    tc.withColumn("p", expr("(c * 1000000) div sum(c) over (partition by a)"))
      .select(col("a"), col("b"), col("p"))
      .unionByName(s.range(1)
        .select(lit("purchase").as("a"), lit("purchase").as("b"), lit(1000000L).as("p")))
      .localCheckpoint(true)
  }

  /** `m`⁸ by three squarings, each exact Σ(p·p) div 10⁶ and checkpointed. */
  private def pow8(m: DataFrame): DataFrame =
    (1 to 3).foldLeft(m) { (t, _) =>
      t.as("x").join(t.as("y"), col("y.a") === col("x.b"))
        .groupBy(col("x.a").as("a"), col("y.b").as("b"))
        .agg(expr("sum(x.p * y.p) div 1000000").as("p"))
        .localCheckpoint(true)
    }

  /** Oracle twin of [[transitionMatrix]]: CTEs seq, tc and t1. */
  private val transitionMatrixSql =
    """WITH seq AS (
      |  SELECT user_id, event_type AS a,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS b
      |  FROM events),
      |tc AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM seq
      |  WHERE b IS NOT NULL AND a <> 'purchase' GROUP BY a, b),
      |t1 AS MATERIALIZED (
      |  SELECT a, b, (c * 1000000) // SUM(c) OVER (PARTITION BY a) AS p
      |  FROM tc
      |  UNION ALL
      |  SELECT 'purchase' AS a, 'purchase' AS b, 1000000 AS p)""".stripMargin

  /** One squaring of relation `prev` into CTE `next`. */
  private def squareSql(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (
       |  SELECT x.a, y.b, CAST(SUM(x.p * y.p) // 1000000 AS BIGINT) AS p
       |  FROM $prev x JOIN $prev y ON y.a = x.b GROUP BY x.a, y.b)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Eventually-follows graph (process mining): a ⤳ b counts the users
    // with SOME occurrence of a strictly before SOME occurrence of b,
    // which reduces to first(a) < last(b) — so the raw stream collapses
    // to one (user, type) span table first (combiner-backed min/max) and
    // the pair join fans out by each user's DISTINCT type degree
    // (vocabulary-bounded), never by raw event count. The companion to
    // q_event_transitions' directly-follows matrix.
    QueryDef.sql(
      "q_eventually_follows",
      """WITH span AS (
        |  SELECT user_id, event_type,
        |    MIN(EPOCH_US(ts)) AS first_us, MAX(EPOCH_US(ts)) AS last_us
        |  FROM events GROUP BY user_id, event_type)
        |SELECT a.event_type AS from_type, b.event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM span a JOIN span b
        |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
        | AND a.first_us < b.last_us
        |GROUP BY a.event_type, b.event_type
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val span = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
      span.as("a")
        .join(span.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") =!= col("b.event_type") &&
            col("a.first_us") < col("b.last_us"))
        .groupBy(col("a.event_type").as("from_type"),
          col("b.event_type").as("to_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Peak interval concurrency per user (max simultaneously-open
    // sessions — the companion to q_interval_union's covered-time): each
    // event opens a 5-minute interval; the classic sweep line turns every
    // interval into a +1/-1 endpoint pair, a per-user running sum gives
    // the open-interval depth, and the peak is the max depth. Ends sort
    // before starts at the same instant (delta -1 < +1), so touching
    // intervals do not double-count — half-open [s, e) semantics. All
    // windows are per-user partitions over 2× the user's own events;
    // first_peak_us is the earliest sweep position reaching the peak,
    // which is deterministic because depth at a position does not depend
    // on the order of equal-delta ties.
    QueryDef.sql(
      "q_interval_concurrency",
      """WITH pts AS (
        |  SELECT user_id, EPOCH_US(ts) AS t, 1 AS delta, event_id FROM events
        |  UNION ALL
        |  SELECT user_id, EPOCH_US(ts) + 300000000, -1, event_id FROM events),
        |run AS (
        |  SELECT user_id, t, delta,
        |    SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS depth
        |  FROM pts),
        |pk AS (SELECT user_id, CAST(MAX(depth) AS BIGINT) AS peak FROM run GROUP BY user_id)
        |SELECT r.user_id, p.peak, CAST(MIN(r.t) AS BIGINT) AS first_peak_us
        |FROM run r JOIN pk p ON r.user_id = p.user_id AND r.depth = p.peak
        |GROUP BY r.user_id, p.peak ORDER BY r.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val starts = ev.select(col("user_id"), unix_micros(col("ts")).as("t"),
        lit(1).as("delta"), col("event_id"))
      val ends = ev.select(col("user_id"),
        (unix_micros(col("ts")) + 300000000L).as("t"),
        lit(-1).as("delta"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("delta"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val run = starts.unionAll(ends)
        .withColumn("depth", sum(col("delta")).over(w))
      val pk = run.groupBy(col("user_id"))
        .agg(max(col("depth")).cast("long").as("peak"))
      run.join(pk.withColumnRenamed("user_id", "pu"),
          col("user_id") === col("pu") && col("depth") === col("peak"))
        .groupBy(col("user_id"), col("peak"))
        .agg(min(col("t")).as("first_peak_us"))
        .orderBy(col("user_id"))
    },

    // DAU/MAU stickiness (the engagement ratio product teams track): per
    // day, distinct actives that day over distinct actives in the
    // trailing 30 days, as integer q6. Both counts come off the
    // PRE-REDUCED distinct (day, user) grid — DAU directly, MAU by
    // exploding each grid row into the 30 forward days it contributes to
    // (bounded 30× blow-up of an already user×day-bounded table, the
    // same contribution trick as q_rolling_dau — never a window over raw
    // events).
    QueryDef.sql(
      "q_stickiness",
      """WITH du AS (
        |  SELECT DISTINCT EPOCH_US(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du),
        |dau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day),
        |contrib AS (
        |  SELECT du.day + o AS tday, du.user_id
        |  FROM du CROSS JOIN UNNEST(RANGE(0, 30)) AS u(o)),
        |mau AS (
        |  SELECT c.tday AS day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS mau
        |  FROM contrib c CROSS JOIN span
        |  WHERE c.tday BETWEEN span.d0 AND span.d1
        |  GROUP BY c.tday)
        |SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, mau.mau,
        |  CAST((dau.dau * 1000000) // mau.mau AS BIGINT) AS stick_q6
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val du = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div $dayUs").as("day"), col("user_id"))
        .distinct()
      val span = du.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = du
        .select(explode(sequence(col("day"), col("day") + 29)).as("tday"),
          col("user_id"))
        .crossJoin(broadcast(span))
        .filter(col("tday").between(col("d0"), col("d1")))
        .groupBy(col("tday").as("day"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau"),
          expr("(dau * 1000000) div mau").as("stick_q6"))
        .orderBy(col("day"))
    },

    // Week-over-week churn flow (the growth-accounting waterfall): each
    // active (user, week) is classified new / retained / resurrected by
    // the user's previous active week, and counted as churning OUT of a
    // week when the next active week is not the immediately following
    // one. Weeks are exact integer indices (epoch-day // 7), the per-user
    // LAG/LEAD windows run over the DISTINCT (user, week) grid — bounded
    // by users × weeks, never raw events — and the final rollup is one
    // combiner-backed groupBy per week.
    QueryDef.sql(
      "q_churn_flow",
      """WITH um AS (
        |  SELECT DISTINCT user_id,
        |    CAST((EPOCH_US(ts) // 86400000000) // 7 AS BIGINT) AS mi
        |  FROM events),
        |mx AS (SELECT CAST(MAX(mi) AS BIGINT) AS max_mi FROM um),
        |seq AS (
        |  SELECT user_id, mi,
        |    LAG(mi) OVER (PARTITION BY user_id ORDER BY mi) AS prev_mi,
        |    LEAD(mi) OVER (PARTITION BY user_id ORDER BY mi) AS next_mi
        |  FROM um),
        |st AS (
        |  SELECT s.mi,
        |    CASE WHEN prev_mi IS NULL THEN 'new'
        |         WHEN prev_mi = s.mi - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS status,
        |    CASE WHEN s.mi < mx.max_mi
        |              AND (next_mi IS NULL OR next_mi > s.mi + 1)
        |         THEN 1 ELSE 0 END AS churn_out
        |  FROM seq s CROSS JOIN mx)
        |SELECT mi AS week,
        |  CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |  CAST(SUM(churn_out) AS BIGINT) AS n_churn_out
        |FROM st GROUP BY mi ORDER BY week""".stripMargin) { (s, d) =>
      val um = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000 div 7").as("mi"))
        .distinct()
      val mx = um.agg(max(col("mi")).as("max_mi"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("mi"))
      val seq0 = um.select(col("user_id"), col("mi"),
        lag(col("mi"), 1).over(w).as("prev_mi"),
        lead(col("mi"), 1).over(w).as("next_mi"))
      val st = seq0.crossJoin(broadcast(mx))
        .select(col("mi"),
          when(col("prev_mi").isNull, "new")
            .when(col("prev_mi") === col("mi") - 1, "retained")
            .otherwise("resurrected").as("status"),
          when(col("mi") < col("max_mi") &&
            (col("next_mi").isNull || col("next_mi") > col("mi") + 1), 1)
            .otherwise(0).as("churn_out"))
      st.groupBy(col("mi").as("week"))
        .agg(sum(when(col("status") === "new", 1).otherwise(0)).cast("long").as("n_new"),
          sum(when(col("status") === "retained", 1).otherwise(0)).cast("long").as("n_retained"),
          sum(when(col("status") === "resurrected", 1).otherwise(0)).cast("long").as("n_resurrected"),
          sum(col("churn_out")).cast("long").as("n_churn_out"))
        .orderBy(col("week"))
    },

    // Cohort LTV curves: users grouped by first-activity week, purchase
    // revenue (exact cents) accumulated by week-age with a per-cohort
    // running total and per-user LTV (integer division by the cohort's
    // size). The per-user week rollup bounds everything downstream by
    // users × weeks; the cumulative window partitions by cohort over the
    // (cohort × age) AGGREGATE; cohort sizes broadcast back.
    QueryDef.sql(
      "q_cohort_ltv",
      """WITH um AS (
        |  SELECT user_id,
        |    CAST((EPOCH_US(ts) // 86400000000) // 7 AS BIGINT) AS mi,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_c
        |  FROM events GROUP BY user_id, (EPOCH_US(ts) // 86400000000) // 7),
        |co AS (SELECT user_id, CAST(MIN(mi) AS BIGINT) AS cohort_mi
        |       FROM um GROUP BY user_id),
        |cs AS (SELECT cohort_mi, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |       FROM co GROUP BY cohort_mi),
        |age AS (
        |  SELECT co.cohort_mi, um.mi - co.cohort_mi AS age,
        |    CAST(SUM(um.rev_c) AS BIGINT) AS rev_c,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM um JOIN co USING (user_id)
        |  GROUP BY co.cohort_mi, um.mi - co.cohort_mi),
        |cum AS (
        |  SELECT cohort_mi, age, rev_c, n_active,
        |    CAST(SUM(rev_c) OVER (PARTITION BY cohort_mi ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c
        |  FROM age)
        |SELECT c.cohort_mi AS cohort_week, c.age, c.rev_c, c.n_active,
        |  s.cohort_size, c.cum_rev_c,
        |  CAST(c.cum_rev_c // s.cohort_size AS BIGINT) AS ltv_pu_c
        |FROM cum c JOIN cs s USING (cohort_mi)
        |ORDER BY cohort_week, age""".stripMargin) { (s, d) =>
      val um = Tables.events(s, d)
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 86400000000 div 7").as("mi"))
        .agg(sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("rev_c"))
      val co = um.groupBy(col("user_id")).agg(min(col("mi")).as("cohort_mi"))
      val cs = co.groupBy(col("cohort_mi")).agg(count(lit(1)).as("cohort_size"))
      val age = um.join(co, Seq("user_id"))
        .groupBy(col("cohort_mi"), (col("mi") - col("cohort_mi")).as("age"))
        .agg(sum(col("rev_c")).as("rev_c"), count(lit(1)).as("n_active"))
      val wc = Window.partitionBy(col("cohort_mi")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, 0)
      age
        .withColumn("cum_rev_c", sum(col("rev_c")).over(wc).cast("long"))
        .join(broadcast(cs), Seq("cohort_mi"))
        .select(col("cohort_mi").as("cohort_week"), col("age"), col("rev_c"),
          col("n_active"), col("cohort_size"), col("cum_rev_c"),
          expr("cum_rev_c div cohort_size").as("ltv_pu_c"))
        .orderBy(col("cohort_week"), col("age"))
    },

    // Sequence-pattern detection (the behavioral-regex screen): each
    // user's event history collapses to an initial-letter string in
    // exact (ts, event_id) order, then counted against ordered-funnel /
    // exclusion / repeat patterns. The per-user string is key-local
    // (one collect per user, bounded by per-user activity); the pattern
    // sweep is 3 one-row aggregates unioned. Event initials are unique
    // in this schema (c/e/p/s/v), and the regexes stick to portable
    // syntax (classes + star) so Java and RE2 agree.
    QueryDef.sql(
      "q_seq_pattern",
      """WITH seq AS (
        |  SELECT user_id,
        |    STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
        |  FROM events GROUP BY user_id),
        |pats AS (
        |  SELECT 'funnel_vcp' AS pattern, 'v.*c.*p' AS re
        |  UNION ALL SELECT 'repeat_purchase', 'p.*p'
        |  UNION ALL SELECT 'vcp_no_error', 'v[^e]*c[^e]*p')
        |SELECT p.pattern,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(s.s, p.re) THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM pats p CROSS JOIN seq s
        |GROUP BY p.pattern ORDER BY p.pattern""".stripMargin) { (s, d) =>
      val seqDf = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(array_join(transform(array_sort(collect_list(struct(
            unix_micros(col("ts")).as("t"), col("event_id").as("e"),
            substring(col("event_type"), 1, 1).as("i")))),
          x => x.getField("i")), "").as("s"))
      Seq(("funnel_vcp", "v.*c.*p"),
          ("repeat_purchase", "p.*p"),
          ("vcp_no_error", "v[^e]*c[^e]*p"))
        .map { case (nm, re) =>
          seqDf.agg(
              sum(when(col("s").rlike(re), 1L).otherwise(0L)).as("n_matched"),
              count(lit(1)).as("n_users"))
            .select(lit(nm).as("pattern"), col("n_matched"), col("n_users"))
        }
        .reduce(_ unionByName _)
        .orderBy(col("pattern"))
    },

    // Weekly top movers (the leaderboard-delta readout): items ranked by
    // weekly interaction count (dense ties broken by item id via
    // row_number), each week's top 5 reported with the rank change from
    // the previous week (NULL on debut). Rank windows partition by week
    // over the (week × item) AGGREGATE — bounded by the item vocabulary
    // per week; the week-over-week join keys on (item, week−1).
    QueryDef.sql(
      "q_weekly_top_movers",
      """WITH wi AS (
        |  SELECT (EPOCH_US(ts) // 86400000000) // 7 AS wk,
        |    CAST(props->>'k' AS BIGINT) AS item,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT wk, item, n,
        |    ROW_NUMBER() OVER (PARTITION BY wk ORDER BY n DESC, item) AS rank
        |  FROM wi)
        |SELECT CAST(a.wk AS BIGINT) AS week, a.item, a.n,
        |  CAST(a.rank AS BIGINT) AS rank,
        |  CAST(b.rank AS BIGINT) AS prev_rank,
        |  CAST(b.rank - a.rank AS BIGINT) AS rank_delta
        |FROM rk a LEFT JOIN rk b ON b.item = a.item AND b.wk = a.wk - 1
        |WHERE a.rank <= 5
        |ORDER BY week, rank""".stripMargin) { (s, d) =>
      val wi = Tables.events(s, d)
        .groupBy(expr("unix_micros(ts) div 86400000000 div 7").as("wk"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("item"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("wk")).orderBy(col("n").desc, col("item"))
      val rk = wi.withColumn("rank", row_number().over(w).cast("long"))
      rk.as("a")
        .join(rk.as("b"),
          col("b.item") === col("a.item") && col("b.wk") === col("a.wk") - 1,
          "left")
        .filter(col("a.rank") <= 5)
        .select(col("a.wk").as("week"), col("a.item").as("item"),
          col("a.n").as("n"), col("a.rank").as("rank"),
          col("b.rank").as("prev_rank"),
          (col("b.rank") - col("a.rank")).cast("long").as("rank_delta"))
        .orderBy(col("week"), col("rank"))
    },

    // Kaplan–Meier survival of time-to-first-error per user (duration =
    // first error day − first activity day; users with no error are
    // right-censored at the corpus horizon): the estimator's running
    // product stays a pure-integer q6 recursion
    // S_t = ⌊S_{t−1}·(n_t − d_t)/n_t⌋ over the TIME-bounded duration
    // timeline, so the DuckDB recursive CTE replays it exactly. Risk
    // sets come from one descending cumulative window over the per-
    // duration aggregate (gated as bounded input); the fold itself runs
    // over ≤ |durations| rows.
    QueryDef.sql(
      "q_kaplan_meier",
      """WITH RECURSIVE f AS (
        |  SELECT user_id,
        |    CAST(MIN(EPOCH_US(ts) // 86400000000) AS BIGINT) AS d0,
        |    CAST(MIN(CASE WHEN event_type = 'error'
        |      THEN EPOCH_US(ts) // 86400000000 END) AS BIGINT) AS de
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT CAST(MAX(EPOCH_US(ts) // 86400000000) AS BIGINT) AS maxd
        |       FROM events),
        |obs AS (
        |  SELECT CASE WHEN f.de IS NOT NULL THEN f.de - f.d0
        |              ELSE mx.maxd - f.d0 END AS t,
        |    CASE WHEN f.de IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM f CROSS JOIN mx),
        |byt AS (
        |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d_ev,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM obs GROUP BY t),
        |tl AS (
        |  SELECT t, d_ev,
        |    CAST(SUM(cnt) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM byt),
        |km(rn, s) AS (
        |  SELECT rn, CAST((1000000 * (n_risk - d_ev)) // n_risk AS BIGINT)
        |  FROM tl WHERE rn = 1
        |  UNION ALL
        |  SELECT e.rn, CAST((k.s * (e.n_risk - e.d_ev)) // e.n_risk AS BIGINT)
        |  FROM km k JOIN tl e ON e.rn = k.rn + 1)
        |SELECT e.t AS duration_days, e.n_risk, e.d_ev AS n_events, k.s AS surv_q6
        |FROM tl e JOIN km k ON k.rn = e.rn
        |ORDER BY duration_days""".stripMargin) { (s, d) =>
      import s.implicits._
      val day = expr("unix_micros(ts) div 86400000000")
      val f = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(day).as("d0"),
          min(when(col("event_type") === "error", day)).as("de"))
      val mx = Tables.events(s, d).agg(max(day).as("maxd"))
      val obs = f.crossJoin(broadcast(mx))
        .select(
          when(col("de").isNotNull, col("de") - col("d0"))
            .otherwise(col("maxd") - col("d0")).as("t"),
          when(col("de").isNotNull, 1L).otherwise(0L).as("ev"))
      val byt = obs.groupBy(col("t"))
        .agg(sum(col("ev")).as("d_ev"), count(lit(1)).as("cnt"))
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAsc = Window.orderBy(col("t"))
      val tl = byt
        .select(col("t"), col("d_ev"),
          sum(col("cnt")).over(wDesc).cast("long").as("n_risk"),
          row_number().over(wAsc).cast("long").as("rn"))
      tl.select(col("t"), col("rn"), col("n_risk"), col("d_ev"))
        .as[(Long, Long, Long, Long)]
        .coalesce(1)
        .sortWithinPartitions(col("rn"))
        .mapPartitions { it =>
          var sQ = 1000000L
          it.map { case (t, _, nRisk, dEv) =>
            sQ = sQ * (nRisk - dEv) / nRisk
            (t, nRisk, dEv, sQ)
          }
        }
        .toDF("duration_days", "n_risk", "n_events", "surv_q6")
        .orderBy(col("duration_days"))
    },

    // Pairwise audience overlap (exact Jaccard between every pair of
    // event-type audiences) WITHOUT a per-pair self-join of the user
    // table: one pass folds each user into a type-set BITMASK, the mask
    // histogram is at most 2^K rows (K = event-type vocabulary, bounded),
    // and every pair's |A|, |B|, |A∩B| read off the broadcast histogram
    // — the 25-pair matrix costs one groupBy over users at any scale.
    QueryDef.sql(
      "q_audience_overlap",
      """WITH idx AS (
        |  SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS i
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |ui AS (
        |  SELECT DISTINCT user_id, i FROM events JOIN idx USING (event_type)),
        |um AS (SELECT user_id, CAST(SUM(1 << i) AS BIGINT) AS mask
        |       FROM ui GROUP BY user_id),
        |mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM um GROUP BY mask),
        |p AS (
        |  SELECT a.event_type AS type_a, a.i AS ia, b.event_type AS type_b, b.i AS ib
        |  FROM idx a JOIN idx b ON a.i < b.i),
        |o AS (
        |  SELECT type_a, type_b,
        |    CAST(SUM(CASE WHEN (mask >> ia) % 2 = 1 THEN cnt ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN (mask >> ib) % 2 = 1 THEN cnt ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN (mask >> ia) % 2 = 1 AND (mask >> ib) % 2 = 1
        |             THEN cnt ELSE 0 END) AS BIGINT) AS n_inter
        |  FROM p CROSS JOIN mc GROUP BY type_a, type_b)
        |SELECT type_a, type_b, na, nb, n_inter,
        |  CAST((n_inter * 1000000) // (na + nb - n_inter) AS BIGINT) AS jaccard_q6
        |FROM o ORDER BY type_a, type_b""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val idx = ev.select(col("event_type")).distinct()
        .withColumn("i",
          row_number().over(Window.orderBy(col("event_type"))) - 1)
      val ui = ev.join(broadcast(idx), Seq("event_type"))
        .select(col("user_id"), col("i")).distinct()
      val mc = ui.groupBy(col("user_id"))
        .agg(sum(expr("shiftleft(1, cast(i as int))")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      val p = idx.as("a").join(idx.as("b"), col("a.i") < col("b.i"))
        .select(col("a.event_type").as("type_a"), col("a.i").as("ia"),
          col("b.event_type").as("type_b"), col("b.i").as("ib"))
      // functions.shiftright only takes a literal shift — the SQL form
      // accepts a column, and stays inside codegen
      def hasBit(bit: String) =
        expr(s"shiftright(mask, cast($bit as int)) % 2 = 1")
      broadcast(p).crossJoin(mc)
        .groupBy(col("type_a"), col("type_b"))
        .agg(sum(when(hasBit("ia"), col("cnt")).otherwise(0L)).as("na"),
          sum(when(hasBit("ib"), col("cnt")).otherwise(0L)).as("nb"),
          sum(when(hasBit("ia") && hasBit("ib"), col("cnt"))
            .otherwise(0L)).as("n_inter"))
        .select(col("type_a"), col("type_b"), col("na"), col("nb"), col("n_inter"),
          expr("(n_inter * 1000000) div (na + nb - n_inter)").as("jaccard_q6"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Conversion-window funnel: view → click → purchase where each step
    // must land within 24 h of the previous one — the time-bounded
    // variant of q_funnel (unbounded steps overstate conversion badly;
    // every product funnel uses a window). Same de-correlated shape:
    // per-step keyed joins + MIN aggregates, never a per-user event
    // scan; conversion reported as exact permille of the entry stage.
    QueryDef.sql(
      "q_funnel_windowed",
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |    AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |    AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |k AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_24h,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_24h)
        |SELECT n_viewed, n_clicked_24h, n_purchased_24h,
        |  CAST((n_clicked_24h * 1000) // n_viewed AS BIGINT) AS click_permille,
        |  CAST((n_purchased_24h * 1000) // n_viewed AS BIGINT) AS purchase_permille
        |FROM k""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val day = expr("INTERVAL 24 HOURS")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v.as("v"), col("e.user_id") === col("v.user_id")
          && col("e.ts") > col("v.t0") && col("e.ts") <= col("v.t0") + day)
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(c.as("c"), col("e.user_id") === col("c.user_id")
          && col("e.ts") > col("c.t1") && col("e.ts") <= col("c.t1") + day)
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t2"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked_24h")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased_24h")))
        .select(col("n_viewed"), col("n_clicked_24h"), col("n_purchased_24h"),
          expr("(n_clicked_24h * 1000) div n_viewed").as("click_permille"),
          expr("(n_purchased_24h * 1000) div n_viewed").as("purchase_permille"))
    },

    // Absorbing-Markov conversion probability: estimate the per-user
    // next-event transition matrix (purchase made absorbing), square it
    // three times — T⁸ in 3 rounds instead of 8 — and read off
    // P(reach purchase within 8 steps | start state). The matrix is
    // event-type × event-type (bounded vocabulary), so every squaring is
    // a tiny keyed join; the fact-scale work is ONE lag window for the
    // transition counts. Each squared entry is an exact integer
    // Σ(p·p) // 10⁶ (sum of ≤|S| q6×q6 products is exact, one floored
    // division) — no accumulation-order hazard. Oracle: 3 unrolled
    // squaring CTEs, AS MATERIALIZED (each references the previous round
    // TWICE — the exponential re-inlining lesson).
    QueryDef.sql(
      "q_markov_conversion",
      s"""$transitionMatrixSql,
        |${squareSql("t1", "t2")},
        |${squareSql("t2", "t4")},
        |${squareSql("t4", "t8")}
        |SELECT a AS start_state, CAST(p AS BIGINT) AS p_convert8_q6
        |FROM t8 WHERE b = 'purchase' AND a <> 'purchase'
        |ORDER BY start_state""".stripMargin) { (s, d) =>
      pow8(transitionMatrix(s, d)).filter(col("b") === "purchase" && col("a") =!= "purchase")
        .select(col("a").as("start_state"), col("p").as("p_convert8_q6"))
        .orderBy(col("start_state"))
    },

    // Top 3-step behavior paths: the most frequent consecutive
    // event-type trigrams across user journeys (the "path analysis"
    // panel). One double-lead window per user, then a combiner-backed
    // trigram count — the path vocabulary is bounded (|types|³), so the
    // top-k never ranks raw rows.
    QueryDef.sql(
      "q_top_paths",
      """WITH seq AS (
        |  SELECT user_id, event_type AS a,
        |    LEAD(event_type, 1) OVER w AS b,
        |    LEAD(event_type, 2) OVER w AS c
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_paths
        |FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY a, b, c
        |ORDER BY n_paths DESC, a, b, c LIMIT 20""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("a"),
          lead(col("event_type"), 1).over(w).as("b"),
          lead(col("event_type"), 2).over(w).as("c"))
        .filter(col("b").isNotNull && col("c").isNotNull)
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },

    // Markov removal-effect attribution (the principled multi-touch
    // model): channel credit = how much the 8-step view→purchase
    // conversion probability DROPS when that state is deleted from the
    // chain (its column zeroed — journeys entering it are lost; row
    // probabilities keep their denominator, the standard removal
    // formulation). Each variant is the same exact T⁸-by-squaring
    // algebra as q_markov_conversion on a ≤|types|² matrix; the
    // fact-scale work (transition counts) happens once and is shared by
    // all variants. Oracle: per-variant unrolled squaring CTEs, all
    // AS MATERIALIZED.
    QueryDef.sql(
      "q_markov_attribution",
      {
        def variant(state: String, suf: String) =
          s"""v1$suf AS MATERIALIZED (
             |  SELECT a, b, p FROM t1 WHERE a <> '$state' AND b <> '$state'
             |  UNION ALL
             |  SELECT '$state' AS a, '$state' AS b, 0 AS p),
             |${squareSql(s"v1$suf", s"v2$suf")},
             |${squareSql(s"v2$suf", s"v4$suf")},
             |${squareSql(s"v4$suf", s"v8$suf")}""".stripMargin
        s"""$transitionMatrixSql,
           |${squareSql("t1", "t2")},
           |${squareSql("t2", "t4")},
           |${squareSql("t4", "t8")},
           |base AS (SELECT p AS p0 FROM t8 WHERE a = 'view' AND b = 'purchase'),
           |${variant("click", "c")},
           |${variant("error", "e")},
           |${variant("signup", "s")},
           |rem AS (
           |  SELECT 'click' AS removed_state, p FROM v8c WHERE a = 'view' AND b = 'purchase'
           |  UNION ALL
           |  SELECT 'error', p FROM v8e WHERE a = 'view' AND b = 'purchase'
           |  UNION ALL
           |  SELECT 'signup', p FROM v8s WHERE a = 'view' AND b = 'purchase')
           |SELECT rem.removed_state, base.p0 AS p_base_q6,
           |  CAST(rem.p AS BIGINT) AS p_removed_q6,
           |  CAST(((base.p0 - rem.p) * 1000000) // base.p0 AS BIGINT)
           |    AS removal_effect_q6
           |FROM rem CROSS JOIN base
           |ORDER BY removed_state""".stripMargin
      }) { (s, d) =>
      val t1 = transitionMatrix(s, d)
      def viewToPurchase(m: DataFrame) =
        pow8(m).filter(col("a") === "view" && col("b") === "purchase").select(col("p"))
      val base = viewToPurchase(t1).select(col("p").as("p0"))
      val variants = Seq("click", "error", "signup").map { st =>
        val v1 = t1.filter(col("a") =!= st && col("b") =!= st)
          .unionByName(s.range(1)
            .select(lit(st).as("a"), lit(st).as("b"), lit(0L).as("p")))
        viewToPurchase(v1).select(lit(st).as("removed_state"), col("p"))
      }
      variants.reduce(_ unionByName _)
        .crossJoin(broadcast(base))
        .select(col("removed_state"), col("p0").as("p_base_q6"),
          col("p").as("p_removed_q6"),
          expr("((p0 - p) * 1000000) div p0").as("removal_effect_q6"))
        .orderBy(col("removed_state"))
    }
  )
}
