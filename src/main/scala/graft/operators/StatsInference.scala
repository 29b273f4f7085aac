package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis-test readouts the experimentation surface still lacked:
  * one-way ANOVA (k-group mean comparison — the k>2 generalization of
  * q_abtest_z), the tie-corrected Mann-Whitney rank-sum U, its k-group
  * generalization Kruskal-Wallis H, and the paired Wilcoxon signed-rank
  * test (reference analogy: the summary-stats family of
  * `build_frame_db.py:233-270` read out as decision statistics).
  *
  * Determinism contract (shared with Stats.scala): every sufficient
  * statistic is an exact integer reduction — BIGINT first moments,
  * DECIMAL(38,0)/HUGEINT second moments (the q_spearman precedent) — and
  * each per-group floating step is ONE shared IEEE expression tree,
  * floor-quantized to a BIGINT before any cross-group summation so
  * accumulation order can never matter.
  *
  * Scale posture: ANOVA reduces the fact stream to k group-moment rows
  * (one combiner-backed groupBy); the rank tests reduce it to a
  * quantized-value histogram whose size is bounded by the value DOMAIN
  * (≤ 49k centi-unit cells here — Wilcoxon's by the USER dimension),
  * not the row count, so every rank window runs over a domain-bounded
  * table at any data scale.
  */
object StatsInference {

  /** Per-user change (user_id, cut, dd) of summed cents from before to
    * after the timeline's midpoint day: the paired statistic of
    * q_wilcoxon_signed_rank and q_permutation_test. */
  private[operators] def prePostDeltas(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.events(s, d).select(
      col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("di"),
      floor(col("value") * 100).cast("long").as("vq"))
    val sp = base.agg(expr("(min(di) + max(di) + 1) div 2").as("cut"))
    base.crossJoin(broadcast(sp))
      .groupBy(col("user_id"), col("cut"))
      .agg((sum(when(col("di") >= col("cut"), col("vq")).otherwise(0L))
        - sum(when(col("di") < col("cut"), col("vq")).otherwise(0L))).as("dd"))
  }

  /** Oracle twin of [[prePostDeltas]] as CTEs base, sp and pu; `cols` is
    * pu's leading column list. */
  private[operators] def prePostDeltasSql(cols: String): String =
    s"""WITH base AS (
       |  SELECT user_id, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS vq
       |  FROM events),
       |sp AS (SELECT (MIN(di) + MAX(di) + 1) // 2 AS cut FROM base),
       |pu AS (
       |  SELECT $cols,
       |    CAST(SUM(CASE WHEN di >= sp.cut THEN vq ELSE 0 END)
       |      - SUM(CASE WHEN di < sp.cut THEN vq ELSE 0 END) AS BIGINT) AS dd
       |  FROM base CROSS JOIN sp GROUP BY user_id, sp.cut)""".stripMargin

  /** (coh = user_id mod 2, vq = cents) per event: the two cohorts of the
    * rank tests. */
  private def cohorts(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).select(
      pmod(col("user_id"), lit(2)).cast("long").as("coh"),
      floor(col("value") * 100).cast("long").as("vq"))

  private val cohortsSql =
    """WITH base AS (
      |  SELECT CAST(((user_id % 2) + 2) % 2 AS BIGINT) AS coh,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS vq
      |  FROM events)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // One-way ANOVA F over event types: vq = floor(value·1e3) exact
    // BIGINTs; per-group (n, Σx BIGINT, Σx² DECIMAL38) moments; each
    // group's SSW contribution is floor-quantized at q0 (its magnitude is
    // ~1e15 at 100x, so a 1e6 upscale would overflow — q0 keeps 15
    // significant digits, plenty for an F ratio) BEFORE the k-row sum.
    // SSB = SStot − SSW on exact BIGINTs; only the final F is floating.
    QueryDef.sql(
      "q_anova_f",
      """WITH base AS (
        |  SELECT event_type AS g, CAST(FLOOR(value * 1000) AS BIGINT) AS vq
        |  FROM events),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(vq) AS BIGINT) AS s1,
        |    SUM(vq * vq) AS s2
        |  FROM base GROUP BY g),
        |perg AS (
        |  SELECT g, n, s1, s2,
        |    CAST(FLOOR(CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT) AS ssw_g
        |  FROM m),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(s1) AS BIGINT) AS s1, SUM(s2) AS s2,
        |    CAST(SUM(ssw_g) AS BIGINT) AS ssw
        |  FROM perg),
        |fin AS (
        |  SELECT k, n, ssw,
        |    CAST(FLOOR(CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT) - ssw AS ssb
        |  FROM tot)
        |SELECT k AS k_groups, n AS n_total, ssb AS ssb_q0, ssw AS ssw_q0,
        |  CASE WHEN k <= 1 OR n <= k OR ssw <= 0 THEN NULL
        |  ELSE CAST(FLOOR(CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE) * 1000000.0
        |    / (CAST(k - 1 AS DOUBLE) * CAST(ssw AS DOUBLE))) AS BIGINT)
        |  END AS f_q6
        |FROM fin""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val base = Tables.events(s, d).select(
        col("event_type").as("g"),
        floor(col("value") * 1000).cast("long").as("vq"))
      val m = base.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(col("vq")).as("s1"),
        sum((col("vq") * col("vq")).cast(dec)).as("s2"))
      def sswOf(s2: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column,
                n: org.apache.spark.sql.Column) =
        floor(s2.cast("double")
          - s1.cast("double") * (s1.cast("double") / n.cast("double"))).cast("long")
      val tot = m.withColumn("ssw_g", sswOf(col("s2"), col("s1"), col("n")))
        .agg(count(lit(1)).as("k"), sum(col("n")).as("n"),
          sum(col("s1")).as("s1"), sum(col("s2")).as("s2"),
          sum(col("ssw_g")).as("ssw"))
      val fin = tot.select(col("k"), col("n"), col("ssw"),
        (sswOf(col("s2"), col("s1"), col("n")) - col("ssw")).as("ssb"))
      fin.select(col("k").as("k_groups"), col("n").as("n_total"),
        col("ssb").as("ssb_q0"), col("ssw").as("ssw_q0"),
        when(col("k") <= 1 || col("n") <= col("k") || col("ssw") <= 0, lit(null))
          .otherwise(floor(col("ssb").cast("double") * (col("n") - col("k")).cast("double")
            * lit(1000000.0)
            / ((col("k") - 1).cast("double") * col("ssw").cast("double"))).cast("long"))
          .as("f_q6"))
    },

    // Mann-Whitney U (two cohorts by user parity, value at centi-unit
    // quantization) with the exact tie correction. Cohort = pmod(id, 2)
    // on BOTH sides: the SQL twin normalizes `%` as ((id % 2) + 2) % 2
    // because DuckDB's `%` keeps the dividend's sign (a negative id
    // would yield -1 and join neither cohort) while Spark's pmod is
    // always nonnegative — the engines must agree on any id domain. Ranks never touch raw
    // rows: the centi-value histogram carries per-cell cohort counts, the
    // doubled block mid-rank 2·cumBefore + t + 1 is exact integer
    // arithmetic (the q_spearman doubled-rank trick), and U is reported
    // in the same ×2 scale (`u_x2`) so it stays an exact BIGINT even when
    // tied mid-ranks are half-integers. The rank window runs over the
    // domain-bounded histogram (≤ 49k cells for this value range) — never
    // a global sort of the fact table.
    QueryDef.sql(
      "q_mann_whitney",
      s"""$cohortsSql,
        |hist AS (
        |  SELECT vq,
        |    CAST(SUM(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM base GROUP BY vq),
        |rk AS (
        |  SELECT c0, c1, t,
        |    SUM(t) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) - t AS cumb
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c0 + c1) AS BIGINT) AS n,
        |    CAST(SUM(c1 * (2 * cumb + t + 1)) AS BIGINT) AS r2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM rk)
        |SELECT n0, n1, r2 - n1 * (n1 + 1) AS u_x2,
        |  CASE WHEN n0 = 0 OR n1 = 0
        |    OR CAST(n + 1 AS DOUBLE)
        |       - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) <= 0
        |  THEN NULL
        |  ELSE CAST(FLOOR(
        |    CAST(r2 - n1 * (n1 + 1) - n0 * n1 AS DOUBLE) * 1000000.0
        |    / (2.0 * SQRT(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0
        |        * (CAST(n + 1 AS DOUBLE)
        |           - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))))
        |    AS BIGINT)
        |  END AS z_q6
        |FROM agg""".stripMargin) { (s, d) =>
      val base = cohorts(s, d)
      val hist = base.groupBy(col("vq")).agg(
        sum(when(col("coh") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("coh") === 1, 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("t"))
      // domain-bounded global window: the histogram has at most one row
      // per centi-unit value cell regardless of fact-table size
      val w = Window.orderBy(col("vq")).rowsBetween(Window.unboundedPreceding, 0)
      val rk = hist.select(col("c0"), col("c1"), col("t"),
        (sum(col("t")).over(w) - col("t")).as("cumb"))
      val agg = rk.agg(
        sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        sum(col("c0") + col("c1")).as("n"),
        sum(col("c1") * (lit(2) * col("cumb") + col("t") + 1)).as("r2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val tieTerm = (col("n") + 1).cast("double") -
        col("ties").cast("double") / (col("n").cast("double") * (col("n") - 1).cast("double"))
      agg.select(col("n0"), col("n1"),
        (col("r2") - col("n1") * (col("n1") + 1)).as("u_x2"),
        when(col("n0") === 0 || col("n1") === 0 || tieTerm <= 0, lit(null))
          .otherwise(floor(
            (col("r2") - col("n1") * (col("n1") + 1) - col("n0") * col("n1")).cast("double")
              * lit(1000000.0)
              / (lit(2.0) * sqrt(col("n0").cast("double") * col("n1").cast("double") / lit(12.0)
                * tieTerm))).cast("long"))
          .as("z_q6"))
    },

    // Kruskal-Wallis H (the k-group rank generalization — the
    // distribution-free counterpart of q_anova_f): global doubled
    // mid-ranks over the centi-value histogram, per-group rank sums, and
    // each group's R²/n contribution pre-scaled by 1/(4N²) and
    // floor-quantized at q6 BEFORE the k-row sum — the scaled term is
    // bounded by n_g, so it can never overflow regardless of how skewed
    // the group sizes are. H is then recovered as 12·S·N/(1e6·(N+1)) −
    // 3(N+1), one shared IEEE tree; the tie-corrected variant divides by
    // 1 − Σ(t³−t)/(N³−N) computed in doubles (N³ exceeds int64 at
    // scale).
    QueryDef.sql(
      "q_kruskal_wallis",
      """WITH base AS (
        |  SELECT event_type AS g, CAST(FLOOR(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |gh AS (
        |  SELECT g, vq, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY g, vq),
        |th AS (SELECT vq, CAST(SUM(c) AS BIGINT) AS t FROM gh GROUP BY vq),
        |rk AS (
        |  SELECT vq, t,
        |    2 * (SUM(t) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r2
        |  FROM th),
        |tot AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM th),
        |pg AS (
        |  SELECT gh.g, CAST(SUM(gh.c) AS BIGINT) AS ng,
        |    CAST(SUM(gh.c * rk.r2) AS BIGINT) AS r2s
        |  FROM gh JOIN rk ON rk.vq = gh.vq GROUP BY gh.g),
        |sq AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(CAST(FLOOR(
        |      (CAST(pg.r2s AS DOUBLE) / CAST(pg.ng AS DOUBLE))
        |      * (CAST(pg.r2s AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |      / (4.0 * CAST(tot.n AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
        |  FROM pg CROSS JOIN tot),
        |fin AS (
        |  SELECT sq.k, tot.n, tot.ties,
        |    12.0 * CAST(sq.s AS DOUBLE) * CAST(tot.n AS DOUBLE)
        |      / (1000000.0 * CAST(tot.n + 1 AS DOUBLE))
        |      - 3.0 * CAST(tot.n + 1 AS DOUBLE) AS h
        |  FROM sq CROSS JOIN tot)
        |SELECT k AS k_groups, n AS n_total,
        |  CAST(FLOOR(h * 1000000.0) AS BIGINT) AS h_q6,
        |  CASE WHEN CAST(ties AS DOUBLE) >= CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE) THEN NULL
        |  ELSE CAST(FLOOR(h * 1000000.0
        |    / (1.0 - CAST(ties AS DOUBLE)
        |       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          - CAST(n AS DOUBLE)))) AS BIGINT)
        |  END AS h_tie_q6
        |FROM fin""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("event_type").as("g"),
        floor(col("value") * 100).cast("long").as("vq"))
      val gh = base.groupBy(col("g"), col("vq")).agg(count(lit(1)).as("c"))
      val th = gh.groupBy(col("vq")).agg(sum(col("c")).as("t"))
      val w = Window.orderBy(col("vq")).rowsBetween(Window.unboundedPreceding, 0)
      val rk = th.select(col("vq"),
        (lit(2) * (sum(col("t")).over(w) - col("t")) + col("t") + 1).as("r2"))
      val tot = th.agg(sum(col("t")).as("n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val pg = gh.join(rk, Seq("vq"))
        .groupBy(col("g"))
        .agg(sum(col("c")).as("ng"), sum(col("c") * col("r2")).as("r2s"))
      val sq = pg.crossJoin(broadcast(tot))
        .select(floor(
          (col("r2s").cast("double") / col("ng").cast("double"))
            * (col("r2s").cast("double") / col("n").cast("double"))
            / (lit(4.0) * col("n").cast("double")) * lit(1000000.0)).cast("long").as("hq"))
        .agg(count(lit(1)).as("k"), sum(col("hq")).as("s"))
      val nD = col("n").cast("double")
      val h = lit(12.0) * col("s").cast("double") * nD /
        (lit(1000000.0) * (col("n") + 1).cast("double")) -
        lit(3.0) * (col("n") + 1).cast("double")
      val tieDen = lit(1.0) - col("ties").cast("double") / (nD * nD * nD - nD)
      sq.crossJoin(broadcast(tot))
        .select(col("k").as("k_groups"), col("n").as("n_total"),
          floor(h * lit(1000000.0)).cast("long").as("h_q6"),
          when(col("ties").cast("double") >= nD * nD * nD - nD, lit(null))
            .otherwise(floor(h * lit(1000000.0) / tieDen).cast("long"))
            .as("h_tie_q6"))
    },

    // Wilcoxon signed-rank (paired test): each user's centi-quantized
    // value total in the second half of the timeline vs the first half —
    // the pair is (user, period), the signed difference d is an exact
    // BIGINT, zero differences drop per the textbook procedure.
    // PAIRING CONVENTION: a user active in only one half is paired with
    // an implicit 0 total for the missing half (d = ±that half's total),
    // NOT dropped as the textbook paired test would drop an incomplete
    // pair. This keeps n_pairs a pure function of the events table
    // (deterministic, engine-consistent) at the cost of deviating from
    // the strict definition when activity is one-sided; callers wanting
    // the textbook test should pre-filter to users with events in both
    // halves. Ranks of
    // |d| use the doubled-mid-rank histogram (bounded by the USER
    // dimension, not the fact table), W⁺ is reported ×2 as an exact
    // BIGINT, and the normal approximation carries the exact Σ(t³−t)/48
    // tie correction.
    QueryDef.sql(
      "q_wilcoxon_signed_rank",
      s"""${prePostDeltasSql("user_id")},
        |nz AS (SELECT user_id, dd, ABS(dd) AS ad FROM pu WHERE dd <> 0),
        |hist AS (
        |  SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM nz GROUP BY ad),
        |rk AS (
        |  SELECT ad, t, tp,
        |    2 * (SUM(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r2
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(tp * r2) AS BIGINT) AS w2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM rk)
        |SELECT n AS n_pairs, w2 AS w_x2,
        |  CASE WHEN n = 0 OR CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
        |      * CAST(2 * n + 1 AS DOUBLE) / 24.0
        |      - CAST(ties AS DOUBLE) / 48.0 <= 0 THEN NULL
        |  ELSE CAST(FLOOR(CAST(w2 - n * (n + 1) // 2 AS DOUBLE) * 1000000.0
        |    / (2.0 * SQRT(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
        |        * CAST(2 * n + 1 AS DOUBLE) / 24.0
        |        - CAST(ties AS DOUBLE) / 48.0))) AS BIGINT)
        |  END AS z_q6
        |FROM agg""".stripMargin) { (s, d) =>
      val pu = prePostDeltas(s, d)
      val nz = pu.filter(col("dd") =!= 0)
        .select(col("dd"), abs(col("dd")).as("ad"))
      val hist = nz.groupBy(col("ad")).agg(
        count(lit(1)).as("t"),
        sum(when(col("dd") > 0, 1L).otherwise(0L)).as("tp"))
      val w = Window.orderBy(col("ad")).rowsBetween(Window.unboundedPreceding, 0)
      val rk = hist.select(col("ad"), col("t"), col("tp"),
        (lit(2) * (sum(col("t")).over(w) - col("t")) + col("t") + 1).as("r2"))
      val agg = rk.agg(
        sum(col("t")).as("n"), sum(col("tp") * col("r2")).as("w2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val varD = col("n").cast("double") * (col("n") + 1).cast("double") *
        (lit(2) * col("n") + 1).cast("double") / lit(24.0) -
        col("ties").cast("double") / lit(48.0)
      agg.select(col("n").as("n_pairs"), col("w2").as("w_x2"),
        when(col("n") === 0 || varD <= 0, lit(null))
          .otherwise(floor(
            (col("w2") - expr("n * (n + 1) div 2")).cast("double") * lit(1000000.0)
              / (lit(2.0) * sqrt(varD))).cast("long"))
          .as("z_q6"))
    },

    // Tukey HSD post-hoc: after q_anova_f rejects, WHICH group pairs
    // differ — the studentized range statistic q = |mean_i − mean_j| /
    // √(MSW/2·(1/n_i + 1/n_j)) for every unordered pair, from the same
    // exact (n, Σx, Σx²) moments (MSW reuses the q0-quantized SSW so the
    // two queries are consistent by construction). The pair join is a
    // k-row self-join — k is the group vocabulary, never the fact table.
    QueryDef.sql(
      "q_tukey_hsd",
      """WITH base AS (
        |  SELECT event_type AS g, CAST(FLOOR(value * 1000) AS BIGINT) AS vq
        |  FROM events),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(vq) AS BIGINT) AS s1, SUM(vq * vq) AS s2
        |  FROM base GROUP BY g),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) AS ssw
        |  FROM m)
        |SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |  CAST(FLOOR(CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)) AS BIGINT) AS diff_q3,
        |  CASE WHEN tot.n <= tot.k OR tot.ssw <= 0 THEN NULL
        |  ELSE CAST(FLOOR(ABS(CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)) * 1000000.0
        |    / SQRT(CAST(tot.ssw AS DOUBLE) / CAST(tot.n - tot.k AS DOUBLE) / 2.0
        |        * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))) AS BIGINT)
        |  END AS q_q6
        |FROM m a JOIN m b ON a.g < b.g CROSS JOIN tot
        |ORDER BY g1, g2""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val base = Tables.events(s, d).select(
        col("event_type").as("g"),
        floor(col("value") * 1000).cast("long").as("vq"))
      val m = base.groupBy(col("g")).agg(
        count(lit(1)).as("n"), sum(col("vq")).as("s1"),
        sum((col("vq") * col("vq")).cast(dec)).as("s2")).localCheckpoint(true)
      val tot = m.select(col("n"), col("s1"),
          floor(col("s2").cast("double")
            - col("s1").cast("double") * (col("s1").cast("double") / col("n").cast("double")))
            .cast("long").as("ssw_g"))
        .agg(count(lit(1)).as("k"), sum(col("n")).as("nt"), sum(col("ssw_g")).as("ssw"))
      val pairs = m.select(col("g").as("g1"), col("n").as("n1"), col("s1").as("s1a"))
        .join(m.select(col("g").as("g2"), col("n").as("n2"), col("s1").as("s1b")),
          col("g1") < col("g2"))
        .crossJoin(broadcast(tot))
      val meanDiff = col("s1a").cast("double") / col("n1").cast("double") -
        col("s1b").cast("double") / col("n2").cast("double")
      pairs.select(col("g1"), col("g2"), col("n1"), col("n2"),
          floor(meanDiff).cast("long").as("diff_q3"),
          when(col("nt") <= col("k") || col("ssw") <= 0, lit(null))
            .otherwise(floor(abs(meanDiff) * lit(1000000.0)
              / sqrt(col("ssw").cast("double") / (col("nt") - col("k")).cast("double")
                / lit(2.0)
                * (lit(1.0) / col("n1").cast("double")
                  + lit(1.0) / col("n2").cast("double")))).cast("long"))
            .as("q_q6"))
        .orderBy(col("g1"), col("g2"))
    },

    // McNemar paired-proportion test: did each user's HIGH-VALUE
    // conversion status (a purchase with value >= 200 — the q_abtest_z
    // rarity criterion, so the status genuinely flips between halves)
    // CHANGE across the two timeline halves — the
    // discordant-pair counts b = converted→lapsed, c = lapsed→converted,
    // chi² = (b−c)²/(b+c) plus the Edwards continuity-corrected variant,
    // all exact integer arithmetic until the single q6 division. One
    // user-keyed combiner reduction; the 2×2 readout is one row.
    QueryDef.sql(
      "q_mcnemar",
      """WITH base AS (
        |  SELECT user_id, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CASE WHEN event_type = 'purchase' AND value >= 200 THEN 1 ELSE 0 END AS conv
        |  FROM events),
        |sp AS (SELECT (MIN(di) + MAX(di) + 1) // 2 AS cut FROM base),
        |pu AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN di < sp.cut THEN conv ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(MAX(CASE WHEN di >= sp.cut THEN conv ELSE 0 END) AS BIGINT) AS c2
        |  FROM base CROSS JOIN sp GROUP BY user_id),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM pu)
        |SELECT n_users, b, c,
        |  CASE WHEN b + c = 0 THEN NULL
        |    ELSE ((b - c) * (b - c) * 1000000) // (b + c) END AS chi2_q6,
        |  CASE WHEN b + c = 0 THEN NULL
        |    WHEN ABS(b - c) <= 1 THEN 0
        |    ELSE ((ABS(b - c) - 1) * (ABS(b - c) - 1) * 1000000) // (b + c)
        |  END AS chi2_cc_q6
        |FROM agg""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("di"),
        when(col("event_type") === "purchase" && col("value") >= 200, 1)
          .otherwise(0).as("conv"))
      val sp = base.agg(expr("(min(di) + max(di) + 1) div 2").as("cut"))
      val pu = base.crossJoin(broadcast(sp))
        .groupBy(col("user_id"))
        .agg(max(when(col("di") < col("cut"), col("conv")).otherwise(0)).cast("long").as("c1"),
          max(when(col("di") >= col("cut"), col("conv")).otherwise(0)).cast("long").as("c2"))
      val agg = pu.agg(count(lit(1)).as("n_users"),
        sum(when(col("c1") === 1 && col("c2") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("c1") === 0 && col("c2") === 1, 1L).otherwise(0L)).as("c"))
      agg.select(col("n_users"), col("b"), col("c"),
        when(col("b") + col("c") === 0, lit(null))
          .otherwise(expr("((b - c) * (b - c) * 1000000) div (b + c)")).as("chi2_q6"),
        when(col("b") + col("c") === 0, lit(null))
          .when(abs(col("b") - col("c")) <= 1, lit(0L))
          .otherwise(expr("((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000) div (b + c)"))
          .as("chi2_cc_q6"))
    },

    // Two-sample Kolmogorov-Smirnov over the same parity cohorts as
    // q_mann_whitney: D = max|F₀(x) − F₁(x)| read off the centi-value
    // histogram with the division deferred — the per-cell statistic
    // |cum₀·n₁ − cum₁·n₀| is an exact BIGINT (≤ n₀·n₁ ≈ 3.6e12 at the
    // 100x fact table, so ·10⁶ stays inside int64), and only the final
    // asymptotic λ = D·√(n₀n₁/(n₀+n₁)) is one shared IEEE tree. The
    // cumulative window runs over the domain-bounded histogram, never a
    // sort of the fact table.
    QueryDef.sql(
      "q_ks_test",
      s"""$cohortsSql,
        |hist AS (
        |  SELECT vq,
        |    CAST(SUM(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM base GROUP BY vq),
        |tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
        |        FROM hist),
        |rk AS (
        |  SELECT SUM(c0) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) AS f0,
        |    SUM(c1) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) AS f1
        |  FROM hist),
        |mx AS (
        |  SELECT CAST(MAX(ABS(f0 * tot.n1 - f1 * tot.n0)) AS BIGINT) AS d_num
        |  FROM rk CROSS JOIN tot)
        |SELECT tot.n0, tot.n1, mx.d_num,
        |  CASE WHEN tot.n0 = 0 OR tot.n1 = 0 THEN NULL
        |    ELSE (mx.d_num * 1000000) // (tot.n0 * tot.n1) END AS d_q6,
        |  CASE WHEN tot.n0 = 0 OR tot.n1 = 0 THEN NULL
        |    ELSE CAST(FLOOR(CAST(mx.d_num AS DOUBLE)
        |      / (CAST(tot.n0 AS DOUBLE) * CAST(tot.n1 AS DOUBLE))
        |      * SQRT(CAST(tot.n0 AS DOUBLE) * CAST(tot.n1 AS DOUBLE)
        |             / CAST(tot.n0 + tot.n1 AS DOUBLE))
        |      * 1000000.0) AS BIGINT) END AS ks_q6
        |FROM tot CROSS JOIN mx""".stripMargin) { (s, d) =>
      val base = cohorts(s, d)
      val hist = base.groupBy(col("vq")).agg(
        sum(when(col("coh") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("coh") === 1, 1L).otherwise(0L)).as("c1"))
        .localCheckpoint(true)
      val tot = hist.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      // domain-bounded global window: one row per centi-unit value cell
      val w = Window.orderBy(col("vq")).rowsBetween(Window.unboundedPreceding, 0)
      val mx = hist.select(
          sum(col("c0")).over(w).as("f0"), sum(col("c1")).over(w).as("f1"))
        .crossJoin(broadcast(tot))
        .agg(max(abs(col("f0") * col("n1") - col("f1") * col("n0"))).as("d_num"))
      val n0d = col("n0").cast("double")
      val n1d = col("n1").cast("double")
      tot.crossJoin(broadcast(mx))
        .select(col("n0"), col("n1"), col("d_num"),
          when(col("n0") === 0 || col("n1") === 0, lit(null))
            .otherwise(expr("(d_num * 1000000) div (n0 * n1)")).as("d_q6"),
          when(col("n0") === 0 || col("n1") === 0, lit(null))
            .otherwise(floor(col("d_num").cast("double") / (n0d * n1d)
              * sqrt(n0d * n1d / (col("n0") + col("n1")).cast("double"))
              * lit(1000000.0)).cast("long"))
            .as("ks_q6"))
    }
  )
}
