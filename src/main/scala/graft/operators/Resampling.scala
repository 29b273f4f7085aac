package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Resampling-based inference: the hash-deterministic counterparts of the
  * classic Monte-Carlo procedures (reference analogy: the summary-stats
  * family of `build_frame_db.py:233-270` read out as decision statistics,
  * extended to the uncertainty readouts an experimentation surface needs).
  * Every "random" draw is a Knuth multiplicative hash of (key, replicate)
  * — never rand() — so both engines replay the identical resample and the
  * driver's hash check stays exact (the q_sample_exact_k convention).
  *
  * Hash convention (shared by all three queries): the user key is first
  * reduced mod 1,000,003 (a prime) because the power-clone fixture's
  * user_id (3,999,999,999) times 2654435761 overflows int64 under ANSI —
  * the same hazard make_rehearsal.py documents for doc ids. Users sharing
  * a residue class resample together (a quasi-permutation); that cannot
  * happen silently — every query folds an injectivity assertion over the
  * distinct users into its n_users column ([[nUsersGuarded]]), so a
  * fixture that ever grows past the residue space (or lands on a
  * colliding id layout) fails the engine run loudly instead of biasing
  * the draws. The replicate mix then
  * re-hashes (h1 + b), and the DECISION BIT is the TOP bit (bit 31) —
  * the low bits of a multiplicative hash are parity-degenerate
  * (low bit of (h1+b)·odd == parity(h1+b), which would alternate signs
  * deterministically with b).
  *
  * Overflow audit (ANSI-safe on both engines): h1 < 2^31; (h1+200)
  * · 2654435761 <= 5.7e18 < 2^63. Replicate sums stay exact BIGINTs;
  * the one scaled division per query runs in HUGEINT/DECIMAL(38,0).
  *
  * Scale posture: everything reduces the fact table ONCE through a
  * combiner-backed per-user (or per-group-user) aggregation; the
  * replicate fan-out is a broadcast of the 200-row replicate spine onto
  * that bounded user table, partial-aggregated map-side back down to B
  * rows. No shuffle grows with the fact table beyond the first groupBy;
  * the only global windows run over <=B-row or <=|event_type|-row
  * aggregates (GlobalWindowAuditSpec rationales).
  */
object Resampling {

  /** replicates per test; p-values have denominator B+1 = 201. */
  private val B = 200

  /** floor(2^32 * PoissonCDF(k; lambda=1)) for k = 0..8 — draws above the
    * last threshold clamp to 9. Computed once from the series expansion of
    * e^-1 (60-digit decimal); hard-coded so Spark and DuckDB compare
    * against the identical integers. */
  private val poissonThresholds = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L,
    4292415291L, 4294609777L, 4294923276L, 4294962463L)

  /** SQL CASE mapping a 32-bit hash column to a Poisson(1) weight. */
  private def poissonCaseSql(h: String): String =
    poissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $h < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")

  private def poissonCaseCol(h: Column): Column =
    poissonThresholds.zipWithIndex.foldRight(lit(9)) { case ((t, k), e) =>
      when(h < t, lit(k)).otherwise(e)
    }

  /** Spark-side per-user base hash: pmod(user_id, 1000003)·K mod 2^31. */
  private def h1Col: Column =
    pmod(pmod(col("user_id"), lit(1000003L)) * lit(2654435761L),
      lit(2147483648L)).as("h1")

  /** Loud guard for the mod-1,000,003 reduction: the draws are valid iff
    * user_id → h1 is injective over the fixture's distinct users (the
    * multiplier is odd, so h1 collides exactly when the residues do).
    * Folded into the kept n_users column — a bare withColumn would be
    * pruned by the optimizer and never evaluate — so any engine run
    * (registry, rehearsal clone, future fixture) FAILS instead of
    * silently coupling the users that share a residue class. Count-based
    * aggregate, no extra shuffle beyond the user-bounded table. */
  private def nUsersGuarded: Column =
    (count(lit(1)) + coalesce(
      assert_true(count(lit(1)) === countDistinct(col("h1")),
        lit("resampling residue collision: two distinct user_ids share " +
          "user_id mod 1000003 — draws would couple; raise the modulus"))
        .cast("long"),
      lit(0L))).as("n_users")

  private val h1Sql =
    "CAST((((user_id % 1000003) + 1000003) % 1000003) * 2654435761 % 2147483648 AS BIGINT) AS h1"

  /** Spark-side replicate hash (h1, b) -> uniform 32-bit. */
  private def h2Col: Column =
    pmod((col("h1") + col("b")) * lit(2654435761L), lit(4294967296L))

  private val h2Sql = "(h1 + b) * 2654435761 % 4294967296"

  /** +1/-1 sign from the top bit of the replicate hash. */
  private def signCol: Column = lit(1L) - lit(2L) * (h2Col >= lit(2147483648L)).cast("long")

  private val signSql = s"(1 - 2 * (($h2Sql) // 2147483648))"

  /** 200-row replicate spine, broadcast onto the bounded user table. */
  private def repSpine(s: SparkSession): DataFrame =
    broadcast(s.range(1, B + 1).select(col("id").as("b")))

  private val repSpineSql =
    s"(SELECT CAST(UNNEST(RANGE(1, ${B + 1})) AS BIGINT) AS b)"

  val queries: Seq[QueryDef] = Seq(

    // Paired sign-flip permutation test (Fisher randomization) on the
    // same per-user half-of-timeline difference as q_wilcoxon_signed_rank
    // (including its implicit-zero pairing convention): H0 says each
    // user's dd is symmetric around 0, so T_b = SUM(s_b(u)·dd_u) over
    // hash signs s_b is an exact draw from the randomization
    // distribution, and p = (1 + #{|T_b| >= |T_obs|}) / (B+1) with the
    // +1 smoothing that keeps p > 0 (the observed permutation counts
    // itself). Everything is exact BIGINT arithmetic — the p-value is a
    // rational with denominator 201, reported as p_num plus its floored
    // q6 expansion.
    QueryDef.sql(
      "q_permutation_test",
      s"""${StatsInference.prePostDeltasSql(s"user_id, $h1Sql")},
        |obs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(dd) AS BIGINT) AS t_obs
        |  FROM pu),
        |reps AS (
        |  SELECT r.b, CAST(SUM($signSql * dd) AS BIGINT) AS t_b
        |  FROM pu CROSS JOIN $repSpineSql r
        |  GROUP BY r.b),
        |cnt AS (
        |  SELECT CAST(SUM(CASE WHEN ABS(reps.t_b) >= ABS(obs.t_obs)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM reps CROSS JOIN obs)
        |SELECT obs.n_users, obs.t_obs, CAST($B AS BIGINT) AS b_reps,
        |  cnt.c + 1 AS p_num,
        |  ((cnt.c + 1) * 1000000) // ${B + 1} AS p_q6
        |FROM obs CROSS JOIN cnt""".stripMargin) { (s, d) =>
      val pu = StatsInference.prePostDeltas(s, d)
        .select(col("user_id"), h1Col, col("dd"))
      val obs = pu.agg(nUsersGuarded, sum(col("dd")).as("t_obs"))
      val reps = pu.crossJoin(repSpine(s))
        .groupBy(col("b"))
        .agg(sum(signCol * col("dd")).as("t_b"))
      val cnt = reps.crossJoin(broadcast(obs))
        .agg(sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L).otherwise(0L)).as("c"))
      obs.crossJoin(broadcast(cnt))
        .select(col("n_users"), col("t_obs"), lit(B.toLong).as("b_reps"),
          (col("c") + 1).as("p_num"),
          expr(s"((c + 1) * 1000000) div ${B + 1}").as("p_q6"))
    },

    // Benjamini-Hochberg FDR over the per-event-type family of sign-flip
    // permutation tests (alpha = 0.05). Each event type gets the
    // q_permutation_test statistic on ITS per-user half-difference; the
    // replicate signs hash the USER only, so replicate b flips every
    // group's copy of a user together — the joint randomization that
    // preserves cross-group correlation, exactly what a multiple-testing
    // correction assumes. BH runs on exact rationals: p_(i) <= i·alpha/m
    // with p = p_num/201 and alpha = 1/20 is the integer test
    // 20·m·p_num <= 201·i, so the step-up index i* is overflow- and
    // float-free. The rank window runs over the m-row p-value table
    // (m = |event_type| vocabulary).
    QueryDef.sql(
      "q_bh_fdr",
      s"""WITH base AS (
        |  SELECT event_type AS g, user_id,
        |    CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |sp AS (SELECT (MIN(di) + MAX(di) + 1) // 2 AS cut FROM base),
        |pu AS (
        |  SELECT g, user_id, $h1Sql,
        |    CAST(SUM(CASE WHEN di >= sp.cut THEN vq ELSE 0 END)
        |      - SUM(CASE WHEN di < sp.cut THEN vq ELSE 0 END) AS BIGINT) AS dd
        |  FROM base CROSS JOIN sp GROUP BY g, user_id, sp.cut),
        |obs AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(dd) AS BIGINT) AS t_obs
        |  FROM pu GROUP BY g),
        |reps AS (
        |  SELECT pu.g, r.b, CAST(SUM($signSql * dd) AS BIGINT) AS t_b
        |  FROM pu CROSS JOIN $repSpineSql r
        |  GROUP BY pu.g, r.b),
        |pv AS (
        |  SELECT obs.g, obs.n_users, obs.t_obs,
        |    CAST(SUM(CASE WHEN ABS(reps.t_b) >= ABS(obs.t_obs)
        |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p_num
        |  FROM reps JOIN obs ON reps.g = obs.g
        |  GROUP BY obs.g, obs.n_users, obs.t_obs),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pv),
        |rk AS (
        |  SELECT g, n_users, t_obs, p_num,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p_num, g) AS BIGINT) AS rnk
        |  FROM pv),
        |thr AS (
        |  SELECT COALESCE(MAX(CASE WHEN 20 * mm.m * rk.p_num <= ${B + 1} * rk.rnk
        |    THEN rk.rnk END), 0) AS istar
        |  FROM rk CROSS JOIN mm)
        |SELECT rk.g, rk.n_users, rk.t_obs, rk.p_num,
        |  (rk.p_num * 1000000) // ${B + 1} AS p_q6, rk.rnk,
        |  CAST(CASE WHEN rk.rnk <= thr.istar THEN 1 ELSE 0 END AS BIGINT) AS rejected
        |FROM rk CROSS JOIN thr ORDER BY rk.g""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("event_type").as("g"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("di"),
        floor(col("value") * 100).cast("long").as("vq"))
      val sp = base.agg(expr("(min(di) + max(di) + 1) div 2").as("cut"))
      val pu = base.crossJoin(broadcast(sp))
        .groupBy(col("g"), col("user_id"), col("cut"))
        .agg((sum(when(col("di") >= col("cut"), col("vq")).otherwise(0L))
          - sum(when(col("di") < col("cut"), col("vq")).otherwise(0L))).as("dd"))
        .select(col("g"), col("user_id"), h1Col, col("dd"))
      val obs = pu.groupBy(col("g"))
        .agg(nUsersGuarded, sum(col("dd")).as("t_obs"))
      val reps = pu.crossJoin(repSpine(s))
        .groupBy(col("g"), col("b"))
        .agg(sum(signCol * col("dd")).as("t_b"))
      val pv = reps.join(obs, Seq("g"))
        .groupBy(col("g"), col("n_users"), col("t_obs"))
        .agg((sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L).otherwise(0L)) + 1)
          .as("p_num"))
        .localCheckpoint(true)
      val mm = pv.agg(count(lit(1)).as("m"))
      // global rank over the m-row p-value table (event_type vocabulary)
      val rk = pv.select(col("g"), col("n_users"), col("t_obs"), col("p_num"),
        row_number().over(Window.orderBy(col("p_num"), col("g"))).cast("long").as("rnk"))
      val thr = rk.crossJoin(broadcast(mm))
        .agg(coalesce(max(when(
          lit(20L) * col("m") * col("p_num") <= lit((B + 1).toLong) * col("rnk"),
          col("rnk"))), lit(0L)).as("istar"))
      rk.crossJoin(broadcast(thr))
        .select(col("g"), col("n_users"), col("t_obs"), col("p_num"),
          expr(s"(p_num * 1000000) div ${B + 1}").as("p_q6"), col("rnk"),
          when(col("rnk") <= col("istar"), 1L).otherwise(0L).as("rejected"))
        .orderBy(col("g"))
    },

    // Poisson cluster bootstrap of the mean event value: the distributed
    // bootstrap (resampling n rows WITH replacement needs a global
    // shuffle; Poisson(1) weights per unit are the standard at-scale
    // substitute — each replicate's weight vector is i.i.d. Poisson(1),
    // e.g. Chamandy et al., "Estimating Uncertainty for Massive Data
    // Streams" (Google, 2012)). Units are USERS, not raw events — the
    // cluster bootstrap that respects within-user correlation and keeps
    // the resample table bounded by the user dimension. Each replicate's
    // mean is the exact rational (SUM w·su)·1e6 // (SUM w·cu) evaluated
    // in HUGEINT/DECIMAL(38,0); the CI is the exact order-statistic pair
    // at ranks floor(0.025·B) and B − floor(0.025·B) + 1 of the B
    // replicate means (percentile method), selected over the B-row table.
    QueryDef.sql(
      "q_bootstrap_ci",
      s"""WITH base AS (
        |  SELECT user_id, CAST(FLOOR(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |pu AS (
        |  SELECT user_id, $h1Sql,
        |    CAST(SUM(vq) AS BIGINT) AS su, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM base GROUP BY user_id),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(su) AS BIGINT) AS s, CAST(SUM(cu) AS BIGINT) AS n
        |  FROM pu),
        |drawn AS (
        |  SELECT b, su, cu, ${poissonCaseSql("h2")} AS w
        |  FROM (SELECT r.b, pu.su, pu.cu, $h2Sql AS h2
        |        FROM pu CROSS JOIN $repSpineSql r) hx),
        |reps AS (
        |  SELECT b, CAST(SUM(w * su) AS BIGINT) AS ws,
        |    CAST(SUM(w * cu) AS BIGINT) AS wn
        |  FROM drawn GROUP BY b),
        |means AS (
        |  SELECT b, CAST((CAST(ws AS HUGEINT) * 1000000) // wn AS BIGINT) AS mean_q6
        |  FROM reps WHERE wn > 0),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_valid FROM means),
        |rkd AS (
        |  SELECT mean_q6, ROW_NUMBER() OVER (ORDER BY mean_q6, b) AS rn
        |  FROM means),
        |sel AS (
        |  SELECT
        |    CAST(MAX(CASE WHEN rn = GREATEST(1, (25 * nv.n_valid) // 1000)
        |      THEN mean_q6 END) AS BIGINT) AS lo_q6,
        |    CAST(MAX(CASE WHEN rn = nv.n_valid
        |        - GREATEST(1, (25 * nv.n_valid) // 1000) + 1
        |      THEN mean_q6 END) AS BIGINT) AS hi_q6
        |  FROM rkd CROSS JOIN nv)
        |SELECT tot.n_users, nv.n_valid,
        |  CASE WHEN tot.n = 0 THEN NULL
        |    ELSE CAST((CAST(tot.s AS HUGEINT) * 1000000) // tot.n AS BIGINT)
        |  END AS est_q6,
        |  sel.lo_q6, sel.hi_q6
        |FROM tot CROSS JOIN nv CROSS JOIN sel""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("user_id"), floor(col("value") * 100).cast("long").as("vq"))
      val pu = base.groupBy(col("user_id"))
        .agg(sum(col("vq")).as("su"), count(lit(1)).as("cu"))
        .select(col("user_id"), h1Col, col("su"), col("cu"))
      val tot = pu.agg(nUsersGuarded,
        sum(col("su")).as("s"), sum(col("cu")).as("n"))
      val drawn = pu.crossJoin(repSpine(s))
        .select(col("b"), col("su"), col("cu"), poissonCaseCol(h2Col).cast("long").as("w"))
      val reps = drawn.groupBy(col("b"))
        .agg(sum(col("w") * col("su")).as("ws"), sum(col("w") * col("cu")).as("wn"))
      val means = reps.filter(col("wn") > 0)
        .select(col("b"),
          expr("CAST((CAST(ws AS DECIMAL(38,0)) * 1000000) div wn AS BIGINT)")
            .as("mean_q6"))
        .localCheckpoint(true)
      val nv = means.agg(count(lit(1)).as("n_valid"))
      // global rank over the <=B-row replicate-mean table
      val rkd = means.select(col("mean_q6"),
        row_number().over(Window.orderBy(col("mean_q6"), col("b"))).cast("long").as("rn"))
      val loRank = greatest(lit(1L), expr("(25 * n_valid) div 1000"))
      val sel = rkd.crossJoin(broadcast(nv))
        .agg(
          max(when(col("rn") === loRank, col("mean_q6"))).as("lo_q6"),
          max(when(col("rn") === col("n_valid") - loRank + 1, col("mean_q6"))).as("hi_q6"))
      tot.crossJoin(broadcast(nv)).crossJoin(broadcast(sel))
        .select(col("n_users"), col("n_valid"),
          when(col("n") === 0, lit(null))
            .otherwise(expr("CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"))
            .as("est_q6"),
          col("lo_q6"), col("hi_q6"))
    }
  )
}
