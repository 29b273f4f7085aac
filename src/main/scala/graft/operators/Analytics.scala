package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics extensions a training-data pipeline needs beyond the
  * reference's surface: rolling time windows, ntile bucketing, pivots,
  * deterministic hash sampling / train-val splits, and exact quantiles —
  * all pure Column plans with DuckDB oracles.
  */
object Analytics {

  /** Exact positional pick of `valueCol` per `event_type` via a
    * quantized-value histogram: the histogram groupBy is map-side
    * combined and its size is bounded by DISTINCT values per key, so no
    * reducer ever sorts raw rows. The pick selects the unique histogram
    * row whose cumulative count first reaches position `pos(n)`. */
  private def histogramPick(df: org.apache.spark.sql.DataFrame, valueCol: String,
      outName: String)(pos: Column => Column) = {
    val hist = df.groupBy(col("event_type"), col(valueCol))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("pos", pos(sum(col("c")).over(wAll)))
      .filter(col("cum") - col("c") < col("pos") && col("pos") <= col("cum"))
      .select(col("event_type"), col(valueCol).as(outName))
  }

  /** Exact LOWER median: position (n+1)/2. Shared by q_robust_stats and
    * q_anomaly_rows. */
  private def lowerMedian(df: org.apache.spark.sql.DataFrame, valueCol: String,
      outName: String) =
    histogramPick(df, valueCol, outName)(n => floor((n + 1) / 2.0).cast("long"))

  /** Exact lower p-quantile (p = num/den): position (n−1)·num div den + 1
    * in value order. */
  private def lowerQuantile(df: org.apache.spark.sql.DataFrame, valueCol: String,
      num: Int, den: Int, outName: String) =
    histogramPick(df, valueCol, outName)(n =>
      (floor(((n - 1) * num) / den.toDouble) + 1).cast("long"))

  /** Oracle twin of [[robustDeviations]]: the row-number lower median
    * and MAD per type, as CTEs `v`, `med`, `dev` and `mad`. */
  private val robustDeviationsSql =
    """WITH v AS (
      |  SELECT event_type, event_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS x
      |  FROM events),
      |med AS (
      |  SELECT event_type, x AS med_c FROM (
      |    SELECT event_type, x,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM v) t
      |  WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)),
      |dev AS (
      |  SELECT v.event_type, v.event_id, v.x, ABS(v.x - m.med_c) AS ad, m.med_c
      |  FROM v JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, ad AS mad_c FROM (
      |    SELECT event_type, ad,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM dev) t
      |  WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT))""".stripMargin

  /** (event_type, event_id, x = cents-quantized value) projection plus
    * per-type median and MAD columns — the shared robust-stats core. */
  private def robustDeviations(s: org.apache.spark.sql.SparkSession, d: String) = {
    val v = Tables.events(s, d).select(col("event_type"), col("event_id"),
      floor(col("value") * 100).cast("long").as("x"))
    val med = lowerMedian(v, "x", "med_c")
    val dev = v.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("event_id"), col("x"),
        abs(col("x") - col("med_c")).as("ad"), col("med_c"))
    val mad = lowerMedian(dev, "ad", "mad_c")
    dev.join(broadcast(mad), Seq("event_type"))
  }

  val queries: Seq[QueryDef] = Seq(



    // rolling 24-hour event count / value sum per user (RANGE frame over
    // epoch microseconds — identical integer frames on both engines)
    QueryDef.sql(
      "q_rolling_window",
      """SELECT user_id, event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
        |  CAST(SUM(CAST(FLOOR(value*10000) AS BIGINT)) OVER w AS BIGINT) AS val_q4_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id LIMIT 2000""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-86400000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_24h"),
          sum(floor(col("value") * 10000).cast("long")).over(w).as("val_q4_24h"))
        .orderBy(col("user_id"), col("event_id"))
        .limit(2000)
    },


    // D11 batching via NTILE — deciles WITHIN market segment: the window
    // is partitioned, so the ranking scales with executor count (a global
    // unpartitioned NTILE would collapse to a single reducer at 100 TB)
    QueryDef.sql(
      "q_ntile_deciles",
      """WITH spend AS (
        |  SELECT c.c_mktsegment, o.o_custkey,
        |    CAST(SUM(CAST(FLOOR(o.o_totalprice*10000) AS BIGINT)) AS BIGINT) AS s_q4
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey)
        |SELECT c_mktsegment,
        |  CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
        |                       ORDER BY s_q4 DESC, o_custkey) AS BIGINT) AS decile,
        |  o_custkey, s_q4
        |FROM spend ORDER BY c_mktsegment, decile, o_custkey LIMIT 1000""".stripMargin) { (s, d) =>
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"), col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 10000).cast("long")).as("s_q4"))
      spend.select(col("c_mktsegment"),
          ntile(10).over(Window.partitionBy(col("c_mktsegment"))
            .orderBy(col("s_q4").desc, col("o_custkey")))
            .cast("long").as("decile"),
          col("o_custkey"), col("s_q4"))
        .orderBy(col("c_mktsegment"), col("decile"), col("o_custkey"))
        .limit(1000)
    },


    // pivot via portable conditional aggregation (snow_month_filter's
    // month-pivot shape): per user, event counts by type as columns
    QueryDef.sql(
      "q_pivot_event_types",
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','error')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      def cnt(t: String) =
        sum(when(col("event_type") === t, 1).otherwise(0)).cast("long")
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(cnt("click").as("n_click"), cnt("view").as("n_view"),
          cnt("purchase").as("n_purchase"), cnt("error").as("n_error"),
          sum(when(!col("event_type").isin("click", "view", "purchase", "error"), 1)
            .otherwise(0)).cast("long").as("n_other"))
        .orderBy(col("user_id"))
    },


    // deterministic train/val/test split via arithmetic hashing (Knuth
    // multiplicative) — the portable, engine-independent way to split a
    // corpus; never rand()
    QueryDef.sql(
      "q_train_val_split",
      """WITH h AS (
        |  SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS hv
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN hv % 10 < 8 THEN 'train'
        |       WHEN hv % 10 < 9 THEN 'val' ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc
        |FROM h GROUP BY lang, 2 ORDER BY lang, split""".stripMargin) { (s, d) =>
      val h = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        ((col("doc_id") * 2654435761L) % 4294967296L).as("hv"))
      h.withColumn("split",
          when(col("hv") % 10 < 8, "train")
            .when(col("hv") % 10 < 9, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).cast("long").as("min_doc"))
        .orderBy(col("lang"), col("split"))
    },


    // grouping sets: ROLLUP over (lang, source) — subtotal and grand-total
    // rows; null ordering pinned explicitly (Spark defaults NULLS FIRST,
    // DuckDB NULLS LAST)
    QueryDef.sql(
      "q_rollup",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    },


    // full grouping-sets lattice: CUBE adds the per-source marginals that
    // ROLLUP's hierarchy omits (reference summary tables report both axes)
    QueryDef.sql(
      "q_cube",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).cast("long").as("min_chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    },


    // deterministic stratified sampling: ~20% per language via the Knuth
    // multiplicative hash on the id — NEVER rand() (the determinism
    // contract), and the stratum sizes verify the rate is uniform
    QueryDef.sql(
      "q_stratified_sample",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 % 100 < 20
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(pmod(pmod(col("doc_id") * 2654435761L, lit(4294967296L)), lit(100)) < 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("lang"))
    },


    // exact-k stratified sample: precisely 5 docs per source, chosen by
    // Knuth-hash priority (the distributed reservoir-sample equivalent —
    // deterministic, rerun- and join-stable where rand() is neither);
    // the rank window runs per-source over hash priorities, so state per
    // reducer is the stratum, never the corpus
    QueryDef.sql(
      "q_sample_exact_k",
      """WITH pri AS (
        |  SELECT doc_id, source,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |  FROM pri)
        |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM ranked WHERE rk <= 5 ORDER BY source, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pri = Tables.documents(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id") * 2654435761L, lit(4294967296L)).as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      pri.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy(col("source"), col("rk"))
    },


    // ID-gap detection (data-quality sweep): find missing key ranges in a
    // sequence. The oracle uses the textbook global LEAD; the Spark plan
    // is the SCALE formulation — fixed-width key buckets so the per-row
    // window partitions by bucket (key-local), and only the per-bucket
    // aggregates (max_k/1024 rows) see a global window for the boundary
    // gaps. Identical output: in-bucket LEAD finds interior gaps, the
    // bucket-aggregate LEAD finds gaps spanning bucket edges (gap runs
    // here are ≤ 5 keys, so no bucket is ever fully empty).
    QueryDef.sql(
      "q_id_gaps",
      """WITH present AS (
        |  SELECT o_orderkey AS k FROM orders WHERE (o_orderkey % 97) >= 5),
        |nxt AS (SELECT k, LEAD(k) OVER (ORDER BY k) AS nk FROM present)
        |SELECT CAST(k + 1 AS BIGINT) AS gap_start,
        |  CAST(nk - 1 AS BIGINT) AS gap_end,
        |  CAST(nk - k - 1 AS BIGINT) AS gap_len
        |FROM nxt WHERE nk IS NOT NULL AND nk > k + 1
        |ORDER BY gap_start""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val present = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(97)) >= 5)
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") / 1024).cast("long").as("bucket"))
      val wB = Window.partitionBy(col("bucket")).orderBy(col("k"))
      val internal = present.withColumn("nk", lead(col("k"), 1).over(wB))
        .filter(col("nk") > col("k") + 1)
        .select((col("k") + 1).as("gap_start"), (col("nk") - 1).as("gap_end"))
      val buckets = present.groupBy(col("bucket"))
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
      val wG = Window.orderBy(col("bucket")) // bucket AGGREGATES only — tiny
      val boundary = buckets.withColumn("next_mn", lead(col("mn"), 1).over(wG))
        .filter(col("next_mn") > col("mx") + 1)
        .select((col("mx") + 1).as("gap_start"), (col("next_mn") - 1).as("gap_end"))
      internal.unionByName(boundary)
        .select(col("gap_start").cast("long"), col("gap_end").cast("long"),
          (col("gap_end") - col("gap_start") + 1).cast("long").as("gap_len"))
        .orderBy(col("gap_start"))
    },


    // Robust statistics: per-type LOWER median and MAD (median absolute
    // deviation), with the |x − med| > 5·MAD outlier count. The lower
    // median is an exact positional pick (position (n+1)/2, integer
    // division) — no interpolation, no doubles, so both engines agree by
    // construction. Scale path: x is already quantized to integer cents,
    // so the Spark side computes the median from a VALUE HISTOGRAM —
    // groupBy(event_type, x).count() (map-side combined, bounded by
    // distinct values, not rows) followed by a cumulative positional pick
    // over the tiny histogram. No per-key raw-row sort anywhere; the only
    // window runs over the histogram. Equal values are interchangeable,
    // so the picked value is identical to the oracle's row_number plan.
    QueryDef.sql(
      "q_robust_stats",
      s"""$robustDeviationsSql
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MAX(d.med_c) AS med_c, MAX(md.mad_c) AS mad_c,
        |  CAST(SUM(CASE WHEN d.ad > 5 * md.mad_c THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, d) =>
      robustDeviations(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("med_c")).as("med_c"),
          max(col("mad_c")).as("mad_c"),
          sum(when(col("ad") > col("mad_c") * 5, 1).otherwise(0)).as("n_outliers"))
        .orderBy(col("event_type"))
    },


    // The anomaly FLAG TABLE a pipeline actually consumes downstream:
    // the outlier rows themselves (|x − med| > 5·MAD), worst-first.
    // Same histogram-median core as q_robust_stats (shared code), so the
    // summary and the listing cannot disagree.
    QueryDef.sql(
      "q_anomaly_rows",
      s"""$robustDeviationsSql
        |SELECT d.event_type, d.event_id, d.x, d.ad, d.med_c, md.mad_c
        |FROM dev d JOIN mad md USING (event_type)
        |WHERE d.ad > 5 * md.mad_c
        |ORDER BY d.ad DESC, d.event_type, d.event_id
        |LIMIT 200""".stripMargin) { (s, d) =>
      robustDeviations(s, d)
        .filter(col("ad") > col("mad_c") * 5)
        .select(col("event_type"), col("event_id"), col("x"), col("ad"),
          col("med_c"), col("mad_c"))
        .orderBy(col("ad").desc, col("event_type"), col("event_id"))
        .limit(200)
    },


    // Winsorization: clamp each group's values into [p05, p95] — the
    // outlier treatment a feature pipeline applies before aggregating
    // heavy-tailed measures. Quantiles come from the histogram core
    // (lowerQuantile — value-histogram positional pick, no raw-row
    // sort); the clamped SUM is exact integer cents. The oracle derives
    // the same positional quantiles via ROW_NUMBER — the value at a
    // fixed rank in value order is tie-break-independent.
    QueryDef.sql(
      "q_winsorize",
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS x
        |  FROM events),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM v GROUP BY event_type),
        |rk AS (
        |  SELECT event_type, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn
        |  FROM v),
        |lo AS (
        |  SELECT rk.event_type, rk.x AS p05_c FROM rk JOIN n USING (event_type)
        |  WHERE rk.rn = ((n.n - 1) * 5) // 100 + 1),
        |hi AS (
        |  SELECT rk.event_type, rk.x AS p95_c FROM rk JOIN n USING (event_type)
        |  WHERE rk.rn = ((n.n - 1) * 95) // 100 + 1)
        |SELECT v.event_type, n.n, lo.p05_c, hi.p95_c,
        |  CAST(SUM(CASE WHEN v.x < lo.p05_c THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN v.x > hi.p95_c THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(SUM(CASE WHEN v.x < lo.p05_c THEN lo.p05_c
        |                WHEN v.x > hi.p95_c THEN hi.p95_c
        |                ELSE v.x END) AS BIGINT) AS sum_w_c
        |FROM v JOIN n USING (event_type)
        |  JOIN lo USING (event_type) JOIN hi USING (event_type)
        |GROUP BY v.event_type, n.n, lo.p05_c, hi.p95_c
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(col("event_type"), col("event_id"),
        floor(col("value") * 100).cast("long").as("x"))
      val n = v.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val lo = lowerQuantile(v, "x", 5, 100, "p05_c")
      val hi = lowerQuantile(v, "x", 95, 100, "p95_c")
      val bounds = broadcast(n.join(lo, Seq("event_type")).join(hi, Seq("event_type")))
      val w = when(col("x") < col("p05_c"), col("p05_c"))
        .when(col("x") > col("p95_c"), col("p95_c")).otherwise(col("x"))
      v.join(bounds, Seq("event_type"))
        .groupBy(col("event_type"), col("n"), col("p05_c"), col("p95_c"))
        .agg(sum(when(col("x") < col("p05_c"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("x") > col("p95_c"), 1L).otherwise(0L)).as("n_high"),
          sum(w).as("sum_w_c"))
        .orderBy(col("event_type"))
    },


    // feature standardization: per-language z-score of document length.
    // Mean/variance come from EXACT integer sums (n, Σx, Σx²) so both
    // engines derive the identical doubles through the identical algebraic
    // form z = (x·n − Σx) / sqrt(n·Σx² − (Σx)²) — no accumulation-order
    // dependence anywhere
    QueryDef.sql(
      "q_zscore_standardize",
      """WITH stats AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS s1,
        |    CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS s2
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang,
        |  CAST(FLOOR((CAST(d.n_chars AS DOUBLE) * n - s1)
        |    / SQRT(GREATEST(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1, 1))
        |    * 1000000) AS BIGINT) AS z_q6
        |FROM documents d JOIN stats USING (lang)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("s1"),
        sum(col("n_chars").cast("long") * col("n_chars")).cast("long").as("s2"))
      docs.join(broadcast(stats), Seq("lang")) // per-group stats: fixed-size side
        .select(col("doc_id"), col("lang"),
          floor((col("n_chars").cast("double") * col("n") - col("s1"))
            / sqrt(greatest(col("n").cast("double") * col("s2")
              - col("s1").cast("double") * col("s1"), lit(1)))
            * 1000000).cast("long").as("z_q6"))
        .orderBy(col("doc_id"))
    },


    // rank-fraction windows: percent_rank + cume_dist per nation over
    // account balance (quantized — both engines divide the same integers)
    QueryDef.sql(
      "q_percent_rank",
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |  CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  CAST(FLOOR(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pr_q6,
        |  CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cd_q6
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      Tables.supplier(s, d).select(
          col("s_suppkey").cast("long").as("s_suppkey"),
          col("s_nationkey").cast("long").as("s_nationkey"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("pr_q6"),
          floor(cume_dist().over(w) * 1000000).cast("long").as("cd_q6"))
        .orderBy(col("s_suppkey"))
    },


    // exact interpolated quantiles of document length per language
    QueryDef.sql(
      "q_quantiles",
      """SELECT lang,
        |  CAST(FLOOR(QUANTILE_CONT(n_chars, 0.25)) AS BIGINT) AS p25,
        |  CAST(FLOOR(QUANTILE_CONT(n_chars, 0.50)) AS BIGINT) AS p50,
        |  CAST(FLOOR(QUANTILE_CONT(n_chars, 0.90)) AS BIGINT) AS p90,
        |  CAST(MAX(n_chars) AS BIGINT) AS mx
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d).groupBy(col("lang"))
        .agg(
          floor(expr("percentile(n_chars, 0.25d)")).cast("long").as("p25"),
          floor(expr("percentile(n_chars, 0.50d)")).cast("long").as("p50"),
          floor(expr("percentile(n_chars, 0.90d)")).cast("long").as("p90"),
          max(col("n_chars")).cast("long").as("mx"))
        .orderBy(col("lang"))
    },


    // 2-D skyline (Pareto frontier): parts maximizing p_size while
    // minimizing price. The engine's formulation is the SCALE one —
    // per-size group-min (combiner-backed, one shuffle on ~50 keys), a
    // window over that tiny per-size table for the cumulative min of
    // strictly-larger sizes, then a broadcast semi-join back; never a
    // pairwise dominance scan. The oracle is the textbook quadratic
    // NOT EXISTS (DuckDB's IEJoin keeps it tractable at oracle scale) —
    // two independent formulations of the same frontier.
    QueryDef.sql(
      "q_skyline",
      """WITH pp AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_c
        |  FROM part)
        |SELECT p_partkey, p_size, price_c
        |FROM pp p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pp q
        |  WHERE q.p_size >= p.p_size AND q.price_c <= p.price_c
        |    AND (q.p_size > p.p_size OR q.price_c < p.price_c))
        |ORDER BY p_size, p_partkey""".stripMargin) { (s, d) =>
      val pp = Tables.part(s, d).select(
        col("p_partkey"),
        col("p_size").cast("long").as("p_size"),
        floor(col("p_retailprice") * 100).cast("long").as("price_c"))
      val perSize = pp.groupBy(col("p_size")).agg(min(col("price_c")).as("min_c"))
      // tiny table (distinct sizes): global window is deliberate and safe
      val w = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val skySizes = perSize
        .withColumn("better", min(col("min_c")).over(w))
        // skyline size: its min price strictly undercuts every larger size
        .filter(col("better").isNull || col("min_c") < col("better"))
        .select(col("p_size"), col("min_c").as("price_c"))
      pp.join(broadcast(skySizes), Seq("p_size", "price_c"), "left_semi")
        .select(col("p_partkey"), col("p_size"), col("price_c"))
        .orderBy(col("p_size"), col("p_partkey"))
    },


    // Incremental aggregation (materialized-view maintenance): partial
    // sum/count states computed separately over the base snapshot and the
    // delta batch, then MERGED — never a re-scan of the base. The oracle
    // recomputes from scratch; merged-partials == full-recompute is the
    // algebraic property the op exists to provide. avg derives from the
    // merged integer states (exact floor division on both engines).
    QueryDef.sql(
      "q_incremental_agg",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) // COUNT(*) AS BIGINT) AS avg_c
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_c"))
      val base = partials(orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 0))
      val delta = partials(orders.filter(pmod(col("o_orderkey"), lit(10)) === 0))
      base.unionByName(delta)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          col("sum_c"), expr("sum_c div n").as("avg_c"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },


    // Time-series gap fill with linear interpolation: weekly per-type
    // spine (integer week index — exact on both engines), missing weeks
    // synthesized per key between its first and last observation, values
    // interpolated between the bracketing observations. The spine is a
    // per-key sequence() explode (rows ∝ series length, never a global
    // calendar cross join); neighbor lookup is IGNORE NULLS window
    // arithmetic partitioned by the series key — per-key state only.
    // Interpolation divides two exact integers as doubles and floors:
    // one correctly-rounded IEEE division on each engine.
    QueryDef.sql(
      "q_gapfill_interpolate",
      """WITH base AS (
        |  SELECT event_type, EPOCH_US(ts) // 604800000000 AS wk,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS x
        |  FROM events),
        |weekly AS (
        |  SELECT event_type, wk,
        |    CAST(SUM(x) // COUNT(*) AS BIGINT) AS v_c
        |  FROM base GROUP BY event_type, wk),
        |span AS (
        |  SELECT event_type, MIN(wk) AS w0, MAX(wk) AS w1
        |  FROM weekly GROUP BY event_type),
        |spine AS (
        |  SELECT s.event_type, u.wk
        |  FROM span s CROSS JOIN UNNEST(RANGE(s.w0, s.w1 + 1)) AS u(wk)),
        |joined AS (
        |  SELECT sp.event_type, sp.wk, w.v_c FROM spine sp
        |  LEFT JOIN weekly w ON w.event_type = sp.event_type AND w.wk = sp.wk),
        |ctx AS (
        |  SELECT event_type, wk, v_c,
        |    LAST_VALUE(v_c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN v_c IS NOT NULL THEN wk END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pw,
        |    FIRST_VALUE(v_c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY wk
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN v_c IS NOT NULL THEN wk END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY wk
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nw
        |  FROM joined)
        |SELECT event_type, CAST(wk AS BIGINT) AS wk,
        |  CASE WHEN v_c IS NOT NULL THEN v_c
        |       ELSE CAST(FLOOR(CAST(pv AS DOUBLE) +
        |         CAST((nv - pv) * (wk - pw) AS DOUBLE) / CAST(nw - pw AS DOUBLE))
        |         AS BIGINT) END AS v_filled_c,
        |  CAST(v_c IS NULL AS BIGINT) AS is_filled
        |FROM ctx ORDER BY event_type, wk""".stripMargin) { (s, d) =>
      val wkUs = 604800000000L
      val base = Tables.events(s, d).select(col("event_type"),
        expr(s"unix_micros(ts) div $wkUs").as("wk"),
        floor(col("value") * 100).cast("long").as("x"))
      val weekly = base.groupBy(col("event_type"), col("wk"))
        .agg(expr("sum(x) div count(1)").as("v_c"))
      val spine = weekly.groupBy(col("event_type"))
        .agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
        .select(col("event_type"),
          explode(sequence(col("w0"), col("w1"))).as("wk"))
      val joined = spine.join(weekly, Seq("event_type", "wk"), "left")
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("wk"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("wk"))
        .rowsBetween(0, Window.unboundedFollowing)
      val obsWk = when(col("v_c").isNotNull, col("wk"))
      joined
        .withColumn("pv", last(col("v_c"), ignoreNulls = true).over(wPrev))
        .withColumn("pw", last(obsWk, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v_c"), ignoreNulls = true).over(wNext))
        .withColumn("nw", first(obsWk, ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("wk").cast("long").as("wk"),
          when(col("v_c").isNotNull, col("v_c"))
            .otherwise(floor(col("pv").cast("double") +
              ((col("nv") - col("pv")) * (col("wk") - col("pw"))).cast("double") /
                (col("nw") - col("pw")).cast("double")).cast("long"))
            .as("v_filled_c"),
          col("v_c").isNull.cast("long").as("is_filled"))
        .orderBy(col("event_type"), col("wk"))
    },


    // Cumulative-share corpus trim (the "keep the biggest docs until 80%
    // of the bytes" curation cut): per-source ranking by size with an
    // EXACT integer share test — a doc is kept while the chars BEFORE it
    // cover < 80% of the source total (cum_before·5 < total·4, no
    // doubles anywhere). One per-key window over pre-projected rows plus
    // a combiner-backed per-source rollup.
    QueryDef.sql(
      "q_cumshare_cut",
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before,
        |    SUM(n_chars) OVER (PARTITION BY source) AS total_chars
        |  FROM documents)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
        |  CAST(MAX(total_chars) AS BIGINT) AS total_chars
        |FROM ranked
        |WHERE COALESCE(cum_before, 0) * 5 < total_chars * 4
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val wCum = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(col("source"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum_before", sum(col("n_chars")).over(wCum))
        .withColumn("total_chars", sum(col("n_chars")).over(wAll))
        .filter(coalesce(col("cum_before"), lit(0L)) * 5 < col("total_chars") * 4)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"),
          max(col("total_chars")).as("total_chars"))
        .orderBy(col("source"))
    },


    // CUSUM change-point statistic over the daily event-count series per
    // type. The recursion S_t = max(0, S_{t-1} + x_t - k) has the closed
    // form S_t = cum_t - min(cum_0..cum_t) over cumulative (x - k) — two
    // type-partitioned windows over the BOUNDED daily grid (days x
    // types), all integer: k is the per-type floor-mean daily count, so
    // no engine ever compares doubles. alarm = S above 3x the mean's
    // square root would need a float; instead the flag is the exact
    // integer test S * 10 >= k * 3 (30% sustained drift).
    QueryDef.sql(
      "q_cusum_days",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type,
        |    CAST(FLOOR(SUM(n) * CAST(1.0 AS DOUBLE) / COUNT(*)) AS BIGINT) AS k
        |  FROM daily GROUP BY event_type),
        |c AS (
        |  SELECT d.event_type, d.day, d.n,
        |    SUM(d.n - m.k) OVER (PARTITION BY d.event_type ORDER BY d.day) AS cum,
        |    m.k
        |  FROM daily d JOIN m USING (event_type)),
        |s AS (
        |  SELECT event_type, day, n, k,
        |    CAST(cum - MIN(cum) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS s_pos
        |  FROM c)
        |SELECT event_type, day, n, s_pos,
        |  CAST(s_pos * 10 >= k * 3 AS BOOLEAN) AS drift
        |FROM s ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val m = daily.groupBy(col("event_type"))
        .agg(floor(sum(col("n")) * lit(1.0) / count(lit(1))).cast("long").as("k"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val c = daily.join(broadcast(m), Seq("event_type"))
        .withColumn("cum", sum(col("n") - col("k")).over(w))
      c.withColumn("s_pos", (col("cum") - min(col("cum")).over(w)).cast("long"))
        .select(col("event_type"), col("day"), col("n"), col("s_pos"),
          (col("s_pos") * 10 >= col("k") * 3).as("drift"))
        .orderBy(col("event_type"), col("day"))
    },


    // Key-skew profiler (the decision input for salting / AQE skew
    // handling): per-key count histogram reduced to one row per keyed
    // stream — distinct keys, total rows, the hottest key's share, and
    // the skew factor max/avg (ppm). The per-key groupBy is map-side
    // combined; the profile row is a second tiny reduction.
    QueryDef.sql(
      "q_skew_profile",
      """WITH uk AS (
        |  SELECT 'events.user_id' AS stream, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id),
        |lk AS (
        |  SELECT 'lineitem.l_orderkey' AS stream, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_orderkey),
        |all_k AS (SELECT * FROM uk UNION ALL SELECT * FROM lk)
        |SELECT stream,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(MAX(c) AS BIGINT) AS max_c,
        |  CAST(FLOOR(MAX(c) * CAST(1000000.0 AS DOUBLE) * COUNT(*) / SUM(c)) AS BIGINT)
        |    AS skew_q6
        |FROM all_k GROUP BY stream ORDER BY stream""".stripMargin) { (s, d) =>
      def profile(df: org.apache.spark.sql.DataFrame, key: String, label: String) =
        df.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .select(lit(label).as("stream"), col("c"))
      val allK = profile(Tables.events(s, d), "user_id", "events.user_id")
        .unionAll(profile(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey"))
      allK.groupBy(col("stream"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(col("c")).as("max_c"))
        .select(col("stream"), col("n_keys"), col("n_rows"), col("max_c"),
          floor(col("max_c") * lit(1000000.0) * col("n_keys") / col("n_rows"))
            .cast("long").as("skew_q6"))
        .orderBy(col("stream"))
    },


    // Quantile normalization across sources (cross-source score
    // calibration): each doc's length maps to the GLOBAL value at its
    // within-source fractional rank, so every source ends up with the
    // same marginal distribution. All integer: the target global index
    // is ((rn−1)(N−1)) div (n_s−1) + 1, and the global quantile lookup
    // goes through the value histogram (value-bounded, like
    // q_robust_stats) expanded into an exact rank→value spine — one
    // linear explode and one equi shuffle join on idx, NEVER a global
    // row_number over raw rows and never an inequality nest loop.
    QueryDef.sql(
      "q_quantile_normalize",
      """WITH v AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM v GROUP BY source),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        |rk AS (
        |  SELECT doc_id, source, x,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS rn
        |  FROM v),
        |hist AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY x),
        |cumh AS (SELECT x, cnt, SUM(cnt) OVER (ORDER BY x) AS cum FROM hist),
        |spine AS (
        |  SELECT CAST(cum - cnt + u.i AS BIGINT) AS idx, x AS norm_x
        |  FROM cumh CROSS JOIN UNNEST(RANGE(1, cnt + 1)) AS u(i)),
        |tgt AS (
        |  SELECT r.doc_id, r.source, r.x,
        |    CASE WHEN ns.n_s = 1 THEN 1
        |         ELSE ((r.rn - 1) * (nt.n - 1)) // (ns.n_s - 1) + 1 END AS idx
        |  FROM rk r JOIN ns USING (source) CROSS JOIN nt)
        |SELECT t.doc_id, t.source, t.x, s.norm_x
        |FROM tgt t JOIN spine s ON s.idx = t.idx
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("x"))
      val ns = v.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nt = v.agg(count(lit(1)).as("n"))
      val rk = v.select(col("doc_id"), col("source"), col("x"),
        row_number().over(
          Window.partitionBy(col("source")).orderBy(col("x"), col("doc_id"))).as("rn"))
      val hist = v.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
      // global cum window runs over the bounded value histogram only
      val cumh = hist.withColumn("cum",
        sum(col("cnt")).over(
          Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, 0)))
      val spine = cumh.select(
        explode(sequence(col("cum") - col("cnt") + 1, col("cum"))).as("idx"),
        col("x").as("norm_x"))
      val tgt = rk.join(broadcast(ns), Seq("source")).crossJoin(broadcast(nt))
        .select(col("doc_id"), col("source"), col("x"),
          when(col("n_s") === 1, lit(1L))
            .otherwise(expr("((rn - 1) * (n - 1)) div (n_s - 1) + 1")).as("idx"))
      tgt.join(spine, Seq("idx"))
        .select(col("doc_id"), col("source"), col("x"), col("norm_x"))
        .orderBy(col("doc_id"))
    }
  )
}
