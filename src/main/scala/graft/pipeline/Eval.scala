package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation readouts over the corpus (the family NDCG@10 started):
  * threshold-free ranking quality (AUC-ROC) and classification quality
  * (confusion matrix with per-class precision/recall/F1) for the
  * q_text_langid heuristic classifier — the eval loop a training-data
  * pipeline runs against its own filters.
  *
  * AUC is computed through the Mann-Whitney identity AUC = U/(n₀·n₁)
  * (q_mann_whitney's doubled-mid-rank histogram machinery verbatim), so
  * it is exact under ties and never sorts raw rows — the rank window
  * runs over the bounded score histogram. All ratios are integer q6
  * (`(x*10⁶) div y` on nonneg integers — identical in both engines).
  *
  * Scale posture: one pass over documents computes the per-doc scores
  * (pure string expressions, no shuffle), then combiner groupBys onto
  * the score histogram / class-pair matrix, both bounded by the score
  * domain resp. the class-label vocabulary, not the corpus.
  */
object Eval {

  /** The q_text_langid stopword-hit scorer: the `keys` columns of the
    * documents plus (s_en, s_de, s_fr, s_es) hit counts over the padded
    * lowercase text. */
  private[pipeline] def scored(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String] = Seq("doc_id", "lang")) = {
    def occ(p: Column, kw: String): Column =
      ((length(p) - length(expr(s"replace(p, '$kw', '')"))) / kw.length).cast("long")
    val k = keys.map(col)
    df.select(k :+ concat(lit(" "), lower(col("text")), lit(" ")).as("p"): _*)
      .select(k ++ Seq(
        (occ(col("p"), " the ") + occ(col("p"), " and ")).as("s_en"),
        (occ(col("p"), " der ") + occ(col("p"), " und ")).as("s_de"),
        (occ(col("p"), " le ") + occ(col("p"), " et ")).as("s_fr"),
        (occ(col("p"), " el ") + occ(col("p"), " y ")).as("s_es")): _*)
  }

  /** Oracle twin of [[scored]]; `keys` is its column list in SQL. */
  private[pipeline] def scoresSql(keys: String): String =
    s"""  SELECT $keys,
       |    CAST((LENGTH(p) - LENGTH(REPLACE(p, ' the ', ''))) / 5
       |       + (LENGTH(p) - LENGTH(REPLACE(p, ' and ', ''))) / 5 AS BIGINT) AS s_en,
       |    CAST((LENGTH(p) - LENGTH(REPLACE(p, ' der ', ''))) / 5
       |       + (LENGTH(p) - LENGTH(REPLACE(p, ' und ', ''))) / 5 AS BIGINT) AS s_de,
       |    CAST((LENGTH(p) - LENGTH(REPLACE(p, ' le ', ''))) / 4
       |       + (LENGTH(p) - LENGTH(REPLACE(p, ' et ', ''))) / 4 AS BIGINT) AS s_fr,
       |    CAST((LENGTH(p) - LENGTH(REPLACE(p, ' el ', ''))) / 4
       |       + (LENGTH(p) - LENGTH(REPLACE(p, ' y ', ''))) / 3 AS BIGINT) AS s_es
       |  FROM (SELECT $keys, ' ' || LOWER(text) || ' ' AS p FROM documents) x""".stripMargin

  private[pipeline] val scoredSql = s"scored AS (\n${scoresSql("doc_id, lang")})"

  private val predSql =
    """pred AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
      |         WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
      |         WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr'
      |         ELSE 'es' END AS pred_lang
      |  FROM scored)""".stripMargin

  /** The argmax decision rule of `predSql`, as an engine Column over the
    * output of [[scored]]. */
  private[pipeline] def predicted(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("pred_lang",
      when(col("s_en") + col("s_de") + col("s_fr") + col("s_es") === 0, "unknown")
        .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
        .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
        .when(col("s_fr") >= col("s_es"), "fr")
        .otherwise("es"))

  /** The English-ness score histogram (sc, t, c1 = English count) and its
    * totals (n, p) of q_lift_gain, q_youden_threshold and q_pr_auc. The
    * histogram is checkpointed: the totals and the query's window both
    * read it. */
  private def scoreHistogram(s: org.apache.spark.sql.SparkSession, d: String) = {
    val hist = scored(Tables.documents(s, d))
      .groupBy(col("s_en").as("sc"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"))
      .localCheckpoint(true)
    (hist, hist.agg(sum(col("t")).as("n"), sum(col("c1")).as("p")))
  }

  private val scoreHistogramSql =
    s"""$scoredSql,
       |hist AS (
       |  SELECT s_en AS sc, CAST(COUNT(*) AS BIGINT) AS t,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1
       |  FROM scored GROUP BY s_en),
       |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(c1) AS BIGINT) AS p
       |        FROM hist)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // AUC-ROC of the English-ness score s_en against the lang column:
    // AUC = U/(n0·n1) through the doubled-mid-rank histogram, exact
    // under ties (a tied positive/negative pair contributes exactly 1/2,
    // which is why U is carried x2). A score that beats random must land
    // well above 500000.
    QueryDef.sql(
      "q_auc_roc",
      s"""WITH $scoredSql,
         |hist AS (
         |  SELECT s_en AS sc,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS c0,
         |    CAST(COUNT(*) AS BIGINT) AS t
         |  FROM scored GROUP BY s_en),
         |rk AS (
         |  SELECT c0, c1, t,
         |    SUM(t) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - t AS cumb
         |  FROM hist),
         |agg AS (
         |  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
         |    CAST(SUM(c1 * (2 * cumb + t + 1)) AS BIGINT) AS r2
         |  FROM rk)
         |SELECT n1 AS n_pos, n0 AS n_neg,
         |  r2 - n1 * (n1 + 1) AS u_x2,
         |  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
         |    ELSE ((r2 - n1 * (n1 + 1)) * 500000) // (n0 * n1) END AS auc_q6
         |FROM agg""".stripMargin) { (s, d) =>
      val hist = scored(Tables.documents(s, d))
        .groupBy(col("s_en").as("sc"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
          sum(when(col("lang") === "en", 0L).otherwise(1L)).as("c0"),
          count(lit(1)).as("t"))
      // domain-bounded window: one row per distinct stopword-hit count
      val w = Window.orderBy(col("sc")).rowsBetween(Window.unboundedPreceding, 0)
      val rk = hist.select(col("c0"), col("c1"), col("t"),
        (sum(col("t")).over(w) - col("t")).as("cumb"))
      rk.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
          sum(col("c1") * (lit(2) * col("cumb") + col("t") + 1)).as("r2"))
        .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
          (col("r2") - col("n1") * (col("n1") + 1)).as("u_x2"),
          when(col("n0") === 0 || col("n1") === 0, lit(null))
            .otherwise(expr("((r2 - n1 * (n1 + 1)) * 500000) div (n0 * n1)"))
            .as("auc_q6"))
    },

    // Per-class precision/recall/F1 of the langid classifier against the
    // lang column. tp/fp/fn come from one (actual, predicted) combiner
    // matrix (bounded by the label vocabulary squared); F1 is the
    // harmonic mean computed on q6 integers so both engines agree
    // bit-for-bit. Classes the classifier never predicts (fp = tp = 0)
    // report precision NULL, the standard undefined case.
    QueryDef.sql(
      "q_langid_confusion",
      s"""WITH $scoredSql,
         |$predSql,
         |cm AS (
         |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pred GROUP BY lang, pred_lang),
         |cls AS (
         |  SELECT lang AS cls FROM cm
         |  UNION SELECT pred_lang AS cls FROM cm),
         |m AS (
         |  SELECT cls.cls,
         |    COALESCE((SELECT SUM(c) FROM cm WHERE cm.lang = cls.cls
         |              AND cm.pred_lang = cls.cls), 0) AS tp,
         |    COALESCE((SELECT SUM(c) FROM cm WHERE cm.pred_lang = cls.cls
         |              AND cm.lang <> cls.cls), 0) AS fp,
         |    COALESCE((SELECT SUM(c) FROM cm WHERE cm.lang = cls.cls
         |              AND cm.pred_lang <> cls.cls), 0) AS fn
         |  FROM cls)
         |SELECT cls AS class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CAST(CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE (tp * 1000000) // (tp + fp) END AS BIGINT) AS precision_q6,
         |  CAST(CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_q6,
         |  CAST(CASE WHEN tp + fp = 0 OR tp + fn = 0
         |      OR (tp * 1000000) // (tp + fp) + (tp * 1000000) // (tp + fn) = 0 THEN NULL
         |    ELSE (2 * ((tp * 1000000) // (tp + fp)) * ((tp * 1000000) // (tp + fn)))
         |      // ((tp * 1000000) // (tp + fp) + (tp * 1000000) // (tp + fn)) END
         |    AS BIGINT) AS f1_q6
         |FROM m ORDER BY class""".stripMargin) { (s, d) =>
      val pred = predicted(scored(Tables.documents(s, d)))
      val cm = pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val cls = cm.select(col("lang").as("class"))
        .union(cm.select(col("pred_lang").as("class"))).distinct()
      val tp = cm.filter(col("lang") === col("pred_lang"))
        .select(col("lang").as("class"), col("c").as("tp"))
      val fp = cm.filter(col("lang") =!= col("pred_lang"))
        .groupBy(col("pred_lang").as("class")).agg(sum(col("c")).as("fp"))
      val fn = cm.filter(col("lang") =!= col("pred_lang"))
        .groupBy(col("lang").as("class")).agg(sum(col("c")).as("fn"))
      val m = cls.join(tp, Seq("class"), "left")
        .join(fp, Seq("class"), "left")
        .join(fn, Seq("class"), "left")
        .select(col("class"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("fp"), lit(0L)).as("fp"),
          coalesce(col("fn"), lit(0L)).as("fn"))
      val p = expr("(tp * 1000000) div (tp + fp)")
      val r = expr("(tp * 1000000) div (tp + fn)")
      m.select(col("class"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, lit(null)).otherwise(p).as("precision_q6"),
          when(col("tp") + col("fn") === 0, lit(null)).otherwise(r).as("recall_q6"),
          when(col("tp") + col("fp") === 0 || col("tp") + col("fn") === 0 ||
            p + r === 0, lit(null))
            .otherwise(expr(
              "(2 * ((tp * 1000000) div (tp + fp)) * ((tp * 1000000) div (tp + fn)))" +
                " div ((tp * 1000000) div (tp + fp) + (tp * 1000000) div (tp + fn))"))
            .as("f1_q6"))
        .orderBy(col("class"))
    },

    // Cohen's kappa of the langid classifier against the lang column:
    // chance-corrected agreement κ = (N·Σdiag − Σ row_i·col_i) /
    // (N² − Σ row_i·col_i), an exact rational from the confusion-matrix
    // marginals — the numerator can be negative (worse-than-chance), so
    // the q6 readout extracts the sign before the floor division to keep
    // both engines on positive-operand integer division (Spark `div`
    // truncates toward zero, DuckDB `//` floors; they only agree on
    // nonnegative operands). N² ≤ 2.5e11 at the 100x corpus, so
    // |num|·10⁶ stays inside int64. One combiner matrix bounded by the
    // label vocabulary squared; the marginal join is label-vocabulary
    // sized.
    QueryDef.sql(
      "q_cohens_kappa",
      s"""WITH $scoredSql,
         |$predSql,
         |cm AS (
         |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pred GROUP BY lang, pred_lang),
         |tot AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN lang = pred_lang THEN c ELSE 0 END) AS BIGINT) AS agree
         |  FROM cm),
         |rm AS (SELECT lang AS cls, CAST(SUM(c) AS BIGINT) AS r FROM cm GROUP BY lang),
         |cg AS (SELECT pred_lang AS cls, CAST(SUM(c) AS BIGINT) AS g
         |       FROM cm GROUP BY pred_lang),
         |pe AS (
         |  SELECT CAST(COALESCE(SUM(rm.r * cg.g), 0) AS BIGINT) AS pe_num
         |  FROM rm JOIN cg ON rm.cls = cg.cls)
         |SELECT tot.n AS n_docs, tot.agree, pe.pe_num,
         |  CASE WHEN tot.n * tot.n - pe.pe_num = 0 THEN NULL
         |  ELSE (CASE WHEN tot.n * tot.agree - pe.pe_num < 0 THEN -1 ELSE 1 END)
         |    * ((ABS(tot.n * tot.agree - pe.pe_num) * 1000000)
         |       // (tot.n * tot.n - pe.pe_num)) END AS kappa_q6
         |FROM tot CROSS JOIN pe""".stripMargin) { (s, d) =>
      val cm = predicted(scored(Tables.documents(s, d)))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val tot = cm.agg(sum(col("c")).as("n"),
        sum(when(col("lang") === col("pred_lang"), col("c")).otherwise(0L)).as("agree"))
      val rm = cm.groupBy(col("lang").as("cls")).agg(sum(col("c")).as("r"))
      val cg = cm.groupBy(col("pred_lang").as("cls")).agg(sum(col("c")).as("g"))
      val pe = rm.join(cg, Seq("cls"))
        .agg(coalesce(sum(col("r") * col("g")), lit(0L)).as("pe_num"))
      tot.crossJoin(broadcast(pe))
        .select(col("n").as("n_docs"), col("agree"), col("pe_num"),
          when(col("n") * col("n") - col("pe_num") === 0, lit(null))
            .otherwise(
              when(col("n") * col("agree") - col("pe_num") < 0, lit(-1L)).otherwise(lit(1L))
                * expr("(abs(n * agree - pe_num) * 1000000) div (n * n - pe_num)"))
            .as("kappa_q6"))
    },

    // Calibration of the Laplace-smoothed English-ness probability
    // p = (s_en+1)/(Σscores+4) against the lang column, in 10 fixed
    // probability bins: per bin the count, the positive rate, the mean
    // predicted probability, and their gap — the reliability-diagram
    // readout (and the per-bin terms of ECE). The raw ratio s_en/Σ is
    // degenerate on this corpus (every doc with any hit lands in bin 9
    // because non-English stopword hits are rare); the +1/+4 smoothing
    // is the standard fix and also defines the score for zero-hit docs,
    // so calibration covers the WHOLE corpus. Per-row p_q6 =
    // ((s_en+1)·10⁶) div (tot+4) is an exact integer BEFORE the bin
    // sum, so mean_pred_q6 is engine-exact. One combiner groupBy onto
    // 10 bins.
    QueryDef.sql(
      "q_calibration_bins",
      s"""WITH $scoredSql,
         |pp AS (
         |  SELECT lang, s_en, s_en + s_de + s_fr + s_es AS tot
         |  FROM scored),
         |b AS (
         |  SELECT LEAST(9, ((s_en + 1) * 10) // (tot + 4)) AS bin,
         |    ((s_en + 1) * 1000000) // (tot + 4) AS p_q6,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM pp),
         |g AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(SUM(p_q6) AS BIGINT) AS sp
         |  FROM b GROUP BY bin)
         |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
         |  sp // n AS mean_pred_q6,
         |  (n_pos * 1000000) // n AS rate_q6,
         |  ABS(sp // n - (n_pos * 1000000) // n) AS gap_q6
         |FROM g ORDER BY bin""".stripMargin) { (s, d) =>
      val pp = scored(Tables.documents(s, d))
        .withColumn("tot", col("s_en") + col("s_de") + col("s_fr") + col("s_es"))
      val g = pp.select(
          least(lit(9), expr("((s_en + 1) * 10) div (tot + 4)")).cast("long").as("bin"),
          expr("((s_en + 1) * 1000000) div (tot + 4)").as("p_q6"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"), sum(col("p_q6")).as("sp"))
      g.select(col("bin"), col("n"), col("n_pos"),
          expr("sp div n").as("mean_pred_q6"),
          expr("(n_pos * 1000000) div n").as("rate_q6"),
          abs(expr("sp div n") - expr("(n_pos * 1000000) div n")).as("gap_q6"))
        .orderBy(col("bin"))
    },

    // Cumulative gains / lift by score decile: rank the corpus by the
    // English-ness score descending, cut into 10 deciles, and read off
    // how much of the positive class the top k/10 captures (gain) and at
    // what multiple of the base rate (lift) — the campaign-targeting
    // readout that complements AUC. Deciles are assigned WHOLE
    // score-histogram cells by their exclusive cumulative start
    // (LEAST(9, cumb·10 div N)), so tied scores never straddle a decile
    // and the assignment is deterministic in both engines; with a
    // coarse integer score the high deciles can be empty and cell-heavy
    // deciles oversized — that is the documented tie contract. Both
    // windows run over aggregates (score histogram, then 10 decile
    // rows), never the corpus.
    QueryDef.sql(
      "q_lift_gain",
      s"""WITH $scoreHistogramSql,
         |rk AS (
         |  SELECT sc, t, c1,
         |    SUM(t) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) - t AS cumb
         |  FROM hist),
         |g AS (
         |  SELECT LEAST(9, (rk.cumb * 10) // tot.n) AS dec,
         |    CAST(SUM(t) AS BIGINT) AS n_d, CAST(SUM(c1) AS BIGINT) AS pos_d
         |  FROM rk CROSS JOIN tot GROUP BY LEAST(9, (rk.cumb * 10) // tot.n)),
         |cum AS (
         |  SELECT dec, n_d, pos_d,
         |    CAST(SUM(n_d) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         |    CAST(SUM(pos_d) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
         |  FROM g)
         |SELECT CAST(dec AS BIGINT) AS decile, n_d AS n, pos_d AS n_pos, cn AS cum_n,
         |  cp AS cum_pos,
         |  CASE WHEN tot.p = 0 THEN NULL ELSE (cp * 1000000) // tot.p END AS gain_q6,
         |  CASE WHEN tot.p = 0 OR cn = 0 THEN NULL
         |    ELSE (cp * tot.n * 1000000) // (cn * tot.p) END AS lift_q6
         |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin) { (s, d) =>
      val (hist, tot) = scoreHistogram(s, d)
      // domain-bounded window: one row per distinct stopword-hit count
      val w = Window.orderBy(col("sc").desc).rowsBetween(Window.unboundedPreceding, 0)
      val g = hist.select(col("t"), col("c1"),
          (sum(col("t")).over(w) - col("t")).as("cumb"))
        .crossJoin(broadcast(tot))
        .groupBy(least(lit(9), expr("(cumb * 10) div n")).as("dec"))
        .agg(sum(col("t")).as("n_d"), sum(col("c1")).as("pos_d"))
      // 10-row window over the decile aggregate
      val wd = Window.orderBy(col("dec")).rowsBetween(Window.unboundedPreceding, 0)
      g.select(col("dec"), col("n_d"), col("pos_d"),
          sum(col("n_d")).over(wd).as("cn"),
          sum(col("pos_d")).over(wd).as("cp"))
        .crossJoin(broadcast(tot))
        .select(col("dec").cast("long").as("decile"), col("n_d").as("n"),
          col("pos_d").as("n_pos"), col("cn").as("cum_n"), col("cp").as("cum_pos"),
          when(col("p") === 0, lit(null))
            .otherwise(expr("(cp * 1000000) div p")).as("gain_q6"),
          when(col("p") === 0 || col("cn") === 0, lit(null))
            .otherwise(expr("(cp * n * 1000000) div (cn * p)")).as("lift_q6"))
        .orderBy(col("decile"))
    },

    // Youden-J optimal operating point on the ROC of the English-ness
    // score: for every candidate threshold t (= a histogram cell,
    // predict positive when score ≥ t), TPR − FPR as exact q6 integers
    // from descending cumulative counts; the argmax row is the
    // threshold a deployed filter would actually run at. Ties break
    // toward the HIGHER threshold (fewer false positives at equal J) —
    // deterministic in both engines. One bounded-histogram window, one
    // 1-row readout.
    QueryDef.sql(
      "q_youden_threshold",
      s"""WITH $scoreHistogramSql,
         |rk AS (
         |  SELECT sc,
         |    CAST(SUM(c1) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
         |    CAST(SUM(t - c1) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
         |  FROM hist),
         |j AS (
         |  SELECT sc, tp, fp,
         |    (tp * 1000000) // tot.p AS tpr_q6,
         |    (fp * 1000000) // (tot.n - tot.p) AS fpr_q6,
         |    (tp * 1000000) // tot.p - (fp * 1000000) // (tot.n - tot.p) AS j_q6
         |  FROM rk CROSS JOIN tot WHERE tot.p > 0 AND tot.n > tot.p)
         |SELECT CAST(sc AS BIGINT) AS threshold, tp, fp, tpr_q6, fpr_q6, j_q6
         |FROM j ORDER BY j_q6 DESC, sc DESC LIMIT 1""".stripMargin) { (s, d) =>
      val (hist, tot) = scoreHistogram(s, d)
      val w = Window.orderBy(col("sc").desc).rowsBetween(Window.unboundedPreceding, 0)
      hist.select(col("sc"),
          sum(col("c1")).over(w).as("tp"),
          sum(col("t") - col("c1")).over(w).as("fp"))
        .crossJoin(broadcast(tot))
        .filter(col("p") > 0 && col("n") > col("p"))
        .select(col("sc").cast("long").as("threshold"), col("tp"), col("fp"),
          expr("(tp * 1000000) div p").as("tpr_q6"),
          expr("(fp * 1000000) div (n - p)").as("fpr_q6"),
          expr("(tp * 1000000) div p - (fp * 1000000) div (n - p)").as("j_q6"))
        .orderBy(col("j_q6").desc, col("threshold").desc)
        .limit(1)
    },

    // Average precision (PR-AUC, the imbalanced-class companion of
    // q_auc_roc): AP = Σ_cells c1_k · precision(k) / P over the
    // score-descending histogram, where precision at a cell is the exact
    // q6 integer cumPos·10⁶ div cumN — whole cells score at their
    // end-of-cell precision (the deterministic tie contract; documented,
    // identical in both engines). Baseline = prevalence; a score that
    // ranks positives early lands AP well above it. No window touches
    // raw rows.
    QueryDef.sql(
      "q_pr_auc",
      s"""WITH $scoreHistogramSql,
         |rk AS (
         |  SELECT c1,
         |    CAST(SUM(c1) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         |    CAST(SUM(t) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
         |  FROM hist),
         |ap AS (
         |  SELECT CAST(SUM(c1 * ((cp * 1000000) // cn)) AS BIGINT) AS s
         |  FROM rk)
         |SELECT tot.p AS n_pos, tot.n - tot.p AS n_neg,
         |  CASE WHEN tot.p = 0 THEN NULL ELSE ap.s // tot.p END AS ap_q6,
         |  CASE WHEN tot.n = 0 THEN NULL
         |    ELSE (tot.p * 1000000) // tot.n END AS prevalence_q6
         |FROM tot CROSS JOIN ap""".stripMargin) { (s, d) =>
      val (hist, tot) = scoreHistogram(s, d)
      val w = Window.orderBy(col("sc").desc).rowsBetween(Window.unboundedPreceding, 0)
      val ap = hist.select(col("c1"),
          sum(col("c1")).over(w).as("cp"), sum(col("t")).over(w).as("cn"))
        .agg(sum(col("c1") * expr("(cp * 1000000) div cn")).as("s"))
      tot.crossJoin(broadcast(ap))
        .select(col("p").as("n_pos"), (col("n") - col("p")).as("n_neg"),
          when(col("p") === 0, lit(null)).otherwise(expr("s div p")).as("ap_q6"),
          when(col("n") === 0, lit(null))
            .otherwise(expr("(p * 1000000) div n")).as("prevalence_q6"))
    }
  )
}
