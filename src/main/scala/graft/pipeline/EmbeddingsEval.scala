package graft.pipeline

import graft.{QueryDef, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Embeddings.{LshPlanes, qelems, qelemsSql}

/** Retrieval-quality evaluation over the `embeddings` table — the
  * measurement half of [[Embeddings]] (NDCG@10, label-centroid structure,
  * PCA power iteration, recall@k of the LSH path vs the exact ranking),
  * split out at the 900-line seam; every query body is byte-identical to
  * its pre-split form. Same determinism posture: quantized integer
  * arithmetic end-to-end, exact in both engines.
  */
object EmbeddingsEval {

  val queries: Seq[QueryDef] = Seq(
    // Retrieval-quality evaluation: NDCG@10 of the exact quantized-cosine
    // ranking against label ground truth (relevant = same label as the
    // probe, the standard recall proxy when no human judgments exist).
    // The 1/log2(rank+1) gains enter as a 10-entry INTEGER constant table
    // (q6) and the ideal DCG as its prefix sums keyed by min(R, 10) where
    // R = |label class| − 1 — so DCG, IDCG and the final ratio are pure
    // integer arithmetic, bit-identical in both engines, and no log is
    // evaluated at runtime. Ranking reuses the q_ann_bruteforce plan
    // shape: broadcast 8-probe side, codegen'd QDot, per-probe top-10
    // window with (cos_q6 DESC, cand_id) tie-break.
    QueryDef.sql(
      "q_ndcg_eval",
      s"""WITH ${Embeddings.probeDotsSql},
         |ranked AS (
         |  SELECT qid, cand_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY CAST(FLOOR(dot_q / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) DESC,
         |               cand_id) AS rk
         |  FROM dots JOIN norms n1 ON n1.vec_id = qid
         |            JOIN norms n2 ON n2.vec_id = cand_id),
         |lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
         |dcg AS (
         |  SELECT r.qid,
         |    CAST(SUM(CASE WHEN ce.label = qe2.label THEN
         |      CASE r.rk WHEN 1 THEN 1000000 WHEN 2 THEN 630930 WHEN 3 THEN 500000
         |        WHEN 4 THEN 430677 WHEN 5 THEN 386853 WHEN 6 THEN 356207
         |        WHEN 7 THEN 333333 WHEN 8 THEN 315465 WHEN 9 THEN 301030
         |        ELSE 289065 END ELSE 0 END) AS BIGINT) AS dcg_w
         |  FROM ranked r
         |  JOIN embeddings ce ON ce.vec_id = r.cand_id
         |  JOIN embeddings qe2 ON qe2.vec_id = r.qid
         |  WHERE r.rk <= 10 GROUP BY r.qid),
         |ideal AS (
         |  SELECT e.vec_id AS qid,
         |    CASE LEAST(lc.n - 1, 10)
         |      WHEN 0 THEN 0 WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
         |      WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460
         |      WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465
         |      WHEN 9 THEN 4254495 ELSE 4543560 END AS idcg_w
         |  FROM embeddings e JOIN lc ON lc.label = e.label
         |  WHERE e.vec_id < 8)
         |SELECT d.qid, d.dcg_w, i.idcg_w,
         |  CAST(CASE WHEN i.idcg_w = 0 THEN 0
         |    ELSE (d.dcg_w * 1000000) // i.idcg_w END AS BIGINT) AS ndcg_q6
         |FROM dcg d JOIN ideal i ON i.qid = d.qid
         |ORDER BY d.qid""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      val wq6 = {
        val tbl = Seq(1 -> 1000000L, 2 -> 630930L, 3 -> 500000L, 4 -> 430677L,
          5 -> 386853L, 6 -> 356207L, 7 -> 333333L, 8 -> 315465L,
          9 -> 301030L, 10 -> 289065L)
        tbl.init.foldRight(lit(tbl.last._2): Column) { case ((rk, v), acc) =>
          when(col("rk") === rk, lit(v)).otherwise(acc)
        }
      }
      val cumW = {
        // prefix sums of the gain table, keyed by min(R, 10)
        val tbl = Seq(0 -> 0L, 1 -> 1000000L, 2 -> 1630930L, 3 -> 2130930L,
          4 -> 2561607L, 5 -> 2948460L, 6 -> 3304667L, 7 -> 3638000L,
          8 -> 3953465L, 9 -> 4254495L, 10 -> 4543560L)
        tbl.init.foldRight(lit(tbl.last._2): Column) { case ((j, v), acc) =>
          when(col("r_cap") === j, lit(v)).otherwise(acc)
        }
      }
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val norms = emb.select(col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("n2"))
      val probe = emb.filter(col("vec_id") < 8)
        .join(labels.withColumnRenamed("vec_id", "lv"), col("lv") === col("vec_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("pe"),
          col("label").as("qlabel"))
      val dots = emb.withColumnRenamed("vec_id", "cand_id")
        .crossJoin(broadcast(probe))
        .filter(col("qid") =!= col("cand_id"))
        .select(col("qid"), col("qlabel"), col("cand_id"),
          qdot(col("pe"), col("embedding")).as("dot_q"))
      val withCos = Embeddings.withCosine(dots, norms)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_q6").desc, col("cand_id"))
      val top = withCos.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      val dcg = top
        .join(labels.select(col("vec_id").as("cand_id"), col("label").as("clabel")),
          Seq("cand_id"))
        .groupBy(col("qid"))
        .agg(sum(when(col("clabel") === col("qlabel"), wq6).otherwise(0L)).as("dcg_w"))
      val lc = labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val ideal = labels.filter(col("vec_id") < 8)
        .join(broadcast(lc), Seq("label"))
        .select(col("vec_id").as("qid"),
          least(col("n") - 1, lit(10L)).as("r_cap"))
        .select(col("qid"), cumW.as("idcg_w"))
      dcg.join(ideal, Seq("qid"))
        .select(col("qid"), col("dcg_w"), col("idcg_w"),
          when(col("idcg_w") === 0, 0L)
            .otherwise(expr("(dcg_w * 1000000) div idcg_w")).cast("long").as("ndcg_q6"))
        .orderBy(col("qid"))
    },

    // Label-centroid similarity matrix: pairwise cosine between class
    // centroids — the embedding-space class-separation diagnostic
    // (confusable labels show up as high off-diagonal cosine). The n
    // normalizer cancels in cosine, so centroids stay as exact integer
    // SUM vectors; the dot/norm sums run in DECIMAL(38,0)/HUGEINT
    // because Σ(S_a·S_b) passes int64 once per-label sums reach ~10⁹
    // at rehearsal scale (the 128-bit discipline). Everything is keyed
    // by dimension index — |labels|²·dims rows at most, never per-vector
    // pairs.
    QueryDef.sql(
      "q_label_centroid_sim",
      s"""WITH $qelemsSql,
         |lc AS (
         |  SELECT e.label, q.i, CAST(SUM(q.qe) AS BIGINT) AS s
         |  FROM qe q JOIN embeddings e ON e.vec_id = q.vec_id
         |  GROUP BY e.label, q.i),
         |n2 AS (SELECT label, SUM(CAST(s AS HUGEINT) * s) AS n2 FROM lc GROUP BY label),
         |pr AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |    SUM(CAST(a.s AS HUGEINT) * b.s) AS num
         |  FROM lc a JOIN lc b ON b.i = a.i AND a.label < b.label
         |  GROUP BY a.label, b.label)
         |SELECT pr.label_a, pr.label_b,
         |  CAST(FLOOR(CAST(pr.num AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE))
         |    / SQRT(CAST(nb.n2 AS DOUBLE)) * 1000000.0) AS BIGINT) AS cos_q6
         |FROM pr
         |JOIN n2 na ON na.label = pr.label_a
         |JOIN n2 nb ON nb.label = pr.label_b
         |ORDER BY pr.label_a, pr.label_b""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val lc = qelems(s, d)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("qe")).as("s"))
      val n2 = lc.groupBy(col("label"))
        .agg(sum(col("s").cast(dec) * col("s")).as("n2"))
      val pr = lc.as("a").join(lc.as("b"),
          col("b.i") === col("a.i") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.s").cast(dec) * col("b.s")).as("num"))
      pr.join(broadcast(n2.select(col("label").as("label_a"), col("n2").as("n2a"))),
          Seq("label_a"))
        .join(broadcast(n2.select(col("label").as("label_b"), col("n2").as("n2b"))),
          Seq("label_b"))
        .select(col("label_a"), col("label_b"),
          floor(col("num").cast("double") / sqrt(col("n2a").cast("double"))
            / sqrt(col("n2b").cast("double")) * lit(1000000.0)).cast("long")
            .as("cos_q6"))
        .orderBy(col("label_a"), col("label_b"))
    },

    // Top principal component of the embedding cloud: one distributed
    // O(n*d^2) covariance-moment reduction (the ONLY pass over the data),
    // then the power METHOD BY MATRIX SQUARING: 10 exact q8-rescaled
    // squarings give M^1024 (the q_markov_conversion exact-squaring
    // precedent), whose row-sum is M^1024 applied to the all-ones
    // vector, i.e. 1024 power-iteration steps at log cost. Squaring
    // matters because this spectrum's top is near-degenerate
    // (l2/l1 = 0.987): plain per-round iteration would need ~700 rounds
    // for the 1e-6 variance capture StatsInferenceSpec gates; M^1024
    // reaches 1-3e-12, i.e. the q8 quantization floor. Elements quantize
    // at q3 (NOT the cosine family's q6), and the centered moment
    // n*Sxy - Sx*Sy is accumulated in 128-bit arithmetic (HUGEINT in
    // DuckDB, DECIMAL(38,0) in Spark — the q_anova_f pattern): the
    // moment is bounded by n²·1e6, which exceeds int64 already at
    // n ≈ 3.0e6 rows, and a silent Spark long wrap there would produce
    // a wrong principal component while DuckDB errors — divergent
    // failure modes. In 128-bit it is exact to n ≈ 1e16. Only the
    // per-element product sums Sxy (≤ n·1e6) stay int64, safe to
    // n ≈ 9e12. Every rescale divides by the max-abs entry in PURE
    // 128-bit INTEGER space via the shift identity
    //   floor(c*S/m) = (c+m)*S div m - S
    // — the shifted numerator is non-negative (m >= |c|), where
    // truncating div and flooring div agree, so Spark's `div` and
    // DuckDB's `//` are bit-identical despite their different negative
    // conventions. A double-based floor would NOT be: DuckDB's
    // HUGEINT->DOUBLE conversion composes two roundings
    // (upper*2^64 + lower) and is not correctly rounded, so above 2^53
    // (moment > 2^53 from n ≈ 9.5e4 rows) the engines could differ by
    // 1 ULP and flip a FLOOR, cascading through the squarings
    // (int64->double IS correctly rounded in both, but the centered
    // moment is 128-bit — PcaRescaleSpec pins the >2^53 regime against
    // an exact BigInt replay). The shifted numerator (c+m)*1e8 stays
    // within 128 bits to n ≈ 6e11 rows. The matrix carries
    // q8 entries (64·1e16 product sums still < 2^63) because rescale
    // noise compounds over the squarings (q8 holds it below 1e-11).
    // Each squaring is a
    // 4096-row self-join, so the matrix algebra costs the same at any
    // corpus size: the whole query is one heavy combiner-reduced moment
    // shuffle plus driver-scale algebra kept inside the engine for
    // cross-engine determinism.
    QueryDef.sql(
      "q_pca_power_iter",
      {
        val cov =
          """q AS MATERIALIZED (
            |  SELECT vec_id, CAST(i AS BIGINT) AS i,
            |    CAST(FLOOR(embedding[CAST(i AS INTEGER)] * 1000) AS BIGINT) AS x
            |  FROM embeddings, UNNEST(RANGE(1, 65)) AS u(i)),
            |m1 AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sx FROM q GROUP BY i),
            |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
            |m2 AS (
            |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sxy
            |  FROM q a JOIN q b ON b.vec_id = a.vec_id GROUP BY a.i, b.i),
            |cov AS (
            |  SELECT m2.i, m2.j,
            |    CAST(nn.n AS HUGEINT) * m2.sxy
            |      - CAST(ma.sx AS HUGEINT) * mb.sx AS c
            |  FROM m2
            |  JOIN m1 ma ON ma.i = m2.i
            |  JOIN m1 mb ON mb.i = m2.j
            |  CROSS JOIN nn),
            |mx0 AS (SELECT MAX(ABS(c)) AS m FROM cov),
            |c0 AS MATERIALIZED (
            |  SELECT i, j, CASE WHEN mx0.m = 0 THEN CAST(0 AS BIGINT)
            |    ELSE CAST((c + mx0.m) * 100000000 // mx0.m - 100000000
            |      AS BIGINT) END AS c
            |  FROM cov CROSS JOIN mx0)""".stripMargin
        val squarings = (1 to 10).map { r =>
          val prev = s"c${r - 1}"
          s"""p$r AS (
             |  SELECT a.i AS i, b.j AS j, CAST(SUM(a.c * b.c) AS BIGINT) AS c
             |  FROM $prev a JOIN $prev b ON b.i = a.j GROUP BY a.i, b.j),
             |mx$r AS (SELECT CAST(MAX(ABS(c)) AS BIGINT) AS m FROM p$r),
             |c$r AS MATERIALIZED (
             |  SELECT i, j, CASE WHEN mx$r.m = 0 THEN CAST(0 AS BIGINT)
             |    ELSE CAST((CAST(c AS HUGEINT) + mx$r.m) * 100000000
             |      // mx$r.m - 100000000 AS BIGINT) END AS c
             |  FROM p$r CROSS JOIN mx$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH $cov,
           |$squarings,
           |w AS (SELECT i AS dim, CAST(SUM(c) AS BIGINT) AS w FROM c10 GROUP BY i),
           |mw AS (SELECT CAST(MAX(ABS(w)) AS BIGINT) AS m FROM w)
           |SELECT dim, CASE WHEN mw.m = 0 THEN CAST(0 AS BIGINT)
           |  ELSE CAST((CAST(w AS HUGEINT) + mw.m) * 1000000
           |    // mw.m - 1000000 AS BIGINT) END AS v_q6
           |FROM w CROSS JOIN mw ORDER BY dim""".stripMargin
      }) { (s, d) =>
      // Engine-side plan (r15 optimization; identical arithmetic, same
      // oracle), two pieces:
      //
      // 1. Moment pass: one explode of the quantized vector per dimension
      //    i carrying the full array, then a combiner-backed 64-group ×
      //    65-sum aggregate — Σ x_i·x_j lands map-side, where the old q⋈q
      //    self-join materialized n·64² intermediate rows through a
      //    sort-merge join. Per-cell sums ≤ n·10⁶ stay BIGINT (the
      //    oracle's m2/m1 types).
      //
      // 2. Everything after the moments is dimension-bounded (64×64 =
      //    4096 cells at ANY corpus size) and runs on ONE row through a
      //    single opaque compiled expression (functions/MatOps.scala,
      //    PcaPowerTop64): centered covariance in 128-bit space, q8
      //    rescale, ten exact squarings, row sums, q6 rescale — the
      //    oracle's c0…c10/w CTE chain bit for bit. The previous
      //    (i, j)-row layout paid ~4 exchanges + 1 localCheckpoint job
      //    per squaring (~100 sequential driver round-trips for 4096-row
      //    relations); this plan is 3 jobs end to end.
      val xs = Tables.embeddings(s, d)
        .select(transform(col("embedding"),
          e => floor(e.cast("double") * 1000).cast("long")).as("xs"))
      val rows = xs.select(posexplode(col("xs")).as(Seq("p", "xi")), col("xs"))
      // 64 sum columns (the registry dimensionality); the size guard keeps
      // lower-dimensional inputs (PcaRescaleSpec's 2-dim >2^53 fixture)
      // ANSI-safe — the padding columns aggregate to 0 and are sliced off
      // at assembly, so the expression sees exactly D×D cells
      val prodSums = (1 to 64).map(j =>
        sum(col("xi") * when(lit(j) <= size(col("xs")), element_at(col("xs"), j))
          .otherwise(lit(0L))).as(s"s$j"))
      val mo = rows.groupBy((col("p") + 1).cast("long").as("i"))
        .agg(count(lit(1)).as("cnt"), (sum(col("xi")).as("sx") +: prodSums): _*)
      // assemble the single moment row: per-i rows sorted by i, then
      // flattened row-major (position (i-1)·64 + (j-1) holds Σ x_i·x_j);
      // the n-null filter keeps empty input → empty output (a global agg
      // otherwise produces one all-null row where the oracle yields none)
      val one = mo.agg(
        max(col("cnt")).as("n"), // identical in every group: vector count
        expr("array_sort(collect_list(struct(i, sx, array(" +
          (1 to 64).map(j => s"s$j").mkString(",") + ") AS sr)))").as("rows"))
        .filter(col("n").isNotNull)
      val v = one.select(graft.functions.MatOps.pcaPowerTop(
        col("n"),
        expr("transform(rows, r -> r.sx)"),
        expr("flatten(transform(rows, r -> slice(r.sr, 1, size(rows))))")).as("v"))
      v.select(posexplode(col("v")).as(Seq("p", "v_q6")))
        .select((col("p") + 1).cast("long").as("dim"), col("v_q6"))
        .orderBy(col("dim"))
    },

    // Recall@5 of multi-table LSH ANN against the brute-force ground
    // truth — the eval that closes the similarity-search loop (does the
    // scale path actually find what the exact path finds?). The
    // candidate structure is the REAL ANN deployment shape: the 8
    // hyperplanes split into two independent 4-bit tables, and a
    // candidate qualifies by matching the probe's bucket in EITHER table
    // (a single 8-bit table leaves every probe with recall 0 on this
    // corpus — sign-hash selectivity 1/256 is sharper than the top-5
    // neighborhood). The OR is expressed as an equi-join on the (vector,
    // table) key + DISTINCT, never an OR-join. Per probe: candidate
    // count, how many of the exact top-5 the candidate-restricted top-5
    // recovers, recall as a q6 integer; both paths share one dot/cosine
    // computation (the q_ann_bruteforce expression verbatim). A probe
    // alone in both its buckets scores recall 0, the honest ANN miss.
    // Scale posture: probe set broadcasts, dots stream map-side through
    // the codegen'd qdot, table count and plane count grow with log2(n)
    // at a real corpus (see LshPlanes).
    QueryDef.sql(
      "q_ann_recall_at_k",
      s"""WITH $qelemsSql,
         |proj AS (
         |  SELECT vec_id, p,
         |    CAST(SUM(qe * (((1103515245*(p*97+i+1)+12345) % 2097152) - 1048576)) AS BIGINT) AS s
         |  FROM qe, UNNEST(RANGE(0, $LshPlanes)) AS u(p)
         |  GROUP BY vec_id, p),
         |tbls AS MATERIALIZED (
         |  SELECT vec_id, p // 4 AS tbl,
         |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POWER(2, p % 4) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS bucket
         |  FROM proj GROUP BY vec_id, p // 4),
         |norms AS MATERIALIZED (
         |  SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2 FROM qe GROUP BY vec_id),
         |dots AS MATERIALIZED (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand_id, CAST(SUM(q.qe*c.qe) AS BIGINT) AS dot_q
         |  FROM qe q JOIN qe c ON q.i = c.i AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 8
         |  GROUP BY q.vec_id, c.vec_id),
         |scoredp AS MATERIALIZED (
         |  SELECT qid, cand_id,
         |    CAST(FLOOR(dot_q / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) AS cos_q6
         |  FROM dots JOIN norms n1 ON n1.vec_id = qid
         |            JOIN norms n2 ON n2.vec_id = cand_id),
         |gt AS (
         |  SELECT qid, cand_id FROM (
         |    SELECT qid, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, cand_id) AS rk
         |    FROM scoredp) x WHERE rk <= 5),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT s.qid, s.cand_id, s.cos_q6
         |  FROM scoredp s
         |  JOIN tbls bq ON bq.vec_id = s.qid
         |  JOIN tbls bc ON bc.vec_id = s.cand_id AND bc.tbl = bq.tbl
         |    AND bc.bucket = bq.bucket),
         |ann AS (
         |  SELECT qid, cand_id FROM (
         |    SELECT qid, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, cand_id) AS rk
         |    FROM cand) x WHERE rk <= 5),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS c FROM cand GROUP BY qid),
         |hits AS (
         |  SELECT g.qid, CAST(COUNT(*) AS BIGINT) AS h
         |  FROM gt g JOIN ann a ON a.qid = g.qid AND a.cand_id = g.cand_id
         |  GROUP BY g.qid)
         |SELECT e.vec_id AS qid, COALESCE(nc.c, 0) AS n_candidates,
         |  COALESCE(h.h, 0) AS n_hits,
         |  (COALESCE(h.h, 0) * 1000000) // 5 AS recall_q6
         |FROM embeddings e
         |LEFT JOIN ncand nc ON nc.qid = e.vec_id
         |LEFT JOIN hits h ON h.qid = e.vec_id
         |WHERE e.vec_id < 8 ORDER BY qid""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // two independent 4-bit tables from the same 8 hyperplane signs
      val tbls = QueryScope.checkpointed(qelems(s, d)
        .select(col("vec_id"), col("i"), col("qe"),
          explode(sequence(lit(0), lit(LshPlanes - 1))).as("p"))
        .withColumn("r",
          (lit(1103515245L) * (col("p") * 97 + col("i") + 1) + 12345L) % 2097152L
            - 1048576L)
        .groupBy(col("vec_id"), col("p"))
        .agg(sum(col("qe") * col("r")).as("s"))
        .groupBy(col("vec_id"), expr("p div 4").as("tbl"))
        .agg(sum(when(col("s") >= 0, pow(lit(2), pmod(col("p"), lit(4))).cast("long"))
          .otherwise(0L)).cast("long").as("bucket")))
      val norms = emb.select(col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("n2"))
      val probe = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("pe"))
      val scored = QueryScope.checkpointed(emb.withColumnRenamed("vec_id", "cand_id")
        .crossJoin(broadcast(probe))
        .filter(col("qid") =!= col("cand_id"))
        .select(col("qid"), col("cand_id"),
          qdot(col("pe"), col("embedding")).as("dot_q"))
        .join(broadcast(norms.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("n2").as("qn2"))), Seq("qid"))
        .join(norms.select(col("vec_id").as("cand_id"), col("n2").as("cn2")),
          Seq("cand_id"))
        .select(col("qid"), col("cand_id"),
          floor(col("dot_q") / sqrt(col("qn2").cast("double") * col("cn2")) * 1000000)
            .cast("long").as("cos_q6")))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_q6").desc, col("cand_id"))
      val gt = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5).select(col("qid"), col("cand_id"))
      // the either-table OR as an equi-join on (vector, tbl) + distinct
      val cand = QueryScope.checkpointed(scored
        .join(broadcast(tbls.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("tbl"), col("bucket").as("qb"))),
          Seq("qid"))
        .join(tbls.select(col("vec_id").as("cand_id"), col("tbl"),
          col("bucket").as("cb")), Seq("cand_id", "tbl"))
        .filter(col("qb") === col("cb"))
        .select(col("qid"), col("cand_id"), col("cos_q6"))
        .distinct())
      val ann = cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5).select(col("qid"), col("cand_id"))
      val nc = cand.groupBy(col("qid")).agg(count(lit(1)).as("c"))
      val hits = gt.join(ann, Seq("qid", "cand_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("qid"))
        .join(nc, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("c"), lit(0L)).as("n_candidates"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          expr("(coalesce(h, 0) * 1000000) div 5").as("recall_q6"))
        .orderBy(col("qid"))
    },

    // Hybrid retrieval head: reciprocal-rank fusion (k = 60) of the
    // lexical BM25 ranking and the vector cosine ranking — the two-leg
    // fusion every production search stack ships (Elasticsearch RRF,
    // Vespa, LanceDB hybrid). The lexical leg is q_bm25_search's
    // exact-integer BM25 verbatim (postings-bounded: only docs containing
    // a query term are scored); the vector leg scores every candidate
    // against one broadcast probe (vec_id 0 plays the encoded query) in a
    // single map stage through the codegen'd qdot — no shuffle before the
    // distributed top-k. Each leg is capped to its top 50 by
    // TakeOrdered BEFORE the rank window, so the only un-partitioned
    // windows in the plan run over ≤50-row inputs (whitelisted in
    // GlobalWindowAuditSpec); fusion itself is a 50⟗50 join. RRF scores
    // are pure integer arithmetic: 10^6 div (60 + rank), absent leg = 0.
    QueryDef.sql(
      "q_hybrid_rrf",
      s"""WITH ${Corpus.bm25TermScoresSql("t IN ('table', 'hash', 'stream') AND doc_id <> 0")},
         |bm AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score FROM scored GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
         |  FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         |$qelemsSql,
         |norms AS (SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2 FROM qe GROUP BY vec_id),
         |dots AS (
         |  SELECT v.vec_id, CAST(SUM(v.qe * p.qe) AS BIGINT) AS dot
         |  FROM qe v JOIN qe p ON p.i = v.i AND p.vec_id = 0
         |  WHERE v.vec_id <> 0 GROUP BY v.vec_id),
         |cos AS (
         |  SELECT d.vec_id,
         |    CAST(FLOOR(d.dot / SQRT(CAST(np.n2 AS DOUBLE) * nv.n2) * 1000000)
         |      AS BIGINT) AS cos_q6
         |  FROM dots d JOIN norms np ON np.vec_id = 0
         |              JOIN norms nv ON nv.vec_id = d.vec_id),
         |vec AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cos_q6 DESC, vec_id) AS BIGINT) AS r_vec
         |  FROM cos ORDER BY cos_q6 DESC, vec_id LIMIT 50)
         |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |  CAST(COALESCE(l.r_lex, 0) AS BIGINT) AS r_lex,
         |  CAST(COALESCE(v.r_vec, 0) AS BIGINT) AS r_vec,
         |  CAST(COALESCE(1000000 // (60 + l.r_lex), 0)
         |     + COALESCE(1000000 // (60 + v.r_vec), 0) AS BIGINT) AS rrf_q6
         |FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
         |ORDER BY rrf_q6 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      // lexical leg: q_bm25_search's integer BM25, same constants
      val bm = Corpus.bm25TermScores(s, d,
          col("t").isin("table", "hash", "stream") && col("doc_id") =!= 0)
        .groupBy(col("doc_id")).agg(sum(col("s")).as("score"))
      val lex = bm.orderBy(col("score").desc, col("doc_id")).limit(50)
        .withColumn("r_lex",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("r_lex"))
      // vector leg: one broadcast probe row (embedding + its norm), every
      // candidate's dot and self-norm computed in the same map stage
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"),
          qdot(col("embedding"), col("embedding")).as("pn2"))
      val cos = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"),
          floor(qdot(col("embedding"), col("pe"))
              / sqrt(col("pn2").cast("double") * qdot(col("embedding"), col("embedding")))
              * 1000000)
            .cast("long").as("cos_q6"))
      val vec = cos.orderBy(col("cos_q6").desc, col("vec_id")).limit(50)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("cos_q6").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_vec"), lit(0L)).as("r_vec"),
          (coalesce(expr("1000000 div (60 + r_lex)"), lit(0L))
            + coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
            .cast("long").as("rrf_q6"))
        .orderBy(col("rrf_q6").desc, col("doc_id")).limit(20)
    }
  )
}
