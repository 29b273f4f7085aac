package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * Elements are floor-quantized to integers (`floor(x·10^6)`) so dot
  * products and norms are exact 64-bit integer arithmetic — identical in
  * Spark and DuckDB, immune to accumulation order. Cosine is then a
  * deterministic double computed from identical integer inputs.
  *
  * Two paths, as a 100 TB engine needs:
  *   - brute-force top-k (the correctness baseline): probe-set × corpus,
  *     zip-join on position, integer dot product, row_number top-k;
  *   - LSH random-hyperplane bucketing (the scale path): 8 fixed
  *     pseudo-random hyperplanes → 8-bit bucket per vector; at scale the
  *     bucket is the shuffle key and candidate generation is a bucket-local
  *     join instead of a full cross product.
  */
object Embeddings {

  /** Default number of LSH hyperplanes (bucket bits). 8 → 256 buckets
    * suits the test corpus. Growth rule for a real corpus of n vectors
    * targeting ~k candidates per bucket: planes ≈ log2(n / k) — e.g.
    * n = 10⁹, k = 1000 → 20 planes (1M buckets). Within-bucket self-joins
    * are O(n²/2^planes), so the bit count MUST grow with log2(n) or
    * candidate generation degenerates toward all-pairs; every operator
    * below takes the plane count as a parameter for exactly that reason
    * (LshGeometrySpec runs the family at a larger count). */
  val LshPlanes = 8

  /** (vec_id, i, qe): quantized element rows, i 0-based. */
  private[pipeline] def qelems(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
      .select(col("vec_id"), col("i"),
        floor(col("e").cast("double") * 1000000).cast("long").as("qe"))

  private[pipeline] val qelemsSql: String =
    """qe AS (
      |  SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i,
      |    CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qe
      |  FROM embeddings)""".stripMargin

  /** Random-hyperplane LSH bucket per vector: `planes` fixed pseudo-random
    * hyperplanes (deterministic LCG coefficients) → sign bits → bucket in
    * [0, 2^planes). Input: (vec_id, i, qe) element rows. */
  def lshBuckets(qe: DataFrame, planes: Int = LshPlanes): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes $planes")
    qe.select(col("vec_id"), col("i"), col("qe"),
        explode(sequence(lit(0), lit(planes - 1))).as("p"))
      .withColumn("r",
        (lit(1103515245L) * (col("p") * 97 + col("i") + 1) + 12345L) % 2097152L - 1048576L)
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("qe") * col("r")).as("s"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("s") >= 0, pow(lit(2), col("p")).cast("long")).otherwise(0L))
        .cast("long").as("bucket"))
  }

  /** Oracle CTEs (`proj`, `buckets`) mirroring [[lshBuckets]] over `qe`. */
  def lshBucketsSql(planes: Int = LshPlanes): String =
    s"""proj AS (
       |  SELECT vec_id, p,
       |    CAST(SUM(qe * (((1103515245*(p*97+i+1)+12345) % 2097152) - 1048576)) AS BIGINT) AS s
       |  FROM qe, UNNEST(RANGE(0, $planes)) AS u(p)
       |  GROUP BY vec_id, p),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id)""".stripMargin

  /** Oracle CTEs `norms` (squared norms) and `dots` (qid, cand_id, dot_q)
    * of the 8 probes vec_id < 8 against every other vector. */
  private[pipeline] val probeDotsSql =
    s"""$qelemsSql,
       |norms AS (SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2 FROM qe GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cand_id, CAST(SUM(q.qe*c.qe) AS BIGINT) AS dot_q
       |  FROM qe q JOIN qe c ON q.i = c.i AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 8
       |  GROUP BY q.vec_id, c.vec_id)""".stripMargin

  /** Probe-candidate `dots` (qid, cand_id, dot_q) with cos_q6 from the
    * squared `norms` (vec_id, n2) of both sides; probes are vec_id < 8. */
  private[pipeline] def withCosine(dots: DataFrame, norms: DataFrame): DataFrame =
    dots
      .join(broadcast(norms.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("n2").as("qn2"))), Seq("qid"))
      .join(norms.select(col("vec_id").as("cand_id"), col("n2").as("cn2")), Seq("cand_id"))
      .withColumn("cos_q6",
        floor(col("dot_q") / sqrt(col("qn2").cast("double") * col("cn2")) * 1000000)
          .cast("long"))

  /** Top-5 candidates by quantized dot product `dot` (over probe array
    * `qe` and candidate array `embedding`) for probes vec_id < 4: the
    * pairing q_ann_zipwith and q_ann_native_dot share. */
  private def probeTop5(s: org.apache.spark.sql.SparkSession, d: String,
      dot: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pairs = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"), dot.as("dot_q"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot_q").desc, col("cand_id"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cand_id"), col("dot_q"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The one oracle of [[probeTop5]]: both ANN dot-product queries must
    * match the same text, so a hash match of q_ann_native_dot proves the
    * native dot product bit-exact against the zip_with formulation. */
  private val probeTop5Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
      |pairs AS (
      |  SELECT q.qid, e.vec_id AS cand_id,
      |    CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qe, e.embedding),
      |      p -> CAST(FLOOR(CAST(STRUCT_EXTRACT(p, 1) AS DOUBLE)*1000000) AS BIGINT)
      |         * CAST(FLOOR(CAST(STRUCT_EXTRACT(p, 2) AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS dot_q
      |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, cand_id, dot_q,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, cand_id) AS rk
      |  FROM pairs)
      |SELECT qid, CAST(rk AS BIGINT) AS rk, cand_id, dot_q
      |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Brute-force cosine top-k: probe vectors (vec_id < 8) vs whole corpus
    QueryDef.sql(
      "q_ann_bruteforce",
      s"""WITH $probeDotsSql,
         |ranked AS (
         |  SELECT qid, cand_id, dot_q,
         |    CAST(FLOOR(dot_q / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) AS cos_q6,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY CAST(FLOOR(dot_q / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) DESC,
         |               cand_id) AS rk
         |  FROM dots JOIN norms n1 ON n1.vec_id = qid
         |            JOIN norms n2 ON n2.vec_id = cand_id)
         |SELECT qid, CAST(rk AS BIGINT) AS rk, cand_id, dot_q, cos_q6
         |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      // whole-array formulation: the codegen'd qdot computes each
      // (probe, candidate) dot in one pass over the unsafe array data —
      // no element explosion, no join on `i`, no per-pair aggregation
      // shuffle. The fixed probe set (8 vectors) broadcasts; the corpus
      // side streams map-side, ONE row per pair from the start.
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val norms = emb.select(col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("n2"))
      val probe = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("pe"))
      val dots = emb.withColumnRenamed("vec_id", "cand_id")
        .crossJoin(broadcast(probe))
        .filter(col("qid") =!= col("cand_id"))
        .select(col("qid"), col("cand_id"),
          qdot(col("pe"), col("embedding")).as("dot_q"))
      val withCos = withCosine(dots, norms)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_q6").desc, col("cand_id"))
      withCos.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("cand_id"), col("dot_q"), col("cos_q6"))
        .orderBy(col("qid"), col("rk"))
    },

    // LSH bucketing: 8 fixed pseudo-random hyperplanes → per-vector bucket,
    // plus bucket occupancy (the ANN candidate-generation structure)
    QueryDef.sql(
      "q_ann_lsh_buckets",
      s"""WITH $qelemsSql,
         |${lshBucketsSql(LshPlanes)}
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(MIN(vec_id) AS BIGINT) AS min_vec, CAST(MAX(vec_id) AS BIGINT) AS max_vec
         |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      lshBuckets(qelems(s, d), LshPlanes)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).cast("long").as("min_vec"),
          max(col("vec_id")).cast("long").as("max_vec"))
        .orderBy(col("bucket"))
    },

    // row-wise dot product via higher-order functions (zip_with +
    // aggregate) — the no-explode idiom: each pair's arrays stay in one
    // row, so a small probe set × corpus is a broadcast nested-loop with
    // zero shuffle of element rows
    QueryDef.sql(
      "q_ann_zipwith",
      probeTop5Sql) { (s, d) =>
      probeTop5(s, d, aggregate(
        zip_with(col("qe"), col("embedding"), (a, b) =>
          floor(a.cast("double") * 1000000).cast("long") *
            floor(b.cast("double") * 1000000).cast("long")),
        lit(0L), (acc, x) => acc + x))
    },

    // same pairing as q_ann_zipwith but through the codegen'd QDotExpr —
    // one static loop over the unsafe array data per pair instead of the
    // zipped-intermediate + two lambdas; identical oracle arithmetic, so
    // the hash match proves the native expression bit-exact
    QueryDef.sql(
      "q_ann_native_dot",
      probeTop5Sql) { (s, d) =>
      probeTop5(s, d, graft.functions.QDot.qdot(col("qe"), col("embedding")))
    },

    // embedding-cosine near-duplicate detection: LSH buckets generate the
    // candidate pairs (bucket-equality join — never the O(n²) cross
    // product), exact integer-quantized cosine verifies; pairs above the
    // threshold are the near-dups.
    //
    // Rep-collapse (the duplicate-clique defense, r14): identical vectors
    // have identical buckets, norms, and dots, so the engine groups the
    // corpus into EQUALITY CLASSES first (one shuffle by vector value),
    // runs bucketing + candidate join + cosine on one representative per
    // class, and only then expands class-pairs back to id pairs — capped
    // at the 201 smallest ids per class and the 200 lexicographically
    // smallest pairs per class-pair, which provably contains the global
    // top-200: a pair using a member of rank ≥ 202 is lexicographically
    // preceded by the ≥ 201 pairs that substitute each smaller member of
    // the same class (for intra-class pairs the 200 smallest are
    // (m1,m2)..(m1,m201) outright). Before this, a verbatim k× clone made
    // every bucket a k-copy clique: the within-bucket join is quadratic
    // in copies (k=100 → 10,000× base pairs; the r13 100× rehearsal
    // spent ~40 min / 28 GB spill here). After: candidate volume is
    // clone-invariant — the k copies collapse to one class row — which is
    // exactly the shape scale_second_voice.py's rep-collapsed replay
    // models. Base fixtures (all classes singleton) take the identical
    // path with expansion a no-op, so the DuckDB oracle below is
    // unchanged and the hash is bit-identical.
    QueryDef.sql(
      "q_dedup_embedding",
      s"""WITH $qelemsSql,
         |${lshBucketsSql(LshPlanes)},
         |cand AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM buckets a JOIN buckets b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |norms AS (SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2 FROM qe GROUP BY vec_id),
         |dots AS (
         |  SELECT c.v1, c.v2, CAST(SUM(q1.qe*q2.qe) AS BIGINT) AS dot
         |  FROM cand c JOIN qe q1 ON q1.vec_id = c.v1
         |              JOIN qe q2 ON q2.vec_id = c.v2 AND q2.i = q1.i
         |  GROUP BY c.v1, c.v2)
         |SELECT v1, v2,
         |  CAST(FLOOR(dot / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) AS cos_q6
         |FROM dots JOIN norms n1 ON n1.vec_id = v1
         |          JOIN norms n2 ON n2.vec_id = v2
         |WHERE FLOOR(dot / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) >= 150000
         |ORDER BY cos_q6 DESC, v1, v2 LIMIT 200""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // equality classes: one shuffle keyed by the vector value; cap each
      // class at its 201 smallest ids (sufficient for any global top-200,
      // see the header comment) so no per-class state is unbounded
      val wCls = Window.partitionBy(col("embedding"))
      val classed = emb
        .withColumn("rep", min(col("vec_id")).over(wCls))
        .withColumn("rn", row_number().over(wCls.orderBy(col("vec_id"))))
        .withColumn("csize", count(lit(1)).over(wCls))
      // persisted because five branches read it (members, repElems, the
      // bucket self-join's two sides, intraCls, repVec); released by the
      // runner's post-materialization clearCache (QueryDef runner contract)
      val reps = classed.filter(col("rn") === 1)
        .select(col("rep"), col("embedding"), col("csize"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val members = classed.filter(col("rn") <= 201)
        .groupBy(col("rep")).agg(sort_array(collect_list(col("vec_id"))).as("mem"))
      // bucketing, candidate join, and the exact quantized cosine all run
      // on ONE row per class — candidate volume is clone-invariant
      val repElems = reps
        .select(col("rep").as("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
        .select(col("vec_id"), col("i"),
          floor(col("e").cast("double") * 1000000).cast("long").as("qe"))
      val buckets = lshBuckets(repElems, LshPlanes)
      val crossCls = buckets.as("a")
        .join(buckets.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("r1"), col("b.vec_id").as("r2"))
      // a class with >= 2 copies is its own candidate pair (same bucket by
      // construction); its cosine is exactly 1e6 but flows through the
      // shared formula below rather than a special case
      val intraCls = reps.filter(col("csize") >= 2)
        .select(col("rep").as("r1"), col("rep").as("r2"))
      val repVec = reps.select(col("rep"), col("embedding"))
      val norms = repVec.select(col("rep"),
        qdot(col("embedding"), col("embedding")).as("n2"))
      val clsPairs = crossCls.unionAll(intraCls)
        .join(repVec.select(col("rep").as("r1"), col("embedding").as("e1")), Seq("r1"))
        .join(repVec.select(col("rep").as("r2"), col("embedding").as("e2")), Seq("r2"))
        .select(col("r1"), col("r2"), qdot(col("e1"), col("e2")).as("dot"))
        .join(norms.select(col("rep").as("r1"), col("n2").as("n21")), Seq("r1"))
        .join(norms.select(col("rep").as("r2"), col("n2").as("n22")), Seq("r2"))
        .withColumn("cos_q6",
          floor(col("dot") / sqrt(col("n21").cast("double") * col("n22")) * 1000000)
            .cast("long"))
        .filter(col("cos_q6") >= 150000)
      // expansion back to id pairs: pure Column HOFs (codegen'd, no UDF);
      // per class-pair at most 201×201 intermediate structs, sliced to the
      // 200 lexicographically smallest before the global top-200
      val expanded = clsPairs
        .join(members.select(col("rep").as("r1"), col("mem").as("m1")), Seq("r1"))
        .join(members.select(col("rep").as("r2"), col("mem").as("m2")), Seq("r2"))
        .withColumn("pairs",
          when(col("r1") === col("r2"),
            expr("slice(array_sort(filter(flatten(transform(m1, x -> " +
              "transform(m1, y -> struct(x AS v1, y AS v2)))), " +
              "p -> p.v1 < p.v2)), 1, 200)"))
          .otherwise(
            expr("slice(array_sort(flatten(transform(m1, x -> " +
              "transform(m2, y -> struct(least(x, y) AS v1, " +
              "greatest(x, y) AS v2))))), 1, 200)")))
        .select(col("cos_q6"), explode(col("pairs")).as("pr"))
      expanded
        .select(col("pr.v1").as("v1"), col("pr.v2").as("v2"), col("cos_q6"))
        .orderBy(col("cos_q6").desc, col("v1"), col("v2"))
        .limit(200)
    },

    // IVF index path: a fixed 8-vector codebook (vec_id < 8), every vector
    // assigned to its max-dot centroid; per-cluster occupancy plus the
    // top-3 members nearest each centroid — the coarse-quantizer structure
    // that bounds an ANN probe to one cluster's members at scale
    QueryDef.sql(
      "q_ann_ivf",
      s"""WITH $qelemsSql,
         |cent AS (SELECT vec_id AS cid, i, qe FROM qe WHERE vec_id < 8),
         |dots AS (
         |  SELECT v.vec_id, c.cid, CAST(SUM(v.qe*c.qe) AS BIGINT) AS dot
         |  FROM qe v JOIN cent c ON v.i = c.i
         |  GROUP BY v.vec_id, c.cid),
         |assigned AS (
         |  SELECT vec_id, cid, dot,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM dots),
         |members AS (SELECT vec_id, cid AS cluster, dot FROM assigned WHERE rn = 1),
         |occ AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
         |        FROM members GROUP BY cluster),
         |ranked AS (
         |  SELECT cluster, vec_id, dot,
         |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY dot DESC, vec_id) AS rk
         |  FROM members WHERE vec_id >= 8)
         |SELECT r.cluster, CAST(r.rk AS BIGINT) AS rk, r.vec_id, r.dot,
         |  o.n_members
         |FROM ranked r JOIN occ o ON o.cluster = r.cluster
         |WHERE r.rk <= 3 ORDER BY r.cluster, r.rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      // the 8-centroid codebook broadcasts as whole arrays; assignment is
      // 8 codegen'd dots per vector in a single map stage — the exploded
      // version needed a 64-element join plus a per-(vector, centroid)
      // aggregation shuffle before the argmax
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cent = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val dots = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), qdot(col("embedding"), col("ce")).as("dot"))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cid"))
      val members = dots.withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cluster"), col("dot"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val occ = members.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      val wRank = Window.partitionBy(col("cluster")).orderBy(col("dot").desc, col("vec_id"))
      members.filter(col("vec_id") >= 8)
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .filter(col("rk") <= 3)
        .join(broadcast(occ), Seq("cluster"))
        .select(col("cluster"), col("rk"), col("vec_id"), col("dot"), col("n_members"))
        .orderBy(col("cluster"), col("rk"))
    },

    // cross-modal dedup signal: embedding near-dup pairs annotated with a
    // text-side confirmation (normalized-prefix equality) — the join of two
    // modalities a production dedup pipeline votes across
    QueryDef.sql(
      "q_crossmodal_dedup",
      s"""WITH $qelemsSql,
         |norms AS (SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2 FROM qe GROUP BY vec_id),
         |dots AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2, CAST(SUM(a.qe*b.qe) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id < b.vec_id
         |  WHERE a.vec_id < 64 AND b.vec_id < 64
         |  GROUP BY a.vec_id, b.vec_id),
         |sims AS (
         |  SELECT v1, v2,
         |    CAST(FLOOR(dot / SQRT(CAST(n1.n2 AS DOUBLE) * n2.n2) * 1000000) AS BIGINT) AS cos_q6
         |  FROM dots JOIN norms n1 ON n1.vec_id = v1
         |            JOIN norms n2 ON n2.vec_id = v2),
         |top AS (SELECT * FROM sims ORDER BY cos_q6 DESC, v1, v2 LIMIT 50)
         |SELECT t.v1, t.v2, t.cos_q6,
         |  CAST(LOWER(SUBSTR(d1.text, 1, 40)) = LOWER(SUBSTR(d2.text, 1, 40)) AS BOOLEAN)
         |    AS same_prefix40
         |FROM top t JOIN documents d1 ON d1.doc_id = t.v1
         |           JOIN documents d2 ON d2.doc_id = t.v2
         |ORDER BY t.cos_q6 DESC, t.v1, t.v2""".stripMargin) { (s, d) =>
      import graft.functions.QDot.qdot
      // 64-vector slice: pair the whole arrays under a broadcast NLJ and
      // compute each dot in one codegen'd pass (the exploded self-join on
      // `i` shuffled 64 element rows per vector and re-aggregated)
      val emb64 = Tables.embeddings(s, d).filter(col("vec_id") < 64)
        .select(col("vec_id"), col("embedding"))
      val norms = Tables.embeddings(s, d).select(col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("n2"))
      val dots = emb64.select(col("vec_id").as("v1"), col("embedding").as("e1"))
        .join(broadcast(emb64.select(col("vec_id").as("v2"), col("embedding").as("e2"))),
          col("v1") < col("v2"))
        .select(col("v1"), col("v2"), qdot(col("e1"), col("e2")).as("dot"))
      val sims = dots
        .join(norms.select(col("vec_id").as("v1"), col("n2").as("n21")), Seq("v1"))
        .join(norms.select(col("vec_id").as("v2"), col("n2").as("n22")), Seq("v2"))
        .select(col("v1"), col("v2"),
          floor(col("dot") / sqrt(col("n21").cast("double") * col("n22")) * 1000000)
            .cast("long").as("cos_q6"))
      val top = sims.orderBy(col("cos_q6").desc, col("v1"), col("v2")).limit(50)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), lower(substring(col("text"), 1, 40)).as("p40"))
      top.hint("broadcast")
        .join(docs.select(col("doc_id").as("v1"), col("p40").as("p1")), Seq("v1"))
        .hint("broadcast")
        .join(docs.select(col("doc_id").as("v2"), col("p40").as("p2")), Seq("v2"))
        .select(col("v1"), col("v2"), col("cos_q6"),
          (col("p1") === col("p2")).as("same_prefix40"))
        .orderBy(col("cos_q6").desc, col("v1"), col("v2"))
    },

    // Embedding stats: per-label centroid norms and counts (grouped vector agg)
    QueryDef.sql(
      "q_embed_label_stats",
      s"""WITH $qelemsSql,
         |labeled AS (
         |  SELECT e.label, q.i, CAST(SUM(q.qe) AS BIGINT) AS sum_qe,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM qe q JOIN embeddings e ON e.vec_id = q.vec_id
         |  GROUP BY e.label, q.i)
         |SELECT label, CAST(SUM(sum_qe*sum_qe) AS BIGINT) AS centroid_norm2_scaled,
         |  CAST(MAX(n) AS BIGINT) AS n_vectors
         |FROM labeled GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      // embeddings scale with SF — no broadcast hint; AQE localizes when small
      val qe = qelems(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      qe.join(emb, Seq("vec_id"))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("qe")).as("sum_qe"), count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(sum(col("sum_qe") * col("sum_qe")).as("centroid_norm2_scaled"),
          max(col("n")).as("n_vectors"))
        .orderBy(col("label"))
    },
  )
}
